package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

/** The one registration path of the engine's session functions. The
  * call sites register on every use (each store fold, each query), so a
  * name the session's registry already holds is left as it is: a
  * repeated registration replaces nothing and logs nothing. */
private[graft] object SessionFunctions {
  def register(spark: SparkSession, name: String)(builder: FunctionBuilder): Unit = {
    val registry = spark.sessionState.functionRegistry
    // The registry's methods lock on it, so check-then-register is atomic.
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
