package graft.functions

import graft.SparkSuite
import graft.plans.{TopKPerKey, TopKPerKeyStrategy}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[GraftExtensions]] is the engine's one session entry point: a session
  * built with it (here `spark.newSession()` of the specs' `GraftSession`,
  * with no registration call anywhere) resolves every engine function
  * through plain SQL and plans the TopKPerKey operator. */
class GraftExtensionsSpec extends SparkSuite {

  private lazy val s2 = spark.newSession()

  private def one(sql: String) = s2.sql(sql).head()

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("the extension declares exactly the ten engine functions") {
    assert(GraftExtensions.functions.map(_._1).toSet == Set(
      "nfc_normalize", "graft_dot", "graft_minhash_sig", "bloom_agg",
      "bloom_agg_sized", "bloom_might_contain", "hll_distinct",
      "graft_fence", "rolling_fingerprint", "graft_zorder"))
    assert(GraftExtensions.functions.size == 10)
  }

  test("every engine function resolves and evaluates in a new session") {
    assert(one("SELECT nfc_normalize('cafe\u0301')").getString(0) == "caf\u00e9")
    assert(one("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .getDouble(0) == 11.0)
    assert(one("SELECT graft_fence(7L)").getLong(0) == 7L)
    assert(one("SELECT rolling_fingerprint('the quick brown fox')").getLong(0) ==
      RollingHashMin.minHash("the quick brown fox", 8, 31L, 1000003L))
    assert(one("SELECT graft_zorder(3L, 5L)").getLong(0) == ZOrder.interleave(3L, 5L))
    // One value sets one register: linear counting over 63 empty ones.
    assert(math.abs(one("SELECT hll_distinct(v) FROM VALUES ('42') AS t(v)")
      .getDouble(0) - 64 * math.log(64.0 / 63)) < 1e-9)

    // Slots 0 and 1 are the two 60-bit halves of md5('0:42').
    val sig = one("SELECT graft_minhash_sig(s, 2) FROM VALUES (42L) AS t(s)")
      .getSeq[Long](0)
    val ref = one("SELECT CAST(conv(substring(md5('0:42'), 1, 15), 16, 10) AS BIGINT), " +
      "CAST(conv(substring(md5('0:42'), 16, 15), 16, 10) AS BIGINT)")
    assert(sig == Seq(ref.getLong(0), ref.getLong(1)))

    val keys = (1L to 50L).map(_ * 131L)
    val rows = keys.mkString("VALUES ", ", ", " AS t(k)")
    val local = new Array[Long](Bloom.DefaultNumBits >>> 6)
    keys.foreach(Bloom.add(local, _, Bloom.DefaultNumHashes))
    assert(one(s"SELECT bloom_agg(k) FROM $rows").getAs[Array[Byte]](0)
      .sameElements(Bloom.serialize(local)))
    val small = new Array[Long](1024 >>> 6)
    keys.foreach(Bloom.add(small, _, Bloom.DefaultNumHashes))
    val sized = one(s"SELECT bloom_agg_sized(k, 1024) FROM $rows")
      .getAs[Array[Byte]](0)
    assert(sized.sameElements(Bloom.serialize(small)))
    val hex = sized.map(b => f"${b & 0xff}%02X").mkString
    assert(s2.sql(s"SELECT bloom_might_contain(k, X'$hex') FROM $rows")
      .collect().forall(_.getBoolean(0)))
  }

  test("bloom_agg_sized and graft_minhash_sig still reject their bad arguments") {
    def refused(sql: String, message: String): Unit = {
      val e = intercept[Exception](s2.sql(sql).collect())
      assert(messages(e).exists(_.contains(message)), s"$sql: $e")
    }
    refused("SELECT bloom_agg_sized(k, 'big') FROM VALUES (1L) AS t(k)",
      "bloom_agg_sized numBits must be an int literal")
    refused("SELECT graft_minhash_sig(s) FROM VALUES (42L) AS t(s)",
      "graft_minhash_sig(shingle, numHashes) takes 2 arguments")
    refused("SELECT graft_minhash_sig(s, s) FROM VALUES (42L) AS t(s)",
      "numHashes must be an integer literal")
  }

  test("a viaRewrite frame plans TopKPerKey; the strategy is installed once, the rule not at all") {
    import s2.implicits._
    assert(s2.sessionState.planner.strategies.count(_ eq TopKPerKeyStrategy) == 1)
    val df = (1L to 100L).map(i => (i, i % 5, i * 7 % 31)).toDF("id", "k", "v")
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    assert(!q.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val rewritten = TopKPerKey.viaRewrite(q)
    assert(rewritten.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(rewritten.collect().toSet == q.collect().toSet)
  }
}
