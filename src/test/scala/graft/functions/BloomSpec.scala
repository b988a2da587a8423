package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

class BloomSpec extends SparkSuite {

  test("no false negatives; false-positive rate is sane") {
    val bits = new Array[Long](Bloom.DefaultNumBits >>> 6)
    val keys = (0L until 10000L).map(_ * 7919L)
    keys.foreach(Bloom.add(bits, _, Bloom.DefaultNumHashes))
    assert(keys.forall(Bloom.mightContain(bits, _, Bloom.DefaultNumHashes)))
    val probes = (1L to 20000L).map(_ * 7919L + 3L) // disjoint from keys
    val fp = probes.count(Bloom.mightContain(bits, _, Bloom.DefaultNumHashes))
    assert(fp < probes.size / 100, s"FPR too high: $fp/${probes.size}")
  }

  test("serialize round-trips") {
    val bits = new Array[Long](1 << 4)
    Seq(1L, 99L, -5L).foreach(Bloom.add(bits, _, 5))
    assert(Bloom.deserialize(Bloom.serialize(bits)).sameElements(bits))
  }

  test("distributed agg build equals local build; probe works via codegen") {
    import spark.implicits._
    val keys = (1L to 500L).map(_ * 131L)
    // Build across 4 partitions — exercises update + partial merge.
    val built = keys.toDF("k").repartition(4)
      .agg(call_function("bloom_agg", col("k")))
      .head().getAs[Array[Byte]](0)
    val local = new Array[Long](Bloom.DefaultNumBits >>> 6)
    keys.foreach(Bloom.add(local, _, Bloom.DefaultNumHashes))
    assert(built.sameElements(Bloom.serialize(local)))

    // Probe through the SQL surface (codegen path): members all pass,
    // the disjoint probe set is mostly rejected.
    val probeDf = ((1L to 500L).map(_ * 131L) ++ (1L to 500L).map(_ * 131L + 1L))
      .toDF("k")
      .withColumn("hit", call_function("bloom_might_contain", col("k"), lit(built)))
    val hits = probeDf.filter(col("hit")).count()
    assert(hits >= 500 && hits < 520, s"unexpected hit count $hits")
  }

  test("null keys: agg skips, probe yields null") {
    import spark.implicits._
    val built = Seq[Option[Long]](Some(42L), None).toDF("k")
      .agg(call_function("bloom_agg", col("k")))
      .head().getAs[Array[Byte]](0)
    val r = Seq[Option[Long]](Some(42L), None).toDF("k")
      .select(call_function("bloom_might_contain", col("k"), lit(built)).as("hit"))
      .collect()
    assert(r(0).getBoolean(0))
    assert(r(1).isNullAt(0))
  }
}
