package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSuite {

  /** Bit-by-bit reference: bit i of a at position 2i, bit i of b at
    * 2i+1. */
  private def refInterleave(a: Long, b: Long): Long = {
    val am = a & 0x7fffffffL
    val bm = b & 0x7fffffffL
    (0 until 31).foldLeft(0L) { (acc, i) =>
      acc |
        (((am >> i) & 1L) << (2 * i)) |
        (((bm >> i) & 1L) << (2 * i + 1))
    }
  }

  test("interleave matches the bit-by-bit reference on random inputs") {
    val rnd = new scala.util.Random(7)
    (0 until 1000).foreach { _ =>
      val a = rnd.nextLong(); val b = rnd.nextLong()
      assert(ZOrder.interleave(a, b) == refInterleave(a, b), s"($a, $b)")
      assert(ZOrder.interleave(a, b) >= 0L)
    }
    assert(ZOrder.interleave(0L, 0L) == 0L)
    assert(ZOrder.interleave(1L, 0L) == 1L)
    assert(ZOrder.interleave(0L, 1L) == 2L)
    assert(ZOrder.interleave(0x7fffffffL, 0x7fffffffL) == 0x3fffffffffffffffL)
  }

  test("codegen path through SQL equals the interpreted function") {
    import spark.implicits._
    val rows = Seq((3L, 5L), (123456789L, 987654321L), (-1L, -1L), (0L, 7L))
    val got = rows.toDF("a", "b")
      .selectExpr("a", "b", "graft_zorder(a, b) AS z")
      .as[(Long, Long, Long)]
      .collect()
    got.foreach { case (a, b, z) =>
      assert(z == ZOrder.interleave(a, b), s"($a, $b)")
    }
  }

  test("z-order keys cluster box neighborhoods (locality sanity)") {
    // Every point in the 4x4 box [(0,0), (3,3)] must have z < any point
    // in [(4,4), (7,7)] — the prefix property that makes row-group
    // min/max pruning selective on both dimensions.
    val lowBox = for (x <- 0L to 3L; y <- 0L to 3L)
      yield ZOrder.interleave(x, y)
    val highBox = for (x <- 4L to 7L; y <- 4L to 7L)
      yield ZOrder.interleave(x, y)
    assert(lowBox.max < highBox.min)
  }
}
