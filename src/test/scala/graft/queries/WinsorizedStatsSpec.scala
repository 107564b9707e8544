package graft.queries

import graft.SparkSpec

/** q182's winsorizing kernel on synthetic value histograms, at counts
  * no test table reaches: the weighted sum Σ clamp(price)·c must not
  * wrap once it passes 2^63.
  */
class WinsorizedStatsSpec extends SparkSpec {

  test("q182: a weighted sum past 2^63 does not wrap") {
    import spark.implicits._
    // prices in ten-thousandths: 100000.0000, 110000.0000, 120000.0000,
    // 4e9 rows each — Σ price·c = 1.32e19 > 2^63 ≈ 9.22e18
    val c = 4000000000L
    val hist = Seq(("A", 1000000000L, c), ("A", 1100000000L, c),
      ("A", 1200000000L, c)).toDF("flag", "price", "c")
    val r = Ext4.winsorizedFromHistogram(hist).collect().toSeq
    assert(r.length === 1)
    assert(r.head.getString(0) === "A")
    assert(r.head.getLong(1) === 3 * c)
    assert(r.head.getDouble(2) === 100000.0, "p05 is the lowest bucket")
    assert(r.head.getDouble(3) === 120000.0, "p95 is the highest bucket")
    assert(r.head.getDouble(4) === 110000.0, "nothing clamps: the plain mean")
    assert(r.head.getLong(5) === 0L && r.head.getLong(6) === 0L)
  }
}
