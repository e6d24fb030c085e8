package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HelpersSuite extends AnyFunSuite {

  test("tail rule: highest ladder percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19) == 50.0) // nothing qualifies: the median stands in
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(39) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(99) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(10000) == 99.9)
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.pct == 90.0 && t.value == 90.0 && t.n == 100)
    assert(xs.count(_ > t.value) == 10)
    // below 40 samples the rule stops at the median; the figure falls back
    // to the nearest-rank 90th percentile, never to the median
    val small = Stats.tail((1 to 19).map(_.toDouble))
    assert(small.pct == 90.0 && small.value == 18.0 && small.n == 19)
    assert(Stats.tail((1 to 10).map(_.toDouble)).value == 9.0)
    assert(Stats.tail(Seq(4.0)).value == 4.0)
    val forty = Stats.tail((1 to 40).map(_.toDouble))
    assert(forty.pct == 75.0 && forty.value == 30.0)
    // the gated tail: the mean from the nearest-rank p90 up (ranks 18, 19)
    assert(Stats.tailMean((1 to 19).map(_.toDouble), 90.0) == 18.5)
    assert(Stats.tailMean(Seq(2.0, 1.0), 90.0) == 2.0)
  }

  test("self time subtracts the union of overlapping children once") {
    val p = Span(1, "p", "bench", 0, 1, 0, 100)
    val kids = Seq(Span(2, "a", "lake", 1, 1, 10, 40), Span(3, "b", "lake", 1, 1, 30, 60),
      Span(4, "c", "feed", 1, 1, 80, 90), Span(5, "d", "lake", 2, 1, 15, 20))
    val self = Tracer.selfTimes(p +: kids)
    assert(self(1) == 40) // 100 - |[10,60) ∪ [80,90)|
    assert(self(2) == 25) // its own child covers 5
    assert(Tracer.selfByLayer(p +: kids) == Map("bench" -> 40L, "lake" -> 60L, "feed" -> 10L))
    assert(Tracer.subtree(p +: kids, 2) == Set(2L, 5L))
  }

  test("open-loop latency runs from the due time; lateness is issue minus due") {
    val due = Seq(0L, 100L, 200L)
    val issued = Seq(0L, 150L, 210L)
    val done = Seq(50L, 300L, 260L)
    assert(Stats.latencyFromDue(due, done) == Seq(50L, 200L, 60L))
    assert(Stats.lateness(due, issued) == Seq(0L, 50L, 10L))
    assert(Stats.lateness(Seq(10L), Seq(5L)) == Seq(0L))
  }

  test("fingerprint: independent of row order and partitioning, sensitive to duplicates") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    try {
      import spark.implicits._
      val df = Seq((1L, "a", 2.5), (2L, "b", -1.0), (3L, "c", 0.0)).toDF("k", "s", "x")
      val f = Fingerprint.of(df)
      assert(f.rows == 3)
      assert(Fingerprint.of(df.repartition(3)) == f)
      assert(Fingerprint.of(df.orderBy(desc("k"))) == f)
      assert(Fingerprint.of(df.select("x", "s", "k")) == f) // column order
      val dup = df.union(df.filter($"k" === 1L))
      assert(Fingerprint.of(dup) != f)
      // a row added twice changes the sum where an XOR would cancel it
      val twice = df.union(df.filter($"k" === 2L)).union(df.filter($"k" === 2L))
      assert(Fingerprint.of(twice) != f)
      assert(Fingerprint.of(twice).rows == 5)
      // the driver-side row hash agrees with Spark's xxhash64 over the
      // name-sorted columns
      val rows = Seq(OdsRow(7L, 3L, "edu", 1250L, 4L), OdsRow(8L, 1L, "b2b", 0L, 9L))
      assert(Fingerprint.of(rows.toDF()) == Fingerprint.ofHashes(rows.map(_.hash)))
    } finally spark.stop()
  }
}
