package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.expr._

/** Rows per second of each native `expr` kernel over seeded arrays, called
  * through `Bridge` as the engine's queries call them. Traced runs only. */
object Probes {
  private def e(c: Column) = Bridge.expression(c)
  private def c(x: org.apache.spark.sql.catalyst.expressions.Expression) = Bridge.column(x)

  def run(spark: SparkSession, seed: Long, tracer: Tracer): Seq[(String, Double)] = {
    def h(salt: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    val n = 200000L
    val base = spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(15)), i => concat(lit("s"), pmod(h("s", col("id"), i), lit(5000L))))
        .as("shingles"),
      h("h", col("id")).as("h"),
      concat(lit("t"), pmod(h("t", col("id")), lit(300L))).as("tok"),
      transform(sequence(lit(0), lit(63)), i => pmod(h("q", col("id"), i), lit(255L)) - 127).as("q"),
      transform(sequence(lit(0), lit(63)), i => pmod(h("r", col("id"), i), lit(255L)) - 127).as("r"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(h("f", col("id"), i), lit(2001L)) - 1000) / 1000.0).cast("float")).as("f"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(h("g", col("id"), i), lit(2001L)) - 1000) / 1000.0).cast("float")).as("g"))
      .localCheckpoint()
    def sumHash(x: Column): Column = sum(xxhash64(x).cast("decimal(38,0)"))
    val kernels: Seq[(String, Long, DataFrame)] = Seq(
      ("MinHashSigs", n, base.agg(sumHash(c(MinHashSigs(e(col("shingles"))))))),
      ("SimHashAgg", n, base.groupBy(col("id") % 1000)
        .agg(c(SimHashAgg(e(col("h"))).toAggregateExpression()).as("s")).agg(sumHash(col("s")))),
      ("GramSumsAgg", n / 10, base.limit((n / 10).toInt)
        .agg(c(GramSumsAgg(e(col("q"))).toAggregateExpression()).as("m")).agg(sumHash(col("m.gram")))),
      ("HeavyHittersAgg", n, base.agg(c(HeavyHittersAgg(e(col("tok")), 63).toAggregateExpression())
        .as("hh")).agg(sumHash(col("hh")))),
      ("SqDistL", n, base.agg(sum(c(SqDistL(e(col("q")), e(col("r"))))))),
      ("DotProductD", n, base.agg(sum(c(DotProductD(e(col("f")), e(col("g"))))))))
    kernels.map { case (name, rows, df) =>
      df.collect() // warm
      val t0 = System.nanoTime()
      tracer.span(s"probe.$name", "expr")(df.collect())
      name -> rows / ((System.nanoTime() - t0) / 1e9)
    }
  }
}
