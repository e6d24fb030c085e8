package perfbench

import scala.collection.mutable

/** What one run measured: operation counts, the end-to-end metrics, the
  * workload's own named metrics, and (traced runs) the per-layer metrics. */
final class Outcome {
  import Outcome.OpTailPct
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def attempt(): Unit = synchronized { attempted += 1 }

  /** An operation that threw or returned a wrong result. It stays in
    * `attempted` and is never dropped from the count. */
  def fail(what: String, why: String): Unit = synchronized {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what: ${why.take(300)}")
  }

  /** Runs `op` as one attempted operation; a throw counts as a failure. */
  def guard[T](what: String)(op: => T): Option[T] = {
    attempt()
    try Some(op)
    catch { case e: Throwable => fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  /** Checks a result; a mismatch counts as a failure of an operation
    * already attempted. */
  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) fail(what, detail)

  /** The end-to-end figures of a workload's operation: `op_p50_s` is the
    * median of `med`, `op_tail_s` the mean of `tl` at or above its
    * nearest-rank 90th percentile. The tail rule would move the percentile
    * with the sample count, so a change in throughput alone would change
    * the figure; the gated tail keeps it fixed. Its sample count goes to
    * the named line. */
  def op(med: Seq[Double], tl: Seq[Double]): Unit = {
    e2e("op_p50_s") = (Stats.median(med), "s")
    e2e("op_tail_s") = (Stats.tailMean(tl, OpTailPct), "s")
    named("op_tail_pct") = (OpTailPct, "pct")
    named("op_tail_samples") = (tl.size.toDouble, "count")
  }

  /** Median and tail of a latency sample under `prefix`, into `named`. */
  def latency(prefix: String, xsS: Seq[Double]): Unit = if (xsS.nonEmpty) {
    named(s"${prefix}_p50_s") = (Stats.median(xsS), "s")
    val t = Stats.tail(xsS)
    named(s"${prefix}_tail_s") = (t.value, "s")
    named(s"${prefix}_tail_pct") = (t.pct, "pct")
    named(s"${prefix}_samples") = (t.n.toDouble, "count")
  }
}

object Outcome {
  val OpTailPct = 90.0

  /** Runs independent checks side by side and waits for all of them; each
    * guards its own failures. */
  def inParallel(tasks: Seq[() => Any]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Any] { def call(): Any = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}

/** One benchmark workload. `setup` (session start, `Engine.init`, input
  * generation) runs several times on fresh sessions; `warmUp` then runs the
  * workload's operations once on the last session, filling the engine's
  * caches; `setup_s` is the median set-up plus the warm-up. `measure` then
  * runs once. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def warmUp(ctx: Ctx): Unit
  def measure(ctx: Ctx, out: Outcome): Unit
  /** Per-layer metrics from the traced run's spans and listener counters. */
  def layers(ctx: Ctx, spans: Seq[Span], spark: SparkMetrics, out: Outcome): Unit
}

final case class Ctx(spark: org.apache.spark.sql.SparkSession, seed: Long, seconds: Int,
    tracer: Tracer, work: String, cores: Int, rep: Int) {
  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)
}
