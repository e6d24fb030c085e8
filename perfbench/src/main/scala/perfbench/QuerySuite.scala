package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.SparkEntry

/** Closed loop, one client: timed passes over a sample of the declared
  * queries, in a seed-shuffled order, on generated fixtures. Each query is
  * timed through its multiset fingerprint, which consumes every output
  * column, and checked against the certified value. */
final class QuerySuite extends Workload {
  import QuerySuite._

  private var fixtures: String = _
  private var expected: Map[String, Fingerprint] = Map.empty
  private var sample: Seq[String] = Nil
  private val latencies = ArrayBuffer.empty[Double]
  private val passes = ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Unit = {
    expected = loadExpected(ExpectedPath)
    sample = drawSample(expected.keySet)
    fixtures = s"${ctx.work}/fixtures-${ctx.rep}"
    Fixtures.write(ctx.spark, fixtures, FixtureSeed, Fixtures.Sf001)
    graft.Engine.init(ctx.spark)
  }

  /** Every sampled query once, four at a time (as graft.Bench does): fills
    * the SessionCache memos and the JIT and codegen caches. */
  def warmUp(ctx: Ctx): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = new scala.util.Random(ctx.seed).shuffle(sample).map { q =>
        Future(Fingerprint.of(SparkEntry.queries(q)(ctx.spark, fixtures)))
      }
      fs.foreach(f => Await.ready(f, Duration.Inf))
    } finally pool.shutdown()
    ctx.spark.catalog.clearCache()
  }

  /** Whole passes only, so every sampled query weighs the same in a run:
    * passes run until the run's seconds have elapsed, at least one. */
  def measure(ctx: Ctx, out: Outcome): Unit = {
    System.err.println(s"[perfbench] query_suite sample ${sample.mkString(" ")}")
    val t0 = System.nanoTime()
    val budget = ctx.seconds * 1e9
    var pass = 0
    while (pass == 0 || System.nanoTime() - t0 < budget) {
      val order = new scala.util.Random(ctx.seed * 7919L + pass).shuffle(sample)
      val p0 = System.nanoTime()
      order.foreach(q => runOne(ctx, out, q))
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    out.latency("query", latencies.toSeq)
    out.named("suite_s") = (Stats.median(passes.toSeq), "s")
    out.named("passes") = (passes.size.toDouble, "count")
    out.op(latencies.toSeq, latencies.toSeq)
    out.named("queries_per_s") = (latencies.size / latencies.sum, "1/s")
  }

  private def runOne(ctx: Ctx, out: Outcome, q: String): Unit = {
    // a short idle gap: the previous query's asynchronous cleanup (context
    // cleaner, shuffle and broadcast removal) does not overlap this one
    Thread.sleep(QueryGapMs)
    val t0 = System.nanoTime()
    val fp = out.guard(q) {
      ctx.span(s"query.$q", s"ops.${Layers.moduleOf(q)}") {
        val agg = Fingerprint.aggregate(SparkEntry.queries(q)(ctx.spark, fixtures))
        if (ctx.tracer.enabled) ctx.span("plan", "spark.plan")(agg.queryExecution.executedPlan)
        Fingerprint.read(agg)
      }
    }
    fp.foreach { f =>
      latencies += (System.nanoTime() - t0) / 1e9
      out.check(q, f == expected(q), s"fingerprint ${f.render} != certified ${expected(q).render}")
    }
  }

  def layers(ctx: Ctx, spans: Seq[Span], m: SparkMetrics, out: Outcome): Unit = {
    val qs = spans.filter(_.name.startsWith("query."))
    Layers.Modules.foreach { case (mod, _) =>
      val mine = qs.filter(_.layer == s"ops.$mod")
      out.layer(s"ops.$mod.wall_s") = (mine.map(_.dur).sum / 1e9, "s")
      out.layer(s"ops.$mod.jobs") =
        (mine.map(s => m.over(Tracer.subtree(spans, s.id)).jobs).sum.toDouble, "count")
    }
    Layers.KernelQueries.foreach { q =>
      val mine = qs.filter(_.name == s"query.$q").map(_.dur / 1e9)
      if (mine.nonEmpty) out.layer(s"query.$q.wall_s") = (Stats.median(mine), "s")
    }
    Layers.sparkAndSelf(spans, m, ctx.cores, qs, out)
  }
}

object QuerySuite {
  /** The fixtures are fixed; the run's seed only orders the queries. */
  val FixtureSeed = 42L
  val ExpectedPath = "perfbench/expected/query_suite.json"
  val QueryGapMs = 100L

  /** A fixed sample stratified by ops module, since a full pass over all
    * 292 declared queries does not fit one run. Per module, one query drawn
    * with [[FixtureSeed]] from the module's certified queries, so no query
    * is picked for its speed; a module that holds one of the kernel queries
    * the trace reports ([[Layers.KernelQueries]]) contributes those. */
  def drawSample(certified: Set[String]): Seq[String] = {
    val rnd = new scala.util.Random(FixtureSeed)
    Layers.Modules.flatMap { case (_, qs) =>
      val drawn = rnd.shuffle(qs.keys.filter(certified).toSeq.sorted).take(1)
      val kernels = Layers.KernelQueries.filter(qs.contains)
      if (kernels.nonEmpty) kernels else drawn
    }
  }

  def loadExpected(path: String): Map[String, Fingerprint] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    """"([A-Za-z0-9_]+)"\s*:\s*"([0-9]+:[0-9a-f]+)"""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> Fingerprint.parse(m.group(2))).toMap
  }

  /** Fingerprints every sampled query on freshly generated fixtures and
    * writes them as the certified values (run after the oracle check). */
  def certify(ctx: Ctx, names: Seq[String], path: String): Unit = {
    val dir = s"${ctx.work}/fixtures-certify"
    Fixtures.write(ctx.spark, dir, FixtureSeed, Fixtures.Sf001)
    graft.Engine.init(ctx.spark)
    val lines = names.sorted.flatMap { q =>
      // twice: the warm time goes to stderr, and a fingerprint that differs
      // between the two runs is not certified
      val f1 = Fingerprint.of(SparkEntry.queries(q)(ctx.spark, dir))
      val t0 = System.nanoTime()
      val f2 = Fingerprint.of(SparkEntry.queries(q)(ctx.spark, dir))
      System.err.println(f"[certify] $q ${(System.nanoTime() - t0) / 1e9}%.3f ${f2.render}")
      if (f1 == f2) Some(s"""  "$q": "${f2.render}"""") else {
        System.err.println(s"[certify] $q NONDETERMINISTIC ${f1.render} vs ${f2.render}"); None
      }
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("{\n", ",\n", "\n}\n"))
  }
}
