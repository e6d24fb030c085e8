package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One run of one workload:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints the workload's named metrics, then, as the last line, one JSON
  * object with the end-to-end metrics (untraced) or the per-layer metrics
  * (traced). */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(name: String): Workload = name match {
    case "query_suite" => new QuerySuite
    case "lake_cdc" => new LakeCdc
    case "rt_stream" => new RtStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Peak resident set of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def json(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = args.toList match {
    case "certify" :: work :: path :: names =>
      val spark = session(Runtime.getRuntime.availableProcessors(), work)
      QuerySuite.certify(Ctx(spark, 0L, 0, new Tracer, work,
        Runtime.getRuntime.availableProcessors(), 0), names, path)
      spark.stop()
    case "fixtures" :: dir :: Nil =>
      val spark = session(Runtime.getRuntime.availableProcessors(), dir + "/.work")
      Fixtures.write(spark, dir, QuerySuite.FixtureSeed, Fixtures.Sf001)
      spark.stop()
    case _ =>
      val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
      run(opts("workload"), opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
        opts.getOrElse("work", ".bench_build/work"))
      // no thread a library left behind may keep the JVM alive
      System.exit(0)
  }

  def run(name: String, seed: Long, seconds: Int, traced: Boolean, work: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer
    val wl = workload(name)
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      ctx = Ctx(spark, seed, seconds, tracer, work, cores, rep)
      wl.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp(ctx)
    val warm = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] $name set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up $warm%.2f s")
    val metrics = if (traced) {
      val m = new SparkMetrics
      spark.sparkContext.addSparkListener(m)
      tracer.sc = spark.sparkContext
      tracer.enabled = true
      Some(m)
    } else None
    val out = new Outcome
    val m0 = System.nanoTime()
    wl.measure(ctx, out)
    System.err.println(f"[perfbench] $name measured phase and checks: ${(System.nanoTime() - m0) / 1e9}%.2f s")
    out.e2e("setup_s") = (Stats.median(setups) + warm, "s")
    out.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    out.named("failed_ratio") = (out.failed.toDouble / math.max(1L, out.attempted), "ratio")
    metrics.foreach { m =>
      m.settle()
      Layers.of(name).foreach { case (k, u) => out.layer(k) = (0.0, u) }
      wl.layers(ctx, tracer.spans, m, out)
      if (name == "query_suite") {
        Probes.run(spark, seed, tracer).foreach { case (k, r) =>
          out.layer(s"expr.$k.rows_per_s") = (r, "rows/s")
        }
        out.layer("self.expr_s") =
          (tracer.spans.filter(_.layer == "expr").map(_.dur).sum / 1e9, "s")
      }
      if (name == "rt_stream") wl match {
        case rt: RtStream =>
          out.layer("stream.events_per_s_1core") = (rt.oneCoreRate(ctx), "events/s")
          spark = null
        case _ =>
      }
      writeSpans(s"$work/../trace-$name-$seed.jsonl", tracer.spans)
    }
    if (spark != null) spark.stop()
    val metricsOut = if (traced) out.layer else out.e2e
    val bad = metricsOut.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }.toSet
    bad.foreach(k => out.fail(s"metric.$k", "not a finite number"))
    System.out.println(s"[perfbench] $name seed=$seed end-to-end ${json(out.e2e)}")
    System.out.println(s"[perfbench] $name seed=$seed named ${json(out.named)}")
    val finite = metricsOut.map { case (k, (v, u)) => (k, (if (bad.contains(k)) 0.0 else v, u)) }
    System.out.println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": ${json(finite)}}""")
    System.out.flush()
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s => s"""{"id": ${s.id}, "name": ${q(s.name)}, "layer": ${q(s.layer)}, """ +
      s""""start_ns": ${s.start}, "end_ns": ${s.end}, "parent": ${s.parent}, "trace": ${s.trace}}""")
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
