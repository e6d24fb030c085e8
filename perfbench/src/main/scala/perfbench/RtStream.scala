package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.StreamOps

/** The reference's DWS jobs as three concurrent streaming queries over one
  * parquet file-source directory. Phase 1 drains a fixed backlog in
  * bounded micro-batches (closed loop); phase 2 releases pre-written files
  * by atomic rename at a fixed rate (open loop) and times each file from
  * when it was due to the commit of the last query's batch holding it.
  * Each query's output is checked against its batch form. */
final class RtStream extends Workload {
  import RtStream._

  private var root: String = _
  private var schema: StructType = _
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }
  private var drainEventsPerS = 0.0
  private val latencies = ArrayBuffer.empty[Double]
  private val lateness = ArrayBuffer.empty[Double]
  private var maxBacklog = 0

  def setup(ctx: Ctx): Unit = {
    graft.Engine.init(ctx.spark)
    root = s"${ctx.work}/stream-${ctx.rep}"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    ctx.spark.streams.removeListener(listener)
    ctx.spark.streams.addListener(listener)
    writeFiles(ctx.spark, ctx.seed, 0, WarmFiles, s"$root/warm")
    writeFiles(ctx.spark, ctx.seed, WarmFiles, BacklogFiles, s"$root/backlog")
    writeFiles(ctx.spark, ctx.seed, WarmFiles + BacklogFiles, releaseFiles(ctx), s"$root/staged")
    schema = ctx.spark.read.parquet(s"$root/warm").schema
  }

  /** The queries drain a small backlog once. */
  def warmUp(ctx: Ctx): Unit = {
    val qs = startAll(ctx.spark, s"$root/warm", s"$root/ck-warm", Trigger.AvailableNow(), "warm")
    qs.foreach(_._2.awaitTermination())
    progress.clear()
  }

  private def releaseFiles(ctx: Ctx): Int = math.round(ReleasePerS * releaseSeconds(ctx)).toInt
  private def releaseSeconds(ctx: Ctx): Double = ctx.seconds * 0.6

  /** Writes `n` files of seeded events, file `first + i` as `f%05d.parquet`,
    * with modification times in file order (the file source's order). */
  private def writeFiles(spark: SparkSession, seed: Long, first: Int, n: Int, dir: String): Unit = {
    import spark.implicits._
    val tmp = s"$dir.tmp"
    val cdf = zipfCdf(Users)
    spark.sparkContext.parallelize(first until first + n, n)
      .flatMap(f => eventsOf(seed, f, cdf))
      .toDF("event_id", "user_id", "event_type", "value", "us")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        timestamp_micros(col("us")).as("t"))
      .write.mode("overwrite").parquet(tmp)
    val parts = Files.list(Paths.get(tmp)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    require(parts.size == n, s"expected $n part files, got ${parts.size}")
    Files.createDirectories(Paths.get(dir))
    val base = System.currentTimeMillis() - 3600 * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val to = Paths.get(dir, f"f${first + i}%05d.parquet")
      Files.move(p, to)
      to.toFile.setLastModified(base + (first + i) * 1000L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def start(spark: SparkSession, name: String, phase: String, dir: String, ck: String,
      trigger: Trigger, sink: Sink): StreamingQuery = {
    val src = StreamOps.withWm(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString).parquet(dir))
    transform(name)(src).writeStream
      .queryName(s"$phase-$name")
      .outputMode("append")
      .option("checkpointLocation", s"$ck/$phase-$name")
      .trigger(trigger)
      .foreachBatch((df: DataFrame, _: Long) => sink.add(df, name))
      .start()
  }

  private def startAll(spark: SparkSession, dir: String, ck: String, trigger: Trigger,
      phase: String): Seq[(String, StreamingQuery, Sink)] =
    Names.map { n =>
      val sink = new Sink
      (n, start(spark, n, phase, dir, ck, trigger, sink), sink)
    }

  def measure(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    // phase 1: closed drain of the backlog
    val p1 = Clock.now
    val drain = ctx.span("stream.drain", "bench") {
      val qs = startAll(spark, s"$root/backlog", s"$root/ck-drain", Trigger.AvailableNow(), "drain")
      qs.foreach(_._2.awaitTermination())
      qs
    }
    val p1end = Clock.now
    System.err.println(f"[perfbench] rt_stream drain ${(p1end - p1) / 1e9}%.2f s")
    drainEventsPerS = BacklogFiles.toDouble * EventsPerFile / ((p1end - p1) / 1e9)
    // phase 2: open loop
    val live = s"$root/live"
    Files.createDirectories(Paths.get(live))
    val (open, due, issued) = ctx.span("stream.open_loop", "bench") {
      val qs = startAll(spark, live, s"$root/ck-live", Trigger.ProcessingTime(0L), "live")
      // release starts once every query has run its first, empty trigger
      while (!qs.forall(_._2.lastProgress != null)) Thread.sleep(10)
      val n = releaseFiles(ctx)
      val t0 = System.currentTimeMillis() + 200
      val due = (0 until n).map(i => t0 + math.round(i * 1000.0 / ReleasePerS))
      val issued = ArrayBuffer.empty[Long]
      due.zipWithIndex.foreach { case (d, i) =>
        val w = d - System.currentTimeMillis()
        if (w > 0) Thread.sleep(w)
        val name = f"f${WarmFiles + BacklogFiles + i}%05d.parquet"
        Files.move(Paths.get(root, "staged", name), Paths.get(live, name),
          StandardCopyOption.ATOMIC_MOVE)
        issued += System.currentTimeMillis()
      }
      qs.foreach(_._2.processAllAvailable())
      qs.foreach(_._2.stop())
      (qs, due, issued.toSeq)
    }
    awaitProgress(drain ++ open)
    val c0 = Clock.now
    // latency of each released file, from its due time
    val done = doneTimes(open, s"$root/ck-live")
    val names = due.indices.map(i => f"f${WarmFiles + BacklogFiles + i}%05d.parquet")
    names.foreach { f =>
      out.attempt()
      if (!done.contains(f)) out.fail(s"stream.$f", "released file never committed by all queries")
    }
    val ok = names.zip(due).filter(x => done.contains(x._1))
    latencies ++= Stats.latencyFromDue(ok.map(_._2), ok.map(x => done(x._1))).map(_ / 1e3)
    lateness ++= Stats.lateness(due, issued).map(_ / 1e3)
    maxBacklog = due.indices.map { i =>
      val t = issued(i)
      names.zip(issued).count { case (f, r) => r <= t && done.get(f).forall(_ > t) }
    }.max
    Outcome.inParallel(checks(spark, out, drain, s"$root/backlog") ++ checks(spark, out, open, live))
    System.err.println(f"[perfbench] rt_stream open loop ${(c0 - p1end) / 1e9}%.2f s, " +
      f"checks ${(Clock.now - c0) / 1e9}%.2f s")
    out.latency("stream_latency", latencies.toSeq)
    out.named("stream_events_per_s") = (drainEventsPerS, "events/s")
    out.named("release_files_per_s") = (ReleasePerS, "1/s")
    out.e2e("op_p50_s") = (Stats.median(latencies.toSeq), "s")
    out.e2e("op_tail_s") = (Stats.tail(latencies.toSeq).value, "s")
  }

  /** Waits until every query's last batch has reached the listener. */
  private def awaitProgress(qs: Seq[(String, StreamingQuery, Sink)]): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def seen(q: StreamingQuery) = progress.asScala.exists(p =>
      p.id == q.id && p.batchId == Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
    while (System.currentTimeMillis() < deadline && !qs.forall(q => seen(q._2))) Thread.sleep(20)
  }

  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.runId == q.runId).toSeq.sortBy(_.batchId)

  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  /** For each input file name, the wall time (ms) at which the last of
    * the queries committed the batch that read it. The file source's
    * metadata log says which source batch took each file; a query
    * batch's progress says which source batches it covered. */
  private def doneTimes(qs: Seq[(String, StreamingQuery, Sink)], ck: String): Map[String, Long] = {
    val perQuery = qs.map { case (n, q, _) =>
      val srcDir = Paths.get(ck, s"live-$n", "sources")
      val nSources = Option(srcDir.toFile.list()).map(_.length).getOrElse(0)
      val ps = progressOf(q)
      val perSource = (0 until nSources).map { s =>
        val fileBatch = sourceLog(srcDir.resolve(s.toString))
        fileBatch.flatMap { case (f, b) =>
          ps.find(p => p.sources.length > s && endOffset(p.sources(s).endOffset) >= b)
            .map(p => f -> commitMs(p))
        }
      }
      perSource.reduceOption { (a, b) =>
        a.keySet.intersect(b.keySet).map(f => f -> math.max(a(f), b(f))).toMap
      }.getOrElse(Map.empty[String, Long])
    }
    perQuery.reduce { (a, b) =>
      a.keySet.intersect(b.keySet).map(f => f -> math.max(a(f), b(f))).toMap
    }
  }

  private def endOffset(json: String): Long =
    """"logOffset"\s*:\s*(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  /** File name -> source batch id, from a file source's metadata log. */
  private def sourceLog(dir: Path): Map[String, Long] = {
    val entry = """"path"\s*:\s*"([^"]+)".*?"batchId"\s*:\s*(\d+)""".r
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.matches("\\d+(\\.compact)?"))
      .flatMap(f => new String(Files.readAllBytes(f.toPath), "UTF-8").split('\n'))
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).min }
  }

  /** Each query's emitted rows against its batch form over the same files,
    * restricted, for the windowed ones, to windows that ended more than a
    * second before the query's final watermark. */
  private def checks(spark: SparkSession, out: Outcome, qs: Seq[(String, StreamingQuery, Sink)],
      dir: String): Seq[() => Any] = {
    val batch = spark.read.parquet(dir)
    qs.map { case (n, q, sink) => () =>
      out.guard(s"check.$n") {
        val wm = progressOf(q).lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
          .map(s => Instant.parse(s).toEpochMilli * 1000L).getOrElse(Long.MinValue)
        val cut = if (Windowed(n)) wm - 1000000L else Long.MaxValue
        val got = Fingerprint.ofHashes(sink.rows.asScala.filter(_._1 < cut).map(_._2))
        val want = Fingerprint.ofHashes(Sink.hashes(transform(n)(batch), n)
          .filter(_._1 < cut).map(_._2))
        out.check(s"check.$n", got == want && got.rows > 0,
          s"stream ${got.render} != batch ${want.render} (window end < $cut)")
      }
    }
  }

  def layers(ctx: Ctx, spans: Seq[Span], m: SparkMetrics, out: Outcome): Unit = {
    val ps = progress.asScala.toSeq
    // each trigger as a span under its phase
    val phases = spans.filter(s => s.name == "stream.drain" || s.name == "stream.open_loop")
    ps.filter(_.numInputRows > 0).foreach { p =>
      val end = Clock.ms(commitMs(p))
      val start = end - Clock.ms(p.durationMs.getOrDefault("triggerExecution", 0L))
      phases.find(s => s.start <= start && end <= s.end + 1000000000L)
        .foreach(ph => ctx.tracer.record(s"trigger.${p.name}", "stream", ph, start, end))
    }
    val all = ctx.tracer.spans
    Names.foreach { n =>
      val short = Short(n)
      val mine = ps.filter(p => p.name != null && p.name.endsWith(s"-$n") && p.numInputRows > 0)
      def med(f: StreamingQueryProgress => Double): Double =
        if (mine.isEmpty) 0.0 else Stats.median(mine.map(f))
      def dur(k: String)(p: StreamingQueryProgress): Double = p.durationMs.getOrDefault(k, 0L).toDouble
      out.layer(s"stream.$short.trigger_ms") = (med(dur("triggerExecution")), "ms")
      out.layer(s"stream.$short.add_batch_ms") = (med(dur("addBatch")), "ms")
      out.layer(s"stream.$short.planning_ms") = (med(dur("queryPlanning")), "ms")
      out.layer(s"stream.$short.wal_commit_ms") =
        (med(p => dur("walCommit")(p) + dur("commitOffsets")(p)), "ms")
      val last = mine.lastOption
      out.layer(s"stream.$short.state_rows") =
        (last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "count")
      out.layer(s"stream.$short.state_mem_bytes") =
        (last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0), "bytes")
      out.layer(s"stream.$short.state_commit_ms") =
        (med(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    }
    // before its first watermark a query reports the epoch as watermark
    val lags = ps.flatMap { p =>
      for (mx <- Option(p.eventTime.get("max")); w <- Option(p.eventTime.get("watermark"))
           if Instant.parse(w).toEpochMilli > 0)
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(w).toEpochMilli) / 1e3
    }
    out.layer("stream.watermark_lag_s") = (if (lags.isEmpty) 0.0 else Stats.median(lags), "s")
    out.layer("stream.backlog_files") = (maxBacklog.toDouble, "count")
    out.layer("stream.generator_late_s") = (if (lateness.isEmpty) 0.0 else lateness.max, "s")
    Layers.sparkAndSelf(all, m, ctx.cores, all.filter(_.parent == 0), out)
  }

  /** The single-core drain rate: the phase-1 drain of a small backlog on a
    * fresh `local[1]` session (traced runs only; it replaces the session). */
  def oneCoreRate(ctx: Ctx): Double = {
    ctx.spark.stop()
    val spark = Main.session(1, ctx.work)
    graft.Engine.init(spark)
    val t0 = System.nanoTime()
    val qs = startAll(spark, s"$root/warm", s"$root/ck-1core", Trigger.AvailableNow(), "one")
    qs.foreach(_._2.awaitTermination())
    val rate = WarmFiles.toDouble * EventsPerFile / ((System.nanoTime() - t0) / 1e9)
    spark.stop()
    rate
  }
}

/** A foreachBatch sink that keeps, per output row, its window end (µs, or
  * Long.MinValue for unwindowed outputs) and its row hash. */
final class Sink {
  val rows = new ConcurrentLinkedQueue[(Long, Long)]()
  def add(df: DataFrame, query: String): Unit =
    Sink.hashes(df, query.split('-').last).foreach(rows.add)
}

object Sink {
  def hashes(df: DataFrame, name: String): Seq[(Long, Long)] = {
    val cols = RtStream.Checked(name)
    val end = if (RtStream.Windowed(name)) unix_micros(col("w.end")) else lit(Long.MinValue)
    val proj = df.select(cols.map(col): _*)
    proj.select(end.as("e"), Fingerprint.rowHash(proj).as("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }
}

object RtStream {
  val Users = 2000
  val EventsPerFile = 250
  val EventStepUs = 120L * 1000000L
  val WarmFiles = 2
  val BacklogFiles = 6
  val MaxFilesPerTrigger = 3
  /** Open-loop release rate, below the closed drain rate. */
  val ReleasePerS = 2.0

  /** Three of the genre's DWS shapes, each on its own kind of state: a
    * windowed aggregate, a windowed stream-stream join and per-user session
    * windows. `dailyUv` and `dedupStreaming` are left out to fit the run
    * budget. */
  val Names: Seq[String] = Seq("tumblingDaily", "windowJoin6h", "sessionPerUser")
  /** The short names the per-layer metrics use. */
  val Short: Map[String, String] =
    Map("tumblingDaily" -> "tumble", "windowJoin6h" -> "join", "sessionPerUser" -> "session")
  val Windowed: Set[String] = Set("tumblingDaily", "sessionPerUser")
  /** Output columns the check compares. */
  val Checked: Map[String, Seq[String]] = Map(
    "tumblingDaily" -> Seq("w", "event_type", "cnt", "sum_value"),
    "windowJoin6h" -> Seq("user_id", "w"),
    "sessionPerUser" -> Seq("w", "user_id", "len"))

  def transform(name: String): DataFrame => DataFrame = name match {
    case "tumblingDaily" => StreamOps.tumblingDaily
    case "windowJoin6h" => ev => StreamOps.windowJoin6h(
      ev.filter(col("event_type") === "click"), ev.filter(col("event_type") === "purchase"))
    case "sessionPerUser" => StreamOps.sessionPerUser
  }

  def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  /** The events of file `f`: event time advances 2 minutes per event from
    * 2024-01-01 with up to 5 minutes of disorder, inside the 10-minute
    * watermark, so no event is late. */
  def eventsOf(seed: Long, f: Int, cdf: Array[Double]): Seq[(Long, Long, String, Double, Long)] = {
    val rnd = new Random(seed * 1000003L + f)
    val types = Array("click", "purchase", "error", "signup", "view")
    (0 until EventsPerFile).map { i =>
      val id = f.toLong * EventsPerFile + i
      val u = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val user = (if (u >= 0) u else -u - 1).toLong
      val us = 1704067200L * 1000000L + id * EventStepUs - (rnd.nextDouble() * 300e6).toLong
      (id, user, types(rnd.nextInt(5)), rnd.nextInt(30000) / 100.0, us)
    }
  }
}
