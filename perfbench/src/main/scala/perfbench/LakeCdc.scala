package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChangeFeed, ManifestTable}

final case class OdsRow(o_id: Long, cust: Long, cat: String, cents: Long, upd: Long) {
  /** Values in column-name order, the order the fingerprint hashes them. */
  def hash: Long = Fingerprint.hashValues(Seq(cat, cents, cust, o_id, upd))
}

/** Closed loop, three clients on one lake: an ODS writer runs a fixed cycle
  * of appends, a Zipf-keyed merge, range deletes (deletion-vector and
  * copy-on-write) and compaction, with expiry plus vacuum; a layer consumer
  * keeps DWD and DWS current from the change feed alone; a reader reads
  * the latest, as-of and pruned snapshots while commits land. Every read
  * is checked against an in-memory model at the version read. */
final class LakeCdc extends Workload {
  import LakeCdc._

  private var root: String = _
  private def ods = s"$root/ods"
  private def dwd = s"$root/dwd"
  private def dws = s"$root/dws"
  private def ckDwd = s"$root/ck_dwd"
  private def ckDws = s"$root/ck_dws"

  /** ODS content after each committed version. */
  private val models = new ConcurrentHashMap[Long, Map[Long, OdsRow]]()
  private var model: Map[Long, OdsRow] = Map.empty
  private var nextId = 0L
  private var opNo = 0L
  private var rowsSubmitted = 0L
  private val odsReturn = new ConcurrentHashMap[Long, Long]() // data version -> return ns
  private val dwdToOds = new ConcurrentHashMap[Long, Seq[Long]]()
  private val drained = new ConcurrentHashMap[Long, Int]() // ODS version -> times processed
  private val commitLat = ArrayBuffer.empty[Double]
  private val appendLat = ArrayBuffer.empty[Double]
  private val readLat = ArrayBuffer.empty[Double]
  private val freshLat = ArrayBuffer.empty[Double]
  private val drainSizes = ArrayBuffer.empty[Double]
  private val bytesAdded = new java.util.concurrent.atomic.AtomicLong(0L)
  private val seenFiles = scala.collection.mutable.Set.empty[String]
  private var expired = 0
  private var vacuumed = 0
  private var maintained = 0
  @volatile private var writerDone = false

  def setup(ctx: Ctx): Unit = {
    graft.Engine.init(ctx.spark)
    root = s"${ctx.work}/lake-${ctx.rep}"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    models.clear(); odsReturn.clear(); dwdToOds.clear(); drained.clear()
    model = Map.empty; nextId = 0L; opNo = 0L; rowsSubmitted = 0L
    bytesAdded.set(0L); seenFiles.clear()
    val rnd = new Random(ctx.seed)
    val spark = ctx.spark
    // the initial load as a history of small commits: with the run's own
    // commits the log crosses several full-checkpoint intervals
    (0 until InitialCommits).foreach { _ =>
      commitOds(ctx, "append")(appendRows(spark, rnd, InitialRows / InitialCommits))
    }
    ManifestTable.append(spark, dws, dwsFrame(spark, Cats.map(c => (c, 0L, 0L))))
  }

  /** Each kind of writer operation once, in cycle order, with a drain
    * after the third and the last, then every read kind. */
  def warmUp(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed + 17)
    val ops = Cycle.distinct
    ops.zipWithIndex.foreach { case (op, i) =>
      writerOp(ctx, rnd, op, new Outcome)
      if (i == 2 || i == ops.size - 1) consumeOnce(ctx, new Outcome)
    }
    Readers.foreach(k => readOnce(ctx, rnd, new Outcome, k))
    commitLat.clear(); appendLat.clear(); readLat.clear(); freshLat.clear(); drainSizes.clear()
    expired = 0; vacuumed = 0; maintained = 0
    odsReturn.clear()
    // storage amplification counts the measured phase only
    rowsSubmitted = 0L
    listFiles(Paths.get(ods, "data")).foreach(f => seenFiles.add(f._1))
  }

  // ---- writer -------------------------------------------------------------

  private def appendRows(spark: SparkSession, rnd: Random, n: Int): Seq[OdsRow] =
    (0 until n).map { _ =>
      val id = nextId; nextId += 1
      OdsRow(id, rnd.nextInt(Customers).toLong, Cats(rnd.nextInt(Cats.size)),
        rnd.nextInt(100000).toLong, opNo)
    }

  /** Runs one committing ODS operation, records the model at the new
    * version and the commit latency. */
  private def commitOds(ctx: Ctx, op: String)(rows: => Seq[OdsRow]): Unit = {
    val spark = ctx.spark
    opNo += 1
    val before = ManifestTable.latestVersion(ods).getOrElse(-1L)
    val t0 = System.nanoTime()
    val (v, next) = op match {
      case "append" =>
        val rs = rows
        rowsSubmitted += rs.size
        (ctx.span("lake.append", "lake")(ManifestTable.append(spark, ods, frame(spark, rs))),
          model ++ rs.map(r => r.o_id -> r))
      case "merge" =>
        val rs = rows
        rowsSubmitted += rs.size
        (ctx.span("lake.merge", "lake")(ManifestTable.merge(spark, ods, frame(spark, rs), "o_id")),
          model ++ rs.map(r => r.o_id -> r))
    }
    models.put(v, next)
    model = next
    val t1 = System.nanoTime()
    odsReturn.put(v, t1)
    commitLat += (t1 - t0) / 1e9
    if (op == "append") appendLat += (t1 - t0) / 1e9
    require(v == before + 1, s"$op committed v$v on top of v$before")
  }

  private def writerOp(ctx: Ctx, rnd: Random, op: String, out: Outcome): Unit = {
    val spark = ctx.spark
    out.guard(s"ods.$op") {
      op match {
        case "append" => commitOds(ctx, op)(appendRows(spark, rnd, AppendRows))
        case "merge" =>
          val live = model.keys.toArray.sorted
          val picked = (0 until MergeRows).map(_ => live(zipf(rnd, live.length))).distinct
          commitOds(ctx, op) {
            picked.map(k => model(k).copy(cents = rnd.nextInt(100000).toLong, upd = opNo)) ++
              appendRows(spark, rnd, MergeRows / 10)
          }
        case "delete_dv" | "delete_cow" =>
          // a range inside the live key space; DV or copy-on-write forced
          val span = if (op == "delete_dv") 30 else 400
          val lo = (rnd.nextDouble() * math.max(1L, nextId - span)).toLong
          val hi = lo + span
          val before = ManifestTable.latestVersion(ods).get
          val t0 = System.nanoTime()
          val v = ctx.span("lake.delete", "lake")(ManifestTable.deleteWhere(spark, ods, "o_id",
            lo, hi, dvBelowOverlap = if (op == "delete_dv") 2.0 else 0.0))
          if (v != before) {
            val next = model.filter { case (k, _) => k < lo || k > hi }
            models.put(v, next); model = next
            val t1 = System.nanoTime()
            odsReturn.put(v, t1)
            commitLat += (t1 - t0) / 1e9
          }
        case "maintain" => maintain(ctx)
        case "compact" =>
          val before = ManifestTable.latestVersion(ods).get
          val t0 = System.nanoTime()
          val v = ctx.span("lake.compact", "lake")(ManifestTable.compact(spark, ods))
          if (v != before) {
            models.put(v, model)
            commitLat += (System.nanoTime() - t0) / 1e9
          }
      }
      if (ctx.tracer.enabled) ctx.span("lake.probe", "lake")(storageProbe(ctx))
    }
  }

  /** Expire old versions (never past what the consumer still needs) and
    * vacuum the files no retained version references. It runs on the
    * writer's thread, so no ODS commit is in flight. */
  private def maintain(ctx: Ctx): Unit = ctx.span("lake.maintain", "lake") {
    val latest = ManifestTable.latestVersion(ods).get
    val lag = latest - ChangeFeed.lastProcessed(ckDwd)
    expired += ManifestTable.expireVersions(ods, math.max(KeepVersions, lag.toInt + 4))
    vacuumed += ManifestTable.vacuum(ods, retentionMs = 0L)
    maintained += 1
  }

  /** Closed loop with backpressure: the next operation waits until the
    * layer consumer is at most [[MaxLag]] versions behind. The operation
    * cycle is fixed; the seed sets keys, values and ranges. */
  private def writer(ctx: Ctx, out: Outcome, deadline: Long): Unit = {
    val rnd = new Random(ctx.seed * 31 + 1)
    var n = 0
    // whole cycles only, so every run has the same operation mix: a cycle
    // starts while the deadline has not passed
    while (n % Cycle.size != 0 || System.nanoTime() < deadline) {
      val waitUntil = System.nanoTime() + MaxWaitNs
      while (ManifestTable.latestVersion(ods).get - ChangeFeed.lastProcessed(ckDwd) > MaxLag) {
        require(System.nanoTime() < waitUntil, "the layer consumer stopped draining")
        Thread.sleep(2)
      }
      writerOp(ctx, rnd, Cycle(n % Cycle.size), out)
      n += 1
    }
  }

  // ---- consumer -----------------------------------------------------------

  /** One pass of the layer consumer: ODS changes into the signed DWD fact
    * log, then DWD changes into the per-category DWS totals. Each drain
    * processes every pending version exactly once and commits once. */
  private def consumeOnce(ctx: Ctx, out: Outcome): Boolean = {
    val spark = ctx.spark
    val facts = ArrayBuffer.empty[(Long, Long, String, Long, Long, Long)]
    val odsVersions = ArrayBuffer.empty[Long]
    val r1 = ctx.span("feed.dwd_drain", "feed") {
      val r = ChangeFeed.availableNow(spark, ods, ckDwd) { (changes, _, v) =>
        drained.merge(v, 1, (a: Int, b: Int) => a + b)
        val rows = ctx.span("lake.read_changes", "lake")(changes.select(
          col("o_id"), col("cust"), col("cat"), col("cents"), col("_change_type")).collect())
        if (rows.nonEmpty) odsVersions += v
        facts ++= rows.map { r =>
          val sign = r.getString(4) match {
            case "insert" | "update_postimage" => 1L
            case _ => -1L
          }
          (r.getLong(0), r.getLong(1), r.getString(2), sign, sign * r.getLong(3), v)
        }
      }
      r.foreach { case (_, to) =>
        if (facts.nonEmpty) ctx.span("lake.dwd_append", "lake")(ManifestTable.idempotentAppend(
          spark, dwd, dwdFrame(spark, facts.toSeq), to)).foreach(d => dwdToOds.put(d, odsVersions.toSeq))
      }
      r
    }
    r1.foreach { case (from, to) => drainSizes += (to - from).toDouble }
    // DWS: the drain folds every DWD version's deltas, then commits the
    // new per-category totals once
    val deltas = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val covered = ArrayBuffer.empty[Long]
    val r2 = ctx.span("feed.dws_drain", "feed") {
      val r = ChangeFeed.availableNow(spark, dwd, ckDws) { (changes, _, v) =>
        covered += v
        ctx.span("lake.read_changes", "lake")(changes
          .filter(col("_change_type") === "insert")
          .groupBy("cat").agg(sum("sign").as("dn"), sum("scents").as("dc")).collect())
          .foreach { r =>
            val (n0, c0) = deltas.getOrElse(r.getString(0), (0L, 0L))
            deltas(r.getString(0)) = (n0 + r.getLong(1), c0 + r.getLong(2))
          }
      }
      if (deltas.nonEmpty) {
        val cur = ctx.span("lake.dws_read", "lake")(ManifestTable.read(spark, dws).collect())
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val upd = deltas.toSeq.map { case (c, (dn, dc)) =>
          val (n0, c0) = cur.getOrElse(c, (0L, 0L)); (c, n0 + dn, c0 + dc)
        }
        val all = Cats.map(c => upd.find(_._1 == c).getOrElse((c, cur(c)._1, cur(c)._2)))
        ctx.span("lake.dws_overwrite", "lake")(ManifestTable.overwrite(spark, dws, dwsFrame(spark, all)))
      }
      r
    }
    val done = System.nanoTime()
    for (v <- covered; ov <- Option(dwdToOds.get(v)).toSeq.flatten; t <- Option(odsReturn.get(ov)))
      freshLat.synchronized(freshLat += (done - t) / 1e9)
    r1.isDefined || r2.isDefined
  }

  private def consumer(ctx: Ctx, out: Outcome): Unit = {
    var busy = true
    while (!writerDone || busy) {
      busy = try {
        val b = consumeOnce(ctx, out)
        if (b) out.attempt()
        b
      } catch { case e: Throwable =>
        out.attempt(); out.fail("feed.consume", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      if (!busy) Thread.sleep(20)
    }
  }

  // ---- reader -------------------------------------------------------------

  private def modelAt(v: Long): Map[Long, OdsRow] = {
    var waited = 0
    // the writer records a version's model right after its commit returns
    while (!models.containsKey(v) && waited < 5000) { Thread.sleep(1); waited += 1 }
    models.get(v)
  }

  private def readOnce(ctx: Ctx, rnd: Random, out: Outcome, kind: String): Unit = {
    val spark = ctx.spark
    out.guard(s"read.$kind") {
      val t0 = System.nanoTime()
      val (v, fp, expect) = kind match {
        case "read" =>
          ctx.span("read.latest", "lake") {
            val v = ctx.span("lake.latest_version", "lake")(ManifestTable.latestVersion(ods).get)
            (v, Fingerprint.of(ManifestTable.read(spark, ods, Some(v))), (r: OdsRow) => true)
          }
        case "asof" =>
          val latest = ManifestTable.latestVersion(ods).get
          val pick = math.max(0L, latest - rnd.nextInt(8))
          val ts = ManifestTable.snapshotMeta(ods, pick)("ts").toLong
          val v = ManifestTable.versionAsOf(ods, ts)
          val fp = ctx.span("read.asof", "lake")(Fingerprint.of(ManifestTable.readAsOf(spark, ods, ts)))
          // a commit stamped in the same millisecond may land between the
          // two resolutions; the read saw one of the two versions
          val v2 = ManifestTable.versionAsOf(ods, ts)
          val seen = if (v2 != v && Fingerprint.ofHashes(modelAt(v2).values.map(_.hash)) == fp) v2 else v
          (seen, fp, (r: OdsRow) => true)
        case "pruned" =>
          val v = ManifestTable.latestVersion(ods).get
          val lo = (rnd.nextDouble() * nextId).toLong
          val hi = lo + 300
          (v, ctx.span("read.pruned", "lake")(Fingerprint.of(
            ManifestTable.readPruned(spark, ods, "o_id", lo, hi, Some(v)))),
            (r: OdsRow) => r.o_id >= lo && r.o_id <= hi)
      }
      readLat.synchronized(readLat += (System.nanoTime() - t0) / 1e9)
      val m = modelAt(v)
      val want = Fingerprint.ofHashes(m.values.filter(expect).map(_.hash))
      out.check(s"read.$kind", fp == want, s"v$v fingerprint ${fp.render} != model ${want.render}")
      if (ctx.tracer.enabled) ctx.span("lake.probe", "lake")(metadataProbe(ctx, v))
    }
  }

  private def reader(ctx: Ctx, out: Outcome): Unit = {
    val rnd = new Random(ctx.seed * 31 + 2)
    var i = 0
    while (!writerDone) { readOnce(ctx, rnd, out, Readers(i % Readers.size)); i += 1 }
  }

  // ---- traced-only probes of the metadata layer -----------------------------

  private def metadataProbe(ctx: Ctx, v: Long): Unit = {
    val files = ctx.span("lake.snapshot", "lake")(ManifestTable.snapshotEntries(ods, v))
    ManifestTable.snapshotFiles(ods, v).take(4).foreach { f =>
      ctx.span("lake.stats", "lake")(ManifestTable.statsTypedOf(f))
    }
    ctx.span("lake.latest_version", "lake")(ManifestTable.latestVersion(ods))
    files.size
  }

  private def storageProbe(ctx: Ctx): Unit = seenFiles.synchronized {
    listFiles(Paths.get(ods, "data")).foreach { case (p, sz) =>
      if (seenFiles.add(p)) bytesAdded.addAndGet(sz)
    }
  }

  // ---- run ------------------------------------------------------------------

  def measure(ctx: Ctx, out: Outcome): Unit = {
    writerDone = false
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val t0 = System.nanoTime()
    var err: Throwable = null
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => err = e }, name)
      t.start(); t
    }
    val ts = Seq(
      thread("ods-writer") { try writer(ctx, out, deadline) finally writerDone = true },
      thread("layer-consumer")(consumer(ctx, out)),
      thread("reader")(reader(ctx, out)))
    ts.foreach(_.join())
    if (err != null) throw err
    val wall = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    finalChecks(ctx, out)
    System.err.println(f"[perfbench] lake_cdc clients $wall%.2f s, end checks ${(System.nanoTime() - c0) / 1e9}%.2f s")
    out.latency("commit", commitLat.toSeq)
    out.latency("append", appendLat.toSeq)
    out.latency("read", readLat.toSeq)
    out.latency("freshness", freshLat.toSeq)
    out.named("commits") = (commitLat.size.toDouble, "count")
    val latest = ManifestTable.latestVersion(ods).get
    out.named("ods_versions") = (latest.toDouble + 1, "count")
    out.named("oldest_retained_version") = (ManifestTable.history(ods).head._1.toDouble, "count")
    out.named("checkpoints_crossed") = ((latest / CheckpointEvery).toDouble, "count")
    out.named("maintenance_runs") = (maintained.toDouble, "count")
    out.named("versions_expired") = (expired.toDouble, "count")
    out.named("files_vacuumed") = (vacuumed.toDouble, "count")
    // the median is the ODS's dominant write, the append commit (a median
    // over the whole mix shifts with where the mix's boundary falls); the
    // tail is over every ODS commit, where merges, deletes and compactions
    // land
    out.op(appendLat.toSeq, commitLat.toSeq)
    out.named("commits_per_s") = (commitLat.size / wall, "1/s")
  }

  private def finalChecks(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val latest = ManifestTable.latestVersion(ods).get
    val m = models.get(latest)
    // independent checks, run side by side
    Outcome.inParallel(Seq(
      () => out.guard("check.ods") {
        val fp = Fingerprint.of(ManifestTable.read(spark, ods))
        val want = Fingerprint.ofHashes(m.values.map(_.hash))
        out.check("check.ods", fp == want, s"ODS ${fp.render} != model ${want.render}")
      },
      () => out.guard("check.exactly_once") {
        val dataVersions = dwdToOds.values.asScala.flatten.toSet
        val twice = drained.asScala.filter(_._2 != 1).keys
        out.check("check.exactly_once", twice.isEmpty, s"versions drained more than once: $twice")
        out.check("check.exactly_once", ChangeFeed.lastProcessed(ckDwd) == latest,
          s"DWD feed at v${ChangeFeed.lastProcessed(ckDwd)}, ODS at v$latest")
        dataVersions.size
      },
      () => out.guard("check.dwd") {
        val net = ManifestTable.read(spark, dwd).groupBy("o_id")
          .agg(sum("sign").as("n"), sum("scents").as("c")).filter(col("n") =!= 0).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = m.map { case (k, r) => k -> (1L, r.cents) }
        out.check("check.dwd", net == want, s"DWD nets ${net.size} keys, model ${want.size}")
      },
      () => out.guard("check.dws") {
        val got = ManifestTable.read(spark, dws).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = Cats.map { c =>
          val rs = m.values.filter(_.cat == c); c -> (rs.size.toLong, rs.map(_.cents).sum)
        }.toMap
        out.check("check.dws", got == want, s"DWS $got != model $want")
      },
      () => out.guard("check.cdf_replay") {
        // replay from the oldest retained version: its snapshot, then every
        // change after it
        val first = ManifestTable.history(ods).head._1
        var state = ManifestTable.read(spark, ods, Some(first)).as[OdsRow](
          org.apache.spark.sql.Encoders.product[OdsRow]).collect().map(r => r.o_id -> r).toMap
        val ch = ManifestTable.readChanges(spark, ods, first, latest)
          .select("o_id", "cust", "cat", "cents", "upd", "_change_type", "_commit_version").collect()
          .sortBy(r => (r.getLong(6), if (r.getString(5).startsWith("insert") ||
            r.getString(5) == "update_postimage") 1 else 0))
        ch.foreach { r =>
          val row = OdsRow(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))
          r.getString(5) match {
            case "insert" | "update_postimage" => state += row.o_id -> row
            case _ => state -= row.o_id
          }
        }
        out.check("check.cdf_replay", state == m,
          s"replay from v$first has ${state.size} rows, model ${m.size}")
      }))
  }

  def layers(ctx: Ctx, spans: Seq[Span], m: SparkMetrics, out: Outcome): Unit = {
    def med(name: String): Double = {
      val xs = spans.filter(_.name == name).map(_.dur / 1e9)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Seq("append", "merge", "delete", "compact", "maintain", "latest_version", "snapshot",
      "stats", "read_changes").foreach(k => out.layer(s"lake.${k}_s") = (med(s"lake.$k"), "s"))
    out.layer("lake.read_s") = (med("read.latest"), "s")
    out.layer("lake.read_asof_s") = (med("read.asof"), "s")
    out.layer("lake.read_pruned_s") = (med("read.pruned"), "s")
    // drains that found work: those with a child span
    val parents = spans.map(_.parent).toSet
    def medWorking(name: String): Double = {
      val xs = spans.filter(s => s.name == name && parents(s.id)).map(_.dur / 1e9)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    out.layer("feed.dwd_drain_s") = (medWorking("feed.dwd_drain"), "s")
    out.layer("feed.dws_drain_s") = (medWorking("feed.dws_drain"), "s")
    out.layer("feed.versions_per_drain") =
      (if (drainSizes.isEmpty) 0.0 else Stats.median(drainSizes.toSeq), "count")
    // storage: what the files on disk say at the end
    val latest = ManifestTable.latestVersion(ods).get
    val snap = ManifestTable.snapshotFiles(ods, latest)
    val live = snap.map(f => Files.size(Paths.get(f))).sum.toDouble
    val table = listFiles(Paths.get(ods)).map(_._2).sum.toDouble
    val liveRows = models.get(latest).size.max(1)
    out.layer("lake.space_amp") = (table / live, "ratio")
    out.layer("lake.write_amp") = (bytesAdded.get / (rowsSubmitted * live / liveRows), "ratio")
    out.layer("lake.manifest_bytes") = (listFiles(Paths.get(ods, "manifests")).map(_._2).sum.toDouble, "bytes")
    // pruning: share of the snapshot's files a 300-key range must open
    val lo = nextId / 2
    val kept = snap.count(f => ManifestTable.statsOf(f).get("o_id").forall {
      case (a, b) => b >= lo && a <= lo + 300 })
    out.layer("lake.pruned_file_ratio") = (kept.toDouble / snap.size.max(1), "ratio")
    val roots = spans.filter(_.parent == 0)
    Layers.sparkAndSelf(spans, m, ctx.cores, roots, out)
  }
}

object LakeCdc {
  val Cats: Seq[String] = Seq("north", "south", "east", "west", "online", "retail", "b2b", "edu")
  val Customers = 5000
  val InitialRows = 2000
  val InitialCommits = 16
  val AppendRows = 200
  val MergeRows = 120
  /** Versions expiry keeps: the reader's as-of reads go back at most 7. */
  val KeepVersions = 12
  /** The engine's full-checkpoint interval (ManifestTable.CheckpointEvery). */
  val CheckpointEvery = 16L
  val Readers: Seq[String] = Seq("read", "asof", "pruned")
  /** Versions the consumer may fall behind before the writer waits. */
  val MaxLag = 2
  /** The longest the writer waits for the consumer before the run fails. */
  val MaxWaitNs = 30L * 1000000000L
  /** Mostly inserts, as an ODS sees them. The ratios and sizes are this
    * benchmark's assumption, not measured on a production feed. A DV delete
    * precedes compact so compaction has tombstones to materialize; each
    * cycle ends with expiry plus vacuum. */
  val Cycle: Seq[String] = Seq("append", "merge", "append", "delete_cow", "append", "delete_dv",
    "append", "compact", "append", "maintain")

  /** Zipf(1.1)-distributed index in [0, n): low indices are hot. */
  def zipf(rnd: Random, n: Int): Int = {
    val s = 1.1
    val h = (1 to n).map(k => 1.0 / math.pow(k, s))
    val u = rnd.nextDouble() * h.sum
    var acc = 0.0
    var i = 0
    while (i < n - 1 && { acc += h(i); acc < u }) i += 1
    i
  }

  def frame(spark: SparkSession, rows: Seq[OdsRow]): DataFrame =
    spark.createDataFrame(rows).repartition(1)

  def dwdFrame(spark: SparkSession, rows: Seq[(Long, Long, String, Long, Long, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("o_id", "cust", "cat", "sign", "scents", "ods_v").repartition(1)

  def dwsFrame(spark: SparkSession, rows: Seq[(String, Long, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("cat", "n", "cents").repartition(1)

  def listFiles(dir: Path): Seq[(String, Long)] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toSeq
      finally s.close()
    }
}
