package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.sources.GrantStore
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Write path only: a seeded backlog over a large Zipf-skewed user
  * population drains through validation, the fold and the grant store
  * in large micro-batches, with no checks, until the run's seconds have
  * passed. */
object IngestDrain {
  import Workloads._

  val Users = 200000
  val EventsPerFile = 5000
  val FilesPerTrigger = 2
  val BacklogFiles = 32
  val SlotSpanMs = 10000L
  val WarmFiles = 3

  final case class Feed(dir: Path, files: Map[String, FileInfo])

  /** The events of a backlog of `nFiles` files, one slot per file. */
  def feedSlots(p: GenParams, nFiles: Int, firstUser: Long, firstEventId: Long,
                perFile: Int): Seq[Vector[Ev]] = {
    val g = new Gen(p, firstUser, firstEventId)
    val t0 = 1700000000000L
    (0 until nFiles).map { s =>
      val evs = g.slot(s, perFile, t0 + s * SlotSpanMs, SlotSpanMs)
      if (s == nFiles - 1) evs ++ g.drainPending() else evs
    }
  }

  /** Generate and write a backlog of `nFiles` files. */
  def writeFeed(ctx: Ctx, p: GenParams, dir: Path, nFiles: Int, firstUser: Long,
                firstEventId: Long, perFile: Int = EventsPerFile): Feed =
    ctx.tracer.span("feed", "gen") {
      Files.createDirectories(dir)
      val mtime0 = System.currentTimeMillis() - nFiles * 1000L
      val files = feedSlots(p, nFiles, firstUser, firstEventId, perFile).zipWithIndex.map {
        case (evs, s) =>
          FeedWriter.write(dir, s + 1, evs, Some(mtime0 + s * 1000L)).getFileName.toString ->
            FileInfo.of(evs)
      }.toMap
      Feed(dir, files)
    }

  /** The same seed gives the same inputs: the backlog's events,
    * generated twice, and its files, written twice, are identical. */
  def sameInputs(ctx: Ctx, p: GenParams, feed: Feed): Boolean = {
    val events = Seq.fill(2)(Gen.digest(feedSlots(p, BacklogFiles, 1, 0, EventsPerFile).flatten))
    val again = writeFeed(ctx.copy(tracer = new Tracer(false)), p,
      ctx.runDir.resolve("feed-again"), BacklogFiles, 1, 0)
    val bytes = Seq(feed, again).map(f => filesDigest(f.files.keys.map(f.dir.resolve).toSeq))
    events.distinct.size == 1 && bytes.distinct.size == 1
  }

  final case class Prepared(feed: Feed, table: String)

  /** The set-up: backlog, empty store, warm-up stream. */
  def prepare(ctx: Ctx, p: GenParams): Prepared = {
    val spark = ctx.spark
    val base = ctx.runDir.resolve("drain")
    val feed = writeFeed(ctx, p, base.resolve("feed"), BacklogFiles, 1, 0)
    ctx.tracer.span("warmup", "setup") {
      val warm = writeFeed(ctx, p.copy(seed = p.seed + 7919), base.resolve("warm"),
        WarmFiles, 10000000L, 1L << 40)
      val wt = "warm_drain"
      GrantStore.materialize(emptyGrants(spark), wt)
      val ws = new GrantStream(spark, warm.dir, base.resolve("warmckpt"), wt, ctx.tracer, 1)
      val q = ws.start(Trigger.AvailableNow())
      q.awaitTermination()
      ws.stop(q)
    }
    val table = "grants_drain"
    GrantStore.materialize(emptyGrants(spark), table)
    Prepared(feed, table)
  }

  /** Batches of a drain that are still warming up: the first also pays
    * the query's start, and the second still runs measurably slower. */
  val WarmBatches = 2

  /** `eps` (valid events over summed batch time) and `batchMs` are
    * over the steady batches (all after the first `WarmBatches`);
    * `totalEps` is every published batch's events over the wall time
    * from the first trigger to the last publish; `error` says why the
    * drain ended before its deadline, if it did. */
  final case class Drain(eps: Double, totalEps: Double, batchMs: Seq[Double],
                         published: Set[Long], startMs: Long, endMs: Long,
                         fedFiles: Seq[String], rows: Long, invalid: Long, stream: GrantStream,
                         heapMb: Double, error: Option[String])

  /** Drain `prep`'s backlog until `seconds` have passed. */
  def drain(ctx: Ctx, prep: Prepared, seconds: Double, tag: String): Drain = {
    val s = new GrantStream(ctx.spark, prep.feed.dir, ctx.runDir.resolve(s"ckpt-$tag"),
      prep.table, ctx.tracer, FilesPerTrigger)
    val startMs = System.currentTimeMillis()
    val q = s.start(Trigger.AvailableNow(), startMs + (seconds * 1000).toLong)
    while (q.isActive && !s.closed.get) Thread.sleep(10)
    // Before the deadline the query may only end by draining the whole
    // backlog. After it, the batch past the deadline is left unapplied
    // and the query may fail on it as it stops; what was published
    // before stays.
    val early = !s.closed.get
    if (!early) {
      // let the last published batch commit and report its progress
      val last = s.published.asScala.keySet.map(_.longValue).max
      val waitUntil = System.currentTimeMillis() + 5000
      while (q.isActive && Option(q.lastProgress).forall(_.batchId < last) &&
        System.currentTimeMillis() < waitUntil) Thread.sleep(5)
    }
    val heapMb = LiveHeap.mb()
    val failure = if (early) q.exception.map(_.getMessage) else None
    try s.stop(q) catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException if !early => ()
    }
    val published = s.published.asScala.keySet.map(_.longValue).toSet
    val endMs = (startMs +: s.published.asScala.values.map(_.longValue).toSeq).max
    val byBatch = s.filesByBatch().filter(fb => published(fb._2))
    val error = failure.map(m => s"engine: the $tag drain failed before its deadline: $m")
      .orElse(if (early && byBatch.size < prep.feed.files.size)
        Some(s"engine: the $tag drain ended before its deadline with " +
          s"${byBatch.size} of ${prep.feed.files.size} files published") else None)
    val fedFiles = byBatch.keys.toSeq.sorted
    val infos = fedFiles.map(prep.feed.files)
    val rows = infos.map(_.rows.toLong).sum
    val invalid = infos.map(_.invalidIds.length.toLong).sum
    val validOf = byBatch.groupBy(_._2).map { case (b, fs) =>
      b -> fs.keys.map(prep.feed.files).map(i => i.rows - i.invalidIds.length).sum }
    val batches = s.progress.filter(p => published(p.batchId))
      .map(p => (validOf.getOrElse(p.batchId, 0), p.durationMs.get("triggerExecution").toDouble))
    val steady = if (batches.size > WarmBatches) batches.drop(WarmBatches) else batches
    val steadyMs = steady.map(_._2).sum
    Drain(if (steadyMs <= 0) 0.0 else steady.map(_._1).sum / (steadyMs / 1000),
      (rows - invalid) / math.max(0.001, (endMs - startMs) / 1000.0), steady.map(_._2), published,
      startMs, endMs, fedFiles, rows, invalid, s, heapMb, error)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val p = GenParams(ctx.seed, Users)
    val (prep, prepS) = secondsOf(prepare(ctx, p))
    val setupS = ctx.sessionStartS + prepS

    val d = drain(ctx, prep, ctx.seconds, "main")
    val heapMb = d.heapMb

    // output checks, outside the timed window
    val mismatches = Seq.newBuilder[String]
    mismatches ++= d.error
    if (!sameInputs(ctx, p, prep.feed))
      mismatches += "generator: the same seed gave different inputs"
    val valid = d.rows - d.invalid
    val expected = expectedGrants(
      validEvents(spark, prep.feed.dir, d.fedFiles.map(f => f -> prep.feed.files(f)))).cache()
    val wrongRows = storeMismatches(spark, prep.table, expected)
    if (wrongRows > 0)
      mismatches += s"grant store: $wrongRows (user, feature) rows differ from the batch compiler"
    val revoked = expected.filter(!col("has_grant")).count()
    if (revoked == 0) mismatches += "generator: no grant flipped, the rules were not exercised"
    expected.unpersist()
    val counters = d.stream.ingestCounters()
    val seen = counters.getOrElse("n_total", -1L)
    val rejected = counters.getOrElse("n_unknown_type", 0L) + counters.getOrElse("n_invalid_props", 0L)
    if (seen != d.rows || rejected != d.invalid)
      mismatches += s"ingest counters: saw $seen rows / $rejected rejected, " +
        s"fed ${d.rows} / ${d.invalid} invalid"

    val batchP50 = if (d.batchMs.isEmpty) 0.0 else Stats.median(d.batchMs)
    val (batchQ, batchTail) = tailOf(d.batchMs)
    val named = Map(
      "setup_s" -> (setupS, "s"),
      "ingest_eps" -> (d.eps, "events/s"),
      "ingest_eps_total" -> (d.totalEps, "events/s"),
      "batch_p50_ms" -> (batchP50, "ms"),
      s"batch_p${(batchQ * 100).round}_ms" -> (batchTail, "ms"),
      "failed_frac" -> ((wrongRows + d.error.size).toDouble / math.max(1L, valid + d.error.size),
        "ratio"),
      "live_heap_mb" -> (heapMb, "MB"))
    val e2e = Map("setup_s" -> setupS, "throughput_per_s" -> d.eps,
      "op_p50_ms" -> batchP50, "live_heap_mb" -> heapMb)

    var wrongQueryCount = 0
    var engineErrors = d.error.size
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val base = streamLayers(ctx, d.stream, d.published, d.startMs, d.endMs, valid) ++
          Map(
            "gen.events" -> d.rows.toDouble,
            "gen.dup_frac" -> p.dupFrac,
            "gen.invalid_frac" -> d.invalid.toDouble / d.rows,
            "ingest.reject_frac" -> rejected.toDouble / math.max(1L, seen),
            "source.backlog_files_max" -> BacklogFiles.toDouble)
        val (registry, wrongQueries) = RegistryLeg.queries(ctx)
        mismatches ++= wrongQueries
        wrongQueryCount = wrongQueries.size
        val (ratio, oneError) = speedup(ctx, prep, d.eps)
        mismatches ++= oneError
        engineErrors += oneError.size
        base ++ registry ++ selfTimes(ctx) + ("engine.speedup_1core" -> ratio)
      }
    Outcome(e2e, named, layers,
      attempted = valid + engineErrors + (if (ctx.traced) Registry.slice.size else 0),
      failed = wrongRows + wrongQueryCount + engineErrors, mismatches.result(),
      Map("batches" -> d.published.size, "batch_ms" -> d.batchMs, "prepare_s" -> prepS,
        "session_start_s" -> ctx.sessionStartS, "revoked_rows" -> revoked,
        "gen_params" -> p.toString,
        "after_window_s" -> (System.currentTimeMillis() - d.endMs) / 1000.0))
  }

  /** The same backlog drained at one core, in a fresh one-core
    * session, into a fresh store: the multi-core rate over the one-core
    * rate, and why the one-core drain ended early, if it did. */
  private def speedup(ctx: Ctx, prep: Prepared, eps: Double): (Double, Option[String]) = {
    ctx.spark.stop()
    val one = GraftSession.local(1)
    one.sparkContext.setLogLevel("ERROR")
    val c1 = ctx.copy(spark = one, tracer = new Tracer(true), counters = new SchedulerCounters)
    val table = "grants_drain_one"
    GrantStore.materialize(emptyGrants(one), table)
    val d = drain(c1, prep.copy(table = table), math.max(4.0, ctx.seconds / 2.0), "one")
    one.stop()
    (if (d.eps > 0) eps / d.eps else 0.0, d.error)
  }
}
