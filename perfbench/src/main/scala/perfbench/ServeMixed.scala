package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import graft.operators.{AccessService, EventAggregates, Grants, Windowed}
import graft.sources.{CircuitStore, EventIngest, GrantStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's mixed load scaled to one machine: events arrive
  * open-loop at a fixed rate and publish in small micro-batches while
  * access checks run closed-loop on every remaining core. Three of four
  * checks ask about users the store has never seen.
  *
  * The checks are closed-loop because the engine answers one to two
  * checks a second while the feed publishes: an open-loop rate ladder
  * would need minutes per step to support a tail percentile. */
object ServeMixed {
  import Workloads._

  val HistoryUsers = 2000
  val HistorySlots = 4
  val HistoryPerSlot = 1000
  val StreamUsers = 5000
  val StreamFirstUser = 1000000L
  val EventRate = 1000      // events/s fed by the generator
  val SlotMs = 250L         // one feed file per slot
  val WarmChecks = 8        // set-up checks before the timed window
  val PostChecks = 8        // untimed checks after the last publish

  final case class Prepared(table: String, circuits: String, live: Path,
                            history: Seq[Ev], materializeS: Double, circuitsS: Double)

  final case class CheckSample(startNs: Long, endNs: Long, buildNs: Long, callNs: Long,
                               user: Long)

  private def historyEvents(p: GenParams): Seq[Ev] = {
    val g = new Gen(p.copy(users = HistoryUsers), 1, 1L << 41)
    val t0 = 1700000000000L
    (0 until HistorySlots).flatMap(s => g.slot(s, HistoryPerSlot, t0 + s * 60000L, 60000L)) ++
      g.drainPending()
  }

  /** The feed's slots, generated with slot times from `t0Ms`. */
  private def streamSlots(p: GenParams, rate: Int, nSlots: Int, t0Ms: Long): Seq[Vector[Ev]] = {
    val gen = new Gen(p, StreamFirstUser, 1L << 43)
    val perSlot = (rate * SlotMs / 1000).toInt
    (0 until nSlots).map { s =>
      val evs = gen.slot(s, perSlot, t0Ms + s * SlotMs, SlotMs)
      if (s == nSlots - 1) evs ++ gen.drainPending() else evs
    }
  }

  private def validFrame(ctx: Ctx, evs: Seq[Ev]) =
    EventIngest.parse(eventsFrame(ctx.spark, evs))._1
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** The set-up: grants and circuits from a history through the batch
    * compiler, an empty live feed, a warm-up stream and a few warm-up
    * checks. */
  def prepare(ctx: Ctx, p: GenParams): Prepared = {
    val spark = ctx.spark
    val base = ctx.runDir.resolve("serve")
    val history = ctx.tracer.span("history", "gen")(historyEvents(p))
    val hist = validFrame(ctx, history).cache()
    val table = "grants_serve"
    val circuits = "circuits_serve"
    val (_, matS) = secondsOf(ctx.tracer.span("grants", "setup") {
      GrantStore.materialize(Grants.long(EventAggregates.perUser(hist, cfg.aggregates), cfg), table)
    })
    val (_, circS) = secondsOf(ctx.tracer.span("circuits", "setup") {
      CircuitStore.upsert(spark, circuitWindows(spark, hist), circuits)
    })
    hist.unpersist()
    val live = java.nio.file.Files.createDirectories(base.resolve("live"))
    FeedWriter.write(live, 0, Nil) // the file source locks its schema from a first file
    ctx.tracer.span("warmup", "setup") {
      val warm = IngestDrain.writeFeed(ctx, p.copy(seed = p.seed + 104729), base.resolve("warm"),
        2, 50000000L, 1L << 42, perFile = 1000)
      val wt = "warm_serve"
      GrantStore.materialize(emptyGrants(spark), wt)
      val ws = new GrantStream(spark, warm.dir, base.resolve("warmckpt"), wt, ctx.tracer, 1)
      val q = ws.start(Trigger.AvailableNow())
      q.awaitTermination()
      ws.stop(q)
      val warmChecks = new CheckAdapter(spark, table, circuits, () => 0L, ctx.tracer)
      (0 until WarmChecks).foreach(i => warmChecks.check(i.toLong, s"warm-$i"))
    }
    Prepared(table, circuits, live, history, matS, circS)
  }

  /** The user a check asks about: cold (never seen) with the seed's
    * cold share, else a history or stream user. */
  private def checkUser(p: GenParams, i: Long): Long = {
    val r = new java.util.SplittableRandom(p.seed * 1000003L + i)
    if (r.nextDouble() < p.coldFrac) 900000000L + r.nextInt(100000000)
    else if (r.nextBoolean()) 1L + r.nextInt(HistoryUsers)
    else StreamFirstUser + r.nextInt(StreamUsers)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val p = GenParams(ctx.seed, StreamUsers)
    val (prep, prepS) = secondsOf(prepare(ctx, p))
    val setupS = ctx.sessionStartS + prepS
    val rate = ctx.eventRate.getOrElse(EventRate)
    val nSlots = (ctx.seconds * 1000 / SlotMs).toInt
    // the same seed gives the same inputs: generate them twice and compare
    val sameInputs = Seq.fill(2)(Gen.digest(historyEvents(p)) +
      Gen.digest(streamSlots(p, rate, nSlots, 0L).flatten)).distinct.size == 1

    val stream = new GrantStream(spark, prep.live, ctx.runDir.resolve("ckpt-serve"), prep.table,
      ctx.tracer, 1000)
    val q = stream.start(Trigger.ProcessingTime(0L)) // micro-batches back to back
    val totalNs = ctx.seconds * 1000000000L
    val t0 = System.nanoTime() + 200000000L
    val t0Ms = System.currentTimeMillis() + 200
    val end = t0 + totalNs
    def sleepUntil(ns: Long): Unit = {
      val d = ns - System.nanoTime()
      if (d > 0) Thread.sleep(d / 1000000, (d % 1000000).toInt)
    }

    // generator: one feed file per slot, written when its last event is due
    val files = new java.util.concurrent.ConcurrentHashMap[String, (FileInfo, Long)]()
    val lateMax = new AtomicLong(0)
    val slots = ctx.tracer.span("slots", "gen")(streamSlots(p, rate, nSlots, t0Ms))
    val feeder = new Thread(() => {
      slots.zipWithIndex.foreach { case (evs, s) =>
        val due = t0 + (s + 1) * SlotMs * 1000000L
        sleepUntil(due)
        val f = FeedWriter.write(prep.live, s + 1, evs)
        lateMax.accumulateAndGet((System.nanoTime() - due) / 1000000, math.max)
        files.put(f.getFileName.toString, (FileInfo.of(evs), System.currentTimeMillis()))
      }
    }, "feed")

    // checks: closed loop on every check thread until the end
    val adapter = new CheckAdapter(spark, prep.table, prep.circuits,
      () => stream.published.size.toLong, ctx.tracer)
    val samples = new ConcurrentLinkedQueue[CheckSample]()
    val next = new AtomicLong(0)
    val errors = new AtomicLong(0)
    val checkers = (0 until math.max(1, ctx.cores - 1)).map { w =>
      new Thread(() => {
        sleepUntil(t0)
        while (System.nanoTime() < end) {
          val i = next.getAndIncrement()
          val user = checkUser(p, i)
          if (ctx.traced) spark.sparkContext.setJobGroup(s"check-$i", "check")
          val start = System.nanoTime()
          try {
            val (_, b, c) = adapter.check(user, s"check-$i")
            samples.add(CheckSample(start, System.nanoTime(), b, c, user))
          } catch { case e: Exception =>
            errors.incrementAndGet()
            System.err.println(s"[perfbench] check $i threw: $e")
            e.printStackTrace()
          }
        }
      }, s"check-$w")
    }
    feeder.start(); checkers.foreach(_.start())
    feeder.join(); checkers.foreach(_.join())
    val windowEndMs = System.currentTimeMillis()
    q.processAllAvailable()
    val heapMb = LiveHeap.mb()
    stream.stop(q)

    // latency, capacity and freshness
    val all = samples.asScala.toSeq
    val checkMs = all.map(s => (s.endNs - s.startNs) / 1e6)
    val capacity = if (all.isEmpty) 0.0 else all.size / ((all.map(_.endNs).max - t0) / 1e9)
    val fed = files.asScala.toMap
    val byBatch = stream.filesByBatch()
    val freshnessByFile = fed.toSeq.sortBy(_._1).map { case (f, (info, _)) =>
      val pub = byBatch.get(f).flatMap(b => Option(stream.published.get(b))).map(_.longValue)
      pub.toSeq.flatMap(t => info.createdMs.map(c => (t - c).toDouble))
    }
    val freshness = freshnessByFile.flatten
    // a sustained feed keeps freshness flat: the second half of the
    // feed's files against the first
    val (early, late) = freshnessByFile.splitAt(freshnessByFile.size / 2)
    val drift = if (early.flatten.isEmpty || late.flatten.isEmpty) 0.0
      else Stats.median(late.flatten) - Stats.median(early.flatten)
    val rows = fed.values.map(_._1.rows.toLong).sum
    val invalid = fed.values.map(_._1.invalidIds.length.toLong).sum
    // sustained feed: what was published by the end of the window
    val inWindow = fed.filter { case (f, _) =>
      byBatch.get(f).flatMap(b => Option(stream.published.get(b))).exists(_ <= windowEndMs) }
    val validInWindow = inWindow.values.map(i => i._1.rows - i._1.invalidIds.length.toLong).sum
    val backlogEnd = fed.size - inWindow.size

    // output checks, after the last publish
    val mismatches = Seq.newBuilder[String]
    if (!sameInputs) mismatches += "generator: the same seed gave different inputs"
    val liveValid = validEvents(spark, prep.live, fed.toSeq.map { case (f, (i, _)) => f -> i })
    val histValid = eventsFrame(spark, prep.history.filter(_.valid))
    val expected = expectedGrants(histValid.unionByName(liveValid)).cache()
    val wrongRows = storeMismatches(spark, prep.table, expected)
    if (wrongRows > 0)
      mismatches += s"grant store: $wrongRows (user, feature) rows differ from the batch compiler"
    val counters = stream.ingestCounters()
    val seen = counters.getOrElse("n_total", -1L)
    val rejected = counters.getOrElse("n_unknown_type", 0L) + counters.getOrElse("n_invalid_props", 0L)
    if (seen != rows || rejected != invalid)
      mismatches += s"ingest counters: saw $seen rows / $rejected rejected, fed $rows / $invalid invalid"
    val wantCircuits = Windowed.latestFeatureCircuit(AccessService.attempts(histValid,
      Grants.wide(EventAggregates.perUser(histValid, cfg.aggregates), cfg), cfg))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val gotCircuits = CircuitStore.read(spark, prep.circuits)
      .collect().map(r => r.getAs[String]("feature") -> r.getAs[Boolean]("circuit_open")).toMap
    if (wantCircuits != gotCircuits)
      mismatches += s"circuit store: $gotCircuits, batch compiler gives $wantCircuits"
    val grantOf = expected.filter(col("feature") === "purchase")
      .select("user_id", "has_grant").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val open = wantCircuits.getOrElse("purchase", false)
    val (revokedUsers, grantedUsers) = grantOf.toSeq.sortBy(_._1).partition(!_._2)
    val postUsers = (0 until PostChecks / 2).map(i => checkUser(p, -1L - i)) ++
      (revokedUsers.take(PostChecks / 4) ++ grantedUsers.take(PostChecks / 4)).map(_._1)
    // a post check that throws counts as a wrong answer
    val wrongAnswers = postUsers.count { u =>
      scala.util.Try(adapter.check(u, s"post-$u")._1).toOption
        .forall(_ != (open || grantOf.getOrElse(u, true)))
    }
    if (wrongAnswers > 0) mismatches += s"access checks: $wrongAnswers of ${postUsers.size} answers wrong"
    if (errors.get > 0) mismatches += s"access checks: ${errors.get} threw"
    val knownUsers = grantOf.keySet
    expected.unpersist()

    val fresh50 = if (freshness.isEmpty) 0.0 else Stats.median(freshness)
    val (fq, ftail) = tailOf(freshness)
    val check50 = if (checkMs.isEmpty) 0.0 else Stats.median(checkMs)
    val (cq, ctail) = tailOf(checkMs)
    val failed = wrongRows + errors.get + wrongAnswers
    val attempted = (rows - invalid) + all.size + errors.get + postUsers.size
    val named = Map(
      "setup_s" -> (setupS, "s"),
      "ingest_eps" -> (validInWindow / ctx.seconds.toDouble, "events/s"),
      "feed_eps" -> ((rows - invalid) / ctx.seconds.toDouble, "events/s"),
      "backlog_files_end" -> (backlogEnd.toDouble, "count"),
      "freshness_drift_ms" -> (drift, "ms"),
      "freshness_p50_ms" -> (fresh50, "ms"),
      s"freshness_p${(fq * 100).round}_ms" -> (ftail, "ms"),
      "check_p50_ms" -> (check50, "ms"),
      s"check_p${(cq * 100).round}_ms" -> (ctail, "ms"),
      "check_rate_max" -> (capacity, "checks/s"),
      "failed_frac" -> (failed.toDouble / attempted, "ratio"),
      "live_heap_mb" -> (heapMb, "MB"))
    val e2e = Map("setup_s" -> setupS, "throughput_per_s" -> capacity,
      "op_p50_ms" -> fresh50, "live_heap_mb" -> heapMb)

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val published = stream.published.asScala.keySet.map(_.longValue).toSet
        val checkTally = ctx.counters.groups.filter(_._1.startsWith("check-")).values
        val batchStarts = stream.progress
          .map(pr => pr.batchId -> java.time.Instant.parse(pr.timestamp).toEpochMilli)
        val backlog = batchStarts.map { case (b, startMs) =>
          fed.count { case (f, (_, wrote)) => wrote <= startMs && byBatch.get(f).forall(_ >= b) }
        }
        streamLayers(ctx, stream, published, t0Ms, t0Ms + ctx.seconds * 1000L, rows - invalid) ++
          Map(
            "gen.late_ms_max" -> lateMax.get.toDouble,
            "gen.events" -> rows.toDouble,
            "gen.dup_frac" -> p.dupFrac,
            "gen.invalid_frac" -> invalid.toDouble / math.max(1L, rows),
            "ingest.reject_frac" -> rejected.toDouble / math.max(1L, seen),
            "source.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
            "access.build_ms" -> Stats.median(all.map(_.buildNs / 1e6)),
            "access.call_ms" -> Stats.median(all.map(_.callNs / 1e6)),
            "access.jobs_per_check" -> checkTally.map(_.jobs.get).sum.toDouble / all.size,
            "access.tasks_per_check" -> checkTally.map(_.tasks.get).sum.toDouble / all.size,
            "access.default_frac" -> all.count(s => !knownUsers(s.user)).toDouble / all.size,
            "setup.grants_materialize_s" -> prep.materializeS,
            "setup.circuits_s" -> prep.circuitsS) ++
          RegistryLeg.stores(ctx) ++ selfTimes(ctx)
      }
    Outcome(e2e, named, layers, attempted, failed, mismatches.result(),
      Map("checks" -> all.size,
        "freshness_samples" -> freshness.size, "files" -> fed.size,
        "prepare_s" -> prepS, "session_start_s" -> ctx.sessionStartS,
        "gen_late_ms_max" -> lateMax.get, "gen_params" -> p.toString,
        "after_window_s" -> (System.currentTimeMillis() - windowEndMs) / 1000.0))
  }
}
