package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every registered query at SPARK_GRAFT_SF_DIR,
  * one JSON line out (driver contract).
  *
  * Each query is forced through the `noop` sink — a plain `.count()`
  * would let Catalyst prune every projection (a scan-only count reads
  * parquet footers, not the operators under test). noop executes the
  * full physical plan and discards rows.
  */
object Bench {

  /** The sf dir the memo pins were calibrated at (this image; re-pin
    * when a memo's implementation changes — BENCHNOTES "memo phase
    * gate"). */
  val MemoPinnedSfDir = "/root/testdata/sf0.1"

  /** Memo-phase quiet-machine pins, KEYED by sf dir: every memo cost
    * scales with corpus size, so at any sfDir other than the
    * calibrated one the gate is neutralized (empty map ⇒ expected =
    * actual ⇒ never degraded) instead of false-flagging a healthy
    * machine at sf1 or masking degradation at a smaller sf
    * (ADVICE r16; spec-pinned in MemoGateSpec). */
  private[graft] def memoPins(sfDir: String): Map[String, Double] =
    if (sfDir.replaceAll("/+$", "") == MemoPinnedSfDir) Map(
      "per_user_aggs" -> 2.3, "trade_edges" -> 2.6, "shingle_rows" -> 1.2,
      "minhash_pairs" -> 2.8, "dedup_cluster_labels" -> 3.5,
      "ngram_shared" -> 2.8, "winnow_select" -> 2.6, "bpe_merges" -> 0.4,
      "embed_vecs" -> 0.4, "lm_trusted" -> 1.2, "lm_full" -> 1.0,
      "basket_pairs" -> 3.8)
    else Map.empty

  /** Quiet-machine cost of the pinned warmup plan on this image,
    * COLD (includes first-touch JVM/codegen — that fixed cost is
    * part of the pin). Re-pin only when the warmup plan itself
    * changes. */
  val CanaryBaselineSec = 12.0

  /** Quiet-machine cost of the same plan on a WARM session (codegen
    * classes cached, executors resident) — the pin a canary RETRY is
    * judged against. Measured 2.4-3.1 s on this image (BENCHNOTES
    * r19 "canary retry pin"); 3.5 keeps headroom comparable to the
    * cold pin's. */
  val WarmCanaryBaselineSec = 3.5

  /** The pinned synthetic warmup/canary plan — no data, no stores,
    * identical bytes every round, so its wall time moves ONLY with
    * the machine. Compiles the hot codegen paths (JSON extraction,
    * hash aggregation, window time-bucketing, ranking windows, md5,
    * explode, broadcast + shuffle joins) without executing any
    * benchmark query or materializing anything a query would
    * reuse. */
  private[graft] def runCanaryPlan(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val w = spark.range(300000).selectExpr(
      "id", "cast(id % 97 as string) AS k",
      "concat('{\"k\":', id % 13, '}') AS js",
      "cast(id as double) AS v",
      "timestamp_micros(id * 100000000) AS ts")
    val dim = spark.range(97).selectExpr("cast(id as string) AS k", "id AS dv")
    w.withColumn("jk", get_json_object(col("js"), "$.k"))
      .withColumn("h", md5(col("js")))
      .withColumn("tok", explode(split(col("h"), "")))
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("k"))
      .agg(sum(col("v").cast("decimal(28,6)")).as("sv"),
        countDistinct(col("jk")).as("dk"), count(lit(1)).as("n"))
      .join(broadcast(dim), Seq("k"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("sv").desc)))
      .write.format("noop").mode("overwrite").save()
    val j1 = spark.range(200000).selectExpr("id AS a", "id % 1000 AS b")
    val j2 = spark.range(200000).selectExpr("id AS a", "id % 7 AS c")
    j1.join(j2, Seq("a")).groupBy("c").agg(sum(col("b")))
      .write.format("noop").mode("overwrite").save()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: JVM/codegen/session init must not be billed to the first
    // query (it was ~4s of a1's 5.2s before this). SYNTHETIC data only
    // — the warmup compiles the hot codegen paths (JSON extraction,
    // hash aggregation, window time-bucketing, ranking windows, md5,
    // explode, broadcast + shuffle joins) without ever executing a
    // benchmark query or materializing anything a query would reuse.
    // The warmup doubles as a VM-HEALTH CANARY (VERDICT r14 #2): it is
    // a pinned synthetic plan — no data, no stores, identical bytes
    // every round — so its wall time moves ONLY with the machine.
    // r14's artifact recorded 201 s of memo builds and 9,150 ev/s that
    // a quiet-machine re-run could not reproduce; without a canary a
    // degraded VM is indistinguishable in the artifact from a code
    // regression. canary_sec is emitted in both JSON artifacts and
    // degraded=true when it exceeds 2× its recorded quiet-machine cost
    // (BENCHNOTES: a degraded run is re-run, not archived).
    // Self-heal (VERDICT r18 #3): a degraded first canary is retried
    // up to 2 more times before the verdict — the r18 judge-time
    // artifact archived a 58.6 s canary window the driver could not
    // re-run, so the binary applies the "re-run, not archive" rule
    // itself. Attempt 1 is judged against the cold pin (first-touch
    // JVM/codegen is part of that cost); retries run with warm
    // codegen caches and get their own pin — without the split, any
    // degraded cold attempt would "heal" simply by shedding the
    // fixed warmup cost. The artifact carries every attempt
    // (canary_attempts_sec); the LAST attempt is the operative
    // canary — the most recent measurement of the machine the
    // following phases actually run on.
    val canaryOutcome = RetryGate.run(3) { _ =>
      val t0 = System.nanoTime()
      runCanaryPlan(spark)
      (System.nanoTime() - t0) / 1e9
    } { case (sec, attempt) =>
      sec > 2 * (if (attempt == 0) CanaryBaselineSec else WarmCanaryBaselineSec)
    }
    val canaryAttempts = canaryOutcome.attempts
    val canarySec = canaryAttempts.last
    val degraded = canaryOutcome.degraded
    if (canaryOutcome.healed) System.err.println(
      f"[bench] NOTE canary healed on attempt ${canaryAttempts.size}: " +
        canaryAttempts.map(s => f"$s%.1f").mkString(" -> ") + " s")
    if (degraded) System.err.println(
      f"[bench] WARNING degraded VM: canary $canarySec%.1f s vs baseline " +
        f"$WarmCanaryBaselineSec%.1f s warm (${canaryAttempts.size} attempts: " +
        canaryAttempts.map(s => f"$s%.1f").mkString(" -> ") +
        " s) — re-run this bench, do not archive it")
    graft.sources.Tables.events(spark, sfDir).limit(10).collect()
    // Store warm-up phase: stand up every PERSISTED serving store
    // (postings, IVF cells, PQ codebooks+codes) BEFORE the query loop
    // and account for it separately — a one-shot *_indexed time that
    // includes drop/init/full-ingest hides the probe-only serving
    // number the store exists to demonstrate (and buries probe
    // regressions inside build noise). "adopted" records whether the
    // build was satisfied by cross-session adoption of an on-disk
    // store (BucketedUpsert.adopt) rather than a corpus ingest —
    // both are legitimate serving states; only the cost differs.
    // The LM count sets joined this tier in round 16 (VERDICT r15 #1:
    // the in-session retrain ran 1.5-41 s across runs; counts are
    // corpus-derived, so per-session rebuilds were pure waste — the
    // lm_* memo rows below now only scan + cache the stored frames).
    val builds = Seq(
      ("bm25_postings", "documents.parquet",
        queries.TextQueries.postingsPrefixName(sfDir),
        () => queries.TextQueries.postingsPrefix(spark, sfDir)),
      ("ivf_cells", "embeddings.parquet",
        queries.EmbeddingQueries.ivfPrefixName(sfDir),
        () => queries.EmbeddingQueries.ivfIndexPrefix(spark, sfDir)),
      ("pq_codes", "embeddings.parquet",
        queries.EmbeddingQueries.pqPrefixName(sfDir),
        () => queries.EmbeddingQueries.pqIndexPrefix(spark, sfDir)),
      ("lm_trusted_counts", "documents.parquet",
        queries.LmQueries.lmTrustedPrefixName(sfDir),
        () => queries.LmQueries.lmTrustedStore(spark, sfDir)),
      ("lm_full_counts", "documents.parquet",
        queries.LmQueries.lmFullPrefixName(sfDir),
        () => queries.LmQueries.lmFullStore(spark, sfDir)),
      ("bpe_merges_table", "documents.parquet",
        queries.TextQueries.bpePrefixName(sfDir),
        () => queries.TextQueries.bpeStorePrefix(spark, sfDir)),
    ).map { case (bname, corpusFile, prefix, build) =>
      // a matching sentinel BEFORE the call means the memo will adopt
      // the on-disk store instead of ingesting the corpus
      val adopted = graft.sources.StoreSentinel.matches(spark, prefix,
        graft.sources.StoreSentinel.corpusSignature(sfDir, corpusFile))
      val t0 = System.nanoTime()
      build()
      (bname, (System.nanoTime() - t0) / 1e9, adopted)
    }
    // Memo warm-up phase (VERDICT r11 #3 / r13 #5): force every named
    // session memo to its steady serving state BEFORE the timed loop,
    // and bill the first-touch cost to an explicit memo_builds row —
    // otherwise whichever query touches a memo first absorbs a build
    // that every later query rides for free (basket_rules read 15 s
    // official vs ~2 s steady in r11).
    def runMemoPhase(): Seq[(String, Double, Boolean)] =
      SparkEntry.memoWarmers.map { case (name, warm) =>
        val t0 = System.nanoTime()
        val ok = try { warm(spark, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] memo $name failed: ${e.getMessage}")
            false
          }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    // Memo-phase degradation gate (VERDICT r15 #2): the canary runs
    // BEFORE the memo phase, so a VM that degrades DURING it could
    // archive a pathological memo build under degraded=false (r15's
    // judge-time lm_trusted: 40.86 s vs 1.49 s archived, canary
    // green). Each memo has a pinned quiet-machine cost (sf0.1, this
    // image — re-pin when a memo's implementation changes, BENCHNOTES
    // "memo phase gate"); the phase is degraded when its total
    // exceeds 2× the pinned total, and every memo >2× its own pin is
    // named on stderr for attribution. A memo-degraded run is re-run,
    // not archived (the canary rule, one phase later).
    // The pins are calibrated for sf0.1 ON THIS IMAGE; every memo
    // scales with corpus size, so at any other sfDir the gate is
    // NEUTRALIZED (empty pin map ⇒ expected = actual ⇒ never
    // degraded) with a stderr note and a `memo_pins` artifact field
    // (ADVICE r16: an sf1 run would otherwise flag a healthy machine,
    // and a smaller sf could mask real degradation).
    val MemoBaselineSec: Map[String, Double] = memoPins(sfDir)
    if (MemoBaselineSec.isEmpty)
      System.err.println(
        s"[bench] NOTE memo pins are calibrated for $MemoPinnedSfDir; " +
          s"sfDir=$sfDir ⇒ memo gate neutralized (memo_pins: unpinned_sf)")
    // decision arithmetic lives in MemoGate (pure, spec-pinned).
    // Self-heal (VERDICT r18 #3): a degraded memo phase is retried up
    // to 2 more times — Memo.clearAll() first, so a retry is a real
    // re-measurement (re-derive + re-cache every memo), not a free
    // read of the frames the degraded attempt already cached. Pins
    // stay the same across attempts: the stores and scans are warm by
    // the first memo attempt already, so a retry measures the same
    // work. Every attempt's phase total lands in the artifact
    // (memo_attempts_sec); the LAST attempt is the operative one.
    def memoPin(name: String, sec: Double): Double =
      MemoGate.pin(MemoBaselineSec)(name, sec)
    val memoOutcome = RetryGate.run(3) { attempt =>
      if (attempt > 0) {
        System.err.println(
          s"[bench] NOTE degraded memo phase: clearing memos and " +
            s"re-measuring (attempt ${attempt + 1})")
        Memo.clearAll()
      }
      val builds = runMemoPhase()
      (builds, MemoGate.evaluate(builds, MemoBaselineSec))
    } { case ((_, v), _) => v.degraded }
    val (memoBuilds, memoVerdict) = memoOutcome.attempts.last
    val memoAttemptsSec = memoOutcome.attempts.map(_._2.actualSec)
    if (memoOutcome.healed) System.err.println(
      f"[bench] NOTE memo phase healed on attempt " +
        s"${memoOutcome.attempts.size}: " +
        memoAttemptsSec.map(s => f"$s%.1f").mkString(" -> ") + " s")
    val memoSec = memoVerdict.actualSec
    val memoExpectedSec = memoVerdict.expectedSec
    val memoDegraded = memoVerdict.degraded
    memoVerdict.overruns.foreach { n =>
      val v = memoBuilds.find(_._1 == n).get._2
      System.err.println(
        f"[bench] WARNING memo $n took $v%.2f s vs ${memoPin(n, v)}%.2f s pinned (>2x)")
    }
    if (memoDegraded) System.err.println(
      f"[bench] WARNING degraded memo phase: $memoSec%.1f s vs " +
        f"$memoExpectedSec%.1f s pinned — re-run this bench, do not archive it")
    // min-of-3 protocol (VERDICT r11 #1 / r13 #4): three full
    // name-ordered sweeps; a query's reported time is the minimum of
    // its successful runs — the noise floor of this VM swings 2-3× on
    // identical code, and the min is the stable estimator of the
    // plan's actual cost. A query must succeed in ALL sweeps to count
    // as passing (a flaky query is a failure, not a fast success).
    val Passes = 3
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val sweeps = (1 to Passes).map { _ =>
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    }
    val results = names.map { case (name, _) =>
      val runs = sweeps.map(_.find(_._1 == name).get)
      val ok = runs.forall(_._3)
      val sec = if (ok) runs.map(_._2).min else -1.0
      (name, sec, ok)
    }
    // A failed query must be visible in the artifact, not look like a
    // fast success: its per-query value is -1 and it is listed in
    // "failed".
    val qs = results.map { case (k, v, ok) =>
      s""""$k":${if (ok) "%.3f".format(v) else "-1"}"""
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => s""""$k"""" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // Streaming write-path throughput (baseline parity figure: the
    // reference publishes ~2,000 req/s, BASELINE.md) — measured
    // best-of-3 over one pre-built feed (VERDICT r16 #1: the single
    // un-retried reading was the one phase without a noise protocol,
    // and it alone put rc=1 into BENCH_r16 on a canary-slow VM).
    val StreamAttempts = 3
    val streamReadings =
      try StreamBench.runAttempts(spark, sfDir, nChunks = 5,
        attempts = StreamAttempts)._1
      catch { case e: Throwable =>
        System.err.println(s"[bench] stream bench failed: ${e.getMessage}")
        Seq.empty[Double]
      }
    // Stream trust gate (VERDICT r16 #1/#2, arithmetic in StreamGate,
    // decision table spec-pinned): reported ev/s is the best of the
    // attempts; the 20k self-floor only fails the run when the canary
    // sat INSIDE the measured quiet band (r16's seven same-HEAD runs:
    // canary 9.5-13.0 s ↔ 22.9-29.0k ev/s, BENCHNOTES "stream canary
    // band") — outside it the reading is untrusted and the run is
    // flagged stream_degraded (re-run, don't archive; the memo-gate
    // rule one phase later). Hard exits remain for a dead stream and
    // for the reference-baseline floor (~2,000 req/s, BASELINE.md).
    val StreamCanaryQuietMaxSec = 13.0
    val StreamFloor = 20000.0
    val StreamBaselineFloor = 2000.0
    val streamVerdict = StreamGate.evaluate(streamReadings, canarySec,
      StreamCanaryQuietMaxSec, StreamFloor, StreamBaselineFloor)
    val streamEps = streamVerdict.reported
    if (streamVerdict.degraded) System.err.println(
      f"[bench] WARNING stream_degraded: best-of-$StreamAttempts " +
        f"$streamEps%.0f ev/s under the $StreamFloor%.0f floor on a " +
        f"canary outside the quiet band ($canarySec%.2f s > " +
        f"$StreamCanaryQuietMaxSec%.1f s) — re-run this bench, do not archive it")
    val streamJson = {
      val att = streamReadings.map(r => "%.0f".format(r)).mkString("[", ",", "]")
      s""""stream_events_per_sec":${"%.0f".format(streamEps)},"stream_protocol":"best-of-$StreamAttempts","stream_attempts":$att,"stream_degraded":${streamVerdict.degraded},"stream_canary_quiet_max_sec":${"%.1f".format(StreamCanaryQuietMaxSec)},"stream_floor":${"%.0f".format(StreamFloor)}"""
    }
    // The driver captures only the TAIL of stdout (observed: last 2000
    // chars) and parses the JSON "metric" line out of it; r8 AND r9
    // both recorded "parsed": null because the full-registry per-query
    // line overflowed that window. So the full per-query record goes to
    // a FILE artifact (machine-readable regardless of tail size), and
    // the LAST stdout line — the parse target — is compact: totals,
    // failure flags, streaming throughput, per-query seconds for the 22
    // TPC-H headline queries, and a pointer to the file.
    // store builds reported as their own rows — build cost and probe
    // cost are different serving quantities (VERDICT r10 §missing 2)
    val buildsJson = builds.map { case (k, v, adopted) =>
      s""""$k":{"sec":${"%.3f".format(v)},"adopted":$adopted}"""
    }.mkString("{", ",", "}")
    val memoJson = memoBuilds.map { case (k, v, ok) =>
      s""""$k":${if (ok) "%.2f".format(v) else "-1"}"""
    }.mkString("{", ",", "}")
    // per-memo expected-vs-actual for the full artifact (attribution
    // record for the memo gate; the compact line carries the totals)
    val memoDetailJson = memoBuilds.map { case (k, v, ok) =>
      s""""$k":{"sec":${if (ok) "%.2f".format(v) else "-1"},"expected":${"%.2f".format(memoPin(k, v))}}"""
    }.mkString("{", ",", "}")
    val memoGateJson =
      s""""memo_sec":${"%.2f".format(memoSec)},"memo_expected_sec":${"%.2f".format(memoExpectedSec)},"memo_degraded":$memoDegraded,"memo_attempts_sec":${memoAttemptsSec.map("%.2f".format(_)).mkString("[", ",", "]")},"memo_pins":"${if (MemoBaselineSec.nonEmpty) "sf0.1" else "unpinned_sf"}""""
    val canaryJson =
      s""""canary_sec":${"%.2f".format(canarySec)},"canary_attempts_sec":${canaryAttempts.map("%.2f".format(_)).mkString("[", ",", "]")},"degraded":$degraded"""
    val sweepsJson = sweeps.map { sw =>
      sw.map { case (k, v, ok) =>
        s""""$k":${if (ok) "%.3f".format(v) else "-1"}"""
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    // Weather normalization (VERDICT r20 #4): the canary is a pinned
    // synthetic plan whose wall time moves ONLY with the machine, so
    // total/canary (and per-query/canary for the byte-stable TPC-H
    // block, full artifact only) is the round-over-round comparator
    // that survives VM weather — r20's 103.3→116.0 s refresh delta on
    // byte-identical query code was pure weather and cost a judge
    // session to re-derive. Ratios use the OPERATIVE canary (last
    // attempt — the measurement of the machine the query loop
    // actually ran on).
    val totalPerCanary = if (canarySec > 0) total / canarySec else -1.0
    val perCanaryJson = results.filter { case (k, _, ok) =>
      ok && k.matches("q\\d+_.*")
    }.map { case (k, v, _) =>
      s""""$k":${"%.3f".format(if (canarySec > 0) v / canarySec else -1.0)}"""
    }.mkString("{", ",", "}")
    val weatherJson =
      s""""total_per_canary":${"%.3f".format(totalPerCanary)}"""
    val fullPath = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(fullPath.getParent)
    java.nio.file.Files.writeString(fullPath,
      s"""{"bench_protocol":"min-of-$Passes",$canaryJson,$memoGateJson,$weatherJson,"queries_per_canary":$perCanaryJson,"bench_all":$qs,"sweeps":$sweepsJson,"memo_builds":$memoDetailJson,"store_builds":$buildsJson,"failed":$failed,$streamJson,"sf":"$sfDir"}""")
    val headline = results.filter { case (k, _, _) =>
      k.matches("q\\d+_.*")
    }.map { case (k, v, ok) =>
      s""""$k":${if (ok) "%.3f".format(v) else "-1"}"""
    }.mkString("{", ",", "}")
    // compact failed list is self-describing: an "..." sentinel marks
    // truncation so 10 names next to a larger n_failed cannot read as
    // an artifact inconsistency
    val failedNames = results.collect { case (k, _, false) => s""""$k"""" }
    val failedCompact = (if (failedNames.size > 10)
      failedNames.take(10) :+ "\"...\"" else failedNames)
      .mkString("[", ",", "]")
    def line(memo: String): String =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","bench_protocol":"min-of-$Passes",$canaryJson,$memoGateJson,$weatherJson,"n_queries":${results.size},"n_failed":${results.count(!_._3)},"store_builds":$buildsJson,"memo_builds":$memo,"queries":$headline,"failed":$failedCompact,$streamJson,"full":"${fullPath.toString}","sf":"$sfDir"}"""
    // The driver's capture window is ~2000 chars of tail; the parse
    // target must be well inside it. If the named memo map ever makes
    // the line too long, collapse it to its total (detail stays in
    // the full-file artifact).
    val metricLine = {
      val l = line(memoJson)
      if (l.length <= 1500) l
      else line(s"""{"total_sec":${"%.2f".format(memoBuilds.map(_._2).sum)}}""")
    }
    spark.stop()
    // Emit the parse target LAST on both streams, after spark.stop()
    // has quiesced every log source (late executor/log-pump stderr
    // pushed it out of the window in rounds 8-10; sbt's own epilogue
    // did in r11 — suppressed via showSuccess/outputStrategy in
    // build.sbt). Whichever stream the driver drains last still ends
    // with a complete JSON line.
    System.out.println(metricLine)
    System.out.flush()
    System.err.println(metricLine)
    System.err.flush()
    // A run with failing queries must not exit 0 — the driver records
    // rc, and rc=0 buried the round-8 regression (4 queries failing
    // while the artifact looked green). The streaming exit policy is
    // StreamGate's (3 dead, 4 trusted floor miss, 0 otherwise —
    // including stream_degraded, which is a re-run signal, not a
    // regression verdict).
    if (results.exists(!_._3)) sys.exit(3)
    if (streamVerdict.exitCode != 0) sys.exit(streamVerdict.exitCode)
  }
}
