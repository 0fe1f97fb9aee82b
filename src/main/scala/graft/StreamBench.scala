package graft

import graft.config.DefaultConfig
import graft.sources.Tables
import graft.streaming.EventPipeline
import org.apache.spark.sql.SparkSession

/** End-to-end streaming throughput: events → incremental per-user
  * aggregates → rules → grant-flip CDC (the reference's full write
  * path, SURVEY.md §3.1), measured in events/s. The reference's only
  * published figure is ≈2,000 req/s (BASELINE.md); this must clear it.
  *
  * Usage: runMain graft.StreamBench [sfDir] [nChunks]
  */
object StreamBench {

  /** The full SPARK_GRAFT_STREAM_* knob-key list — every env knob
    * that alters the measured streaming configuration (state
    * partitions, state-store provider, async progress, codegen
    * modes, stage instrumentation). One constant so [[activeKnobs]]
    * (what the artifact records) and the spec that pins
    * "instrumentation is a knob too" read the same source of truth
    * (ADVICE r16: the stage-metrics listener runs DURING the
    * measured batches, so an instrumented reading is a knobbed one
    * too). */
  val KnobKeys: Seq[String] =
    Seq("SPARK_GRAFT_STREAM_PARTS", "SPARK_GRAFT_STREAM_PROVIDER",
      "SPARK_GRAFT_STREAM_ASYNC", "SPARK_GRAFT_STREAM_WSCG",
      "SPARK_GRAFT_STREAM_CGFACTORY", "SPARK_GRAFT_STREAM_STAGES")

  /** The active subset of [[KnobKeys]] — warned about at run start
    * and recorded verbatim in the bench artifacts (ADVICE r15: a
    * stray knob must never archive a non-comparable ev/s as
    * green). */
  def activeKnobs: Seq[(String, String)] = activeKnobs(sys.env)

  /** Env-injectable twin so StreamBenchKnobsSpec can pin the contract
    * without forking a JVM. */
  private[graft] def activeKnobs(env: Map[String, String]): Seq[(String, String)] =
    KnobKeys.flatMap(k => env.get(k).map(k -> _))

  /** Fail fast on knob values that would otherwise be silently ignored
    * (ADVICE r16: `SPARK_GRAFT_STREAM_PROVIDER=RocksDB` fell through a
    * `case _ => ()` and measured the default HashMap provider while
    * stream_knobs claimed a RocksDB run). Called before any session or
    * feed work so a typo costs seconds, not a misattributed artifact. */
  def validateKnobs(): Unit = validateKnobs(sys.env)

  private[graft] def validateKnobs(env: Map[String, String]): Unit =
    env.get("SPARK_GRAFT_STREAM_PROVIDER").foreach { v =>
      require(v == "rocksdb",
        s"SPARK_GRAFT_STREAM_PROVIDER=$v not recognized (expected 'rocksdb')")
    }

  /** Feed the sf dir's events through the streaming pipeline in
    * `nChunks` micro-batches; returns (events/sec, flips).
    *
    * The feed is a FILE STREAM ([[graft.streaming.FileEventSource]]),
    * not MemoryStream: a MemoryStream batch lives inside the query
    * plan, so every task of every stage shipped the whole chunk as
    * task binary (the "broadcasting large task binary ~1.9 MiB"
    * warnings in earlier rounds' bench tails — ~20k rows per chunk at
    * sf0.1, serialized per stage). Here the chunks are parquet files
    * the executors SCAN — zero driver-held rows in the hot path, and
    * the measured pipeline includes the real ingest read it would do
    * on a cluster. The BOUNDED pipeline is the shape under
    * measurement: per-user state is O(aggregates), uuid dedup state
    * is watermark-evicted — the only state contract that survives an
    * unbounded 100 TB feed. */
  def run(spark: SparkSession, sfDir: String, nChunks: Int): (Double, Long) = {
    val (attempts, flips) = runAttempts(spark, sfDir, nChunks, attempts = 1)
    (attempts.head, flips)
  }

  /** [[run]]'s body, measured `attempts` times over ONE pre-built feed
    * (VERDICT r16 #1: the stream phase gets the query sweep's
    * min-of-N trust protocol — feed chunking and pipeline warmup are
    * shared setup, each attempt is a fresh query incarnation with its
    * own checkpoint/state/sink, so attempt k's state stores never seed
    * attempt k+1's). Returns every attempt's ev/s (order preserved;
    * [[StreamGate]] picks the reported one) and the flip count, which
    * must be identical across attempts (asserted — a flip-count drift
    * between attempts would mean the pipeline is not deterministic
    * over a fixed feed). */
  def runAttempts(spark: SparkSession, sfDir: String, nChunks: Int,
                  attempts: Int): (Seq[Double], Long) = {
    // Stream-specific session tuning (batch conf untouched): the state
    // partition count trades fold parallelism against per-batch
    // state-store commit fan-out (all stores on ONE node here; a real
    // cluster spreads them). Measured at sf0.1/32 cpus on the
    // single-operator pipeline: 8 parts ≈ 12k ev/s (compute-bound),
    // 16 ≈ 23-24k, 32 ≈ 16k (per-partition overhead wins) — 16 is the
    // sweet spot. No-data micro-batches only exist to advance
    // watermark eviction — pure overhead in a throughput measurement.
    validateKnobs()
    val ss = spark.newSession()
    activeKnobs.foreach { case (k, v) => System.err.println(
      s"[graft] WARNING sweep knob $k=$v active: measured streaming " +
        "configuration is NOT the shipped default") }
    ss.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "16"))
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    sys.env.get("SPARK_GRAFT_STREAM_PROVIDER").foreach { _ =>
      // validateKnobs rejected everything but "rocksdb" above
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    }
    sys.env.get("SPARK_GRAFT_STREAM_ASYNC").foreach { v =>
      ss.conf.set("spark.sql.streaming.asyncProgressTrackingEnabled", v)
    }
    sys.env.get("SPARK_GRAFT_STREAM_WSCG").foreach { v =>
      ss.conf.set("spark.sql.codegen.wholeStage", v)
    }
    sys.env.get("SPARK_GRAFT_STREAM_CGFACTORY").foreach { v =>
      ss.conf.set("spark.sql.codegen.factoryMode", v)
    }
    import ss.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Chunk the feed into nChunks time-ordered parquet files (a
    // one-task write per chunk off a checkpointed global sort — the
    // single-partition window is harness-only, the fixture is small).
    // Event-time order across chunks keeps the watermark honest, as a
    // roughly time-ordered real source would; file mtimes are forced
    // strictly increasing because FileStreamSource discovers oldest
    // first.
    val feedDir = java.nio.file.Files.createTempDirectory("stream_bench_feed")
    val ev = Tables.events(ss, sfDir)
    val n = ev.count()
    val chunkSize = math.max(1L, (n + nChunks - 1) / nChunks)
    val ranked = ev
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ts"), col("event_id"))))
      .localCheckpoint(true)
    (0 until nChunks).foreach { i =>
      val tmp = feedDir.resolve(s"tmp_$i")
      ranked.filter(col("rn") > i * chunkSize && col("rn") <= (i + 1) * chunkSize)
        .drop("rn").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        } finally l.close()
      }
      val dst = feedDir.resolve(f"events-$i%03d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    // Pipeline warmup on a SEPARATE query over a 2-file sliver of the
    // same feed, run through the SAME FileEventSource + pipeline plan:
    // compiles the stateful plan, the parquet-scan stage, and the
    // state-store machinery so the measured run starts at steady state.
    // An earlier MemoryStream warmup left the file-scan stage cold and
    // batch 0 of the measured query paid ~1.5-2 s of codegen +
    // first-planning — all fixed cost, none of it the pipeline under
    // measurement. Its own temp dir + query name + state; nothing the
    // measured query reuses but JIT.
    val warmDir = java.nio.file.Files.createTempDirectory("stream_bench_warm")
    (0 until 4).foreach { i =>
      val tmp = warmDir.resolve(s"tmp_$i")
      ranked.filter(col("rn") > i * 2500L && col("rn") <= (i + 1) * 2500L)
        .drop("rn").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        } finally l.close()
      }
      val dst = warmDir.resolve(f"events-$i%03d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    ranked.unpersist()
    locally {
      val wstream = graft.streaming.FileEventSource.events(
        ss, warmDir.toString, maxFilesPerTrigger = 1, glob = "events-*.parquet")
      val wq = EventPipeline.grantChangesBounded(ss, wstream, DefaultConfig.config)
        .writeStream.format("memory")
        .queryName(s"bench_warm_${System.nanoTime()}")
        .outputMode("append").start()
      try wq.processAllAvailable() finally wq.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(warmDir.toFile)
    }
    // Optional stage-level diagnosis (SPARK_GRAFT_STREAM_STAGES=1):
    // per-stage wall + summed task time to stderr — locates the
    // per-batch fixed cost between scan, fold, and scheduling gaps.
    if (sys.env.contains("SPARK_GRAFT_STREAM_STAGES"))
      ss.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = for {
            a <- i.completionTime; b <- i.submissionTime
          } yield a - b
          System.err.println(s"[stage] id=${i.stageId} tasks=${i.numTasks} " +
            s"wall=${wall.getOrElse(-1L)}ms run=${i.taskMetrics.executorRunTime}ms " +
            s"deser=${i.taskMetrics.executorDeserializeTime}ms " +
            s"name=${i.name.takeWhile(_ != '\n').take(60)}")
        }
      })
    val readings = (1 to attempts).map { attempt =>
      val stream = graft.streaming.FileEventSource.events(
        ss, feedDir.toString, maxFilesPerTrigger = 1, glob = "events-*.parquet")
      val name = s"bench_flips_${System.nanoTime()}"
      val t0 = System.nanoTime()
      val q = EventPipeline.grantChangesBounded(ss, stream, DefaultConfig.config)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(
        s"[stream] attempt $attempt/$attempts: ${"%.0f".format(n / sec)} ev/s; " +
          s"progress: ${EventPipeline.queueMetrics(q)}")
      // Per-batch duration breakdown (addBatch = plan execution,
      // everything else is fixed per-batch harness cost) — the floor
      // diagnosis lever; stderr only, never parsed.
      q.recentProgress.foreach { p =>
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(" ")
        System.err.println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} $d")
      }
      val flips = ss.table(name).count()
      // the memory sink's temp view holds every attempt's flips on the
      // driver heap; drop it once counted
      ss.catalog.dropTempView(name)
      (n / sec, flips)
    }
    val flipCounts = readings.map(_._2).distinct
    require(flipCounts.size == 1,
      s"flip count drifted across attempts: ${readings.map(_._2)}")
    org.apache.commons.io.FileUtils.deleteDirectory(feedDir.toFile)
    (readings.map(_._1), flipCounts.head)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nChunks = args.lift(1).map(_.toInt).getOrElse(10)
    val attempts = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val (readings, flips) = runAttempts(spark, sfDir, nChunks, attempts)
    val eps = readings.max
    val knobs = activeKnobs.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val att = readings.map(r => "%.0f".format(r)).mkString("[", ",", "]")
    println(s"""{"metric":"stream_events_per_sec","value":$eps,"unit":"events/sec","micro_batches":$nChunks,"attempts":$att,"flips":$flips,"stream_knobs":$knobs}""")
    spark.stop()
  }
}
