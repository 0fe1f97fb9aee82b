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
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "16")
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
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
    val ev = Tables.events(ss, sfDir)
    val n = ev.count()
    val chunkSize = math.max(1L, (n + nChunks - 1) / nChunks)
    val ranked = ev
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ts"), col("event_id"))))
      .localCheckpoint(true)
    // `chunks` consecutive runs of `size` ranked rows into a fresh temp
    // directory, one `events-<i>.parquet` file each
    def writeChunks(name: String, chunks: Int, size: Long): java.nio.file.Path = {
      val dir = java.nio.file.Files.createTempDirectory(name)
      (0 until chunks).foreach { i =>
        val tmp = dir.resolve(s"tmp_$i")
        ranked.filter(col("rn") > i * size && col("rn") <= (i + 1) * size)
          .drop("rn").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = {
          val l = java.nio.file.Files.list(tmp)
          try {
            import scala.jdk.CollectionConverters._
            l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
          } finally l.close()
        }
        val dst = dir.resolve(f"events-$i%03d.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      dir
    }
    val feedDir = writeChunks("stream_bench_feed", nChunks, chunkSize)
    // Pipeline warmup on a SEPARATE query over a 2-file sliver of the
    // same feed, run through the SAME FileEventSource + pipeline plan:
    // compiles the stateful plan, the parquet-scan stage, and the
    // state-store machinery so the measured run starts at steady state.
    // An earlier MemoryStream warmup left the file-scan stage cold and
    // batch 0 of the measured query paid ~1.5-2 s of codegen +
    // first-planning — all fixed cost, none of it the pipeline under
    // measurement. Its own temp dir + query name + state; nothing the
    // measured query reuses but JIT.
    val warmDir = writeChunks("stream_bench_warm", 4, 2500L)
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
    val att = readings.map(r => "%.0f".format(r)).mkString("[", ",", "]")
    println(s"""{"metric":"stream_events_per_sec","value":$eps,"unit":"events/sec","micro_batches":$nChunks,"attempts":$att,"flips":$flips}""")
    spark.stop()
  }
}
