package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import graft.config.DefaultConfig
import graft.sources.{EventIngest, GrantStore}
import graft.streaming.EventPipeline.{EventRow, GrantChange}
import graft.streaming.{EventPipeline, FileEventSource}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Per-batch layer readings of the traced run. */
final case class BatchTrace(foldMs: Double, upsertMs: Double, rawFlips: Long,
                            netRows: Long, buckets: Int)

/** The write path as the benchmark drives it: feed files →
  * `FileEventSource` → `EventIngest` validation (with its `observe`
  * counters) → `EventPipeline.grantChangesBounded` → `GrantStore.upsert`
  * in a `foreachBatch` wrapper that stamps each publish's return time.
  *
  * Untraced, the wrapper calls the upsert directly. Traced, it first
  * materializes the batch (the fold, timed on its own) and then calls
  * the upsert on the materialized changes, so the two costs separate. */
final class GrantStream(spark: SparkSession, feedDir: java.nio.file.Path,
                        ckptDir: java.nio.file.Path, val tableName: String,
                        tracer: Tracer, maxFilesPerTrigger: Int) {
  val buckets = 32
  /** batchId → wall ms at which its publish returned. */
  val published = new ConcurrentHashMap[Long, Long]()
  val traces = new ConcurrentHashMap[Long, BatchTrace]()
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var recent: Seq[StreamingQueryProgress] = Nil
  /** Once set, later batches are left unapplied (a timed drain ends). */
  val closed = new AtomicBoolean(false)
  private var deadlineMs = Long.MaxValue
  private var listener: StreamingQueryListener = _

  def start(trigger: Trigger, stopAtMs: Long = Long.MaxValue): StreamingQuery = {
    import spark.implicits._
    deadlineMs = stopAtMs
    val name = "grants_" + ckptDir.getFileName.toString
    listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) events.add(e.progress)
    }
    spark.streams.addListener(listener)
    val raw = FileEventSource.events(spark, feedDir.toString,
      maxFilesPerTrigger = maxFilesPerTrigger, glob = "events-*.parquet")
    val classified = EventIngest.observed(EventIngest.classify(raw.toDF()))
    val valid = classified.filter(col("ingest_status") === "valid")
      .select("event_id", "ts", "user_id", "event_type", "value", "props").as[EventRow]
    EventPipeline.grantChangesBounded(spark, valid, DefaultConfig.config)
      .writeStream.queryName(name)
      .option("checkpointLocation", ckptDir.toString)
      .trigger(trigger)
      .foreachBatch((b: Dataset[GrantChange], id: Long) => apply(b, id))
      .start()
  }

  private def apply(b: Dataset[GrantChange], id: Long): Unit = {
    if (closed.get) return
    val ss = b.sparkSession
    if (!tracer.enabled)
      GrantStore.upsert(ss, b.toDF(), tableName, buckets, Some(id))
    else tracer.span("batch", "engine", s"batch-$id") {
      val sc = ss.sparkContext
      val t0 = System.nanoTime()
      sc.setJobGroup(s"fold-$id", "fold")
      val raw = tracer.span("fold", "pipeline", s"batch-$id") { b.persist(); b.count() }
      val t1 = System.nanoTime()
      sc.setJobGroup(s"measure-$id", "measure")
      val net = GrantStore.collapse(b.toDF())
        .select(col("user_id"), pmod(hash(col("user_id")), lit(buckets)).as("bucket")).cache()
      val (netRows, touched) = (net.count(), net.select("bucket").distinct().count().toInt)
      net.unpersist()
      val t2 = System.nanoTime()
      sc.setJobGroup(s"publish-$id", "publish")
      tracer.span("upsert", "grantstore", s"batch-$id") {
        GrantStore.upsert(ss, b.toDF(), tableName, buckets, Some(id))
      }
      val t3 = System.nanoTime()
      sc.clearJobGroup()
      b.unpersist()
      traces.put(id, BatchTrace((t1 - t0) / 1e6, (t3 - t2) / 1e6, raw, netRows, touched))
    }
    published.put(id, System.currentTimeMillis())
    if (System.currentTimeMillis() >= deadlineMs) closed.set(true)
  }

  def stop(q: StreamingQuery): Unit =
    try q.stop()
    finally {
      recent = q.recentProgress.toSeq
      if (listener != null) spark.streams.removeListener(listener)
    }

  /** Progress of every executed micro-batch, one per batch id: the
    * listener's events (asynchronous, so the last may be missing when
    * the query stops) joined with the query's own recent progress. */
  def progress: Seq[StreamingQueryProgress] =
    (events.asScala.toSeq ++ recent).filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)

  /** Feed file name → micro-batch id, from the file source's log in the
    * checkpoint (one JSON entry per file, compacted every few batches). */
  def filesByBatch(): Map[String, Long] = {
    val dir = ckptDir.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    if (!java.nio.file.Files.isDirectory(dir)) Map.empty
    else {
      val l = java.nio.file.Files.list(dir)
      val files = try l.iterator().asScala.toList finally l.close()
      files.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => java.nio.file.Files.readAllLines(f).asScala)
        .flatMap(line => entry.findFirstMatchIn(line))
        .map(m => new java.io.File(new java.net.URI(m.group(1))).getName -> m.group(2).toLong)
        .toMap
    }
  }

  /** Rows seen by the ingest counters over all batches, by counter. */
  def ingestCounters(): Map[String, Long] =
    progress.flatMap(p => Option(p.observedMetrics.get("ingest_metrics")))
      .flatMap(r => Seq("n_total", "n_valid", "n_unknown_type", "n_invalid_props")
        .map(k => k -> r.getAs[Long](k)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
}
