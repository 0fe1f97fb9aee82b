package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.config.DefaultConfig
import graft.operators.{AccessService, EventAggregates, Grants, Windowed}
import graft.sources.GrantStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Workloads {
  val names: Seq[String] = Seq("ingest_drain", "serve_mixed")

  def run(ctx: Ctx): Outcome = ctx.workload match {
    case "ingest_drain" => IngestDrain.run(ctx)
    case "serve_mixed" => ServeMixed.run(ctx)
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  val cfg = DefaultConfig.config

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** Generated events as an engine `events` frame. */
  def eventsFrame(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    val rows = evs.map(e => org.apache.spark.sql.Row(e.eventId,
      new java.sql.Timestamp(e.tsMs), e.userId, e.eventType, e.value, e.props))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), eventSchema)
  }

  /** The batch compiler's grants over the given (valid) events: the
    * reference the streamed store must equal. */
  def expectedGrants(valid: DataFrame): DataFrame =
    Grants.long(EventAggregates.perUser(valid, cfg.aggregates), cfg)

  /** The valid events of written feed files, read back as a batch
    * frame; validity is the generator's, not the engine's. */
  def validEvents(spark: SparkSession, dir: Path, files: Seq[(String, FileInfo)]): DataFrame = {
    import spark.implicits._
    val invalid = files.flatMap(_._2.invalidIds).toDF("event_id")
    spark.read.parquet(files.map(f => dir.resolve(f._1).toString): _*)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .join(broadcast(invalid), Seq("event_id"), "left_anti")
  }

  def emptyGrants(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType), StructField("feature", StringType),
        StructField("has_grant", BooleanType))))

  /** (user, feature) rows on which the store disagrees with `expected`;
    * an absent store row means the default grant (true). */
  def storeMismatches(spark: SparkSession, table: String, expected: DataFrame): Long = {
    val store = GrantStore.read(spark, table).select(col("user_id"), col("feature"),
      col("has_grant").as("got"))
    expected.select(col("user_id"), col("feature"), col("has_grant").as("want"))
      .join(store, Seq("user_id", "feature"), "full_outer")
      .filter(col("want").isNull || coalesce(col("got"), lit(true)) =!= col("want"))
      .count()
  }

  /** Files of the active generation of a grant store table. */
  def storeFiles(spark: SparkSession, table: String): Seq[Path] = {
    val ddl = spark.sql(s"SHOW CREATE TABLE `$table`").head().getString(0)
    val gen = Seq(table + "__a", table + "__b").find(g => ddl.contains(g)).get
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(gen)).location
    val l = Files.list(java.nio.file.Paths.get(loc))
    try l.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally l.close()
  }

  /** Per-layer readings shared by both streaming workloads. */
  def streamLayers(ctx: Ctx, s: GrantStream, batchIds: Set[Long], fromMs: Long,
                   toMs: Long, eventsIn: Long): Map[String, Double] = {
    val ps = s.progress.filter(p => batchIds(p.batchId))
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val tr = batchIds.toSeq.flatMap(id => Option(s.traces.get(id)))
    val rawFlips = tr.map(_.rawFlips).sum
    val files = storeFiles(ctx.spark, s.tableName)
    val perBucket = files.groupBy(f => graftBucket(f.getFileName.toString)).values.map(_.size)
    val rows = GrantStore.read(ctx.spark, s.tableName).count()
    val lastState = ps.sortBy(_.batchId).lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Map(
      "source.trigger_ms" -> med(ps.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))),
      "engine.batches" -> ps.size.toDouble,
      "engine.events_per_batch" -> (if (ps.isEmpty) 0.0 else eventsIn.toDouble / ps.size),
      "engine.wal_ms" -> med(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "engine.planning_ms" -> med(ps.map(p => dur(p, "queryPlanning"))),
      "pipeline.fold_ms" -> med(tr.map(_.foldMs)),
      "pipeline.fold_us_per_event" ->
        (if (eventsIn == 0) 0.0 else tr.map(_.foldMs).sum * 1000.0 / eventsIn),
      "pipeline.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "pipeline.state_mb" -> lastState.map(_.memoryUsedBytes).sum / 1048576.0,
      "pipeline.state_commit_ms" -> med(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "pipeline.flips_per_kevent" -> (if (eventsIn == 0) 0.0 else rawFlips * 1000.0 / eventsIn),
      "pipeline.task_skew" -> ctx.counters.taskSkew(ctx.counters.stagesOf("fold-")),
      "grantstore.upsert_ms" -> med(tr.map(_.upsertMs)),
      "grantstore.net_flip_frac" ->
        (if (rawFlips == 0) 0.0 else tr.map(_.netRows).sum.toDouble / rawFlips),
      "grantstore.publish_frac" ->
        (if (tr.isEmpty) 0.0 else tr.count(_.netRows > 0).toDouble / tr.size),
      "grantstore.buckets_touched" ->
        (if (tr.isEmpty) 0.0 else tr.map(_.buckets.toDouble).sum / tr.size),
      "grantstore.files" -> files.size.toDouble,
      "grantstore.files_per_bucket_max" -> (if (perBucket.isEmpty) 0.0 else perBucket.max.toDouble),
      "grantstore.bytes_per_row" ->
        (if (rows == 0) 0.0 else files.map(f => Files.size(f)).sum.toDouble / rows)
    ) ++ sparkLayers(ctx, fromMs, toMs)
  }

  private val bucketFile = """_(\d{5})(\.c\d+)?\.""".r
  private def graftBucket(name: String): String =
    bucketFile.findFirstMatchIn(name).map(_.group(1)).getOrElse(name)

  /** Scheduler totals over the whole traced run, idle share over the
    * timed window. */
  def sparkLayers(ctx: Ctx, fromMs: Long, toMs: Long): Map[String, Double] = {
    val g = ctx.counters.groups.values
    Map(
      "spark.jobs" -> g.map(_.jobs.get).sum.toDouble,
      "spark.tasks" -> g.map(_.tasks.get).sum.toDouble,
      "spark.task_run_s" -> g.map(_.runMs.get).sum / 1000.0,
      "spark.task_deser_s" -> g.map(_.deserMs.get).sum / 1000.0,
      "spark.gc_s" -> g.map(_.gcMs.get).sum / 1000.0,
      "spark.shuffle_mb" -> g.map(_.shuffleBytes.get).sum / 1048576.0,
      "spark.idle_frac" -> ctx.counters.idleFrac(fromMs, toMs))
  }

  /** Self time per span layer, in ms. */
  def selfTimes(ctx: Ctx): Map[String, Double] =
    ctx.tracer.layerTimes.collect { case (l, (_, self)) if Main.SpanLayers.contains(l) =>
      s"self.${l}_ms" -> self }

  /** The tail reading the run reports beside a median. */
  def tailOf(xs: Seq[Double]): (Double, Double) =
    Stats.tail(xs).getOrElse(1.0 -> (if (xs.isEmpty) 0.0 else xs.max))

  /** Circuits as the batch compiler derives them from `events`. */
  def circuitWindows(spark: SparkSession, events: DataFrame): DataFrame = {
    val wide = Grants.wide(EventAggregates.perUser(events, cfg.aggregates), cfg)
    Windowed.featureCircuit(AccessService.attempts(events, wide, cfg))
  }

  /** SHA-256 of the bytes of the files, in name order. */
  def filesDigest(files: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sortBy(_.getFileName.toString).foreach(f => md.update(Files.readAllBytes(f)))
    md.digest().map("%02x".format(_)).mkString
  }
}
