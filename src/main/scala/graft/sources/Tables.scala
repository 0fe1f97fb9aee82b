package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets parquet
  * footer stats, predicate pushdown and column pruning for free. At
  * cluster scale these would be external-catalog tables (possibly
  * bucketed by the join keys); the loader is the single seam where that
  * swap happens.
  */
object Tables extends org.apache.spark.internal.Logging {
  private def p(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Split-starved scan fix: Spark parallelizes a parquet scan by file
    * and row group, so a table written as ONE single-row-group file
    * (the driver fixtures are exactly that) decodes — and runs every
    * map-side operator above it: JSON parsing, regex normalization,
    * shingling, hashing, partial aggregation — in ONE task, however
    * many cores the session has. Rebalancing the scan output restores
    * the parallelism the file layout withheld, at the cost of one
    * round-robin exchange of the pruned columns (filters and column
    * pruning still reach the scan: Catalyst pushes both through
    * Repartition).
    *
    * The guard estimates how many SPLITS the scan will actually get —
    * Spark splits parquet by maxPartitionBytes ranges within files,
    * not by whole files, so a few multi-gigabyte files already yield
    * hundreds of tasks and raw file count would wrongly trigger a full
    * exchange of a huge table. Fires only when the estimated split
    * count (total bytes / maxPartitionBytes, and at least one per
    * file) falls below the session's cores — i.e. only on genuinely
    * small/split-starved sources; a 100 TB scan keeps its native
    * file/row-group parallelism. */
  private def fanout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= cores) return df // enough whole-file splits; no fs calls
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val hconf = spark.sparkContext.hadoopConfiguration
    val totalBytes = files.map { f =>
      // a file can vanish between inputFiles and the stat (concurrent
      // rewrite/compaction); the estimate only gates a heuristic
      // repartition, so treat an unreadable file as 0 bytes rather
      // than failing the whole query — but log it, so a WHOLESALE stat
      // failure (permissions/auth broken for the dataset) that silently
      // disables the rebalance is visible in the driver log
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      } catch {
        case e: java.io.IOException =>
          logWarning(s"fanout size estimate: cannot stat $f, counting 0 bytes", e)
          0L
      }
    }.sum
    val estSplits = math.max(files.length.toLong,
      (totalBytes + maxSplit - 1) / maxSplit)
    if (estSplits >= cores) df else df.repartition(cores)
  }

  /** Normalize `events.ts` to a microsecond TimestampType whatever
    * physical type the fixture generation produced:
    *   - parquet TIMESTAMP(NANOS) → read as long (nanosAsLong) and
    *     floor-convert with integer `div`, not double division
    *     (epoch-nanos exceed double's 53-bit mantissa);
    *   - parquet timestamp[us] WITHOUT isAdjustedToUTC → Spark 4 infers
    *     TIMESTAMP_NTZ, which `unix_micros`/`session_window.start`
    *     reject — cast to TimestampType. All engine sessions pin
    *     `spark.sql.session.timeZone=UTC`, so the cast maps the naive
    *     wall-clock to the same instant DuckDB's `epoch_us` reads.
    * Downstream operators therefore always see one ts type; window
    * bucketing and ordering agree with the oracle in every case. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(p(dir, "events")))
  }

  private[graft] def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  // Only `documents` gets the fanout rebalance unconditionally: its
  // consumers run heavy per-row CPU (regex normalization, shingling,
  // per-gram md5) where the exchange pays for itself ~3x over. Measured
  // on the relational/event/embedding tables the same rebalance LOSES —
  // their queries are decode+join/agg-bound, the serial parquet decode
  // still bounds the stage, and the extra exchange is pure added cost
  // (embedding self-joins also lose scan reuse under it). The
  // exception: batch event queries whose cost is per-row JSON parsing
  // opt in via [[eventsRebalanced]] — at 10x fixture scale the
  // single-row-group events file otherwise runs every from_json on one
  // core (measured in the sf1 sweep, BENCHNOTES.md).
  def lineitem(spark: SparkSession, dir: String): DataFrame   = spark.read.parquet(p(dir, "lineitem"))
  def orders(spark: SparkSession, dir: String): DataFrame     = spark.read.parquet(p(dir, "orders"))
  def customer(spark: SparkSession, dir: String): DataFrame   = spark.read.parquet(p(dir, "customer"))
  def supplier(spark: SparkSession, dir: String): DataFrame   = spark.read.parquet(p(dir, "supplier"))
  def part(spark: SparkSession, dir: String): DataFrame       = spark.read.parquet(p(dir, "part"))
  def nation(spark: SparkSession, dir: String): DataFrame     = spark.read.parquet(p(dir, "nation"))
  def region(spark: SparkSession, dir: String): DataFrame     = spark.read.parquet(p(dir, "region"))
  def documents(spark: SparkSession, dir: String): DataFrame  = fanout(spark.read.parquet(p(dir, "documents")))
  /** Batch-only events read for JSON-parse-heavy consumers: rebalances
    * a split-starved scan so from_json runs on every core. Not safe for
    * streaming frames (`inputFiles` requires a batch relation). */
  def eventsRebalanced(spark: SparkSession, dir: String): DataFrame = fanout(events(spark, dir))
  def embeddings(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(p(dir, "embeddings"))
}
