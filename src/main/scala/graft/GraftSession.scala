package graft

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.spark.sql.SparkSession

/** User-facing session factory with the engine's recommended
  * configuration: AQE (runtime re-plan, partition coalescing, skew-join
  * splitting), native function registration (GraftExtensions), UTC
  * session time, and shuffle parallelism sized to the cluster rather
  * than Spark's legacy default of 200.
  *
  * On a real cluster, `shufflePartitions` should be ≈ 2-3× total
  * executor cores and `spark.sql.files.maxPartitionBytes` left at 128m
  * so scan tasks stay balanced; both are plain configs callers can
  * override after `builder(...)`.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Runtime bloom-filter join pruning stays ON, but its no-stats
      // fallback is capped: when the creation side is a LogicalRDD
      // (post-checkpoint frames — the PQ codebook/LUT pipelines),
      // Spark can't estimate rows and sizes the bloom from the
      // 1M-item default → an 8M-bit (1 MiB) filter serialized into
      // EVERY dependent stage's task binary (the "broadcasting large
      // task binary" warnings; diagnosed by object-graph histogram of
      // the fat stage — the payload was bloom_filter_agg(..., 1000000,
      // 8388608)). 512 KiB bounds the per-join runtime-filter budget:
      // ~400k items at the default fpp, graceful fpp degradation
      // beyond, and a stats-blind mis-estimate can no longer ship a
      // megabyte to every task.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "4194304")
      // The generated-class cache defaults to 100 entries — sized for
      // a handful of hot queries, not a 180-query registry. One sweep
      // of the registry compiles well over 100 codegen units, so every
      // repeated query misses and pays full Janino compilation again
      // (measured: pagerank_suppliers 0.87 s warm back-to-back vs
      // ~4.5 s when 179 other queries run in between). Static conf —
      // must be set before the first codegen, i.e. here.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // `file:` through both Hadoop filesystem APIs without a chmod or
      // readlink subprocess per checkpoint, state or bucket file
      // (graft.sources.ForkFreeRawLocalFileSystem).
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  /** Local development/test shape. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
