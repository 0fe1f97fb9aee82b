package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.StructType

/** Bucketed-table write/read path: pre-shuffling fact tables into
  * bucket files by their join key so repeated joins and aggregations
  * on that key run WITHOUT an exchange (the classic warehouse layout
  * for a 100 TB fact table joined every day on the same key).
  *
  * `bucketBy` requires a catalog table (`saveAsTable`) — bucket
  * metadata lives in the catalog, not the parquet footer. With the
  * in-memory/derby catalog this lands under spark.sql.warehouse.dir;
  * on a cluster the same call against a shared metastore produces
  * co-located scans for every reader.
  */
object Bucketed {

  /** Write `df` bucketed (and sorted) by `key` into catalog table
    * `table`, replacing its contents, with one Spark job: a
    * repartition's map stage and a write stage.
    *
    * Budget: `materialize` always writes here. An O(delta) publish
    * writes here only past the driver's budget
    * (`BucketedUpsert.DriverMergeRows` delta rows or
    * `BucketedUpsert.DriverMergeBytes` of touched files) or when its
    * target generation is missing or laid out otherwise; under the
    * budget the driver rewrites the touched buckets with [[fileReader]]
    * and [[fileWriter]] and no write job runs.
    *
    * Files: `bucketBy` assigns rows to bucket FILES by value, but each
    * WRITE TASK emits its own file per bucket it holds, so an
    * unpartitioned write leaves up to tasks × buckets fragments and
    * every bucket-pruned probe then opens all of a bucket's fragments
    * (guide §6: small files hurt twice). The write therefore
    * repartitions by the bucket id itself, `pmod(hash(key), buckets)`
    * — the writer's own placement — so each bucket lands in exactly
    * one task and a generation holds exactly one file per non-empty
    * bucket.
    *
    * Tasks: `min(reachable, defaultParallelism)`, where `reachable`
    * is how many buckets `df` can hit (all of them unless the caller
    * knows better, as an O(delta) merge does). More tasks than cores
    * cannot run at once, and each one pays a fixed deserialization
    * cost (~35 ms on a 4-vCPU VM): a 32-task write of the ~15 buckets
    * a micro-batch touches spent over a second summed on it.
    *
    * Catalog: an existing table whose layout — columns in order and
    * bucket spec — already matches is overwritten IN PLACE (an
    * `INSERT OVERWRITE`, selected by column name in the table's
    * column order because the insert is positional). A new table is
    * created only when `table` is missing or its layout differs,
    * which saves the drop and re-create of a per-batch publish. */
  def write(df: DataFrame, table: String, key: String, buckets: Int,
            reachable: Int = Int.MaxValue): Unit = {
    val spark = df.sparkSession
    val tasks = Seq(buckets, reachable, spark.sparkContext.defaultParallelism).min.max(1)
    val parts = df.repartition(tasks, pmod(hash(df(key)), lit(buckets)))
    val current = Option.when(spark.catalog.tableExists(table))(
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)))
    current.filter(sameLayout(_, df.schema, key, buckets)) match {
      case Some(meta) =>
        parts.select(meta.schema.fieldNames.toSeq.map(c => col(s"`$c`")): _*)
          .write.mode(SaveMode.Overwrite).insertInto(table)
      case None =>
        parts.write
          .mode(SaveMode.Overwrite)
          .bucketBy(buckets, key)
          .sortBy(key)
          .format("parquet")
          .saveAsTable(table)
    }
  }

  /** `meta` is what `write`'s create path would make of a frame of
    * `schema`: same column names and types in the same order
    * (nullability aside — the catalog may widen it), bucketed and
    * sorted by `key` into `buckets`. */
  private[sources] def sameLayout(meta: CatalogTable, schema: StructType, key: String,
                                  buckets: Int): Boolean =
    meta.schema.catalogString == schema.catalogString &&
      meta.bucketSpec.exists(bs => bs.numBuckets == buckets &&
        bs.bucketColumnNames == Seq(key) && bs.sortColumnNames == Seq(key))

  /** Spark's own Parquet decoder for whole bucket files, run on the
    * driver: no job, no task. `schema` is the table's. Building it
    * broadcasts the session's Hadoop conf, so it is built once per
    * session and schema ([[SessionCache]]) and reused by every publish;
    * Parquet options set on the session later do not reach it. Calls
    * may run on several threads at once. Each call decodes one file
    * and copies its rows out of the Parquet reader's reused buffers. */
  private[sources] def fileReader(spark: SparkSession, schema: StructType)
      : (Path, Long) => Array[InternalRow] = readers(spark, schema) {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    // a projection is not thread-safe: one per thread
    val copy = ThreadLocal.withInitial(() => UnsafeProjection.create(schema))
    (path, size) => {
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0, size,
        Array.empty, 0, size))
      try rows.map(copy.get()(_).copy()).toArray
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }

  private val readers = new SessionCache[StructType, (Path, Long) => Array[InternalRow]]

  /** Values built once per session and key, for the driver-side
    * publish. Sessions are held weakly, so a stopped session's entries
    * go with it — which holds only while no value references its
    * session. */
  private[sources] final class SessionCache[K, V] {
    private val bySession = new java.util.WeakHashMap[SparkSession, TrieMap[K, V]]()
    def apply(spark: SparkSession, key: K)(build: => V): V =
      bySession.synchronized(bySession.computeIfAbsent(spark, _ => TrieMap.empty[K, V]))
        .getOrElseUpdate(key, build)
  }

  /** Spark's own Parquet writer (`prepareWrite` → `OutputWriterFactory`)
    * for bucket files in `dir`, run on the driver: each call writes one
    * bucket's rows, already sorted by the bucket key, into one file, and
    * calls may run on several threads at once. The files are named as a
    * bucketed write task names them,
    * `part-00000-<uuid>_<bucket %05d>.c000<ext>`, so that
    * `BucketedUpsert.bucketIdOf` and Spark's bucketed scan read them as
    * they read a write job's files, and they go through `dir`'s Hadoop
    * `FileSystem`, which for `file:` writes the `.crc` sidecars too. An
    * empty bucket gets no file, as in a write job. */
  private[sources] def fileWriter(spark: SparkSession, dir: Path, schema: StructType,
                                  options: Map[String, String])
      : (Int, Seq[InternalRow]) => Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, dir)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}%s.c000${factory.getFileExtension(context)}"
    (bucket, rows) =>
      if (rows.nonEmpty) {
        val out = factory.newInstance(
          new Path(dir, name.format(BucketingUtils.bucketIdToString(bucket))).toString,
          schema, context)
        try rows.foreach(out.write) finally out.close()
      }
  }
}
