package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Materialized grants table — the storage layer of the serve path
  * (BASELINE north star: "Spark SQL feature transformations +
  * Parquet storage"; reference keeps grants in in-process dicts,
  * user_feature.py:22, which a restart loses).
  *
  * The long-form grants view `[user_id, feature, has_grant]` persists
  * as a catalog parquet table BUCKETED BY user_id, so every serve-path
  * join keyed on user_id scans co-located buckets with no exchange,
  * and is kept current by last-writer-wins upserts from the grant-flip
  * CDC (batch or foreachBatch streaming). Storage mechanics — the
  * generation/view atomic publish and the O(delta) bucket-pruned
  * merge — live in [[BucketedUpsert]] (shared with every persisted
  * store).
  */
object GrantStore {

  val DefaultTable = "graft_grants"

  /** Drop the view and both generations (test/cleanup utility). */
  def drop(spark: SparkSession, table: String): Unit =
    BucketedUpsert.drop(spark, table)

  /** Full materialization of a grants view, bucketed by user_id. */
  def materialize(grants: DataFrame, table: String = DefaultTable,
                  buckets: Int = 32): Unit =
    BucketedUpsert.materialize(grants, table, "user_id", buckets)

  def read(spark: SparkSession, table: String = DefaultTable): DataFrame =
    BucketedUpsert.read(spark, table)

  /** Collapse a CDC micro-batch to its NET effect per (user, feature).
    * Flip values for one key strictly alternate, so: equal true/false
    * counts ⇒ the key ended where it started (no-op, dropped); else the
    * majority value is the last flip's value. This resolves multiple
    * same-key flips without needing an ordering column. */
  def collapse(changes: DataFrame): DataFrame =
    changes.groupBy(col("user_id"), col("feature"))
      .agg(count(when(col("has_grant"), lit(1))).as("nt"),
        count(when(!col("has_grant"), lit(1))).as("nf"))
      .filter(col("nt") =!= col("nf"))
      .select(col("user_id"), col("feature"),
        (col("nt") > col("nf")).as("has_grant"))

  /** [[collapse]] over a batch already on the driver: `changes` are
    * rows of `schema`, which has the `user_id`, `feature` and
    * `has_grant` columns; the result's rows are `[user_id, feature,
    * has_grant]` ([[collapsedSchema]]). Same parity rule: per (user,
    * feature), as many true as false flips drops the key, otherwise the
    * majority wins; a null flip counts as neither. */
  private[graft] def collapseLocal(changes: Seq[InternalRow], schema: StructType): Seq[InternalRow] = {
    val Seq(u, f, g) = Seq("user_id", "feature", "has_grant").map(schema.fieldIndex)
    // (user, feature) as bytes: what groupBy compares for these types
    val key = UnsafeProjection.create(Seq(u, f).map(i =>
      BoundReference(i, schema(i).dataType, nullable = true)))
    val net = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, Int]
    changes.foreach { r =>
      if (!r.isNullAt(g)) {
        val k = key(r).copy()
        net(k) = net.getOrElse(k, 0) + (if (r.getBoolean(g)) 1 else -1)
      }
    }
    net.iterator.collect { case (k, n) if n != 0 =>
      new GenericInternalRow(Array[Any](k.get(0, schema(u).dataType),
        k.get(1, schema(f).dataType), n > 0)): InternalRow
    }.toSeq
  }

  /** The layout of [[collapse]]'s and [[collapseLocal]]'s rows. */
  private[graft] def collapsedSchema(changes: StructType): StructType =
    StructType(Seq(changes("user_id"), changes("feature"),
      StructField("has_grant", BooleanType, nullable = false)))

  /** Last-writer-wins upsert of a CDC batch, O(delta): the collapsed
    * net flips merge through BucketedUpsert's bucket-pruned
    * generation-compose — only buckets containing delta keys are read
    * and rewritten, untouched bucket files carry forward by link.
    *
    * One Spark job: the batch's raw flips are cached as an RDD and
    * collected, while there are at most `DriverMergeRows` (1,024) of
    * them, by the job that computes them (`BucketedUpsert.deltaBuckets`)
    * — for a stream, the fold, whose last stage is then the result
    * stage. The driver collapses them
    * ([[collapseLocal]]) and publishes the net flips with no further
    * job when it merges the touched buckets itself
    * (`BucketedUpsert.upsertRows`); the write job runs instead past its
    * byte budget and on the first publish after `materialize`. Past the
    * row budget, [[collapse]] runs as a DataFrame over the cached flips,
    * then the bucket-set job and the publish (`BucketedUpsert.upsert`).
    * The collect runs ahead of the replay guard, so a redelivered batch
    * still folds once. */
  def upsert(spark: SparkSession, changes: DataFrame,
             table: String = DefaultTable, buckets: Int = 32,
             batchId: Option[Long] = None): Unit = {
    val keys = Seq("user_id", "feature")
    val flips = changes.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    try BucketedUpsert.deltaBuckets(flips, changes.schema, "user_id", buckets,
        BucketedUpsert.DriverMergeRows)._2 match {
      case Some(rows) =>
        BucketedUpsert.upsertRows(spark, table, collapsedSchema(changes.schema),
          collapseLocal(rows.map(_._2), changes.schema), keys, "user_id", buckets, batchId)
      case None =>
        BucketedUpsert.upsert(spark, table,
          collapse(ColumnBridge.ofInternalRows(spark, flips, changes.schema)),
          keys, "user_id", buckets, batchId = batchId)
    } finally flips.unpersist(blocking = false)
  }
}
