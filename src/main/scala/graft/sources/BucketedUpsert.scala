package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Generic O(delta) upsert into a bucketed generation table — the
  * storage primitive under GrantStore (last-writer-wins grants) and
  * AggStore (additive aggregate snapshots).
  *
  * Layout: the served name is a catalog VIEW over the current
  * generation table (`t__a` / `t__b`), bucketed+sorted by `bucketKey`.
  * A merge writes ONLY the buckets containing delta keys into the
  * inactive generation — their parquet files are addressed directly by
  * the bucket id embedded in the file name, so the untouched
  * 1 − |touched|/n of the table is neither scanned nor rewritten —
  * then carries every untouched bucket file forward by hard link
  * (fallback copy) and republishes the view in one atomic catalog op.
  * The inactive generation is overwritten in place (its catalog entry
  * is reused while its layout holds), by `min(|touched|,
  * defaultParallelism)` write tasks that each own whole buckets, so
  * every generation keeps exactly one file per non-empty bucket.
  * A 10-row delta against a 100 TB table touches ~10 buckets of IO.
  * On a real deployment the same shape feeds a Delta/Iceberg
  * `MERGE INTO`, where carry-forward is a manifest reference. Single
  * writer by construction (one streaming query owns a table).
  */
object BucketedUpsert extends org.apache.spark.internal.Logging {

  private[graft] def generations(table: String): (String, String) =
    (table + "__a", table + "__b")

  /** The generation NOT currently served — the safe write target.
    * Read from the view's catalog entry (its stored SELECT), which is a
    * metadata lookup; `SHOW CREATE TABLE` ran a command per publish. */
  private[graft] def inactiveGen(spark: SparkSession, table: String): String = {
    val (a, b) = generations(table)
    val served = if (!spark.catalog.tableExists(table)) None
      else spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).viewText
    if (served.exists(_.contains(s"`$a`"))) b else a
  }

  private[graft] def publish(spark: SparkSession, table: String, gen: String): Unit = {
    spark.sql(s"CREATE OR REPLACE VIEW `$table` AS SELECT * FROM `$gen`")
    writeMarker(spark, table, gen)
  }

  /** Durable publish marker `<warehouse>/<table>.graft_store`: which
    * generation is served, plus everything a FRESH catalog needs to
    * re-register the generations over their existing bytes (schema,
    * bucket spec, replay-guard properties). The catalog is
    * per-process; the warehouse directory is not — without this
    * marker a restarted serving process cannot tell `t__a` from
    * `t__b` and must rebuild from the corpus ([[adopt]] is the read
    * side). Written on EVERY publish (tiny, atomic), so the marker
    * always describes the last served state; a crash between
    * CREATE VIEW and the marker move leaves the previous marker,
    * i.e. adoption resurrects the pre-merge publish — exactly the
    * at-least-once replay the (queryId, batchId) guard absorbs. */
  private[graft] def markerPath(spark: SparkSession, table: String): java.nio.file.Path = {
    val tp = java.nio.file.Paths.get(spark.sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(table)))
    tp.resolveSibling(tp.getFileName.toString + ".graft_store")
  }

  private def writeMarker(spark: SparkSession, table: String, active: String): Unit = {
    val p = new java.util.Properties()
    p.setProperty("version", "1")
    p.setProperty("active", active)
    val (a, b) = generations(table)
    val present = Seq(a, b).filter(spark.catalog.tableExists)
    p.setProperty("gens", present.mkString(","))
    present.foreach { g =>
      val m = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(g))
      m.bucketSpec.foreach { bs =>
        p.setProperty(s"$g.buckets", bs.numBuckets.toString)
        p.setProperty(s"$g.key", bs.bucketColumnNames.head)
      }
      p.setProperty(s"$g.schema", m.schema.json)
      m.properties.get("graft.batchId").foreach(p.setProperty(s"$g.batchId", _))
      m.properties.get("graft.queryId").foreach(p.setProperty(s"$g.queryId", _))
    }
    val mp = markerPath(spark, table)
    java.nio.file.Files.createDirectories(mp.getParent)
    // all-or-nothing publish of the marker itself (the RunManifest
    // contract): a truncated in-place write could parse as a valid
    // marker for the WRONG generation
    val tmp = java.nio.file.Files.createTempFile(
      mp.getParent, "." + mp.getFileName.toString, ".tmp")
    val out = java.nio.file.Files.newOutputStream(tmp)
    try p.store(out, null) finally out.close()
    java.nio.file.Files.move(tmp, mp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Re-register an existing on-disk store into THIS session's catalog
    * — the warm-restart half of build-once/probe-many. A restarted
    * process has an empty catalog but a populated warehouse: re-create
    * the generation tables over their existing bytes (schema + bucket
    * spec + replay-guard properties from the publish marker, location
    * validation skipped — the bytes being there is the point) and
    * republish the recorded active generation. Zero data IO: O(1)
    * catalog ops, after which probes bucket-prune exactly as before
    * the restart. Returns false — adopt nothing, caller rebuilds —
    * when the table is unknown (no marker) or the marker/bytes
    * disagree (missing active dir, unparseable schema): a partial
    * adoption would serve a store the merge contract no longer
    * guarantees. Already-registered tables return true immediately,
    * so callers can gate `init` on `!adopt(...)`. */
  def adopt(spark: SparkSession, table: String): Boolean = {
    if (spark.catalog.tableExists(table)) return true
    val mp = markerPath(spark, table)
    if (!java.nio.file.Files.isRegularFile(mp)) return false
    try {
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(mp)
      try p.load(in) finally in.close()
      if (p.getProperty("version") != "1") return false
      val active = p.getProperty("active")
      val gens = Option(p.getProperty("gens"))
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
      if (active == null || !gens.contains(active)) return false
      val registered = gens.filter { g =>
        val dir = java.nio.file.Paths.get(spark.sessionState.catalog
          .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(g)))
        val meta = (Option(p.getProperty(s"$g.schema")),
          Option(p.getProperty(s"$g.key")), Option(p.getProperty(s"$g.buckets")))
        meta match {
          case (Some(schemaJson), Some(key), Some(buckets))
              if java.nio.file.Files.isDirectory(dir) =>
            if (!spark.catalog.tableExists(g)) {
              val schema = org.apache.spark.sql.types.DataType
                .fromJson(schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
              val props = Seq("batchId", "queryId")
                .flatMap(k => Option(p.getProperty(s"$g.$k")).map(s"graft.$k" -> _))
                .toMap
              spark.sessionState.catalog.createTable(
                org.apache.spark.sql.catalyst.catalog.CatalogTable(
                  identifier = org.apache.spark.sql.catalyst.TableIdentifier(g),
                  tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED,
                  storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty,
                  schema = schema,
                  provider = Some("parquet"),
                  bucketSpec = Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
                    buckets.toInt, Seq(key), Seq(key))),
                  properties = props),
                ignoreIfExists = false, validateLocation = false)
            }
            true
          case _ => false
        }
      }
      if (!registered.contains(active)) return false
      publish(spark, table, active)
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"adopt: marker for '$table' unreadable — rebuilding (${e.getMessage})")
        false
    }
  }

  /** Drop the view and both generations (test/cleanup utility). Also
    * removes ORPHANED generation directories: the catalog is
    * per-process, the warehouse directory is not — a session that
    * exits without dropping leaves bytes whose next-session CREATE
    * fails with LOCATION_ALREADY_EXISTS even though DROP TABLE IF
    * EXISTS was a no-op. */
  def drop(spark: SparkSession, table: String): Unit = {
    val (a, b) = generations(table)
    spark.sql(s"DROP VIEW IF EXISTS `$table`")
    // the durable publish marker must go with the bytes, or a later
    // same-named store could adopt a stale publish record
    java.nio.file.Files.deleteIfExists(markerPath(spark, table))
    Seq(a, b).foreach { g =>
      spark.sql(s"DROP TABLE IF EXISTS `$g`")
      // Hadoop fs recursive delete, not java.nio: works for any
      // warehouse URI (hdfs:/s3a:), where Paths.get would throw
      // FileSystemNotFoundException and leave the orphan behind
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(g)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(loc, true)
    }
  }

  /** Full materialization into the inactive generation + publish. */
  def materialize(df: DataFrame, table: String, bucketKey: String,
                  buckets: Int): Unit = {
    val spark = df.sparkSession
    val gen = inactiveGen(spark, table)
    Bucketed.write(df, gen, bucketKey, buckets)
    recordBatch(spark, gen, None)
    publish(spark, table, gen)
  }

  /** The generation currently served by the view (None before the
    * first materialize). */
  private[graft] def activeGen(spark: SparkSession, table: String): Option[String] = {
    if (!spark.catalog.tableExists(table)) return None
    val (a, b) = generations(table)
    Some(if (inactiveGen(spark, table) == a) b else a)
  }

  /** Bucket-pruned point read — the O(delta) PROBE twin of `upsert`:
    * only the bucket files that could contain `keys0`'s bucketKey
    * values are scanned; a 10-key probe against a 100 TB table reads
    * ~10 buckets of parquet, not the table. The returned frame is a
    * SUPERSET restricted to those buckets (other keys hashing into the
    * same bucket ride along) — callers must still equi/semi-join it
    * against their key set. The bucket COUNT comes from the table's
    * own catalog bucketSpec, never from the caller: pruning with a
    * count the files were not written under selects the wrong buckets
    * and silently drops store rows (`buckets` is kept as a
    * cross-check — a mismatch fails fast instead of mis-pruning).
    * Probing a store that was never materialized is a contract error
    * and fails with a clear message (the schema is unknowable).
    *
    * `keys0` is evaluated twice — once collected for the bucket-id
    * set, once when the caller joins the returned frame — so pass a
    * persisted/checkpointed frame when the probe computation is
    * expensive (the built-in callers probe cheap hash projections). */
  def readKeys(spark: SparkSession, table: String, keys0: DataFrame,
               bucketKey: String, buckets: Int): DataFrame = {
    val active = activeGen(spark, table).getOrElse(throw new IllegalStateException(
      s"readKeys: store '$table' does not exist — materialize/init it first"))
    val tableBuckets = catalogBuckets(spark, active).getOrElse(buckets)
    require(tableBuckets == buckets,
      s"readKeys: caller assumes $buckets buckets but '$table' is bucketed " +
        s"into $tableBuckets — pruning under the wrong count silently drops rows")
    val empty = () => spark.table(table).limit(0)
    val touched = affectedBuckets(
      keys0.select(col(bucketKey)), bucketKey, tableBuckets)
    if (touched.isEmpty) return empty()
    val dir = tableDir(spark, active)
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(dir)
    val files = try listing.iterator().asScala
      .filter(p => bucketIdOf(p.getFileName.toString).exists(touched))
      .map(_.toString).toSeq
    finally listing.close()
    if (files.isEmpty) empty()
    else spark.read.schema(spark.table(table).schema).parquet(files: _*)
  }

  /** The bucket count a generation table was actually written with. */
  private[graft] def catalogBuckets(spark: SparkSession, gen: String): Option[Int] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(gen))
      .bucketSpec.map(_.numBuckets)

  /** Read through the view. Spark's table-relation cache is
    * per-session: a foreachBatch upsert runs in the micro-batch's
    * CLONED session, whose `REFRESH TABLE` cannot invalidate a reader
    * session's cached file listing of a generation it resolved
    * earlier (observed: a reader that had seen `t__a` empty kept
    * seeing it empty after the stream republished it). Refreshing the
    * view and both generations here makes every read see the latest
    * publish, at pure-metadata cost; a shared metastore + snapshot
    * table format versions this automatically on real deployments. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val (a, b) = generations(table)
    Seq(table, a, b).foreach { t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }
    spark.table(table)
  }

  /** Pin the store's CURRENT contents at `dir` — the reproducibility
    * primitive a training pipeline needs: record exactly which store
    * state a run read, immune to every later merge. Zero data copy:
    * the active generation's bucket files are HARD LINKED into `dir`
    * (fallback copy off-filesystem), so a 100 TB store snapshots in
    * O(#files) metadata ops and the bytes are shared until a
    * generation flip stops referencing them — the same
    * reference-not-rewrite idea as the untouched-bucket carry in
    * [[upsert]], and the poor-man's form of a Delta/Iceberg snapshot
    * pin. The snapshot is a plain parquet directory (readable by ANY
    * engine, [[readSnapshot]] included); it no longer carries the
    * catalog bucketing metadata, so reads of it scan rather than
    * bucket-prune — pinning is for reproducibility, the live view is
    * for serving. */
  def snapshot(spark: SparkSession, table: String, dir: String): Int = {
    val active = activeGen(spark, table).getOrElse(
      throw new IllegalStateException(s"snapshot: store '$table' does not exist"))
    val src = tableDir(spark, active)
    val dst = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(dst)
    import scala.jdk.CollectionConverters._
    // a pin is immutable: linking a SECOND store state into the same
    // dir would silently mix generations (carried-forward files keep
    // their names and collide; rewritten buckets get fresh UUID names
    // and DON'T — the stale version would ride along as duplicate
    // keys). Refuse instead.
    locally {
      val existing = java.nio.file.Files.list(dst)
      val nonEmpty = try existing.iterator().hasNext finally existing.close()
      require(!nonEmpty, s"snapshot: target '$dir' is not empty — " +
        "snapshots are immutable pins; use a fresh directory per pin")
    }
    val listing = java.nio.file.Files.list(src)
    val files = try listing.iterator().asScala
      .filter(p => bucketIdOf(p.getFileName.toString).isDefined).toSeq
    finally listing.close()
    files.foreach { f =>
      val out = dst.resolve(f.getFileName.toString)
      try java.nio.file.Files.createLink(out, f)
      catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        java.nio.file.Files.copy(f, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    files.size
  }

  /** Read a [[snapshot]] back (schema pinned from the live table when
    * it still exists, else inferred from the snapshot's own footers). */
  def readSnapshot(spark: SparkSession, dir: String,
                   table: Option[String] = None): DataFrame =
    table.filter(spark.catalog.tableExists) match {
      case Some(t) => spark.read.schema(spark.table(t).schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** Undo the LAST publish: republish the inactive generation — the
    * state before the most recent materialize/upsert/delete — as the
    * served view. The bad-batch escape hatch: a poisoned merge is off
    * the serve path in one catalog op, no data rewrite. One step of
    * history exists by construction (two generations), so a second
    * rollback merely re-applies the undone publish (flip-flop); the
    * NEXT merge after a rollback composes against the restored state
    * and overwrites the quarantined generation, which is exactly the
    * write target [[inactiveGen]] picks. Returns the generation now
    * being served. */
  def rollback(spark: SparkSession, table: String): String = {
    val prev = inactiveGen(spark, table)
    require(spark.catalog.tableExists(prev),
      s"rollback: store '$table' has no previous generation to restore")
    publish(spark, table, prev)
    prev
  }

  /** Filesystem directory of a generation table (managed catalog
    * table → warehouse path). */
  private[graft] def tableDir(spark: SparkSession, gen: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(gen))
        .location)

  /** Bucket id encoded in a bucketed-write data file name
    * (`part-00000-<uuid>_00003.c000.snappy.parquet` → 3). Hidden names
    * — the filesystem's `.<name>.crc` checksum sidecars, `_SUCCESS` —
    * are not data files, whatever they embed: counting them listed
    * every touched bucket twice, and an explicit path list longer than
    * 32 makes Spark list it with a distributed job. */
  private[graft] def bucketIdOf(fileName: String): Option[Int] =
    if (fileName.startsWith(".") || fileName.startsWith("_")) None
    else "_(\\d{5})\\.".r.findFirstMatchIn(fileName).map(_.group(1).toInt)

  /** The bucket ids the delta's keys land in — Spark's bucketing hash
    * is `pmod(murmur3(key), n)`, identical to the SQL `hash()`
    * function, so the pruning computation matches the writer's
    * placement exactly. Deduplicated inside each partition rather
    * than by `distinct()`, so the set costs one job with no shuffle
    * beyond what computing `delta` itself needs. */
  private[graft] def affectedBuckets(delta: DataFrame, bucketKey: String,
                                     buckets: Int): Set[Int] =
    delta.select(pmod(hash(col(bucketKey)), lit(buckets)))
      .as(Encoders.scalaInt)
      .mapPartitions((ids: Iterator[Int]) => ids.toSet.iterator)(Encoders.scalaInt)
      .collect().toSet

  /** The last applied (query id, batch id) recorded on a generation
    * table (the at-least-once replay guard for NON-idempotent merges).
    * Batch ids alone are ambiguous: a streaming query restarted
    * WITHOUT a checkpoint restarts at batchId 0, and a guard that
    * matched on the bare id would silently drop that run's first
    * micro-batch. The query id disambiguates — it is stable across
    * checkpointed restarts (same checkpoint → same id → replays still
    * skip) and fresh for an uncheckpointed restart (new id → the new
    * run's batch 0 applies). */
  private[graft] def appliedBatch(spark: SparkSession, gen: String): Option[(String, Long)] = {
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(gen))
      .properties
    props.get("graft.batchId").map(id =>
      (props.getOrElse("graft.queryId", ""), id.toLong))
  }

  /** The streaming query id of the current thread, when running inside
    * a StreamExecution (foreachBatch runs on the stream thread, which
    * carries the id as a local property); the distinct sentinel
    * [[BatchCaller]] otherwise. Recording "" for batch callers would
    * make them indistinguishable from pre-upgrade tables, whose empty
    * recorded id the replay guard treats as a wildcard — a streaming
    * micro-batch that happened to carry the same batch id would then
    * be silently dropped. */
  private[graft] val BatchCaller = "batch"
  private[graft] def currentQueryId(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")).getOrElse(BatchCaller)

  /** Record on `gen` the (query id, batch id) it now holds, or that it
    * holds none. Generations are overwritten in place, which keeps
    * their table properties, so a write without a batch id must clear
    * the entry an earlier batch left — a stale one would describe a
    * state the generation no longer holds. */
  private def recordBatch(spark: SparkSession, gen: String,
                          applied: Option[(String, Long)]): Unit = applied match {
    case Some((qid, id)) => spark.sql(
      s"ALTER TABLE `$gen` SET TBLPROPERTIES(" +
        s"'graft.batchId'='$id', 'graft.queryId'='$qid')")
    case None => if (appliedBatch(spark, gen).isDefined) spark.sql(
      s"ALTER TABLE `$gen` UNSET TBLPROPERTIES IF EXISTS ('graft.batchId', 'graft.queryId')")
  }

  /** Merge `delta` into `table`: rows join on `joinKeys`; every other
    * column combines via `merge(name, existing, delta)` — default
    * last-writer-wins (`coalesce(delta, existing)`); AggStore passes
    * an additive merge. Delta schema must equal the table's.
    *
    * `batchId`: foreachBatch is at-least-once — a crash between
    * publish and the stream's commit re-delivers the same micro-batch.
    * Last-writer-wins merges are replay-idempotent, but ADDITIVE ones
    * double-count, so callers with non-idempotent merges pass the
    * foreachBatch batchId; a batch whose id is already recorded on the
    * ACTIVE generation is skipped. */
  def upsert(spark: SparkSession, table: String, delta0: DataFrame,
             joinKeys: Seq[String], bucketKey: String, buckets: Int,
             merge: (String, Column, Column) => Column =
               (_, ex, dl) => coalesce(dl, ex),
             batchId: Option[Long] = None): Unit = {
    // the merged rows keep the table's column order, whatever position
    // the join keys hold in it
    val cols = spark.table(table).schema.fieldNames.toSeq
    val valueCols = cols.filterNot(joinKeys.contains)
    // value columns are renamed __delta_* for the merge
    val delta = delta0.select(
      joinKeys.map(col) ++
        valueCols.map(c => col(c).as(s"__delta_$c")): _*)
    compose(spark, table, delta, joinKeys, bucketKey, buckets, batchId) {
      existing =>
        // no broadcast() hint: Spark cannot broadcast-build a FULL
        // OUTER side (every hint here is ignored with a per-merge
        // warning). Both sides are delta-bounded anyway — `existing`
        // is only the touched buckets — so the shuffled join is small
        // by construction.
        existing.join(delta, joinKeys, "full_outer")
          .select(cols.map(c =>
            if (joinKeys.contains(c)) col(c)
            else merge(c, col(c), col(s"__delta_$c")).as(c)): _*)
    }
  }

  /** Delete rows by key — the retention/GDPR path, same O(delta)
    * shape as `upsert`: only the buckets containing `keys0` are
    * rewritten (as an anti-join against the broadcast key set), every
    * other bucket file carries forward by link. A key absent from the
    * table is a no-op, so deletes are replay-idempotent; pass
    * `batchId` anyway when driven from foreachBatch so a redelivered
    * tombstone batch skips the rewrite entirely. */
  def delete(spark: SparkSession, table: String, keys0: DataFrame,
             joinKeys: Seq[String], bucketKey: String, buckets: Int,
             batchId: Option[Long] = None): Unit = {
    val keys = keys0.select(joinKeys.map(col): _*).distinct()
    compose(spark, table, keys, joinKeys, bucketKey, buckets, batchId) {
      existing => existing.join(broadcast(keys), joinKeys, "left_anti")
    }
  }

  /** The generation-compose core shared by upsert and delete: prune to
    * the buckets containing `delta`'s keys, rewrite ONLY those via
    * `transform(existing-touched-rows)`, carry untouched bucket files
    * forward by hard link, republish the view atomically. `delta` must
    * contain `joinKeys` (plus whatever the transform needs) and is
    * persisted here once for the bucket-set collect and the
    * transform's own reads.
    *
    * A publish runs two jobs besides the shuffles its plans need: one
    * computes `delta` and collects its bucket set (empty set = empty
    * delta, nothing to do), one writes the touched buckets into the
    * inactive generation — in place, with one task per touched bucket
    * up to the cluster's parallelism ([[Bucketed.write]]). Everything
    * else is catalog and filesystem metadata. */
  private def compose(spark: SparkSession, table: String, delta0: DataFrame,
                      joinKeys: Seq[String], bucketKey: String, buckets: Int,
                      batchId: Option[Long])
                     (transform: DataFrame => DataFrame): Unit = {
    // the delta joins and prunes buckets on the same key; a bucketKey
    // outside joinKeys would surface as an opaque unresolved-column
    // failure deep in affectedBuckets — fail fast with the contract
    require(joinKeys.contains(bucketKey),
      s"bucketKey '$bucketKey' must be one of joinKeys ${joinKeys.mkString("[", ", ", "]")}: " +
        "the merge joins and prunes buckets on the same key")
    val delta = delta0.persist()
    try {
      // one job folds the delta and collects its buckets; it runs ahead
      // of the replay guard, so a redelivered batch still folds once.
      // Empty or net-zero CDC batches touch nothing and pay no rewrite
      val touched = affectedBuckets(delta, bucketKey, buckets)
      if (touched.isEmpty) return
      val gen = inactiveGen(spark, table)
      val (a, b) = generations(table)
      val active = if (gen == a) b else a
      // a merge under the wrong bucket count would prune the wrong
      // buckets AND link carried-forward files into a generation whose
      // catalog declares a different layout — corrupt both ways
      catalogBuckets(spark, active).foreach(n => require(n == buckets,
        s"upsert: caller assumes $buckets buckets but '$table' is bucketed " +
          s"into $n — refusing a mixed-layout merge"))
      // replay guard: this (query, batch) already merged into the
      // served generation → re-delivery is a no-op. A recorded query
      // id of "" can only come from a table written before query ids
      // were recorded (batch callers record the BatchCaller sentinel),
      // so it matches any current query for the same batch id —
      // otherwise the first redelivery after an upgrade would re-apply
      // a non-idempotent additive batch.
      val qid = currentQueryId(spark)
      val alreadyApplied = batchId.exists { id =>
        appliedBatch(spark, active).exists { case (recQid, recId) =>
          val hit = recId == id && (recQid == qid || recQid.isEmpty)
          if (hit && recQid.isEmpty)
            logWarning(s"BucketedUpsert: legacy table '$table' " +
              s"has no recorded query id; skipping batch $id for query '$qid' " +
              "via the pre-upgrade wildcard")
          hit
        }
      }
      if (alreadyApplied) return
      val srcDir = tableDir(spark, active)
      val (touchedFiles, untouchedFiles) = {
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(srcDir)
        // Files.list holds an open directory handle — close it or a
        // once-per-micro-batch caller leaks fds until GC
        val all = try listing.iterator().asScala
          .filter(p => bucketIdOf(p.getFileName.toString).isDefined).toSeq
        finally listing.close()
        all.partition(p => touched(bucketIdOf(p.getFileName.toString).get))
      }
      // the transform reads ONLY the touched buckets' files
      // (bucket-file addressing beats predicate pruning: no scan even
      // plans over the untouched buckets)
      val existing =
        if (touchedFiles.isEmpty) spark.table(table).limit(0)
        else spark.read.schema(spark.table(table).schema)
          .parquet(touchedFiles.map(_.toString): _*)
      Bucketed.write(transform(existing), gen, bucketKey, buckets, touched.size)
      // carry untouched buckets forward: link shares the bytes (the
      // "reference" half of generation-compose); copy is the fallback
      // for filesystems without links
      val dstDir = tableDir(spark, gen)
      untouchedFiles.foreach { f =>
        val dst = dstDir.resolve(f.getFileName.toString)
        try java.nio.file.Files.createLink(dst, f)
        catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(f, dst)
        }
      }
      recordBatch(spark, gen, batchId.map(qid -> _))
      spark.sql(s"REFRESH TABLE `$gen`")
      publish(spark, table, gen)
    } finally delta.unpersist()
  }
}
