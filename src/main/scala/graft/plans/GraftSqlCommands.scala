package graft.plans

import graft.sources.BucketedUpsert
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** SQL statements for the store operations a training pipeline scripts
  * daily — the pin-before-train / undo-a-poisoned-merge pair:
  *
  *   GRAFT SNAPSHOT <store> TO '<dir>'   -- O(#files) hard-link pin
  *   GRAFT ROLLBACK <store>              -- republish previous generation
  *   GRAFT COMPACT '<dir>' [TARGET n MB] -- pack small files, new manifest
  *
  * Implemented the way Spark-ecosystem table formats add VACUUM /
  * OPTIMIZE: a delegating [[ParserInterface]] injected through
  * `SparkSessionExtensions.injectParser` recognizes the graft
  * statements and hands everything else to the session's default
  * parser, and each statement lowers to an eagerly-executed
  * [[LeafRunnableCommand]] (driver-side metadata work — exactly what
  * a command node is for; no job, no shuffle). A `spark.sql`-only
  * user (JDBC/Thrift included) can therefore pin a store state before
  * a training run and roll a bad publish off the serve path without
  * touching the Scala API ([[BucketedUpsert.snapshot]] /
  * [[BucketedUpsert.rollback]] remain the implementation).
  */
case class GraftSnapshotCommand(table: String, dir: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("snapshot_dir", StringType, nullable = false)(),
    AttributeReference("n_files", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(table, dir, BucketedUpsert.snapshot(spark, table, dir)))
}

/** See [[GraftSnapshotCommand]]. Returns the generation now served. */
case class GraftRollbackCommand(table: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("serving_generation", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(table, BucketedUpsert.rollback(spark, table)))
}

/** See [[GraftSnapshotCommand]] — the third daily store operation:
  *
  *   GRAFT COMPACT '<corpus dir>' [TARGET <n> MB]
  *
  * the single-writer small-file maintenance pass over a published
  * corpus ([[graft.sources.CorpusWriter.compact]]: crash-idempotent
  * leaf rewrite + manifest republish — the Delta OPTIMIZE / Iceberg
  * rewrite_data_files analogue). Returns one row per rewritten leaf;
  * an already-packed corpus returns zero rows. Unlike SNAPSHOT and
  * ROLLBACK this one launches jobs (it rewrites data files), but it
  * is still a command node: the statement itself is imperative
  * maintenance, not a query. */
case class GraftCompactCommand(dir: String, targetBytes: Option[Long])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("leaf_dir", StringType, nullable = false)(),
    AttributeReference("files_before", IntegerType, nullable = false)(),
    AttributeReference("files_after", IntegerType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    graft.sources.CorpusWriter.compact(spark, dir,
      targetBytes.getOrElse(graft.sources.Layouts.DefaultTargetBytes))
      .map(s => Row(s.dir, s.filesBefore, s.filesAfter, s.bytes))
}

/** See [[GraftSnapshotCommand]] — the run-level pin:
  *
  *   GRAFT PIN RUN '<dir>' TABLES <t1>[, <t2>…]
  *
  * one statement snapshots EVERY store a training run reads into one
  * immutable run directory and writes the run manifest last (the
  * publish marker — [[graft.sources.RunManifest]]). Returns one row
  * per pinned store. */
case class GraftPinRunCommand(dir: String, tables: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("snapshot_dir", StringType, nullable = false)(),
    AttributeReference("n_files", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    graft.sources.RunManifest.pin(spark, dir, tables)
      .map { case (t, n) => Row(t, s"$dir/$t", n) }
}

/** See [[GraftSnapshotCommand]] — the index-build statements for the
  * round-10 serving stores, so a `spark.sql`-only user can stand up
  * the build-once/probe-many shapes without the Scala API:
  *
  *   GRAFT BUILD POSTINGS <prefix> FROM <table> [BUCKETS n]
  *     -- <table>: (doc_id, text); term-bucketed BM25 postings +
  *        doc-membership + corpus stats ([[graft.sources
  *        .PostingsStore]]); idempotent re-run (re-sent docs no-op)
  *   GRAFT BUILD PQ <prefix> FROM <table> [BUCKETS n]
  *     -- <table>: (vec_id, emb array<double>); trains frozen
  *        codebooks on the table's CURRENT rows (train-once — later
  *        runs encode only) and encodes every vector
  *        ([[graft.sources.IvfIndexStore.initPq]]/upsertPqBatch)
  *
  * Both launch jobs like COMPACT (they build data), but remain
  * command nodes: imperative store maintenance, not queries. */
case class GraftBuildPostingsCommand(prefix: String, table: String,
                                     buckets: Int)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("prefix", StringType, nullable = false)(),
    AttributeReference("postings_table", StringType, nullable = false)(),
    AttributeReference("n_docs", LongType, nullable = false)(),
    AttributeReference("sum_dl", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val ps = graft.sources.PostingsStore
    ps.init(spark, prefix, buckets)
    ps.upsertBatch(spark,
      spark.table(table).select(col("doc_id"), col("text")), prefix, buckets)
    val st = ps.stats(spark, prefix).collect().head
    Seq(Row(prefix, ps.postingsTable(prefix), st.getLong(0), st.getLong(1)))
  }
}

/** See [[GraftBuildPostingsCommand]]. */
case class GraftBuildPqCommand(prefix: String, table: String, buckets: Int)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("prefix", StringType, nullable = false)(),
    AttributeReference("codes_table", StringType, nullable = false)(),
    AttributeReference("n_codes", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val ivf = graft.sources.IvfIndexStore
    val vecs = spark.table(table).select(col("vec_id"), col("emb"))
    ivf.initPq(spark, vecs, prefix, buckets)
    ivf.upsertPqBatch(spark, vecs, prefix, buckets)
    val n = BucketedUpsert.read(spark, ivf.codesTable(prefix)).count()
    Seq(Row(prefix, ivf.codesTable(prefix), n))
  }
}

/** See [[GraftBuildPostingsCommand]] — the LM twin:
  *
  *   GRAFT BUILD LM <prefix> FROM <table> [BUCKETS n]
  *     -- <table>: (doc_id, text); (re)builds the stupid-backoff LM
  *        count stores ([[graft.streaming.LmCountsStream]]) from the
  *        table's CURRENT rows. DROP-AND-BUILD: each store is dropped,
  *        then materialized once, full, so a re-run is idempotent and
  *        every store's only generation is the one it serves.
  */
case class GraftBuildLmCommand(prefix: String, table: String, buckets: Int)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("prefix", StringType, nullable = false)(),
    AttributeReference("bigram_table", StringType, nullable = false)(),
    AttributeReference("n_tok", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val lm = graft.streaming.LmCountsStream
    lm.drop(spark, prefix)
    lm.build(spark.table(table).select(col("doc_id"), col("text")), prefix, buckets)
    val n = lm.readCounts(spark, prefix).totals.collect()
      .headOption.map(_.getLong(0)).getOrElse(0L)
    Seq(Row(prefix, prefix + lm.BigramTable, n))
  }
}

/** See [[GraftBuildLmCommand]] — the telemetry twin:
  *
  *   GRAFT BUILD DAILY <table> FROM <events_table> [BUCKETS n]
  *     -- <events_table>: (ts, event_type, value, ...); (re)builds the
  *        per-(type, day) daily revenue store
  *        ([[graft.streaming.AnomalyMonitorStream]]) from the table's
  *        CURRENT rows, DROP-AND-BUILD like BUILD LM.
  */
case class GraftBuildDailyCommand(table: String, source: String, buckets: Int)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("n_days", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val am = graft.streaming.AnomalyMonitorStream
    am.drop(spark, table)
    am.build(spark.table(source), table, buckets)
    Seq(Row(table, am.daily(spark, table).count()))
  }
}

/** See [[GraftBuildLmCommand]] — the market-basket twin:
  *
  *   GRAFT BUILD BASKET <prefix> FROM <table> [BUCKETS n]
  *     -- <table>: (o, i) basket lines; (re)builds the co-purchase
  *        pair/item/total count stores
  *        ([[graft.streaming.BasketStream]]) from the table's CURRENT
  *        rows, DROP-AND-BUILD like BUILD LM.
  */
case class GraftBuildBasketCommand(prefix: String, table: String, buckets: Int)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("prefix", StringType, nullable = false)(),
    AttributeReference("pairs_table", StringType, nullable = false)(),
    AttributeReference("n_orders", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val bs = graft.streaming.BasketStream
    bs.drop(spark, prefix)
    bs.build(spark.table(table), prefix, buckets)
    val n = BucketedUpsert.read(spark, prefix + bs.TotalsTable)
      .collect().headOption.map(_.getLong(1)).getOrElse(0L)
    Seq(Row(prefix, prefix + bs.PairsTable, n))
  }
}

/** Delegating parser: regex-matched graft statements, everything
  * else verbatim to the session's default parser (so the extension can
  * never change the semantics of real SQL). Statement shapes are
  * deliberately rigid — identifiers and a quoted local path — and a
  * leading GRAFT keyword guarantees no overlap with the ANSI grammar. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val Snapshot =
    """(?is)\s*GRAFT\s+SNAPSHOT\s+([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+'([^']+)'\s*;?\s*""".r
  private val Rollback =
    """(?is)\s*GRAFT\s+ROLLBACK\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val Compact =
    """(?is)\s*GRAFT\s+COMPACT\s+'([^']+)'(?:\s+TARGET\s+(\d+)\s*MB)?\s*;?\s*""".r
  private val PinRun =
    """(?is)\s*GRAFT\s+PIN\s+RUN\s+'([^']+)'\s+TABLES\s+([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*;?\s*""".r
  private val BuildPostings =
    """(?is)\s*GRAFT\s+BUILD\s+POSTINGS\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+BUCKETS\s+(\d+))?\s*;?\s*""".r
  private val BuildPq =
    """(?is)\s*GRAFT\s+BUILD\s+PQ\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+BUCKETS\s+(\d+))?\s*;?\s*""".r
  private val BuildLm =
    """(?is)\s*GRAFT\s+BUILD\s+LM\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+BUCKETS\s+(\d+))?\s*;?\s*""".r
  private val BuildDaily =
    """(?is)\s*GRAFT\s+BUILD\s+DAILY\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+BUCKETS\s+(\d+))?\s*;?\s*""".r
  private val BuildBasket =
    """(?is)\s*GRAFT\s+BUILD\s+BASKET\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+BUCKETS\s+(\d+))?\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case Snapshot(table, dir) => GraftSnapshotCommand(table, dir)
    case Rollback(table) => GraftRollbackCommand(table)
    case Compact(dir, mb) => GraftCompactCommand(dir,
      Option(mb).map(_.toLong * 1024 * 1024))
    case PinRun(dir, ts) =>
      GraftPinRunCommand(dir, ts.split(",").map(_.trim).toSeq)
    case BuildPostings(prefix, table, b) => GraftBuildPostingsCommand(
      prefix, table, Option(b).map(_.toInt)
        .getOrElse(graft.sources.PostingsStore.DefaultBuckets))
    case BuildPq(prefix, table, b) => GraftBuildPqCommand(
      prefix, table, Option(b).map(_.toInt)
        .getOrElse(graft.sources.IvfIndexStore.DefaultBuckets))
    case BuildLm(prefix, table, b) => GraftBuildLmCommand(
      prefix, table, Option(b).map(_.toInt)
        .getOrElse(graft.streaming.LmCountsStream.DefaultBuckets))
    case BuildDaily(table, source, b) => GraftBuildDailyCommand(
      table, source, Option(b).map(_.toInt)
        .getOrElse(graft.streaming.AnomalyMonitorStream.DefaultBuckets))
    case BuildBasket(prefix, table, b) => GraftBuildBasketCommand(
      prefix, table, Option(b).map(_.toInt)
        .getOrElse(graft.streaming.BasketStream.DefaultBuckets))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
