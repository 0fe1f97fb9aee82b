package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One data-quality expectation: a row-level predicate that must hold.
  * A row FAILS when the predicate is not TRUE — so a NULL predicate
  * result (the usual three-valued-logic escape hatch) counts as a
  * failure, never a silent pass. Names surface in audit reports and
  * quarantine annotations, so keep them short and stable. */
final case class Expectation(name: String, predicate: Column)

/** Declarative data-quality gates over any DataFrame — the
  * expectations/constraints step every training-data pipeline runs
  * between ingest and export (reference analogue: the per-event schema
  * and property validation in /root/reference/services/ingest.py, which
  * rejects rows one at a time; here the same idea is a set-level audit
  * plus a row-level quarantine split).
  *
  * Scale design: [[audit]] computes ALL checks in ONE scan — each
  * expectation becomes a conditional-sum aggregate, partials combine
  * map-side, and the single result row explodes into the per-check
  * report (no shuffle carries data rows; the exchange moves one partial
  * row per partition). [[annotate]]/[[split]] are pure projections —
  * zero shuffle, codegen-friendly, so quarantining 100 TB costs exactly
  * one pass over it. Nothing here is per-check passes over the data.
  */
object Expectations {

  /** Row fails `e` unless the predicate evaluates to TRUE. */
  private def failed(e: Expectation): Column = !coalesce(e.predicate, lit(false))

  private def requireChecks(checks: Seq[Expectation]): Unit = {
    require(checks.nonEmpty, "expectations: at least one check required")
    val dup = checks.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"expectations: duplicate check names ${dup.mkString(",")}")
  }

  /** One check's failure count as an aggregate column. */
  private def failedCount(e: Expectation): Column =
    coalesce(sum(when(failed(e), lit(1L)).otherwise(lit(0L))), lit(0L))

  /** The audit counters as observe-able metric expressions —
    * `n_rows` plus one `failed_<name>` per check. Batch callers pass
    * them to `df.observe(Observation(...), ...)`; streaming callers
    * use [[observed]] and read every micro-batch's counters off
    * `StreamingQueryProgress.observedMetrics` (the EventIngest
    * pattern): the gate's health feed costs zero extra scans — the
    * accumulators ride the write that was happening anyway. */
  def metricExprs(checks: Seq[Expectation]): Seq[Column] = {
    requireChecks(checks)
    count(lit(1)).as("n_rows") +:
      checks.map(e => failedCount(e).as(s"failed_${e.name}"))
  }

  /** Attach the audit counters to a flowing (batch or streaming)
    * plan under observation name `name`. */
  def observed(df: DataFrame, checks: Seq[Expectation],
               name: String = "expectations"): DataFrame = {
    val exprs = metricExprs(checks)
    df.observe(name, exprs.head, exprs.tail: _*)
  }

  /** Per-check report: `(expectation, n_rows, n_failed)` — one row per
    * check, all computed in a single scan of `df`. On empty input every
    * check reports (0, 0) rather than nulls. */
  def audit(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    requireChecks(checks)
    val aggs = count(lit(1)).as("__n") +: checks.zipWithIndex.map { case (e, i) =>
      failedCount(e).as(s"__f$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(checks.zipWithIndex.map { case (e, i) =>
        struct(lit(e.name).as("expectation"), col("__n").as("n_rows"),
          col(s"__f$i").as("n_failed"))
      }: _*)).as("__x"))
      .select(col("__x.expectation"), col("__x.n_rows"), col("__x.n_failed"))
  }

  /** TRUE for a row that passed every check — the single definition of
    * "clean" shared by [[split]], the streaming gate and the SQL views
    * (a drifting copy of this predicate would make them disagree). */
  def isClean: Column = size(col("violations")) === 0

  /** Input rows plus a `violations` array — the names of the checks the
    * row fails, in declaration order (empty array = clean row). */
  def annotate(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    requireChecks(checks)
    // re-gating already-annotated data must not silently destroy the
    // record of what originally failed (and a check predicate reading
    // 'violations' would resolve against the clobbered column)
    require(!df.columns.contains("violations"),
      "annotate: input already has a 'violations' column — drop or rename it first")
    df.withColumn("violations",
      filter(array(checks.map(e => when(failed(e), lit(e.name))): _*),
        v => v.isNotNull))
  }

  /** `(clean, quarantined)` — both carry the `violations` column; the
    * clean side's is always empty. One annotate, two filters: Spark
    * plans each side as its own scan+filter, so writing both sides
    * costs two passes, or one with `annotate(df, checks).persist`. */
  def split(df: DataFrame, checks: Seq[Expectation]): (DataFrame, DataFrame) = {
    val tagged = annotate(df, checks)
    (tagged.filter(isClean), tagged.filter(!isClean))
  }

  /** Per-column profile: `(column, n_rows, n_nulls, n_distinct)` for
    * each named column, one row per column. Multiple exact DISTINCTs
    * compile to one Expand-based scan (rows duplicated #columns ways
    * before the partial agg — the documented cost of exactness; the
    * approx path at 100 TB is the engine's HLL sketch column family,
    * [[graft.functions.expressions.HllSketchAgg]]). */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profile: at least one column required")
    val aggs = count(lit(1)).as("__n") +: columns.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"__nn$i"),
        count_distinct(col(c)).as(s"__nd$i"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(columns.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          (col("__n") - col(s"__nn$i")).as("n_nulls"),
          col(s"__nd$i").as("n_distinct"))
      }: _*)).as("__x"))
      .select(col("__x.column"), col("__x.n_rows"),
        col("__x.n_nulls"), col("__x.n_distinct"))
  }
}
