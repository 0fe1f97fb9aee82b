package graft.operators

import graft.config._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles `AggregateSpec`s into a single per-user aggregation plan.
  *
  * The reference updates one accumulator per event per aggregate
  * (models/aggregate.py:52-60, keyed `user_id → set | [(uuid, value)]`).
  * The Spark-first shape is one conditional aggregation over the whole
  * event set: every spec becomes an agg expression over the SAME
  * `groupBy(user_id)`, so N aggregates cost ONE shuffle (hash-partitioned
  * by user_id with map-side partial aggregation), not N passes — the plan
  * that survives a 1000-executor 100 TB scale-up.
  *
  * Dedup semantics: the reference dedups by event uuid inside each
  * accumulator (aggregate.py:54,57). Since a uuid identifies one event
  * payload, a single global `dropDuplicates(event_id)` before the
  * aggregation is equivalent and cheaper (one hash-dedup reusing the
  * same user_id-compatible shuffle instead of per-aggregate set scans —
  * the reference's SUM dedup is O(n) per event, aggregate.py:57).
  *
  * Field semantics: only NULL is invalid; the reference's falsy-drop of
  * legitimate 0/0.0 values (aggregate.py:72-78) is an acknowledged bug
  * we do not reproduce (SURVEY.md §7.5).
  */
object EventAggregates {

  /** Resolve an AggregateSpec field path against the events schema.
    * `props.<key>` addresses the JSON `props` column; anything else is a
    * top-level column. JSON extraction stays inside whole-stage codegen
    * (get_json_object is a codegen'd Catalyst expression, not a UDF).
    */
  def fieldCol(field: String): Column =
    if (field.startsWith("props."))
      get_json_object(col("props"), "$." + field.stripPrefix("props."))
    else col(field)

  /** An aggregate's input: the event's value for it, NULL unless the
    * event has the aggregate's type. COUNT reads the event id, SUM the
    * field as a double, DISTINCT_COUNT the field as a long. Both the
    * batch plan ([[aggExpr]]) and the grant fold
    * (`EventPipeline.grantChangesBounded`) read fields through it, so
    * the two paths cast alike; the `when` keeps the JSON parse of a
    * `props.` field to the events of that type. */
  def aggInput(s: AggregateSpec): Column = {
    val matches = col("event_type") === lit(s.eventType)
    s.aggType match {
      case AggregateType.Count => when(matches, col("event_id"))
      case AggregateType.DistinctCount => when(matches, fieldCol(s.field.get).cast("long"))
      case AggregateType.Sum => when(matches, fieldCol(s.field.get).cast("double"))
    }
  }

  private[graft] def aggExpr(s: AggregateSpec): Column = s.aggType match {
    // Post-dedup, count of distinct uuids == plain conditional count;
    // avoids a needless Expand in the plan.
    case AggregateType.Count => count(aggInput(s)).as(s.name)
    case AggregateType.DistinctCount => countDistinct(aggInput(s)).as(s.name)
    case AggregateType.Sum => coalesce(sum(aggInput(s)), lit(0.0)).as(s.name)
  }

  /** events → one row per user_id with one column per aggregate.
    * Missing groups are absent rows; downstream consumers coalesce to the
    * reference's default accumulator value 0 (aggregate.py:50,62-68). */
  def perUser(events: DataFrame, specs: Seq[AggregateSpec]): DataFrame = {
    val deduped = events.dropDuplicates("event_id")
    val exprs = specs.map(aggExpr)
    deduped.groupBy(col("user_id")).agg(exprs.head, exprs.tail: _*)
  }
}
