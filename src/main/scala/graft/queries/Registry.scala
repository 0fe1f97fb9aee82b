package graft.queries

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate-checkable query: a Spark plan plus (usually) an equivalent
  * DuckDB SQL oracle over the same parquet tables. Column names must
  * match exactly between the two (the driver sorts columns by name and
  * hash-compares values). `oracle = None` → the driver records a weaker
  * rows-only check (reserved for ops whose SQL form is impractical).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def all: Seq[Q]

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Memo[Unit, _]]

  /** This module's session memos, in declaration order (the warmed ones
    * make up the bench warm-up phase, `SparkEntry.memoWarmers`). */
  private[graft] def memos: Seq[Memo[Unit, _]] = declared.toSeq

  /** Declare one of this module's session memos (see [[graft.Memo]]). */
  protected def memo[V](name: String, tables: Seq[String], warm: Boolean = false,
                        dropStore: (SparkSession, String) => Unit = (_, _) => ())(
      build: (SparkSession, String) => V): Memo[Unit, V] = {
    val m = Memo(name, tables, warm, dropStore)(build)
    declared += m
    m
  }
}
