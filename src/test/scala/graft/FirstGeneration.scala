package graft

import graft.sources.BucketedUpsert
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** A store built whole goes from absent to full in one publish: its
  * first generation `t__a` is the one served, and no second generation
  * exists (an empty materialize followed by a merge serves `t__b`). */
object FirstGeneration {
  def check(spark: SparkSession, tables: Seq[String]): Unit = tables.foreach { t =>
    val (a, b) = BucketedUpsert.generations(t)
    assert(BucketedUpsert.activeGen(spark, t).contains(a),
      s"'$t' serves ${BucketedUpsert.activeGen(spark, t)}, not its first generation")
    assert(!spark.catalog.tableExists(b), s"'$t' has a second generation")
  }
}
