package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per JVM for all suites, built by the
  * shipped factory so specs plan under the product's settings
  * (GraftExtensions, so SQL-surface tests — hll_*, bloom_*, simhash,
  * ... — resolve regardless of which suite creates the session first;
  * the registry-sized codegen cache; the runtime-bloom cap). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
