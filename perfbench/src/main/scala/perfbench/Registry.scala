package perfbench

import graft.SparkEntry
import graft.queries._

/** The registry slice the traced run times, and the memo and store
  * names it builds one by one. */
object Registry {

  val ModuleObjects: Seq[(String, QueryModule)] = Seq(
    "EventQueries" -> EventQueries, "RelationalQueries" -> RelationalQueries,
    "TextQueries" -> TextQueries, "PackingQueries" -> PackingQueries,
    "EmbeddingQueries" -> EmbeddingQueries, "MultimodalQueries" -> MultimodalQueries,
    "QualityQueries" -> QualityQueries, "LmQueries" -> LmQueries,
    "AnalyticsQueries" -> AnalyticsQueries, "LinkageQueries" -> LinkageQueries)

  val Modules: Seq[String] = ModuleObjects.map(_._1)

  val Memos: Seq[String] = Seq("per_user_aggs", "trade_edges", "shingle_rows",
    "minhash_pairs", "dedup_cluster_labels", "ngram_shared", "winnow_select",
    "bpe_merges", "embed_vecs", "lm_trusted", "lm_full", "basket_pairs")

  val Stores: Seq[String] = graft.StoreBuilds.names

  /** The timed slice: from each module, the oracle-checked queries in
    * name order, minus those served from a persisted store, and of
    * those the middle one. A full registry pass takes about a minute on
    * four cores, more than one run can afford; one query per module
    * keeps every module and the per-query fixed cost in view. */
  lazy val slice: Seq[(String, Q)] = {
    val oracle = SparkEntry.oracleSql.keySet
    ModuleObjects.map { case (m, mod) =>
      val qs = mod.all.filter(q => oracle(q.name) && !q.name.contains("indexed")).sortBy(_.name)
      m -> qs(qs.size / 2)
    }
  }

  /** Order-independent content hash of a query result: rows rendered
    * with columns in name order and doubles rounded to 6 decimals,
    * sorted, then SHA-256. */
  def contentHash(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      .map(r => canon(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }
}
