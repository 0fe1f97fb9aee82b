package graft

import org.apache.spark.sql.SparkSession

/** The engine's persisted serving stores, built one by one under the
  * names its own bench reports them by. The builders are package-private
  * to the engine, so this file sits in the engine's package. */
object StoreBuilds {
  val names: Seq[String] = Seq("bm25_postings", "ivf_cells", "pq_codes",
    "lm_trusted_counts", "lm_full_counts", "bpe_merges_table")

  def build(spark: SparkSession, sf: String, name: String): Unit = name match {
    case "bm25_postings" => queries.TextQueries.postingsPrefix(spark, sf)
    case "ivf_cells" => queries.EmbeddingQueries.ivfIndexPrefix(spark, sf)
    case "pq_codes" => queries.EmbeddingQueries.pqIndexPrefix(spark, sf)
    case "lm_trusted_counts" => queries.LmQueries.lmTrustedStore(spark, sf)
    case "lm_full_counts" => queries.LmQueries.lmFullStore(spark, sf)
    case "bpe_merges_table" => queries.TextQueries.bpeStorePrefix(spark, sf)
  }
}
