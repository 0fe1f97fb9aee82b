package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level semantics for the linkage family (the sf0.01/sf0.1
  * DuckDB hash gate is the primary correctness check; these pin the
  * properties the gate can't see).
  */
class LinkageQueriesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  test("dedup_title_edit: every exact-title duplicate pair is recovered at dist 0") {
    import spark.implicits._
    // exact-title dups share tokens 1-2 AND 3-4, so BOTH block passes
    // see them — the weakest recall floor multi-pass blocking promises
    val t = split(trim(col("text")), " ")
    val titles = graft.sources.Tables.documents(spark, sf)
      .filter(size(t) >= 6)
      .select(col("doc_id"), concat_ws(" ", slice(t, 1, 6)).as("title"))
    val exactPairs = titles.as("a").join(titles.as("b"),
        col("a.title") === col("b.title") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .as[(Long, Long)].collect().toSet
    val got = SparkEntry.queries("dedup_title_edit")(spark, sf)
      .filter(col("dist") === 0)
      .select(col("d1"), col("d2")).as[(Long, Long)].collect().toSet
    assert(exactPairs.nonEmpty, "fixture must contain exact-title dup pairs")
    assert(got == exactPairs,
      s"blocking must not lose exact-title pairs: missing=${exactPairs -- got}")
  }

  test("dedup_containment: a doc quoted inside a longer doc scores 1.0 one way") {
    import spark.implicits._
    // B = A plus a long unique tail: C(A→B) = 1.0, while J stays low
    // (the regime symmetric Jaccard thresholds miss)
    val a = (1 to 8).map(i => s"q$i").mkString(" ")
    val b = a + " " + (1 to 30).map(i => s"u$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("contain_fix")
    dir.toFile.deleteOnExit()
    Seq((1L, a), (2L, b)).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    // finally: the shingle/ngram memos key on the temp dir — a failed
    // assert must not leave their frames pinned for the rest of the
    // suite (the StreamingBasketSpec pattern)
    try {
      val got = SparkEntry.queries("dedup_containment")(spark, dir.toString)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == Set((1L, 2L, 1.0)),
        s"containment must be directional (contained, container): $got")
    } finally graft.Memo.clearAll()
  }

  test("community_lpa: two cliques joined by one bridge edge resolve to two communities") {
    import spark.implicits._
    def clique(ids: Seq[String]) = for {
      a <- ids; b <- ids if a != b
    } yield (a, b)
    val edges = (clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) ++
      Seq(("a4", "b1"), ("b1", "a4"))).toDF("src", "dst")
    val labels = queries.LinkageQueries.lpa(edges, 3)
      .as[(String, String)].collect().toMap
    assert(Set("a1", "a2", "a3", "a4").map(labels) .size == 1,
      s"clique A must agree on one label: $labels")
    assert(Set("b2", "b3", "b4").map(labels).size == 1,
      s"clique B's interior must agree on one label: $labels")
    assert(labels("a1") != labels("b2"),
      s"the bridge must not merge the cliques in 3 rounds: $labels")
  }

  test("lpaRound min_by vote equals the window argmax on a planted exact tie") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // node x hears each of lz/la twice — an EXACT vote tie, so the
    // winner is decided purely by the (c DESC, lbl ASC) tie-break the
    // r21 min_by(lbl, struct(-c, lbl)) rewrite must reproduce; node y
    // has a strict majority to pin the non-tie path too.
    val edges = Seq(
      ("n1", "x"), ("n2", "x"), ("n3", "x"), ("n4", "x"),
      ("m1", "y"), ("m2", "y"), ("m3", "y")).toDF("src", "dst")
    val labels = Seq(
      ("n1", "lz"), ("n2", "lz"), ("n3", "la"), ("n4", "la"),
      ("m1", "lb"), ("m2", "lb"), ("m3", "lc")).toDF("node", "lbl")
    val got = queries.LinkageQueries.lpaRound(edges, labels)
      .as[(String, String)].collect().toMap
    assert(got == Map("x" -> "la", "y" -> "lb"),
      s"tie must break to the LEAST label, majority must win: $got")
    // and bit-for-bit against the pre-r21 window formulation
    val votes = edges
      .join(labels.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("dst").as("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("node")).orderBy(col("c").desc, col("lbl"))
    val legacy = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("node"), col("lbl"))
      .as[(String, String)].collect().toMap
    assert(got == legacy, "min_by vote must equal the window argmax")
  }

  test("community_lpa is deterministic across runs on the trade graph") {
    val r1 = SparkEntry.queries("community_lpa")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val r2 = SparkEntry.queries("community_lpa")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(r1 == r2, "min-tie-break LPA must replay bit-identically")
    assert(r1.nonEmpty)
  }

  test("feature_hashing: buckets stay in [0, 64) and |v| is bounded by the doc's token count") {
    val fh = SparkEntry.queries("feature_hashing")(spark, sf)
    assert(fh.filter(col("bucket") < 0 || col("bucket") >= 64).count() == 0)
    val t = split(trim(col("text")), " ")
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(t).cast("long").as("ntok"))
    val bad = fh.groupBy("doc_id").agg(sum(abs(col("v"))).as("mass"))
      .join(toks, Seq("doc_id"))
      .filter(col("mass") > col("ntok"))
    // signed sums can cancel but never exceed the occurrence count
    assert(bad.count() == 0, "per-doc signed mass must be <= token count")
  }
}
