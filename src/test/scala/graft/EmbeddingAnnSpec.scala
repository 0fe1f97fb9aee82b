package graft

import graft.queries.EmbeddingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-probe LSH recall: measured against the exact brute-force
  * top-k. Multi-probe candidates are a superset of single-probe's and
  * both rank exact cosine, so recall(multi) ≥ recall(single) must hold
  * on ANY data; the crafted plane-straddling pair shows the strict
  * improvement mode. */
class EmbeddingAnnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Seeded clustered vectors: 8 cluster centers, 25 points each,
    * dim 16. Near neighbors mostly share sign patterns; noise puts a
    * fraction across one plane — the multi-probe target. */
  private def data: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(8, 16)(rnd.nextDouble() * 2 - 1)
    (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextGaussian() * 0.3).toSeq)
    }.toDF("vec_id", "emb")
  }

  private def exactTopK(df: DataFrame, k: Int): DataFrame = {
    val q = df.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    q.crossJoin(df.select(col("vec_id").as("neighbor_id"), col("emb")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", graft.functions.expressions.CosineSimilarity(
        col("qemb"), col("emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-probe recall >= single-probe recall vs the exact baseline") {
    val d = data
    val exact = pairs(exactTopK(d, 3))
    val single = pairs(EmbeddingQueries.annTopK(d, col("vec_id") < 20, 3))
    val multi = pairs(EmbeddingQueries.annTopK(d, col("vec_id") < 20, 3,
      multiProbe = true))
    val rs = (single intersect exact).size.toDouble / exact.size
    val rm = (multi intersect exact).size.toDouble / exact.size
    info(f"recall single-probe=$rs%.3f multi-probe=$rm%.3f (${exact.size} exact pairs)")
    assert(rm >= rs)
    assert(rm >= 0.5, s"multi-probe recall $rm unexpectedly low")
  }

  test("IVF probing beats its own single-cell recall") {
    val d = data
    val exact = pairs(exactTopK(d, 3))
    val one = pairs(EmbeddingQueries.ivfTopK(d, col("vec_id") < 20, 3, nProbe = 1))
    val two = pairs(EmbeddingQueries.ivfTopK(d, col("vec_id") < 20, 3, nProbe = 2))
    val r1 = (one intersect exact).size.toDouble / exact.size
    val r2 = (two intersect exact).size.toDouble / exact.size
    info(f"IVF recall nprobe=1: $r1%.3f  nprobe=2: $r2%.3f")
    assert(r2 >= r1)
    assert(r2 >= 0.4, s"IVF recall $r2 unexpectedly low")
  }

  test("k-means-trained IVF: recall measured against pivot IVF and exact") {
    val d = data.cache()
    try {
      val exact = pairs(exactTopK(d, 3))
      val pivot = pairs(EmbeddingQueries.ivfTopK(d, col("vec_id") < 20, 3, nProbe = 2))
      val trained = pairs(EmbeddingQueries.ivfTopKWith(d,
        EmbeddingQueries.kmeansPivots(d, k = 8, iters = 2),
        col("vec_id") < 20, 3, nProbe = 2))
      val rp = (pivot intersect exact).size.toDouble / exact.size
      val rt = (trained intersect exact).size.toDouble / exact.size
      info(f"IVF recall pivot=$rp%.3f kmeans-trained=$rt%.3f (k=8 on 8 true clusters)")
      // 8 trained centroids on 8 planted clusters must carve cells that
      // rank well; the id-ordered pivots have no such guarantee
      assert(rt >= 0.5, s"trained-IVF recall $rt unexpectedly low")
      assert(rt >= rp - 0.05, s"training made recall worse: $rt < $rp")
    } finally d.unpersist()
  }

  test("PQ: exact re-rank of the ADC shortlist recovers the recall ADC alone loses") {
    val d = data.cache()
    try {
      val exact = pairs(exactTopK(d, 3))
      val adcOnly = pairs(EmbeddingQueries.pqTopK(d, col("vec_id") < 20,
        k = 3, m = 4, kCode = 16, iters = 1))
      val reranked = EmbeddingQueries.pqTopK(d, col("vec_id") < 20,
        k = 3, m = 4, kCode = 16, iters = 1, rerank = 12)
      val got = pairs(reranked)
      val rAdc = (adcOnly intersect exact).size.toDouble / exact.size
      val rRr = (got intersect exact).size.toDouble / exact.size
      info(f"PQ recall@3: ADC-only=$rAdc%.3f, reranked(12)=$rRr%.3f")
      // ADC collapses within-cluster distinctions (shared codes tie);
      // the exact re-rank of a 4x shortlist must restore most of them
      assert(rRr >= 0.7, s"reranked-PQ recall $rRr unexpectedly low")
      assert(rRr >= rAdc, "re-ranking must not lose recall")
      // every query returns exactly k ranked rows
      val counts = reranked.groupBy(col("query_id")).count()
        .select(col("count")).distinct().collect().map(_.getLong(0)).toSet
      assert(counts == Set(3L))
      // scores are rounded before ranking → stable across partitionings
      val again = pairs(EmbeddingQueries.pqTopK(d.repartition(7),
        col("vec_id") < 20, k = 3, m = 4, kCode = 16, iters = 1, rerank = 12))
      assert(again == got, "PQ ranking must not depend on partitioning")
    } finally d.unpersist()
  }

  test("embed_outliers: contiguous per-source ranks, outliers are the farthest members") {
    val out = SparkEntry.queries("embed_outliers")(spark, "/root/testdata/sf0.001").cache()
    try {
      // outlier_rank is a permutation of 1..n within every source
      val badRanks = out.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), max(col("outlier_rank")).as("mx"),
          countDistinct(col("outlier_rank")).as("d"))
        .filter(col("mx") =!= col("n") || col("d") =!= col("n")).count()
      assert(badRanks == 0, "ranks must be dense and unique per source")
      // no flagged outlier sits closer to the centroid than a kept member
      val worstKept = out.filter(!col("is_outlier"))
        .groupBy(col("source")).agg(min(col("cos_centroid")).as("min_kept"))
      val bestOut = out.filter(col("is_outlier"))
        .groupBy(col("source")).agg(max(col("cos_centroid")).as("max_out"))
      val inverted = bestOut.join(worstKept, Seq("source"))
        .filter(col("max_out") > col("min_kept")).count()
      assert(inverted == 0, "outliers must be the lowest-cosine members")
    } finally out.unpersist()
  }

  test("k-means training drops empty clusters but keeps centroid count <= k") {
    val d = data
    val cents = EmbeddingQueries.kmeansPivots(d, k = 8, iters = 3).collect()
    assert(cents.length <= 8 && cents.length >= 2)
    // centroids are full-width vectors (the posexplode rebuild kept order)
    assert(cents.forall(_.getSeq[Double](1).length == 16))
  }

  test("int8-quantized cosine ranking preserves top-k recall") {
    val d = data
    val scale = array_max(transform(col("emb"), x => abs(x))) / 127.0
    val deq = d.withColumn("scale", scale)
      .withColumn("emb",
        transform(col("emb"), x => round(x / col("scale")) * col("scale")))
      .select(col("vec_id"), col("emb"))
    val exact = pairs(exactTopK(d, 3))
    val quant = pairs(exactTopK(deq, 3))
    val r = (quant intersect exact).size.toDouble / exact.size
    info(f"quantized-ranking recall vs float = $r%.3f")
    assert(r >= 0.8, s"int8 quantization degraded recall to $r")
  }

  test("a neighbor straddling ONE plane is recovered only by multi-probe") {
    import spark.implicits._
    // query 0 and vec 100 differ only in the sign of dim 0 (one plane);
    // vec 101 is a same-bucket but less similar neighbor.
    val base = Seq.fill(15)(0.8) // dims 2-16 identical
    val d = Seq(
      (0L, 0.1 +: base),
      (100L, -0.1 +: base), // across plane 0, nearly identical
      (101L, 0.9 +: base.map(_ * 0.2))) // same bucket as query, far
      .toDF("vec_id", "emb")
    val single = pairs(EmbeddingQueries.annTopK(d, col("vec_id") === 0, 1))
    val multi = pairs(EmbeddingQueries.annTopK(d, col("vec_id") === 0, 1,
      multiProbe = true))
    assert(single == Set((0L, 101L))) // best true neighbor invisible
    assert(multi == Set((0L, 100L))) // recovered via the flipped probe
  }

  test("fixed-point IVF: trained quantizer keeps recall vs the exact integer-L2 baseline") {
    val sf = "/root/testdata/sf0.001"
    val got = pairs(SparkEntry.queries("embed_ann_ivf_fp")(spark, sf))
    // exact baseline in the SAME metric space: brute-force integer
    // squared-L2 over the identically quantized vectors
    val S = 1L << 20
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * S).cast("long")).as("q"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d_fp"), col("neighbor_id"))
    val exact = pairs(q.crossJoin(
        e.select(col("vec_id").as("neighbor_id"), col("q")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d_fp", aggregate(
        zip_with(col("qq"), col("q"), (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id")))
    val recall = (got intersect exact).size.toDouble / exact.size
    info(f"fixed-point IVF recall@3 vs exact: $recall%.3f (${exact.size} pairs)")
    assert(recall >= 0.5, s"fixed-point IVF recall $recall unexpectedly low")
  }

  test("fixed-point PQ: ADC shortlist + exact re-rank keeps recall vs the integer baseline") {
    val sf = "/root/testdata/sf0.001"
    val got = pairs(SparkEntry.queries("embed_ann_pq_fp")(spark, sf))
    val S = 1L << 20
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * S).cast("long")).as("q"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d_fp"), col("neighbor_id"))
    val exact = pairs(q.crossJoin(
        e.select(col("vec_id").as("neighbor_id"), col("q")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d_fp", graft.functions.expressions.L2DistanceFp(
        col("qq"), col("q")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id")))
    val recall = (got intersect exact).size.toDouble / exact.size
    info(f"fixed-point PQ (ADC+R) recall@3 vs exact: $recall%.3f (${exact.size} pairs)")
    assert(recall >= 0.5, s"fixed-point PQ recall $recall unexpectedly low")
  }

  test("semantic dedup: kept/dropped partition the corpus; dominators precede") {
    // unpersist in finally: a leaked cache of a REGISTERED query's
    // result makes every later identically-planned build of that
    // query resolve to an InMemoryRelation leaf — which blinded
    // PlanAuditSpec's logical-plan checks to the join tree whenever
    // this suite happened to run first (order-dependent flake)
    val out = SparkEntry.queries("dedup_semantic")(
      spark, "/root/testdata/sf0.001").cache()
    try {
      val total = graft.sources.Tables.embeddings(
        spark, "/root/testdata/sf0.001").count()
      assert(out.count() == total, "one verdict per vector")
      // kept ⇔ no dominator recorded; a dominator is always a LOWER id
      // in the SAME cell (checked via self-join on the output)
      assert(out.filter(col("kept") =!= col("dup_of").isNull).count() == 0)
      val dropped = out.filter(!col("kept"))
      assert(dropped.count() > 0, "fixture must contain semantic near-dups")
      assert(dropped.filter(col("dup_of") >= col("vec_id")).count() == 0)
      val cellOf = out.select(col("vec_id").as("dup_of"), col("cell").as("dom_cell"))
      assert(dropped.join(cellOf, Seq("dup_of"))
        .filter(col("cell") =!= col("dom_cell")).count() == 0,
        "dominators must share the dropped vector's cell")
    } finally out.unpersist()
  }

  test("semantic dedup assignment tie-break: equal pivot cosines resolve to the LOWER pid") {
    import spark.implicits._
    // The r20 rewrite replaced the assignment's row_number() over
    // (psim DESC, pid ASC) with max_by(pid, struct(psim, -pid)) —
    // equivalence rests on the tie-break resolving identically. This
    // plants the hardest case: pivots 3 and 7 are the SAME vector
    // (e3), so every vector's cosine to them is bitwise-equal and the
    // (psim, pid) tie actually fires — the winner must be pid 3 for
    // pivot 7 itself and for the four e3-adjacent vectors, and the
    // dominance verdicts must follow cell 3 (dup_of = 3), exactly the
    // derivation the oracle's row_number CTE replays.
    val dim = 16
    def basis(i: Int): Array[Float] =
      Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    val pivots = (0L until 16L).map { i =>
      (i, basis(if (i == 7L) 3 else i.toInt), 0)
    }
    val near = (16L until 20L).map { i =>
      val e = basis(3)
      // distinct tiny off-axis components (indices 4..7, never 3)
      // keep the four vectors distinct while e3 stays their dominant
      // direction
      e((i - 12).toInt) = 0.01f * (i - 14)
      (i, e, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("semtie_fix")
    dir.toFile.deleteOnExit()
    (pivots ++ near).toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite")
      .parquet(dir.resolve("embeddings.parquet").toString)
    val out = SparkEntry.queries("dedup_semantic")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .toMap
    // pivot 7 ties (psim = 1.0 to pids 3 and 7) -> cell 3, dominated
    // by pivot 3 (cosine exactly 1.0 >= tau)
    assert(out(7L) == ((3L, 3L, false)), s"pivot 7: ${out(7L)}")
    // the e3-adjacent vectors tie the same way and take the same
    // dominator (3 is the minimum qualifying cellmate)
    (16L until 20L).foreach { i =>
      assert(out(i) == ((3L, 3L, false)), s"vec $i: ${out(i)}")
    }
    // pivot 3 keeps its cell and survives (no lower-id cellmate)
    assert(out(3L) == ((3L, -1L, true)), s"pivot 3: ${out(3L)}")
    // every other pivot sits alone in its own cell, kept
    (0L until 16L).filter(i => i != 3L && i != 7L).foreach { i =>
      assert(out(i) == ((i, -1L, true)), s"pivot $i: ${out(i)}")
    }
    graft.Memo.clearAll()
  }

  test("kNN labeling: planted clusters vote unanimously and correctly") {
    import spark.implicits._
    // two well-separated dim-64 clusters; labels follow the cluster.
    // vec_ids 0..15 seed the quantizer from BOTH clusters (parity
    // split), held-out queries are %10==0; jitter is deterministic
    // and tiny vs the 1.0 inter-cluster gap.
    val rows = (0L until 40L).map { i =>
      val lbl = (i % 2).toInt
      val base = if (lbl == 0) 0.5f else -0.5f
      val emb = Array.tabulate(64)(j =>
        base + 0.001f * (((i * 7 + j * 13) % 11).toInt - 5))
      (i, emb, lbl)
    }
    val dir = java.nio.file.Files.createTempDirectory("knn_fix")
    dir.toFile.deleteOnExit()
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite")
      .parquet(dir.resolve("embeddings.parquet").toString)
    val got = SparkEntry.queries("embed_knn_label_fp")(spark, dir.toString)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))
    assert(got.map(_._1).toSet == Set(0L, 10L, 20L, 30L),
      "every held-out query must be labeled")
    assert(got.forall(_._5), s"planted clusters must classify perfectly: $got")
    // cells are cluster-pure, so the winning vote is unanimous over
    // however many candidates the 2 probed cells held (16 seed cells
    // over 40 vectors leaves some cells sparse — k=5 is a cap)
    assert(got.forall(g => g._3 >= 1L && g._3 <= 5L))
    graft.Memo.clearAll()
  }

  test("MMR: greedy selection matches a driver-side reference; diversity beats redundancy") {
    import spark.implicits._
    // query = vec 0 at the origin; vecs 1-3 a near-duplicate cluster
    // closest to the query; 4 and 5 genuinely different directions,
    // slightly farther. Plain top-3 would return the whole dup
    // cluster; MMR must interleave the diverse points.
    def v(x: Double, y: Double) =
      Array.tabulate(64)(j => if (j == 0) x.toFloat else if (j == 1) y.toFloat else 0.0f)
    val rows = Seq(
      (0L, v(0.0, 0.0), 0), (1L, v(0.10, 0.0), 0), (2L, v(0.101, 0.0), 0),
      (3L, v(0.102, 0.0), 0), (4L, v(-0.11, 0.0), 0), (5L, v(0.0, 0.12), 0))
    val dir = java.nio.file.Files.createTempDirectory("mmr_fix")
    dir.toFile.deleteOnExit()
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite")
      .parquet(dir.resolve("embeddings.parquet").toString)
    val got = SparkEntry.queries("embed_mmr_topk_fp")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    // driver-side reference: same quantization, same greedy rule
    val q = rows.map { case (id, e, _) =>
      id -> e.map(x => math.floor(x * (1L << 20)).toLong)
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val dq = rows.filter(_._1 != 0L)
      .map { case (id, _, _) => id -> l2(q(id), q(0L)) }.toMap
    val sl = dq.toSeq.sortBy { case (id, d) => (d, id) }.take(12)
    var sel = List(sl.head._1)
    var rest = sl.tail.map(_._1)
    while (sel.size < 5 && rest.nonEmpty) {
      val pick = rest.map { id =>
        val md = sel.map(s => l2(q(id), q(s))).min
        (id, md - dq(id))
      }.maxBy { case (id, sc) => (sc, -id) }._1
      sel = sel :+ pick
      rest = rest.filterNot(_ == pick)
    }
    val want = sel.zipWithIndex.map { case (id, i) =>
      (i + 1L, id, dq(id))
    }
    assert(got.toSeq == want, s"engine MMR must equal reference: $got vs $want")
    // diversity: the 2nd pick is NOT from the duplicate cluster
    assert(!Set(2L, 3L).contains(got(1)._2),
      s"second pick must be a diverse point, got ${got(1)._2}")
    graft.Memo.clearAll()
  }

  test("kNN labeling on the driver corpus: one verdict per query, votes within k") {
    val out = SparkEntry.queries("embed_knn_label_fp")(
      spark, "/root/testdata/sf0.01").cache()
    try {
      assert(out.count() == 50, "one row per held-out vec_id % 10 == 0")
      assert(out.filter(col("n_votes") < 1 || col("n_votes") > 5).count() == 0)
      assert(out.select(col("query_id")).distinct().count() == 50)
    } finally out.unpersist()
  }
}
