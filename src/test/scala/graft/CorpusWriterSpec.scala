package graft

import graft.sources.{CorpusWriter, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The curated-dataset export sink: balanced file layout under
  * partition skew, in-file sort order for data skipping, and the
  * manifest-last publish contract. */
class CorpusWriterSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  private def tmp(): String = {
    val p = java.nio.file.Files.createTempDirectory("corpus_writer")
    p.toFile.deleteOnExit()
    p.resolve("out").toString
  }

  /** documents + deterministic 80/10/10 split (the corpus_split hash),
    * with a token count for the manifest. */
  private def corpus() = {
    val cell = graft.functions.TextOps.portableHash(
      col("doc_id").cast("string")) % 100
    Tables.documents(spark, dir)
      .withColumn("split",
        when(cell < 80, "train").when(cell < 90, "val").otherwise("test"))
      .withColumn("n_tok", size(split(trim(col("text")), " ")).cast("long"))
      .select("doc_id", "split", "lang", "n_tok", "text")
  }

  test("round-trip: published layout returns the exact input rows") {
    val path = tmp()
    val in = corpus()
    CorpusWriter.write(in, path, Seq("split", "lang"), "doc_id",
      rowsPerFile = 50, tokenCol = Some("n_tok"))
    val back = CorpusWriter.read(spark, path)
      .select("doc_id", "split", "lang", "n_tok", "text")
    assert(back.exceptAll(in).isEmpty && in.exceptAll(back).isEmpty,
      "written corpus must round-trip row-for-row")
  }

  test("layout: every partition dir gets at most ceil(n/rowsPerFile) files, all sorted") {
    val path = tmp()
    val in = corpus()
    CorpusWriter.write(in, path, Seq("split", "lang"), "doc_id",
      rowsPerFile = 50, tokenCol = Some("n_tok"))
    val expected = in.groupBy("split", "lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val root = new java.io.File(path)
    val dirs = for {
      s <- root.listFiles().toSeq if s.getName.startsWith("split=")
      l <- s.listFiles().toSeq if l.getName.startsWith("lang=")
    } yield (s.getName.stripPrefix("split="), l.getName.stripPrefix("lang="), l)
    assert(dirs.map(d => (d._1, d._2)).toSet == expected.keySet,
      "one directory per non-empty partition value")
    dirs.foreach { case (s, l, d) =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      val maxFiles = math.ceil(expected((s, l)) / 50.0).toLong
      assert(files.length >= 1 && files.length <= maxFiles,
        s"split=$s/lang=$l: ${files.length} files for ${expected((s, l))} rows (cap $maxFiles)")
      // per-FILE sort order: parquet min/max row-group stats on doc_id
      // only skip if each file is internally sorted
      files.foreach { f =>
        val ids = spark.read.parquet(f.getAbsolutePath)
          .select("doc_id").collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted by doc_id")
      }
    }
  }

  test("manifest agrees with the data and the filesystem; read refuses unpublished dirs") {
    val path = tmp()
    val in = corpus()
    CorpusWriter.write(in, path, Seq("split", "lang"), "doc_id",
      rowsPerFile = 50, tokenCol = Some("n_tok"))
    val m = CorpusWriter.manifest(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val truth = in.groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), sum("n_tok").as("t")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(m.keySet == truth.keySet)
    m.foreach { case (k, (rows, toks, files, bytes)) =>
      assert((rows, toks) == truth(k), s"$k manifest row/token counts")
      assert(files >= 1 && bytes > 0, s"$k file stats present")
    }
    // unpublished = no manifest: a reader must refuse, not see partial data
    val partial = tmp()
    corpus().limit(10).write.partitionBy("split", "lang").parquet(partial)
    val e = intercept[IllegalArgumentException] {
      CorpusWriter.read(spark, partial)
    }
    assert(e.getMessage.contains("unpublished"))
  }

  test("adversarial partition values: null, path-escaped chars, numeric-looking strings") {
    import spark.implicits._
    val path = tmp()
    // source values that break naive layouts: a NULL (null-unsafe join
    // would silently drop the rows), an '='/'%'-laden value (the writer
    // path-escapes it; the manifest must unescape to match), and a
    // numeric-looking string (partition type inference would hand back
    // an int column on read)
    val in = Seq(
      (1L, null.asInstanceOf[String], 10L),
      (2L, null.asInstanceOf[String], 11L),
      (3L, "a=b %x", 12L),
      (4L, "123", 13L),
      (5L, "123", 14L)
    ).toDF("doc_id", "source", "n_tok")
    val m = CorpusWriter.write(in, path, Seq("source"), "doc_id",
      rowsPerFile = 10, tokenCol = Some("n_tok"))
    val back = CorpusWriter.read(spark, path).select("doc_id", "source", "n_tok")
    assert(back.schema("source").dataType == org.apache.spark.sql.types.StringType,
      "read pins the written schema — no partition type inference")
    assert(back.exceptAll(in).isEmpty && in.exceptAll(back).isEmpty,
      "null and escaped partition values round-trip without loss")
    val rows = m.collect().map(r =>
      Option(r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(None) == ((2L, 21L, 1L)), "null partition counted and on disk")
    assert(rows(Some("a=b %x"))._1 == 1L && rows(Some("a=b %x"))._3 == 1L,
      "escaped partition dir matched back to its data-side value")
    assert(rows(Some("123")) == ((2L, 27L, 1L)))
  }

  test("bpe packed-token shards publish through the sink and round-trip exactly") {
    val path = tmp()
    // the pack_sequences_bpe frame, dealt into 8 training shards — the
    // (seq_id, position, token_id) files a data loader reads
    val in = graft.queries.PackingQueries.bpePackedTokens(spark, dir)
      .withColumn("shard", expr("seq_id % 8"))
    CorpusWriter.write(in, path, Seq("shard"), "seq_id",
      rowsPerFile = 100000L)
    val back = CorpusWriter.read(spark, path)
      .select("seq_id", "position", "token_id", "shard")
    val inSel = in.select("seq_id", "position", "token_id", "shard")
    assert(back.exceptAll(inSel).isEmpty && inSel.exceptAll(back).isEmpty,
      "published token shards must round-trip row-for-row")
    // manifest pin: one row per non-empty shard, row totals = the
    // corpus's full packed token count
    val m = CorpusWriter.manifest(spark, path)
    val nShards = m.count()
    assert(nShards >= 1 && nShards <= 8, s"$nShards shard rows")
    assert(m.agg(sum("n_rows")).collect()(0).getLong(0) == inSel.count(),
      "manifest row totals must equal the packed token count")
  }

  test("end to end: corpus_assemble -> CorpusWriter -> read matches the selection") {
    val path = tmp()
    val selected = SparkEntry.queries("corpus_assemble")(spark, dir)
    val in = selected
      .join(Tables.documents(spark, dir).select("doc_id", "lang", "text"), Seq("doc_id"))
      .select("doc_id", "source", "lang", "score", "n_tok", "text")
    val m = CorpusWriter.write(in, path, Seq("source"), "doc_id",
      rowsPerFile = 20, tokenCol = Some("n_tok"))
    assert(m.agg(sum("n_rows")).head().getLong(0) == selected.count(),
      "manifest covers exactly the assembled selection")
    val back = CorpusWriter.read(spark, path)
      .select("doc_id", "source", "lang", "score", "n_tok", "text")
    assert(back.exceptAll(in).isEmpty && in.exceptAll(back).isEmpty,
      "the curated corpus on disk is the assembled selection, exactly")
  }

  test("diff: manifest-level version gate classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val (v1Path, v2Path) = (tmp(), tmp())
    val v1 = Seq(
      (1L, "en", 10L), (2L, "en", 11L),         // unchanged
      (3L, "de", 12L),                           // row added in v2 → changed
      (4L, "fr", 13L),                           // removed in v2
      (5L, null.asInstanceOf[String], 14L),      // null partition, tokens move
      (6L, "zh", 15L)                            // token count moves, rows same
    ).toDF("doc_id", "lang", "n_tok")
    val v2 = Seq(
      (1L, "en", 10L), (2L, "en", 11L),
      (3L, "de", 12L), (30L, "de", 9L),
      (5L, null.asInstanceOf[String], 99L),
      (6L, "zh", 16L),
      (7L, "es", 20L)                            // new partition
    ).toDF("doc_id", "lang", "n_tok")
    CorpusWriter.write(v1, v1Path, Seq("lang"), "doc_id", tokenCol = Some("n_tok"))
    CorpusWriter.write(v2, v2Path, Seq("lang"), "doc_id", tokenCol = Some("n_tok"))

    val d = CorpusWriter.diff(spark, v1Path, v2Path).collect()
      .map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(d == Map(
      Some("en") -> "unchanged",
      Some("de") -> "changed",
      Some("fr") -> "removed",
      Some("es") -> "added",
      Some("zh") -> "changed",
      None -> "changed"), d.toString)

    // self-diff is all-unchanged — the gate passes a republish of
    // identical data
    val self = CorpusWriter.diff(spark, v1Path, v1Path)
    assert(self.filter(col("status") =!= "unchanged").count() == 0)
  }

  test("assemble -> export -> grow -> re-export -> diff is the release gate") {
    val (v1, v2) = (tmp(), tmp())
    val selected = SparkEntry.queries("corpus_assemble")(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "text"), Seq("doc_id"))
      .select("doc_id", "source", "score", "n_tok", "text")
    CorpusWriter.write(selected, v1, Seq("source"), "doc_id",
      rowsPerFile = 100, tokenCol = Some("n_tok"))

    // v2: one source gains a doc (changed), one vanishes (removed)
    val grown = selected
      .filter(col("source") =!= selected.select(min("source")).head().getString(0))
      .unionByName(selected.limit(1)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    CorpusWriter.write(grown, v2, Seq("source"), "doc_id",
      rowsPerFile = 100, tokenCol = Some("n_tok"))

    val d = CorpusWriter.diff(spark, v1, v2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d.values.exists(_ == "removed"), d.toString)
    assert(d.values.exists(_ == "changed"), d.toString)
    assert(d.values.count(_ == "unchanged") > 0, d.toString)
    // the gate answers the release question: what moved, without
    // scanning either corpus
    val drift = CorpusWriter.diff(spark, v1, v2)
      .filter(col("status") === "changed")
      .select(sum(col("rows_new") - col("rows_old"))).head().getLong(0)
    assert(drift == 1L, s"one added doc must surface as +1 row, got $drift")
  }
}
