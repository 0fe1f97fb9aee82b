package graft

import graft.sources.{BucketedUpsert, PostingsStore, StoreSentinel}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-session reuse of the persisted serving stores: a restarted
  * process has an EMPTY catalog and a POPULATED warehouse, and must
  * probe an existing consistent store without paying the corpus
  * re-ingest (`BucketedUpsert.adopt` + the StoreSentinel completed-
  * build/corpus-signature gate).
  *
  * The restart is simulated faithfully inside one JVM: the in-memory
  * session memos are forgotten (the amnesia hook) and the catalog
  * entries are dropped while the generation bytes and publish markers
  * are preserved — exactly the state a new process wakes up to. The
  * "zero rebuild" claim is asserted on BYTES: the store's file listing
  * (names + sizes) must be identical before and after the adopted
  * probe, which no upsert/materialize path can satisfy (both write
  * fresh UUID-named bucket files).
  */
class CrossSessionStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Drop a store's catalog entries while keeping its warehouse bytes
    * and publish marker — what remains of it after a process exit. */
  private def deregisterPreservingBytes(table: String): Unit = {
    val (a, b) = BucketedUpsert.generations(table)
    val moved = Seq(a, b).flatMap { g =>
      if (!spark.catalog.tableExists(g)) None
      else {
        val dir = BucketedUpsert.tableDir(spark, g)
        val tmp = dir.resolveSibling(dir.getFileName.toString + ".keep")
        java.nio.file.Files.move(dir, tmp)
        Some(dir -> tmp)
      }
    }
    spark.sql(s"DROP VIEW IF EXISTS `$table`")
    Seq(a, b).foreach(g => spark.sql(s"DROP TABLE IF EXISTS `$g`"))
    moved.foreach { case (dir, tmp) => java.nio.file.Files.move(tmp, dir) }
  }

  /** (relative path, size) of every file under warehouse dirs whose
    * name starts with `prefix` — the store's on-disk identity. */
  private def storeFiles(prefix: String): Set[(String, Long)] = {
    val wh = BucketedUpsert.markerPath(spark, "probe").getParent
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(wh)
    val roots = try listing.iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix)).toSeq
    finally listing.close()
    roots.flatMap { r =>
      if (java.nio.file.Files.isRegularFile(r))
        Seq(r.getFileName.toString -> java.nio.file.Files.size(r))
      else {
        val walk = java.nio.file.Files.walk(r)
        try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => s"${r.getFileName}/${r.relativize(f)}" -> java.nio.file.Files.size(f))
          .toSeq
        finally walk.close()
      }
    }.toSet
  }

  test("adopt re-registers bytes, bucket spec, and the replay guard") {
    import spark.implicits._
    val t = "xsess_adopt"
    BucketedUpsert.drop(spark, t)
    BucketedUpsert.materialize(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "k", 4)
    BucketedUpsert.upsert(spark, t,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"),
      Seq("k"), "k", 4, batchId = Some(7L))
    val before = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(before == Seq((1L, "a"), (2L, "b2"), (3L, "c")))

    deregisterPreservingBytes(t)
    assert(!spark.catalog.tableExists(t), "deregistration must empty the catalog")
    assert(BucketedUpsert.adopt(spark, t), "adopt must succeed from marker + bytes")
    val after = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(after == before, "adopted store must serve the pre-restart rows")

    // catalog bucket spec restored → bucket-pruned probes still legal
    val probed = BucketedUpsert.readKeys(spark, t, Seq(3L).toDF("k"), "k", 4)
      .filter(col("k") === 3L).collect()
    assert(probed.map(_.getString(1)).toSeq == Seq("c"))

    // replay guard survived the restart: the recorded (queryId=batch,
    // batchId=7) skips a redelivered batch 7
    val active = BucketedUpsert.activeGen(spark, t).get
    assert(BucketedUpsert.appliedBatch(spark, active)
      .contains((BucketedUpsert.BatchCaller, 7L)))
    BucketedUpsert.upsert(spark, t,
      Seq((3L, "MUST_NOT_APPLY")).toDF("k", "v"),
      Seq("k"), "k", 4, batchId = Some(7L))
    assert(spark.table(t).filter(col("k") === 3L).head().getString(1) == "c",
      "redelivered batch must stay a no-op across the restart")
    BucketedUpsert.drop(spark, t)
  }

  test("bm25_indexed probes an adopted postings store with zero store writes") {
    val q = SparkEntry.queries("bm25_indexed")
    val expected = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(expected.nonEmpty)
    val p = "bm25ix_" + java.lang.Integer.toHexString(sf.hashCode)

    // process restart: memo amnesia + empty catalog, bytes preserved
    Memo.forget()
    Seq("_postings", "_docs", "_stats")
      .foreach(sfx => deregisterPreservingBytes(p + sfx))
    val bytesBefore = storeFiles(p)
    assert(bytesBefore.nonEmpty, "store bytes must survive the 'restart'")

    val got = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(got == expected, "adopted probe must reproduce the built store's scores")
    assert(storeFiles(p) == bytesBefore,
      "adoption must not write a single store file — no init, no ingest, no merge")
  }

  test("embed_ann_indexed probes an adopted IVF index with zero store writes") {
    val q = SparkEntry.queries("embed_ann_indexed")
    val expected = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(expected.nonEmpty)
    val p = "ivfq_" + java.lang.Integer.toHexString(sf.hashCode)

    Memo.forget()
    Seq("_pivots", "_cells")
      .foreach(sfx => deregisterPreservingBytes(p + sfx))
    val bytesBefore = storeFiles(p)
    assert(bytesBefore.nonEmpty)

    val got = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == expected)
    assert(storeFiles(p) == bytesBefore,
      "adoption must not write a single store file")
  }

  test("lm_perplexity_fp probes adopted LM count stores with zero store writes") {
    val q = SparkEntry.queries("lm_perplexity_fp")
    val expected = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(expected.nonEmpty)
    val p = queries.LmQueries.lmTrustedPrefixName(sf)

    // process restart: memo amnesia + empty catalog, bytes preserved
    Memo.forget()
    Seq("lm_bigrams", "lm_contexts", "lm_unigrams", "lm_totals")
      .foreach(t => deregisterPreservingBytes(p + t))
    val bytesBefore = storeFiles(p)
    assert(bytesBefore.nonEmpty, "store bytes must survive the 'restart'")

    val got = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(got == expected, "adopted counts must reproduce the trained scores")
    assert(storeFiles(p) == bytesBefore,
      "adoption must not write a single store file — no init, no ingest, no merge")
  }

  test("bpe_merges reads an adopted merge table with zero store writes") {
    val q = SparkEntry.queries("bpe_merges")
    val expected = q(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(expected.nonEmpty)
    val p = queries.TextQueries.bpePrefixName(sf)

    // process restart: memo amnesia + empty catalog, bytes preserved
    Memo.forget()
    deregisterPreservingBytes(p + "merges")
    val bytesBefore = storeFiles(p)
    assert(bytesBefore.nonEmpty, "merge-table bytes must survive the 'restart'")

    val got = q(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == expected, "adopted merge table must reproduce the trained tokenizer")
    assert(storeFiles(p) == bytesBefore,
      "adoption must not write a single store file — no retrain")
  }

  test("sentinel files are scheme-versioned: an unversioned signature never matches") {
    // ADVICE r15: r15 changed the signature byte layout with no
    // version marker, so every prior sentinel mismatched SILENTLY (a
    // mass rebuild nothing documented). Sentinels now embed a scheme
    // version; a file carrying a bare (pre-v3) signature — or a future
    // scheme's — must read as "no completed build", forcing one
    // explicit re-sign instead of a quiet one.
    val p = "xsess_verstest"
    val sig = "0123456789abcdef0123456789abcdef"
    StoreSentinel.write(spark, p, sig)
    assert(StoreSentinel.matches(spark, p, sig), "same-scheme roundtrip")
    // simulate a pre-versioning sentinel: bare signature, no v-prefix
    val f = BucketedUpsert.markerPath(spark, p)
      .resolveSibling(p + ".graft_corpus")
    java.nio.file.Files.writeString(f, sig)
    assert(!StoreSentinel.matches(spark, p, sig),
      "an unversioned sentinel must not match — one-time migration rebuild")
    StoreSentinel.drop(spark, p)
  }

  test("sentinel signature: mtime-blind, content-sensitive") {
    // r13 regression: the driver regenerates the fixture corpus every
    // round with byte-identical parquet but fresh mtimes, and the old
    // (name, size, mtime) signature rebuilt every persisted store each
    // session (BENCH_r13 store_builds all `adopted: false`). The
    // signature is now content-derived: size + head/tail 4 KiB samples
    // (the parquet footer = schema + column stats lives in the tail).
    val dir = java.nio.file.Files.createTempDirectory("sig")
    dir.toFile.deleteOnExit()
    val f = dir.resolve("documents.parquet")
    val bytes = Array.tabulate[Byte](64 * 1024)(i => (i % 251).toByte)
    java.nio.file.Files.write(f, bytes)
    val s1 = StoreSentinel.corpusSignature(dir.toString, "documents.parquet")

    // a regenerated-in-place file with identical bytes (fresh mtime)
    // must keep its signature — this is the cross-round adoption case
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 123456L))
    assert(StoreSentinel.corpusSignature(dir.toString, "documents.parquet") == s1,
      "an mtime-only touch must not invalidate the store")

    // same size, different tail (where parquet keeps footer + stats)
    val tailChanged = bytes.clone(); tailChanged(bytes.length - 10) = 99
    java.nio.file.Files.write(f, tailChanged)
    val s2 = StoreSentinel.corpusSignature(dir.toString, "documents.parquet")
    assert(s2 != s1, "a tail (footer/stats) change must re-sign")

    // same size, different head (magic + first row group)
    val headChanged = bytes.clone(); headChanged(10) = 99
    java.nio.file.Files.write(f, headChanged)
    assert(StoreSentinel.corpusSignature(dir.toString, "documents.parquet") != s1,
      "a head change must re-sign")

    // different size always re-signs
    java.nio.file.Files.write(f, bytes ++ Array[Byte](1, 2, 3))
    assert(StoreSentinel.corpusSignature(dir.toString, "documents.parquet") != s1)

    // a short file (< sample window) signs without error
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    assert(StoreSentinel.corpusSignature(dir.toString, "documents.parquet").nonEmpty)
  }

  test("sentinel signature samples the whole parquet footer, not 4 KiB") {
    // ADVICE r14: a parquet footer with many columns/row groups can
    // exceed 4 KiB, so a fixed tail window could miss a changed
    // row-group stat and silently adopt a changed corpus. Build a
    // parquet-SHAPED file (trailing [footerLen][PAR1]) with an 8 KiB
    // footer and flip a byte ~6 KiB from the end — inside the footer,
    // outside the old 4 KiB window, size preserved.
    val dir = java.nio.file.Files.createTempDirectory("sigfooter")
    dir.toFile.deleteOnExit()
    val f = dir.resolve("documents.parquet")
    val n = 64 * 1024
    val footerLen = 8192
    def mk(flip: Boolean): Array[Byte] = {
      val b = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      // trailing 8 bytes: little-endian footer length + "PAR1"
      b(n - 8) = (footerLen & 0xff).toByte
      b(n - 7) = ((footerLen >> 8) & 0xff).toByte
      b(n - 6) = ((footerLen >> 16) & 0xff).toByte
      b(n - 5) = ((footerLen >> 24) & 0xff).toByte
      b(n - 4) = 'P'; b(n - 3) = 'A'; b(n - 2) = 'R'; b(n - 1) = '1'
      if (flip) b(n - 6 * 1024) = 99
      b
    }
    java.nio.file.Files.write(f, mk(flip = false))
    val s1 = StoreSentinel.corpusSignature(dir.toString, "documents.parquet")
    java.nio.file.Files.write(f, mk(flip = true))
    assert(StoreSentinel.corpusSignature(dir.toString, "documents.parquet") != s1,
      "a size-preserving change inside the footer but beyond the last " +
        "4 KiB must re-sign the store")
  }

  test("a corpus regenerated in place fails the sentinel and rebuilds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xsess_corpus")
    dir.toFile.deleteOnExit()
    def writeCorpus(n: Int): Unit =
      (0 until n).map(i => (i.toLong, "join scan filter join"))
        .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("documents.parquet").toString)

    writeCorpus(3)
    val p = queries.TextQueries.postingsPrefix(spark, dir.toString)
    assert(PostingsStore.stats(spark, p).head().getLong(0) == 3L)

    // same path, different bytes — the trap adoption must NOT fall into
    writeCorpus(5)
    Memo.forget()
    val p2 = queries.TextQueries.postingsPrefix(spark, dir.toString)
    assert(p2 == p, "prefix is path-derived, so only the sentinel can tell")
    assert(PostingsStore.stats(spark, p2).head().getLong(0) == 5L,
      "a regenerated corpus must force a rebuild, not serve stale rows")
    StoreSentinel.drop(spark, p)
    PostingsStore.drop(spark, p)
    Memo.forget()
  }
}
