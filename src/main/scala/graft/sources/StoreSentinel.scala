package graft.sources

import org.apache.spark.sql.SparkSession

/** Build-completion sentinel for DERIVED multi-table stores (postings,
  * IVF cells, PQ codes): a tiny `<warehouse>/<prefix>.graft_corpus`
  * file recording a signature of the SOURCE corpus the store was built
  * from, written only AFTER a full build finishes.
  *
  * It answers the two questions [[BucketedUpsert.adopt]] alone cannot:
  *
  *  1. *Did the build complete?* Each table's publish marker is
  *     per-table; a crash mid-build leaves some tables published and
  *     others empty. The sentinel is written last, so its presence
  *     means every ingest step ran to completion (the
  *     membership-written-last idea, lifted to whole-store grain).
  *  2. *Is it THIS corpus?* Store prefixes are derived from the corpus
  *     PATH; a fixture regenerated in place keeps its path. The
  *     signature hashes each corpus file's (name, size, head sample,
  *     parquet footer), so a corpus whose DATA changed fails the
  *     match and the store rebuilds instead of silently serving
  *     stale rows — while a byte-identical regeneration (fresh
  *     mtimes) still adopts.
  *
  * On a real deployment the same record lives in the table format's
  * snapshot metadata (a Delta/Iceberg commit carrying the source
  * version); here it is a one-line file with the RunManifest
  * atomic-move contract.
  */
object StoreSentinel {

  private def path(spark: SparkSession, prefix: String): java.nio.file.Path =
    BucketedUpsert.markerPath(spark, prefix)
      .resolveSibling(prefix + ".graft_corpus")

  /** Bytes sampled from the head of every corpus file (and the tail
    * of non-parquet files) for the signature. */
  private val SampleBytes = 4096

  /** Ceiling on the parquet-footer tail sample — a footer is
    * metadata-sized (KBs to low MBs even for very wide tables); the
    * cap only guards against a corrupt/hostile length field. */
  private val MaxFooterBytes = 16L * 1024 * 1024

  /** Read until `buf` is full or EOF — FileChannel.read may return
    * short (NFS/fuse/object-store mounts do this routinely), and a
    * partial read would make the same file hash differently across
    * sessions, forcing the spurious full re-ingest the signature
    * exists to prevent. */
  private def readFully(ch: java.nio.channels.FileChannel,
                        buf: java.nio.ByteBuffer, pos0: Long): Unit = {
    var pos = pos0
    var n = 0
    while (buf.hasRemaining && n >= 0) {
      n = ch.read(buf, pos)
      if (n > 0) pos += n
    }
  }

  /** Signature of the corpus files a store derives from: md5 over the
    * sorted (relative-name, size, head+tail sample) listing of each
    * named entry under `dir`.
    *
    * CONTENT-derived on purpose — mtime is excluded (r13 regression):
    * the fixture corpus is regenerated in place every round with
    * byte-identical parquet but fresh mtimes, and an mtime-bearing
    * signature rebuilt every store each session (`adopted: false`
    * across BENCH_r13) — at 100 TB, "rebuild the index because a
    * timestamp moved" is an outage. Size + the first 4 KiB + the
    * WHOLE parquet footer of each file (schema + every row group's
    * per-column min/max stats — a mid-file data change that preserves
    * size still moves a row-group stat) changes whenever the data
    * does, and survives regeneration, rsync, and object-store copies
    * that do not preserve mtime. Cost: a few bounded reads per file —
    * low GBs of driver I/O for a 100k-file 100 TB corpus, vs the full
    * re-ingest a false mismatch forces. */
  def corpusSignature(dir: String, names: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sample(f: java.nio.file.Path): String = {
      val size = java.nio.file.Files.size(f)
      val ch = java.nio.channels.FileChannel.open(
        f, java.nio.file.StandardOpenOption.READ)
      try {
        val head = java.nio.ByteBuffer.allocate(
          math.min(SampleBytes.toLong, size).toInt)
        readFully(ch, head, 0L)
        // Tail sample: for a parquet file, the WHOLE footer (its
        // length sits in the 8 trailing bytes before the "PAR1"
        // magic) — the footer carries schema + every row group's
        // per-column min/max stats, so any data change moves it; a
        // fixed 4 KiB tail can stop short of the stats on wide
        // many-row-group files, silently adopting a changed corpus.
        // Non-parquet (or corrupt-length) files fall back to 4 KiB.
        val tailLen: Long = {
          val magic = java.nio.ByteBuffer.allocate(8)
          if (size >= 12) readFully(ch, magic, size - 8)
          val isParquet = magic.position() == 8 &&
            magic.get(4) == 'P' && magic.get(5) == 'A' &&
            magic.get(6) == 'R' && magic.get(7) == '1'
          if (isParquet) {
            val footer = magic.order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(0).toLong
            if (footer > 0 && footer + 8 <= math.min(size, MaxFooterBytes)) footer + 8
            else SampleBytes.toLong
          } else SampleBytes.toLong
        }
        val tail = java.nio.ByteBuffer.allocate(math.min(tailLen, size).toInt)
        readFully(ch, tail, math.max(0L, size - tail.capacity()))
        val h = java.security.MessageDigest.getInstance("MD5")
        h.update(head.array, 0, head.position())
        h.update(tail.array, 0, tail.position())
        h.digest().map("%02x".format(_)).mkString
      } finally ch.close()
    }
    val parts = names.sorted.flatMap { n =>
      val root = java.nio.file.Paths.get(dir, n)
      if (!java.nio.file.Files.exists(root)) Seq(s"$n|absent")
      else if (java.nio.file.Files.isRegularFile(root))
        Seq(s"$n|${java.nio.file.Files.size(root)}|${sample(root)}")
      else {
        val listing = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(f => s"$n/${root.relativize(f)}|${java.nio.file.Files.size(f)}|${sample(f)}")
            .toSeq.sorted
        } finally listing.close()
      }
    }
    parts.foreach(s => md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Signature-SCHEME version, embedded in every sentinel file as a
    * `v<N>:` prefix (ADVICE r15): changing how [[corpusSignature]]
    * samples bytes silently mismatched every recorded signature in
    * round 15 (4 KiB tail → whole parquet footer) and forced a
    * one-time full rebuild of every persisted store — exactly the
    * "rebuild because metadata moved" event the sentinel exists to
    * prevent, and invisible in review because nothing named the
    * scheme. Any future sampler change MUST bump this constant, making
    * the mass re-sign an explicit, documented migration.
    *
    * History: (unversioned) = 4 KiB head+tail (≤ r14); whole-footer
    * tail (r15, the silent change); v3 = same bytes as r15 but
    * versioned (r16 — one more one-time re-sign, noted in BENCHNOTES
    * "sentinel scheme v3"). */
  private val SchemeVersion = "v3"

  /** Record a completed build of `prefix` over a corpus with `sig`. */
  def write(spark: SparkSession, prefix: String, sig: String): Unit = {
    BucketedUpsert.writeAtomically(path(spark, prefix),
      s"$SchemeVersion:$sig".getBytes(java.nio.charset.StandardCharsets.UTF_8), replace = true)
  }

  /** Does a completed build for exactly this corpus signature, under
    * the CURRENT signature scheme, exist? A sentinel written by a
    * different scheme never matches — the store rebuilds once and
    * re-signs versioned. */
  def matches(spark: SparkSession, prefix: String, sig: String): Boolean = {
    val p = path(spark, prefix)
    java.nio.file.Files.isRegularFile(p) &&
      java.nio.file.Files.readString(p) == s"$SchemeVersion:$sig"
  }

  def drop(spark: SparkSession, prefix: String): Unit =
    java.nio.file.Files.deleteIfExists(path(spark, prefix))

  /** Drop the derived store under `prefix`: the sentinel first, so it
    * never outlives the tables it certifies, then the tables
    * (`dropTables`). */
  def dropStore(spark: SparkSession, prefix: String,
                dropTables: (SparkSession, String) => Unit): Unit = {
    drop(spark, prefix)
    dropTables(spark, prefix)
  }

  /** Adopt the derived store under `prefix`, or build it — the one
    * order every sentinel-guarded store follows. A completed build over
    * the same `corpus` file(s) under `dir` ([[matches]]) adopts when
    * `adopt` re-registers all its tables. Anything else (no sentinel,
    * another corpus, a partial store) is dropped ([[dropStore]]) and
    * rebuilt by `build`, and the sentinel is written LAST: its presence
    * certifies a completed build. Returns `prefix`. */
  def buildOrAdopt(spark: SparkSession, prefix: String, dir: String, corpus: String,
                   adopt: (SparkSession, String) => Boolean,
                   dropTables: (SparkSession, String) => Unit)(build: => Unit): String = {
    val sig = corpusSignature(dir, corpus)
    if (!(matches(spark, prefix, sig) && adopt(spark, prefix))) {
      dropStore(spark, prefix, dropTables)
      build
      write(spark, prefix, sig)
    }
    prefix
  }
}
