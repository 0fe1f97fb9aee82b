package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-run manifest: pin SEVERAL stores' current states as one
  * named, immutable run record. A real training job reads more than
  * one store (the curated corpus, the grants view, the ANN cell
  * index, quantile baselines…), and reproducing it later needs all
  * of them AS OF the same moment — per-store [[BucketedUpsert
  * .snapshot]] pins one table; this ties the set together under a
  * single run directory:
  *
  *   <runDir>/<table>/…parquet     one hard-link snapshot per store
  *   <runDir>/run_manifest.json    written LAST — the publish marker
  *
  * The manifest-last ordering is the [[CorpusWriter]] contract: a
  * crash mid-pin leaves snapshot directories but NO manifest, so an
  * incomplete run record can never be mistaken for a complete one
  * ([[tables]]/[[read]] refuse it). Pins are immutable — re-pinning
  * into an existing run directory is refused, matching the per-store
  * snapshot rule. Cost is the per-store cost: O(#files) metadata ops,
  * zero data copy on any hard-link filesystem — a 100 TB run pins in
  * seconds.
  */
object RunManifest {

  val ManifestFile = "run_manifest.json"

  private def manifestPath(runDir: String) =
    java.nio.file.Paths.get(runDir, ManifestFile)

  /** Pin `tables` under `runDir`; returns (table, n_files) per store.
    * Fails fast (before any snapshot) on an already-pinned run, and
    * atomically-visibly (manifest last) on mid-pin crashes. */
  def pin(spark: SparkSession, runDir: String,
          tables: Seq[String]): Seq[(String, Int)] = {
    require(tables.nonEmpty, "pin: at least one table required")
    require(tables.distinct.size == tables.size,
      s"pin: duplicate tables in ${tables.mkString(", ")}")
    tables.foreach(t => require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"pin: '$t' is not a valid store identifier"))
    val root = java.nio.file.Paths.get(runDir)
    java.nio.file.Files.createDirectories(root)
    require(!java.nio.file.Files.exists(manifestPath(runDir)),
      s"pin: '$runDir' already holds a pinned run — runs are immutable; " +
        "use a fresh directory per run")
    val counts = tables.map { t =>
      t -> BucketedUpsert.snapshot(spark, t, root.resolve(t).toString)
    }
    val json = counts
      .map { case (t, n) => s"""{"table": "$t", "n_files": $n}""" }
      .mkString(s"""{"n_tables": ${counts.size}, "tables": [""", ", ", "]}")
    // publish marker must be all-or-nothing: a crash mid-write of an
    // in-place writeString can leave truncated bytes that still parse
    // to a SUBSET of entries — a partial pin reading as a complete run.
    // Write it atomically; n_tables is the belt to that suspender
    // ([[tables]] refuses a manifest whose entry count disagrees).
    BucketedUpsert.writeAtomically(manifestPath(runDir),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8), replace = false)
    counts
  }

  /** The pinned stores recorded in a COMPLETE run (manifest present);
    * refuses a missing or partial pin. */
  def tables(runDir: String): Seq[String] = {
    val p = manifestPath(runDir)
    require(java.nio.file.Files.exists(p),
      s"run '$runDir' has no $ManifestFile — not a run, or a pin that " +
        "crashed before completing; re-pin into a fresh directory")
    val json = java.nio.file.Files.readString(p)
    // identifiers are [A-Za-z0-9_] by construction (enforced at pin),
    // so the extraction is regex-safe
    val ts = """"table": "([A-Za-z_][A-Za-z0-9_]*)"""".r
      .findAllMatchIn(json).map(_.group(1)).toSeq
    // closing-sentinel check: the recorded entry count must match what
    // the bytes actually yield, so truncated/corrupt manifest bytes
    // can never read as a smaller-but-complete pin
    val n = """"n_tables": (\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
    require(n.contains(ts.size),
      s"run '$runDir' manifest is corrupt: records ${n.getOrElse("no")} " +
        s"table count but yields ${ts.size} entries — refuse the partial pin")
    ts
  }

  /** Read one pinned store of a complete run (schema from the live
    * table when it still exists — pins outlive their stores). */
  def read(spark: SparkSession, runDir: String, table: String): DataFrame = {
    val ts = tables(runDir)
    require(ts.contains(table),
      s"run '$runDir' pins ${ts.mkString(", ")} — not '$table'")
    BucketedUpsert.readSnapshot(spark,
      java.nio.file.Paths.get(runDir, table).toString, Some(table))
  }
}
