package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `e2e` carries the
  * end-to-end metrics of BENCHMARK.json, `named` the workload's metrics
  * under their own names (printed, and kept in the result file),
  * `layers` the per-layer metrics of the traced run. */
final case class Outcome(
    e2e: Map[String, Double],
    named: Map[String, (Double, String)],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    mismatches: Seq[String],
    detail: Map[String, Any])

/** Shared state of one run. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Int,
                     tracer: Tracer, counters: SchedulerCounters, runDir: Path,
                     cores: Int, sessionStartS: Double, fixture: Path, expected: Path,
                     record: Option[Path], eventRate: Option[Int]) {
  def traced: Boolean = tracer.enabled
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --out RESULTS_DIR --work SCRATCH_DIR --fixture SF_DIR
  * --expected HASHES [--record HASHES_OUT]`. Prints the workload's metrics by name, then
  * one JSON line as the last line of stdout; exits 1 when an output
  * check failed. */
object Main {

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "op_p50_ms" -> "ms",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics: every traced run reports all of them; a layer
    * the workload does not exercise reads 0. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "gen.late_ms_max" -> "ms", "gen.events" -> "count", "gen.dup_frac" -> "ratio",
    "gen.invalid_frac" -> "ratio",
    "ingest.reject_frac" -> "ratio",
    "source.trigger_ms" -> "ms", "source.backlog_files_max" -> "count",
    "engine.batches" -> "count", "engine.events_per_batch" -> "count",
    "engine.wal_ms" -> "ms", "engine.planning_ms" -> "ms",
    "engine.speedup_1core" -> "ratio",
    "pipeline.fold_ms" -> "ms", "pipeline.fold_us_per_event" -> "us",
    "pipeline.state_rows" -> "count", "pipeline.state_mb" -> "MB",
    "pipeline.state_commit_ms" -> "ms", "pipeline.flips_per_kevent" -> "count",
    "pipeline.task_skew" -> "ratio",
    "grantstore.upsert_ms" -> "ms", "grantstore.net_flip_frac" -> "ratio",
    "grantstore.publish_frac" -> "ratio", "grantstore.buckets_touched" -> "count",
    "grantstore.files" -> "count", "grantstore.files_per_bucket_max" -> "count",
    "grantstore.bytes_per_row" -> "B",
    "access.build_ms" -> "ms", "access.call_ms" -> "ms",
    "access.jobs_per_check" -> "count", "access.tasks_per_check" -> "count",
    "access.default_frac" -> "ratio",
    "setup.grants_materialize_s" -> "s", "setup.circuits_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_deser_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_mb" -> "MB",
    "spark.idle_frac" -> "ratio") ++
    Registry.Modules.map(m => s"queries.${m}_s" -> "s") ++
    Registry.Memos.map(m => s"memo.${m}_s" -> "s") ++
    Registry.Stores.map(s => s"store.${s}_s" -> "s") ++
    SpanLayers.map(l => s"self.${l}_ms" -> "ms")

  /** Span layers whose self time the traced run reports. */
  lazy val SpanLayers: Seq[String] =
    Seq("gen", "setup", "engine", "pipeline", "grantstore", "access", "queries", "memo", "store")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val outDir = Files.createDirectories(Paths.get(opts("out")))
    val runDir = Files.createDirectories(Paths.get(opts("work")))
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workloads.names.mkString(", ")})")

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val counters = new SchedulerCounters
    if (traced) spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, workload, seed, seconds, new Tracer(traced), counters,
      runDir, cores, sessionStartS, Paths.get(opts("fixture")), Paths.get(opts("expected")),
      opts.get("record").map(Paths.get(_)), opts.get("event-rate").map(_.toInt))

    val out = Workloads.run(ctx)
    val correct = out.mismatches.isEmpty
    val metrics: Seq[(String, (Double, String))] =
      if (traced) LayerUnits.map { case (k, u) => k -> (out.layers.getOrElse(k, 0.0), u) }
      else E2eUnits.map { case (k, u) => k -> (out.e2e(k), u) }

    val env = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "commit" -> opts.getOrElse("commit", "unknown"),
      "source_sha256" -> opts.getOrElse("source", "unknown"))
    val record = Map(
      "env" -> env, "correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "mismatches" -> out.mismatches,
      "metrics" -> metrics.toMap.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> out.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> out.layers, "detail" -> out.detail)
    val resultFile = outDir.resolve(s"result-$workload-$seed-${if (traced) 1 else 0}.json")
    Files.writeString(resultFile, Stats.json(record))
    if (traced) ctx.tracer.writeJsonLines(outDir.resolve(s"spans-$workload-$seed.jsonl"))

    println(s"# $workload seed=$seed trace=${if (traced) 1 else 0} nproc=$cores " +
      s"heap=${Runtime.getRuntime.maxMemory / 1048576}MB spark=${spark.version} " +
      s"jdk=${System.getProperty("java.version")} commit=${opts.getOrElse("commit", "unknown")}")
    out.named.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"$k%-28s $v%14.4f $u") }
    out.mismatches.foreach(m => println(s"MISMATCH $m"))
    println(s"# result file: $resultFile")
    spark.stop()
    println(Stats.json(Map(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
