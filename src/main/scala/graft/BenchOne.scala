package graft

/** Dev utility: time individual registered queries (repeatedly) against
  * SPARK_GRAFT_SF_DIR. Not part of the driver contract — used to chase
  * per-query scale behavior that the one-shot `Bench` run can't separate
  * from plan/codegen warmup.
  *
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.BenchOne token_count_bpe"
  *   SPARK_GRAFT_EXPLAIN=1  → also print the formatted physical plan
  *   SPARK_GRAFT_REPS=3     → repetitions per query (default 3)
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Per-stage metrics: localizes a slow rep to a stage and separates
    // CPU from GC from shuffle-write from scheduler idle time.
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; e <- si.completionTime}
            yield (e - s) / 1e3).getOrElse(-1.0)
          stages.add(f"    stage ${si.stageId}%3d ${si.name.takeWhile(_ != '\n').take(40)}%-40s " +
            f"tasks=${si.numTasks}%3d wall=$wall%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"run=${m.executorRunTime / 1e3}%7.2fs gc=${m.jvmGCTime / 1e3}%6.2fs " +
            f"shufW=${m.shuffleWriteMetrics.writeTime / 1e9}%6.2fs " +
            f"deser=${m.executorDeserializeTime / 1e3}%5.2fs")
        }
      })
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
      val times = (1 to reps).map { i =>
        stages.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sys.env.contains("SPARK_GRAFT_STAGES")) {
          println(f"[benchone] $name rep$i: $sec%.3f s")
          // listener delivery is async: wait until the queue stops
          // growing (bounded), so a slow stage's line is not dropped or
          // misattributed to the next rep by a racing clear()
          var last = -1
          var waited = 0
          while (stages.size != last && waited < 2000) {
            last = stages.size; Thread.sleep(100); waited += 100
          }
          stages.forEach(s => println(s))
        }
        sec
      }
      println(f"[benchone] $name: ${times.map(t => f"$t%.3f").mkString(", ")} s")
    }
    spark.stop()
  }
}
