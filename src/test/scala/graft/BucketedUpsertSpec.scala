package graft

import graft.sources.BucketedUpsert
import java.util.concurrent.{ConcurrentHashMap, Semaphore, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Model-based check of the generic O(delta) merge: a random sequence
  * of upserts must leave the table exactly equal to a driver-side map
  * model, in both last-writer-wins and additive modes, across
  * generation flips (odd AND even upsert counts — the even case is
  * what exposed the cross-session relation-cache staleness). Each
  * model test runs both publish paths: the driver merge (small deltas
  * once the inactive generation exists) and the write job (the first
  * publish after `materialize`, and one delta past
  * `BucketedUpsert.DriverMergeRows`). */
class BucketedUpsertSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("random last-writer-wins upsert sequences match a map model") {
    import spark.implicits._
    val table = "bu_lww"
    BucketedUpsert.drop(spark, table)
    try {
      val rnd = new scala.util.Random(11)
      var model = (1 to 40).map(i => i.toLong -> rnd.nextInt(100)).toMap
      BucketedUpsert.materialize(
        model.toSeq.toDF("k", "v"), table, "k", 8)
      for (step <- 1 to 5) {
        val delta =
          if (step == 5) (1L to BucketedUpsert.DriverMergeRows + 1L).map(k => (k, rnd.nextInt(100)))
          else Seq.fill(1 + rnd.nextInt(6))(
            (rnd.nextInt(60).toLong + 1, rnd.nextInt(100))).distinctBy(_._1)
        if (step == 3) {
          // a generation from before one file per bucket: a merge must
          // read every fragment of a touched bucket
          val gen = BucketedUpsert.activeGen(spark, table).get
          model.toSeq.toDF("k", "v").repartition(4).write.mode("overwrite")
            .bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(gen)
          assert(bucketFiles(gen).values.exists(_.size > 1))
        }
        model = model ++ delta.toMap
        BucketedUpsert.upsert(spark, table, delta.toDF("k", "v"),
          Seq("k"), "k", 8)
        val got = BucketedUpsert.read(spark, table).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == model, s"diverged at step $step")
      }
    } finally BucketedUpsert.drop(spark, table)
  }

  test("additive merge sequences match a summing model") {
    import spark.implicits._
    import graft.functions.expressions.{HllSketchBuild, HllUnion}
    val table = "bu_add"
    BucketedUpsert.drop(spark, table)
    try {
      val rnd = new scala.util.Random(13)
      var model = Map.empty[Long, Long]
      // `s` is an HLL sketch column: each delta row carries the sketch
      // of a few values, which the merge unions into the stored one
      val xs = new scala.util.Random(14)
      var seen = Map.empty[Long, Set[Long]]
      def sketches(values: Seq[(Long, Long)]) =
        values.toDF("k", "x").groupBy("k").agg(HllSketchBuild(col("x")).as("s"))
      def publish(delta: Seq[(Long, Long)], values: Seq[(Long, Long)], step: String): Unit = {
        model = delta.foldLeft(model) { case (m, (k, v)) =>
          m.updated(k, m.getOrElse(k, 0L) + v)
        }
        seen = values.foldLeft(seen) { case (m, (k, x)) => m.updated(k, m.getOrElse(k, Set.empty) + x) }
        BucketedUpsert.upsert(spark, table,
          delta.toDF("k", "v").join(sketches(values), "k").select("k", "v", "s"),
          Seq("k"), "k", 8,
          merge = (name, ex, dl) =>
            if (name == "s") when(ex.isNull, dl).when(dl.isNull, ex).otherwise(HllUnion(ex, dl))
            else coalesce(ex, lit(0L)) + coalesce(dl, lit(0L)))
        val stored = BucketedUpsert.read(spark, table).collect()
        val got = stored.map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"diverged at step $step")
        val oneShot = sketches(seen.toSeq.flatMap { case (k, v) => v.map(k -> _) })
          .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
        assert(stored.map(r => r.getLong(0) -> r.getAs[Array[Byte]](2).toSeq).toMap == oneShot,
          s"batched sketch union differs from the one-shot sketch at step $step")
      }
      BucketedUpsert.materialize(
        Seq.empty[(Long, Long, Array[Byte])].toDF("k", "v", "s"), table, "k", 8)
      var last = (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)])
      for (step <- 1 to 5) {
        val delta =
          if (step == 5) (0L to BucketedUpsert.DriverMergeRows.toLong).map(k => (k, k % 7 + 1))
          else Seq.fill(1 + rnd.nextInt(8))(
            (rnd.nextInt(20).toLong, rnd.nextInt(10).toLong + 1)).distinctBy(_._1)
        // overlapping values across batches: a union that double-counted
        // or dropped registers would not equal the one-shot sketch
        val values = delta.flatMap { case (k, _) =>
          Seq.fill(1 + xs.nextInt(3))(k -> xs.nextInt(10).toLong)
        }
        publish(delta, values, step.toString)
        if (step == 4) last = (delta, values)
      }
      // an unguarded replay of a small batch: the sums count it twice,
      // the sketch union is idempotent
      publish(last._1, last._2, "replay")
    } finally BucketedUpsert.drop(spark, table)
  }

  test("empty delta leaves generations and files untouched") {
    import spark.implicits._
    val table = "bu_empty"
    BucketedUpsert.drop(spark, table)
    try {
      BucketedUpsert.materialize(
        Seq((1L, 1), (2L, 2)).toDF("k", "v"), table, "k", 4)
      import scala.jdk.CollectionConverters._
      def files = java.nio.file.Files.list(
        BucketedUpsert.tableDir(spark, table + "__a"))
        .iterator().asScala.map(_.getFileName.toString).toSet
      val before = files
      BucketedUpsert.upsert(spark, table,
        Seq.empty[(Long, Int)].toDF("k", "v"), Seq("k"), "k", 4)
      assert(files == before, "empty delta must not rewrite anything")
      assert(BucketedUpsert.read(spark, table).count() == 2)
    } finally BucketedUpsert.drop(spark, table)
  }

  test("a crashed write (generation written, view never republished) is invisible and recovered") {
    import spark.implicits._
    val table = "bu_crash"
    BucketedUpsert.drop(spark, table)
    try {
      BucketedUpsert.materialize(
        Seq((1L, 10), (2L, 20)).toDF("k", "v"), table, "k", 8)
      // simulate a writer dying BETWEEN the generation write and the
      // view publish: the inactive generation holds orphan data the
      // catalog view never pointed at
      val orphanGen = BucketedUpsert.inactiveGen(spark, table)
      graft.sources.Bucketed.write(
        Seq((99L, 999)).toDF("k", "v"), orphanGen, "k", 8)
      val seen = BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(seen == Map(1L -> 10, 2L -> 20),
        "readers must never observe an unpublished generation")
      // recovery needs no repair step: the next upsert rebuilds the
      // inactive generation wholesale (overwrite + link carry) from
      // the SERVED generation, so the orphan rows cannot leak in
      BucketedUpsert.upsert(spark, table, Seq((2L, 21)).toDF("k", "v"),
        Seq("k"), "k", 8)
      val after = BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(after == Map(1L -> 10, 2L -> 21),
        s"orphan generation must be fully replaced, got $after")
      // a driver merge that dies part-way: the merge fails on the delta
      // row of the highest bucket it reaches, after the lower buckets'
      // new files are written and before the publish
      val keys = 3L to 40L
      val last = keys.maxBy(k => bucketsOf(Seq(k), 8).head)
      val target = BucketedUpsert.inactiveGen(spark, table)
      val stale = bucketFiles(target).values.flatten.map(_.getFileName).toSet
      intercept[Exception](BucketedUpsert.upsert(spark, table,
        keys.map(k => (k, if (k == last) -1 else k.toInt)).toDF("k", "v"), Seq("k"), "k", 8,
        merge = (_, ex, dl) =>
          when(dl === -1, raise_error(lit("injected crash"))).otherwise(coalesce(dl, ex))))
      val partial = bucketFiles(target).values.flatten.map(_.getFileName).toSet
      assert(partial.nonEmpty && partial.intersect(stale).isEmpty,
        s"the crash must come after the driver wrote new bucket files: $partial")
      assert(BucketedUpsert.inactiveGen(spark, table) == target, "nothing was published")
      assert(BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap == after)
      // past the driver's row budget: a write job replaces the partial
      // generation wholesale
      val big = (1L to BucketedUpsert.DriverMergeRows + 1L).map(k => (k, k.toInt))
      BucketedUpsert.upsert(spark, table, big.toDF("k", "v"), Seq("k"), "k", 8)
      assert(BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap == big.toMap)
    } finally BucketedUpsert.drop(spark, table)
  }

  test("delete removes keys O(delta): untouched bucket files survive by link") {
    import spark.implicits._
    val table = "bu_del"
    BucketedUpsert.drop(spark, table)
    try {
      val rows = (1L to 64L).map(k => (k, k.toInt * 10))
      BucketedUpsert.materialize(rows.toDF("k", "v"), table, "k", 8)
      import scala.jdk.CollectionConverters._
      def gen(t: String) = {
        val d = BucketedUpsert.tableDir(spark, t)
        java.nio.file.Files.list(d).iterator().asScala
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.readAttributes(p,
              classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
          .toMap
      }
      val before = gen(table + "__a")
      BucketedUpsert.delete(spark, table, Seq(3L, 7L).toDF("k"), Seq("k"), "k", 8)
      val after = gen(table + "__b")
      // the two keys land in <= 2 buckets; every other bucket's file in
      // the new generation must be the SAME inode (hard link), not a
      // rewrite
      val sharedInodes = after.values.toSet.intersect(before.values.toSet)
      assert(sharedInodes.size >= 6,
        s"expected >= 6 linked bucket files, got ${sharedInodes.size}")
      val got = BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == rows.toMap -- Seq(3L, 7L))
      // deleting an absent key is a no-op, not an error
      BucketedUpsert.delete(spark, table, Seq(999L).toDF("k"), Seq("k"), "k", 8)
      assert(BucketedUpsert.read(spark, table).count() == 62)
      // past the driver's row budget: a write job deletes
      BucketedUpsert.delete(spark, table,
        ((10L to 20L) ++ (1000L to 1000L + BucketedUpsert.DriverMergeRows)).toDF("k"),
        Seq("k"), "k", 8)
      assert(BucketedUpsert.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap == rows.toMap -- Seq(3L, 7L) -- (10L to 20L))
    } finally BucketedUpsert.drop(spark, table)
  }

  test("delete by key-prefix: GrantStore user wipe reverts to default grant") {
    import spark.implicits._
    import graft.sources.GrantStore
    val table = "bu_del_grants"
    GrantStore.drop(spark, table)
    try {
      GrantStore.materialize(
        Seq((1L, "purchase", false), (1L, "message", false),
          (2L, "purchase", true), (3L, "message", false))
          .toDF("user_id", "feature", "has_grant"), table, 8)
      GrantStore.deleteUsers(spark, Seq(1L).toDF("user_id"), table, 8)
      val left = GrantStore.read(spark, table).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(left == Set((2L, "purchase"), (3L, "message")),
        "every row of the wiped user must be gone, others untouched")
    } finally GrantStore.drop(spark, table)
  }

  /** Data files of a generation, grouped by bucket id. */
  private def bucketFiles(gen: String): Map[Int, Seq[java.nio.file.Path]] = {
    val listing = java.nio.file.Files.list(BucketedUpsert.tableDir(spark, gen))
    try listing.iterator().asScala.toSeq
      .flatMap(p => BucketedUpsert.bucketIdOf(p.getFileName.toString).map(_ -> p))
      .groupMap(_._1)(_._2)
    finally listing.close()
  }

  private def bucketsOf(keys: Seq[Long], buckets: Int): Set[Int] = {
    import spark.implicits._
    BucketedUpsert.affectedBuckets(keys.toDF("k"), "k", buckets)
  }

  private val lastWins: (String, Column, Column) => Column = (_, ex, dl) => coalesce(dl, ex)
  private val sum: (String, Column, Column) => Column =
    (_, ex, dl) => coalesce(ex, lit(0L)) + coalesce(dl, lit(0L))

  /** Runs `body` in its own job group and returns the task count of
    * each result stage it ran — one per action job. Adaptive execution
    * submits every shuffle as a map-stage job of its own; those run
    * only shuffle-map tasks and are not counted. */
  private def resultStages(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val groupStages = ConcurrentHashMap.newKeySet[Int]()
    val resultTasks = new ConcurrentHashMap[Int, Integer]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markersDone = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "bu_budget" => e.stageIds.foreach(groupStages.add)
          case "bu_marker" => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (groupStages.contains(e.stageId) && e.taskType == "ResultTask")
          resultTasks.merge(e.stageId, 1, (a: Integer, b: Integer) => a + b)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markersDone.release()
    }
    // one in-order event queue: once the marker job's end arrives,
    // every event of `body` has been seen
    def flush(): Unit = {
      sc.setJobGroup("bu_marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markersDone.tryAcquire(60, TimeUnit.SECONDS))
    }
    sc.addSparkListener(listener)
    try {
      flush()
      sc.setJobGroup("bu_budget", "measured publish")
      try body finally sc.clearJobGroup()
      flush()
    } finally sc.removeSparkListener(listener)
    resultTasks.asScala.toSeq.sortBy(_._1).map(_._2.intValue)
  }

  test("bucketIdOf reads data file names and ignores checksum sidecars and markers") {
    assert(BucketedUpsert.bucketIdOf(
      "part-00003-0c1a2b3c-4d5e-6f70-8192-a3b4c5d6e7f8_00009.c000.snappy.parquet")
      .contains(9))
    assert(BucketedUpsert.bucketIdOf(
      ".part-00003-0c1a2b3c-4d5e-6f70-8192-a3b4c5d6e7f8_00009.c000.snappy.parquet.crc")
      .isEmpty)
    assert(BucketedUpsert.bucketIdOf("_SUCCESS").isEmpty)
    assert(BucketedUpsert.bucketIdOf("._SUCCESS.crc").isEmpty)
  }

  test("upserts keep the table's column order when the join key is not the leading column") {
    import spark.implicits._
    // (v, k) joined on k: an insert by position would swap them, and
    // with both columns bigint nothing but the values could tell
    for ((mode, additive) <- Seq("lww" -> false, "add" -> true)) {
      val table = s"bu_order_$mode"
      BucketedUpsert.drop(spark, table)
      try {
        val rnd = new scala.util.Random(17)
        var model = (1L to 24L).map(k => k -> (k * 100)).toMap
        BucketedUpsert.materialize(
          model.toSeq.map { case (k, v) => (v, k) }.toDF("v", "k"), table, "k", 8)
        for (step <- 1 to 5) {
          val delta =
            if (step == 5)
              (1L to BucketedUpsert.DriverMergeRows + 1L).map(k => (k, rnd.nextInt(1000).toLong))
            else Seq.fill(3 + rnd.nextInt(5))(
              (rnd.nextInt(40).toLong + 1, rnd.nextInt(1000).toLong)).distinctBy(_._1)
          model = delta.foldLeft(model) { case (m, (k, v)) =>
            m.updated(k, if (additive) m.getOrElse(k, 0L) + v else v)
          }
          BucketedUpsert.upsert(spark, table,
            delta.map { case (k, v) => (v, k) }.toDF("v", "k"), Seq("k"), "k", 8,
            merge = if (additive) sum else lastWins)
          val gen = BucketedUpsert.activeGen(spark, table).get
          assert(spark.table(gen).columns.toSeq == Seq("v", "k"), s"$mode step $step: $gen")
          val served = BucketedUpsert.read(spark, table)
          assert(served.columns.toSeq == Seq("v", "k"), s"$mode step $step")
          val got = served.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
          assert(got == model, s"$mode diverged at step $step")
        }
      } finally BucketedUpsert.drop(spark, table)
    }
  }

  test("an upsert touching t buckets: 2 jobs, <= min(t, parallelism) write tasks, one file per bucket") {
    import spark.implicits._
    val table = "bu_budget"
    val buckets = 32
    val parallelism = spark.sparkContext.defaultParallelism
    BucketedUpsert.drop(spark, table)
    try {
      var model = (1L to 400L).map(k => k -> k).toMap
      BucketedUpsert.materialize(model.toSeq.toDF("k", "v"), table, "k", buckets)
      // one bucket, then more buckets than cores, then more rows than
      // the driver merges: the first and the last run a write job
      for (keys <- Seq(Seq(7L), (1L to 400L by 19L) :+ 1000L,
                       1L to BucketedUpsert.DriverMergeRows + 1L)) {
        val t = bucketsOf(keys, buckets).size
        val delta = keys.map(k => k -> -k)
        model = model ++ delta
        val stages = resultStages(BucketedUpsert.upsert(spark, table,
          delta.toDF("k", "v"), Seq("k"), "k", buckets))
        assert(stages.size <= 2, s"t=$t: result stages (tasks) $stages")
        assert(stages.last <= math.min(t, parallelism), s"t=$t: write stage $stages")
        val files = bucketFiles(BucketedUpsert.activeGen(spark, table).get)
        assert(files.values.forall(_.size == 1), s"t=$t: $files")
        assert(files.keySet == bucketsOf(model.keys.toSeq, buckets))
        assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap == model)
      }
      assert(bucketsOf((1L to 400L by 19L) :+ 1000L, buckets).size > parallelism)
    } finally BucketedUpsert.drop(spark, table)
  }

  test("materialize writes one file per bucket with buckets above and below the parallelism") {
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    for (buckets <- Seq(2, parallelism + 1, 4 * parallelism)) {
      val table = s"bu_mat_$buckets"
      BucketedUpsert.drop(spark, table)
      try {
        val keys = 1L to 500L
        // twice: the second write overwrites the generation in place
        for (round <- 1 to 2) {
          val stages = resultStages(BucketedUpsert.materialize(
            keys.map(k => (k, k + round)).toDF("k", "v"), table, "k", buckets))
          assert(stages.last <= math.min(buckets, parallelism), s"$buckets: $stages")
          val files = bucketFiles(BucketedUpsert.activeGen(spark, table).get)
          assert(files.keySet == (0 until buckets).toSet, s"$buckets buckets, round $round")
          assert(files.values.forall(_.size == 1), s"$buckets buckets: $files")
          assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap ==
            keys.map(k => k -> (k + round)).toMap)
        }
      } finally BucketedUpsert.drop(spark, table)
    }
  }

  test("a redelivered (query, batch) folds once more but leaves every generation byte-identical") {
    import spark.implicits._
    val table = "bu_replay"
    BucketedUpsert.drop(spark, table)
    try {
      BucketedUpsert.materialize((1L to 64L).map(k => (k, k)).toDF("k", "v"), table, "k", 8)
      val folds = spark.sparkContext.longAccumulator("bu_replay_folds")
      val fold = udf { (v: Long) => folds.add(1); v * 2 }
      def batch = Seq((3L, 30L), (40L, 400L), (70L, 700L)).toDF("k", "v")
        .select(col("k"), fold(col("v")).as("v"))
      def bytes(gen: String): Map[String, Seq[Byte]] =
        BucketedUpsert.tableDir(spark, gen).toFile.listFiles().toSeq
          .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      BucketedUpsert.upsert(spark, table, batch, Seq("k"), "k", 8,
        merge = sum, batchId = Some(5L))
      assert(folds.value == 3, "the batch folds once")
      val applied = BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap
      val (a, b) = BucketedUpsert.generations(table)
      val before = Seq(a, b).map(bytes)
      BucketedUpsert.upsert(spark, table, batch, Seq("k"), "k", 8,
        merge = sum, batchId = Some(5L))
      // the bucket-set job runs the fold ahead of the guard, once
      assert(folds.value == 6, "a redelivered batch still folds, once")
      assert(Seq(a, b).map(bytes) == before, "a replay must not rewrite any generation")
      assert(BucketedUpsert.activeGen(spark, table).contains(b))
      assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap == applied)
      assert(applied(3L) == 3L + 60L && applied(70L) == 1400L)
      // generations are overwritten in place: a later write without a
      // batch id must not inherit the record the batch left on its target
      BucketedUpsert.upsert(spark, table, Seq((1L, 1L)).toDF("k", "v"), Seq("k"), "k", 8)
      BucketedUpsert.upsert(spark, table, Seq((2L, 2L)).toDF("k", "v"), Seq("k"), "k", 8)
      assert(BucketedUpsert.activeGen(spark, table).contains(b))
      assert(BucketedUpsert.appliedBatch(spark, b).isEmpty)
      BucketedUpsert.upsert(spark, table, Seq((3L, 3L)).toDF("k", "v"), Seq("k"), "k", 8,
        batchId = Some(6L))
      BucketedUpsert.materialize((1L to 8L).map(k => (k, k)).toDF("k", "v"), table, "k", 8)
      BucketedUpsert.materialize((1L to 8L).map(k => (k, k)).toDF("k", "v"), table, "k", 8)
      assert(BucketedUpsert.activeGen(spark, table).contains(a))
      assert(BucketedUpsert.appliedBatch(spark, a).isEmpty)
      // the batch above ran the write job (first publish after
      // materialize); a small batch now merges on the driver, one past
      // the driver's row budget runs the write job: both replay as no-ops
      for ((rows, id) <- Seq((1L to 3L, 7L), (1L to BucketedUpsert.DriverMergeRows + 1L, 8L))) {
        val again = rows.map(k => (k, 10L)).toDF("k", "v")
        BucketedUpsert.upsert(spark, table, again, Seq("k"), "k", 8, merge = sum, batchId = Some(id))
        val once = BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap
        val written = Seq(a, b).map(bytes)
        BucketedUpsert.upsert(spark, table, again, Seq("k"), "k", 8, merge = sum, batchId = Some(id))
        assert(Seq(a, b).map(bytes) == written, s"batch $id: a replay must not rewrite any generation")
        assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap == once)
      }
      assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap ==
        (1L to BucketedUpsert.DriverMergeRows + 1L).map(k =>
          k -> ((if (k <= 8) k else 0L) + (if (k <= 3) 10L else 0L) + 10L)).toMap)
    } finally BucketedUpsert.drop(spark, table)
  }

  test("a delta under the driver's budget publishes with one job and no write stage") {
    import spark.implicits._
    val table = "bu_one_job"
    val buckets = 32
    BucketedUpsert.drop(spark, table)
    try {
      var model = (1L to 400L).map(k => k -> k).toMap
      BucketedUpsert.materialize(model.toSeq.toDF("k", "v"), table, "k", buckets)
      // the first publish creates the inactive generation with a write job
      BucketedUpsert.upsert(spark, table, Seq((1L, 1L)).toDF("k", "v"), Seq("k"), "k", buckets)
      def linked(gen: String): Map[Int, Object] = bucketFiles(gen).map { case (b, fs) =>
        b -> java.nio.file.Files.readAttributes(fs.head,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      }
      val upsert = Seq(3L, 77L, 150L, 151L, 1000L)
      val delete = Seq(5L, 77L, 2000L)
      for ((keys, publish) <- Seq[(Seq[Long], () => Unit)](
             upsert -> (() => BucketedUpsert.upsert(spark, table,
               upsert.map(k => (k, -k)).toDF("k", "v"), Seq("k"), "k", buckets)),
             delete -> (() => BucketedUpsert.delete(spark, table,
               delete.toDF("k"), Seq("k"), "k", buckets)))) {
        val before = linked(BucketedUpsert.activeGen(spark, table).get)
        val stages = resultStages(publish())
        assert(stages.size == 1, s"result stages (tasks) $stages")
        model = if (keys == delete) model -- delete else model ++ upsert.map(k => k -> -k)
        assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap == model)
        val after = bucketFiles(BucketedUpsert.activeGen(spark, table).get)
        assert(after.values.forall(_.size == 1), s"$after")
        assert(after.keySet == bucketsOf(model.keys.toSeq, buckets))
        // untouched buckets carry forward by link; touched ones are new
        val touched = bucketsOf(keys, buckets)
        val now = linked(BucketedUpsert.activeGen(spark, table).get)
        assert((before -- touched) == (now -- touched))
        assert(touched.forall(b => now.get(b).forall(!before.get(b).contains(_))))
      }
    } finally BucketedUpsert.drop(spark, table)
  }

  test("driver-written bucket files round-trip through snapshot, rollback and adopt") {
    import spark.implicits._
    val table = "bu_driver_files"
    BucketedUpsert.drop(spark, table)
    val pin = java.nio.file.Files.createTempDirectory("bu_pin").resolve("pin")
    try {
      BucketedUpsert.materialize((1L to 40L).map(k => (k, k)).toDF("k", "v"), table, "k", 8)
      BucketedUpsert.upsert(spark, table, Seq((1L, 10L)).toDF("k", "v"), Seq("k"), "k", 8)
      val first = BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap
      // a driver merge, recorded with a batch id
      BucketedUpsert.upsert(spark, table, Seq((2L, 20L), (50L, 500L)).toDF("k", "v"),
        Seq("k"), "k", 8, batchId = Some(3L))
      val second = BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap
      assert(second == first ++ Map(2L -> 20L, 50L -> 500L))
      val gen = BucketedUpsert.activeGen(spark, table).get
      BucketedUpsert.snapshot(spark, table, pin.toString)
      assert(BucketedUpsert.readSnapshot(spark, pin.toString, Some(table))
        .as[(Long, Long)].collect().toMap == second)
      assert(BucketedUpsert.rollback(spark, table) != gen)
      assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap == first)
      assert(BucketedUpsert.rollback(spark, table) == gen)
      // a restart: the catalog entries go, the bytes and the marker stay
      val (a, b) = BucketedUpsert.generations(table)
      val dirs = Seq(a, b).map(g => BucketedUpsert.tableDir(spark, g))
      dirs.foreach(d => java.nio.file.Files.move(d, d.resolveSibling(d.getFileName.toString + ".keep")))
      spark.sql(s"DROP VIEW IF EXISTS `$table`")
      Seq(a, b).foreach(g => spark.sql(s"DROP TABLE IF EXISTS `$g`"))
      dirs.foreach(d => java.nio.file.Files.move(d.resolveSibling(d.getFileName.toString + ".keep"), d))
      assert(BucketedUpsert.adopt(spark, table))
      assert(BucketedUpsert.read(spark, table).as[(Long, Long)].collect().toMap == second)
      assert(BucketedUpsert.readKeys(spark, table, Seq(50L).toDF("k"), "k", 8)
        .filter(col("k") === 50L).as[(Long, Long)].collect().toSeq == Seq(50L -> 500L))
      assert(BucketedUpsert.appliedBatch(spark, gen).contains((BucketedUpsert.BatchCaller, 3L)))
    } finally {
      BucketedUpsert.drop(spark, table)
      org.apache.commons.io.FileUtils.deleteDirectory(pin.getParent.toFile)
    }
  }
}
