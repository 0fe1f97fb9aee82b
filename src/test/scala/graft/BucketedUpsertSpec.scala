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
  * what exposed the cross-session relation-cache staleness). */
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
      for (step <- 1 to 4) {
        val delta = Seq.fill(1 + rnd.nextInt(6))(
          (rnd.nextInt(60).toLong + 1, rnd.nextInt(100))).distinctBy(_._1)
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
    val table = "bu_add"
    BucketedUpsert.drop(spark, table)
    try {
      val rnd = new scala.util.Random(13)
      var model = Map.empty[Long, Long]
      BucketedUpsert.materialize(
        Seq.empty[(Long, Long)].toDF("k", "v"), table, "k", 8)
      for (step <- 1 to 4) {
        val delta = Seq.fill(1 + rnd.nextInt(8))(
          (rnd.nextInt(20).toLong, rnd.nextInt(10).toLong + 1)).distinctBy(_._1)
        model = delta.foldLeft(model) { case (m, (k, v)) =>
          m.updated(k, m.getOrElse(k, 0L) + v)
        }
        BucketedUpsert.upsert(spark, table, delta.toDF("k", "v"),
          Seq("k"), "k", 8,
          merge = (_, ex, dl) => coalesce(ex, lit(0L)) + coalesce(dl, lit(0L)))
        val got = BucketedUpsert.read(spark, table).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"diverged at step $step")
      }
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
        for (step <- 1 to 4) {
          val delta = Seq.fill(3 + rnd.nextInt(5))(
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
      // one bucket, then more buckets than cores
      for (keys <- Seq(Seq(7L), (1L to 400L by 19L) :+ 1000L)) {
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
    } finally BucketedUpsert.drop(spark, table)
  }
}
