package graft

import graft.operators.AccessService
import graft.sources.{Bucketed, BucketedUpsert, GrantStore}
import org.scalatest.funsuite.AnyFunSuite

/** Materialized grants table: round-trip, CDC upsert semantics, the
  * exchange-free bucketed serve-path join, and the streaming
  * foreachBatch upsert wire. */
class GrantStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def drop(tables: String*): Unit =
    tables.foreach(t => GrantStore.drop(spark, t))

  test("materialize + upsert round-trips updates and inserts") {
    import spark.implicits._
    val table = "gs_roundtrip"
    drop(table)
    try {
      GrantStore.materialize(Seq(
        (1L, "purchase", true), (1L, "message", true), (2L, "purchase", false))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 4)
      // update one key, insert one unseen key
      GrantStore.upsert(spark, Seq(
        (1L, "purchase", false), (3L, "message", false))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 4)
      val got = GrantStore.read(spark, table).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
      assert(got == Map(
        (1L, "purchase") -> false, (1L, "message") -> true,
        (2L, "purchase") -> false, (3L, "message") -> false))
    } finally drop(table)
  }

  test("collapse: net-zero flip sequences are dropped, odd ones win") {
    import spark.implicits._
    // (1,purchase): revoke→grant→revoke = net revoke (majority false)
    // (2,purchase): revoke→grant = net no-op (dropped)
    val changes = Seq(
      (1L, "purchase", false), (1L, "purchase", true), (1L, "purchase", false),
      (2L, "purchase", false), (2L, "purchase", true))
      .toDF("user_id", "feature", "has_grant")
    val net = GrantStore.collapse(changes).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(net == Map((1L, "purchase") -> false))
  }

  test("bucketed serve-path join plans with no exchange") {
    import spark.implicits._
    val table = "gs_bucketed"
    drop(table)
    spark.sql("DROP TABLE IF EXISTS gs_users")
    try {
      GrantStore.materialize((1 to 200).map(i =>
        (i.toLong, "purchase", i % 3 != 0)).toDF("user_id", "feature", "has_grant"),
        table, buckets = 4)
      Bucketed.write((1 to 50).map(_.toLong).toDF("user_id"),
        "gs_users", "user_id", 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val served = spark.table("gs_users")
          .join(GrantStore.read(spark, table), Seq("user_id"), "left_outer")
        served.collect()
        val plan = served.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"serve-path join shuffled:\n$plan")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      drop(table)
      spark.sql("DROP TABLE IF EXISTS gs_users")
    }
  }

  test("upsert rewrites only the buckets containing delta keys") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val table = "gs_prune"
    drop(table)
    try {
      GrantStore.materialize((1 to 200).map(i =>
        (i.toLong, "purchase", true)).toDF("user_id", "feature", "has_grant"),
        table, buckets = 8)
      val genA = table + "__a"
      val genB = table + "__b"
      def bucketFiles(gen: String): Map[Int, Seq[java.nio.file.Path]] =
        java.nio.file.Files.list(BucketedUpsert.tableDir(spark, gen))
          .iterator().asScala
          .flatMap(p => BucketedUpsert.bucketIdOf(p.getFileName.toString).map(_ -> p))
          .toSeq.groupMap(_._1)(_._2)
      val before = bucketFiles(genA)
      val delta = Seq((7L, "purchase", false)).toDF("user_id", "feature", "has_grant")
      val touched = BucketedUpsert.affectedBuckets(delta, "user_id", 8)
      GrantStore.upsert(spark, delta, table, buckets = 8)
      val after = bucketFiles(genB)
      // every untouched bucket's files carried forward by reference:
      // same names, same underlying bytes (hard link → same file)
      val untouchedBuckets = before.keySet -- touched
      assert(untouchedBuckets.nonEmpty, "fixture must populate untouched buckets")
      untouchedBuckets.foreach { bkt =>
        val olds = before(bkt).map(p => p.getFileName.toString -> p).toMap
        val news = after(bkt).map(p => p.getFileName.toString -> p).toMap
        assert(olds.keySet == news.keySet, s"bucket $bkt files were rewritten")
        olds.foreach { case (name, oldP) =>
          val newP = news(name)
          assert(java.nio.file.Files.isSameFile(oldP, newP) ||
            java.util.Arrays.equals(
              java.nio.file.Files.readAllBytes(oldP),
              java.nio.file.Files.readAllBytes(newP)),
            s"bucket $bkt file $name differs after upsert")
        }
      }
      // the touched bucket WAS rewritten (fresh file names)
      touched.foreach { bkt =>
        val oldNames = before.getOrElse(bkt, Nil).map(_.getFileName.toString).toSet
        val newNames = after.getOrElse(bkt, Nil).map(_.getFileName.toString).toSet
        assert((oldNames & newNames).isEmpty, s"touched bucket $bkt not rewritten")
      }
      // merge correctness: the one key flipped, everything else intact
      val got = GrantStore.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got.size == 200 && !got(7L) && got(8L))
    } finally drop(table)
  }

  test("AccessService serves from the catalog table") {
    import spark.implicits._
    val table = "gs_serve"
    drop(table)
    try {
      GrantStore.materialize(Seq((7L, "purchase", false))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 4)
      val circuits = Seq(("purchase", false)).toDF("feature", "circuit_open")
      val svc = new AccessService(spark,
        GrantStore.read(spark, table), circuits)
      assert(!svc.canAccess(7L, "purchase"))
      assert(svc.canAccess(8L, "purchase")) // unseen → default grant
      // a CDC upsert lands in the next service built from the table;
      // a service built before it keeps answering from its own
      // generation
      GrantStore.upsert(spark,
        Seq((7L, "purchase", true)).toDF("user_id", "feature", "has_grant"),
        table, buckets = 4)
      val svc2 = new AccessService(spark,
        GrantStore.read(spark, table), circuits)
      assert(svc2.canAccess(7L, "purchase"))
      assert(!svc.canAccess(7L, "purchase"))
      // the same holds one publish later for the service built after
      // the first: the second publish rewrites the OLDER generation,
      // which is why a service must be rebuilt within two publishes
      GrantStore.upsert(spark,
        Seq((7L, "purchase", false)).toDF("user_id", "feature", "has_grant"),
        table, buckets = 4)
      val svc3 = new AccessService(spark,
        GrantStore.read(spark, table), circuits)
      assert(!svc3.canAccess(7L, "purchase"))
      assert(svc2.canAccess(7L, "purchase"))
    } finally drop(table)
  }

  private def grantsOf(table: String): Map[(Long, String), Boolean] =
    GrantStore.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap

  /** Raw flips: per key, `n` alternating flips starting from `first`,
    * and the store after they apply over `before`: an odd run ends on
    * `first`, an even one where it started. */
  private def flipsOver(before: Map[(Long, String), Boolean],
                        keys: Seq[((Long, String), Boolean, Int)])
      : (Seq[(Long, String, Boolean)], Map[(Long, String), Boolean]) = {
    val flips = keys.flatMap { case ((u, f), first, n) =>
      (0 until n).map(i => (u, f, if (i % 2 == 0) first else !first))
    }
    val after = keys.foldLeft(before) { case (m, (k, first, n)) =>
      if (n % 2 == 1) m + (k -> first) else m
    }
    (flips, after)
  }

  test("a small CDC batch publishes with one job of one stage and no SQL command") {
    import spark.implicits._
    val table = "gs_one_job"
    drop(table)
    try {
      val base = (1L to 400L).map(u => (u, "purchase") -> (u % 2 == 0)).toMap
      GrantStore.materialize(base.toSeq.map { case ((u, f), g) => (u, f, g) }
        .toDF("user_id", "feature", "has_grant"), table, buckets = 32)
      // the first publish after materialize creates the inactive
      // generation with a write job
      GrantStore.upsert(spark, Seq((1L, "purchase", true))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 32)
      val warm = base + ((1L, "purchase") -> true)
      // 40 raw flips over 17 keys: some net-zero, some net flips, some new
      val (flips, want) = flipsOver(warm, (1L to 17L).map(u =>
        ((u * 23, if (u % 3 == 0) "message" else "purchase"), u % 2 == 0, 1 + (u % 4).toInt)))
      val changes = flips.toDF("user_id", "feature", "has_grant")
      val probe = PublishProbe(spark) {
        GrantStore.upsert(spark, changes, table, buckets = 32, batchId = Some(9L))
      }
      assert(probe.jobStages == Seq(1), s"jobs (stages each): ${probe.jobStages}")
      assert(probe.executions.isEmpty, s"SQL/catalog commands: ${probe.executions}")
      assert(grantsOf(table) == want)
      val gen = BucketedUpsert.activeGen(spark, table).get
      assert(BucketedUpsert.appliedBatch(spark, gen)
        .contains((BucketedUpsert.BatchCaller, 9L)))
      assert(spark.sql(s"SHOW CREATE TABLE `$table`").head().getString(0).contains(s"`$gen`"))
    } finally drop(table)
  }

  test("a batch past the driver's row budget publishes the same rows through Spark") {
    import spark.implicits._
    val table = "gs_past_budget"
    drop(table)
    try {
      val base = (1L to 300L).map(u => (u, "purchase") -> (u % 3 != 0)).toMap
      GrantStore.materialize(base.toSeq.map { case ((u, f), g) => (u, f, g) }
        .toDF("user_id", "feature", "has_grant"), table, buckets = 8)
      GrantStore.upsert(spark, Seq((2L, "purchase", false))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 8)
      val warm = base + ((2L, "purchase") -> false)
      // 1,100 raw flips over 400 keys, most of them net-zero
      val (flips, want) = flipsOver(warm, (1L to 400L).map(u =>
        ((u * 3, if (u % 5 == 0) "message" else "purchase"), u % 2 == 1,
          if (u <= 300) 3 + (u % 2).toInt else 2)))
      assert(flips.size > BucketedUpsert.DriverMergeRows)
      val probe = PublishProbe(spark) {
        GrantStore.upsert(spark, flips.toDF("user_id", "feature", "has_grant"), table, buckets = 8)
      }
      // the collect, then the collapse as a DataFrame and its bucket-set job
      assert(probe.jobStages.size >= 3, s"jobs (stages each): ${probe.jobStages}")
      assert(grantsOf(table) == want)
    } finally drop(table)
  }

  test("a frame cached over GrantStore.read keeps its rows across a publish") {
    import spark.implicits._
    val table = "gs_cached_read"
    drop(table)
    try {
      val base = (1L to 100L).map(u => (u, "purchase") -> true).toMap
      GrantStore.materialize(base.toSeq.map { case ((u, f), g) => (u, f, g) }
        .toDF("user_id", "feature", "has_grant"), table, buckets = 4)
      GrantStore.upsert(spark, Seq((1L, "purchase", false))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 4)
      val before = grantsOf(table)
      // as AccessService caches its grants frame
      val cached = GrantStore.read(spark, table).cache()
      assert(cached.count() == 100)
      GrantStore.upsert(spark, Seq((2L, "purchase", false), (500L, "purchase", false))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 4)
      // repointing the view uncaches every frame over it
      assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(cached.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2))
        .toMap == before)
      assert(grantsOf(table) == before ++ Map((2L, "purchase") -> false, (500L, "purchase") -> false))
      cached.unpersist()
    } finally drop(table)
  }
}
