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
        val served = GrantStore.grantsFor(spark,
          Bucketed.read(spark, "gs_users"), table)
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
}
