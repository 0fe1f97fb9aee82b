package graft

import graft.config.DefaultConfig
import graft.operators.AccessService
import graft.sources.GrantStore
import graft.streaming.EventPipeline.EventRow
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Read path: grant lookup, default-grant for unseen users, circuit
  * override (reference tests test_user_feature_service.py:57-113). */
class AccessServiceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def ev(id: Long, user: Long, typ: String, value: Double, minute: Int): EventRow =
    EventRow(id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"),
      user, typ, value, """{"k": 1}""")

  test("revoked user denied; unseen user default-granted") {
    import spark.implicits._
    // enough background USERS that one denied user keeps the breaker
    // closed (distinct-user denial rate 1/42 < 5%) — otherwise the
    // open circuit correctly overrides the revocation
    val events = (Seq(
      ev(1, 1, "purchase", 600.0, 1),
      ev(2, 1, "error", 900.0, 2)) ++ // ratio 1.5 → purchase revoked
      (3 to 42).map(i => ev(i, i, "click", 1.0, 3))).toDF()
    val svc = AccessService.fromEvents(spark, events, DefaultConfig.config)
    assert(!svc.canAccess(1, "purchase"))
    assert(svc.canAccess(1, "message"))   // few_errors still abides
    assert(svc.canAccess(999, "purchase")) // unseen → default grant
  }

  test("flag parsing mirrors the reference route regex") {
    assert(AccessService.parseFlag("canpurchase").contains("purchase"))
    assert(AccessService.parseFlag("canx").contains("x"))
    assert(AccessService.parseFlag("can").isEmpty)
    assert(AccessService.parseFlag("canPurchase").isEmpty)
    assert(AccessService.parseFlag("cannotanactualfeatureXX").isEmpty)
    assert(AccessService.parseFlag("canabcdefghijklmnopq").isEmpty) // 17 chars
  }

  test("open circuit allows a revoked user (reference :57-74)") {
    import spark.implicits._
    val grants = Seq((1L, "purchase", false)).toDF("user_id", "feature", "has_grant")
    val open = Seq(("purchase", true)).toDF("feature", "circuit_open")
    assert(new AccessService(spark, grants, open).canAccess(1, "purchase"))
    val closed = Seq(("purchase", false)).toDF("feature", "circuit_open")
    assert(!new AccessService(spark, grants, closed).canAccess(1, "purchase"))
  }

  test("circuits are per feature: one open circuit doesn't leak") {
    import spark.implicits._
    // user 1 revoked on BOTH features; only message's circuit is open →
    // message accessible (circuit override), purchase still denied.
    val grants = Seq((1L, "purchase", false), (1L, "message", false))
      .toDF("user_id", "feature", "has_grant")
    val circuits = Seq(("purchase", false), ("message", true))
      .toDF("feature", "circuit_open")
    val svc = new AccessService(spark, grants, circuits)
    assert(!svc.canAccess(1, "purchase"))
    assert(svc.canAccess(1, "message"))
  }

  test("accessLog records the real grant, not the served has_access") {
    import spark.implicits._
    val grants = Seq((1L, "purchase", false)).toDF("user_id", "feature", "has_grant")
    val open = Seq(("purchase", true)).toDF("feature", "circuit_open")
    val svc = new AccessService(spark, grants, open)
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val requests = Seq((t, 1L, "purchase"), (t, 2L, "purchase"))
      .toDF("ts", "user_id", "feature")
    // served: both allowed (circuit open); logged: user 1's attempt is
    // success=false — the reference logs the REAL grant
    // (user_feature.py:52-55)
    assert(svc.check(requests.select("user_id", "feature")).collect()
      .forall(_.getBoolean(4)))
    val log = svc.accessLog(requests).collect()
      .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(log == Map(1L -> false, 2L -> true))
  }

  test("grants join is size-gated: shuffle-hash above the broadcast ceiling") {
    import spark.implicits._
    val grants = Seq((1L, "purchase", false), (2L, "purchase", true))
      .toDF("user_id", "feature", "has_grant")
    val circuits = Seq(("purchase", false)).toDF("feature", "circuit_open")
    val requests = Seq((1L, "purchase"), (2L, "purchase"), (3L, "purchase"))
      .toDF("user_id", "feature")
    val small = new AccessService(spark, grants, circuits)
    val huge = new AccessService(spark, grants, circuits, maxBroadcastGrants = 0L)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // below the ceiling: grants broadcast (requests stream shuffle-free)
    assert(planOf(small.check(requests)).contains("BroadcastHashJoin"))
    // above it: the grants join must NOT be a broadcast — shuffle hash
    // join building on the grants side (the circuits join, O(features),
    // stays broadcast)
    val hugePlan = planOf(huge.check(requests))
    assert(hugePlan.contains("ShuffledHashJoin"))
    // identical answers either side of the gate
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))
    assert(small.check(requests).collect().map(key).sorted.toSeq ==
      huge.check(requests).collect().map(key).sorted.toSeq)
  }

  /** Grants for the parity grid: granted, revoked and null-grant users
    * (999 is unseen) on a closed (purchase), an open (message) and a
    * missing (export) circuit; `nosuch` is an unknown feature. */
  private def gridGrants(): DataFrame = {
    import spark.implicits._
    Seq[(Long, String, Option[Boolean])](
      (1L, "purchase", Some(true)), (1L, "message", Some(true)), (1L, "export", Some(true)),
      (2L, "purchase", Some(false)), (2L, "message", Some(false)), (2L, "export", Some(false)),
      (3L, "purchase", None), (3L, "export", None))
      .toDF("user_id", "feature", "has_grant")
  }

  private def assertParity(grants: DataFrame): Unit = {
    import spark.implicits._
    val circuits = Seq(("purchase", false), ("message", true)).toDF("feature", "circuit_open")
    val grid = for (u <- Seq(1L, 2L, 3L, 999L); f <- Seq("purchase", "message", "export", "nosuch"))
      yield (u, f)
    // point lookups first, on their own service, so they run against
    // the uncached frames; the batch service then caches its own
    val point = new AccessService(spark, grants, circuits)
    val served = grid.map(k => k -> point.canAccess(k._1, k._2)).toMap
    val batch = new AccessService(spark, grants, circuits)
    try {
      val checked = batch.check(grid.toDF("user_id", "feature")).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(4)).toMap
      assert(served == checked)
      // message's open circuit overrides user 2's revocation; the
      // missing circuit and the unknown feature default to closed
      assert(served.filter(!_._2).keySet == Set((2L, "purchase"), (2L, "export")))
    } finally {
      grants.unpersist()
      circuits.unpersist()
    }
  }

  test("canAccess equals check().has_access across the default grid: local frame") {
    assertParity(gridGrants())
  }

  test("canAccess equals check().has_access across the default grid: 32-bucket GrantStore") {
    val table = "as_parity"
    GrantStore.drop(spark, table)
    try {
      GrantStore.materialize(gridGrants(), table, buckets = 32)
      assertParity(GrantStore.read(spark, table))
    } finally GrantStore.drop(spark, table)
  }

  test("one canAccess on a 32-bucket GrantStore: one job, one task, one file, no cache entry") {
    import spark.implicits._
    val table = "as_point"
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val tasks = new AtomicInteger()
    val probeStages = ConcurrentHashMap.newKeySet[Int]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markersDone = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "as_probe" => jobs.incrementAndGet(); e.stageIds.foreach(probeStages.add)
          case "as_marker" => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (probeStages.contains(e.stageId)) tasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markersDone.release()
    }
    val scans = new ConcurrentLinkedQueue[FileSourceScanExec]()
    val plans = new AdaptiveSparkPlanHelper {}
    val executions = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach(scans.add)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // both listeners sit on one in-order event queue: once a marker
    // job's end arrives, every event posted before it has been seen
    def flush(): Unit = {
      sc.setJobGroup("as_marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markersDone.tryAcquire(60, TimeUnit.SECONDS))
    }
    GrantStore.drop(spark, table)
    try {
      GrantStore.materialize((1L to 2000L).map(u => (u, "purchase", u % 3 != 0))
        .toDF("user_id", "feature", "has_grant"), table, buckets = 32)
      val grants = GrantStore.read(spark, table)
      // CacheManager matches frames by plan, so the extra row keeps an
      // equal frame cached by another spec from reading as cached here
      val circuits = Seq(("purchase", false), (table, false)).toDF("feature", "circuit_open")
      val svc = new AccessService(spark, grants, circuits)
      assert(svc.canAccess(1L, "purchase")) // reads the circuits once
      sc.addSparkListener(listener)
      spark.listenerManager.register(executions)
      flush()
      scans.clear()
      sc.setJobGroup("as_probe", "point lookup")
      val answer = try svc.canAccess(3L, "purchase") finally sc.clearJobGroup()
      flush()
      assert(!answer)
      assert(jobs.get == 1)
      assert(tasks.get == 1)
      val scanned = scans.asScala.toSeq
      assert(scanned.size == 1)
      // the scan's numFiles metric counts the generation's listing
      // (all 32 bucket files); bucket pruning drops the other 31 when
      // it builds the read partitions, so count the files read there
      val read = scanned.head.inputRDDs().flatMap(_.partitions)
        .map(_.asInstanceOf[FilePartition].files.length).sum
      assert(read == 1)
      assert(grants.storageLevel == StorageLevel.NONE)
      assert(circuits.storageLevel == StorageLevel.NONE)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(executions)
      GrantStore.drop(spark, table)
    }
  }
}
