package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one publish asks of Spark: the jobs it runs (with the stages
  * each one submits) and the query executions it reports — every SQL
  * statement, catalog command and Dataset action. */
final case class PublishProbe(jobStages: Seq[Int], executions: Seq[String])

object PublishProbe {

  /** Run `body` under a job group and record its jobs and executions.
    * Both listeners sit on one in-order event queue: once a marker
    * job's end arrives, every event posted before it has been seen. */
  def apply(spark: SparkSession)(body: => Unit): PublishProbe = {
    val sc = spark.sparkContext
    val group = "publish_probe"
    val jobs = new ConcurrentHashMap[Int, Integer]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markersDone = new Semaphore(0)
    val recording = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.put(e.jobId, e.stageIds.size)
          case "publish_probe_marker" => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markersDone.release()
    }
    val executions = new ConcurrentLinkedQueue[String]()
    val queries = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (recording.get) executions.add(s"$func: ${qe.logical.nodeName}")
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        if (recording.get) executions.add(s"$func (failed): ${qe.logical.nodeName}")
    }
    def flush(): Unit = {
      sc.setJobGroup("publish_probe_marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markersDone.tryAcquire(60, TimeUnit.SECONDS), "listener flush timed out")
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      flush()
      recording.set(true)
      sc.setJobGroup(group, "measured publish")
      try body finally sc.clearJobGroup()
      flush()
    } finally {
      recording.set(false)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
    PublishProbe(jobs.asScala.toSeq.sortBy(_._1).map(_._2.intValue), executions.asScala.toSeq)
  }
}
