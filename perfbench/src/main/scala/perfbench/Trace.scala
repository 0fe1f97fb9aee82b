package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (0 = none); spans of one request share `req`. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      req: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled (the end-to-end runs) it only
  * runs the body; enabled (the traced run) it records a span per call
  * with the calling thread's open span as parent. Spans are written
  * out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, layer: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, req, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total and self milliseconds per layer. Self time is a span's
    * duration minus the union of its children's intervals inside it. */
  def layerTimes: Map[String, (Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      val total = xs.map(_.durNs).sum
      val self = xs.map { s =>
        val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        s.durNs - covered
      }.sum
      layer -> (total / 1e6, self / 1e6)
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(Stats.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Scheduler counters from a SparkListener, keyed by the job group
  * the benchmark sets around each layer call ("" = no group). */
final class SchedulerCounters extends SparkListener {
  final class Tally {
    val jobs = new AtomicLong(); val tasks = new AtomicLong()
    val runMs = new AtomicLong(); val deserMs = new AtomicLong()
    val gcMs = new AtomicLong(); val shuffleBytes = new AtomicLong()
  }
  private val tallies = new java.util.concurrent.ConcurrentHashMap[String, Tally]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** (launch ms, finish ms, run ms, stage id) of every finished task. */
  val taskSpans = new ConcurrentLinkedQueue[(Long, Long, Long, Int)]()

  def tally(group: String): Tally = tallies.computeIfAbsent(group, _ => new Tally)
  def groups: Map[String, Tally] = tallies.asScala.toMap

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    tally(g).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val t = tally(g)
    t.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      t.runMs.addAndGet(m.executorRunTime)
      t.deserMs.addAndGet(m.executorDeserializeTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime, e.stageId))
    }
  }

  /** Share of [fromMs, toMs) in which no task was running. */
  def idleFrac(fromMs: Long, toMs: Long): Double = {
    val iv = taskSpans.asScala.toSeq.map { case (a, b, _, _) =>
      (math.max(a, fromMs), math.min(b, toMs)) }
    val wall = (toMs - fromMs).toDouble
    if (wall <= 0) 0.0 else 1.0 - Tracer.unionNs(iv) / wall
  }

  /** Median over stages (≥ 2 tasks, in `stages`) of max ÷ median task
    * run time: 1.0 is perfectly even, larger means one task sets the
    * stage time. */
  def taskSkew(stages: Set[Int]): Double = {
    val per = taskSpans.asScala.toSeq.filter(x => stages(x._4)).groupBy(_._4).values
      .map(_.map(_._3.toDouble)).filter(_.size >= 2)
      .map(xs => xs.max / math.max(1.0, Stats.median(xs.toSeq)))
    if (per.isEmpty) 1.0 else Stats.median(per.toSeq)
  }

  def stagesOf(groupPrefix: String): Set[Int] =
    stageGroup.asScala.collect { case (s, g) if g.startsWith(groupPrefix) => s }.toSet
}

/** Heap still occupied right after a full collection, taken at the end
  * of a timed phase before the stream stops: what the run retains
  * (stream state, cached frames, stores), without the garbage whose
  * amount depends on when the collector last ran. Collected twice: the
  * first collection lets Spark's cleaner release the broadcasts and
  * shuffles no longer referenced, the second reclaims them. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
