package graft

import graft.config.DefaultConfig
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{EventRow, GrantChange}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** A steady micro-batch of the grant fold compiles no generated class
  * for its state: the state encoder's code is the same in every batch,
  * so the codegen cache serves it. The one class a steady batch still
  * compiles is the watermark predicate that Spark's stateful operator
  * builds with the batch's watermark as a literal (BENCHNOTES, "Flat
  * fold rows"). Each compile is read from `CodegenMetrics` and its
  * source from the code generator's log. */
class GrantFoldCodegenSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Runs `body` with every generated class's source captured. */
  private def capturingCompiles[T](body: (() => Seq[String]) => T): T = {
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      // the source of each compiled class (its `generate` entry point);
      // the "Code generated in" timing lines are left out
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("generate(Object[] references)")) sources.add(m)
      }
    }
    appender.start()
    val lc = new LoggerConfig(name, Level.DEBUG, false)
    lc.addAppender(appender, Level.DEBUG, null)
    conf.addLogger(name, lc)
    ctx.updateLoggers()
    try body { () =>
      import scala.jdk.CollectionConverters._
      val got = sources.asScala.toSeq
      sources.clear()
      got
    } finally {
      conf.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("steady micro-batches compile nothing for the fold's state") {
    import spark.implicits._
    val cfg = DefaultConfig.config
    val types = Seq("click", "signup", "purchase", "error")
    def batch(b: Int): Seq[EventRow] = (0 until 200).map { i =>
      val id = b * 1000L + i
      EventRow(id, new java.sql.Timestamp(1704067200000L + b * 60000L + i * 100L),
        i % 40, types(i % 4), 10.0 + i % 7, s"""{"k": ${i % 9}}""")
    }
    val ms = MemoryStream[EventRow](spark)
    // a foreachBatch sink, as the product's stream runs: the memory
    // sink compiles a row converter of its own in every batch
    val q = EventPipeline.grantChangesBounded(spark, ms.toDS(), cfg)
      .writeStream.queryName("codegen_flips").outputMode("append")
      .foreachBatch { (b: Dataset[GrantChange], _: Long) =>
        // consume every partition: the state stores commit on exhaustion
        val _ = b.count(); ()
      }.start()
    try capturingCompiles { drain =>
      (0 until 2).foreach { b => ms.addData(batch(b)); q.processAllAvailable() }
      val steady = (2 until 5).map { b =>
        drain()
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        ms.addData(batch(b)); q.processAllAvailable()
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, drain())
      }
      steady.zipWithIndex.foreach { case ((count, sources), i) =>
        val what = sources.map(src => """class (\w+)""".r.findFirstMatchIn(src)
          .fold("?")(_.group(1))).mkString("; ")
        assert(count == sources.size, s"steady batch $i: $count compiles, ${sources.size} logged")
        assert(!sources.exists(_.contains("BoundedUserState")),
          s"steady batch $i compiled the state's encoder: $what")
        assert(sources.forall(_.contains("class SpecificPredicate")),
          s"steady batch $i compiled more than the watermark predicate: $what")
        assert(count <= 1, s"steady batch $i: $count compiles: $what")
      }
    } finally q.stop()
  }
}
