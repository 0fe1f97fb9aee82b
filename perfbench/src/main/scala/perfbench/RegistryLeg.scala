package perfbench

import java.nio.file.Files

import graft.SparkEntry

/** The batch-query layer on the read-only sf0.01 fixture, run by the
  * traced runs after their streaming part (the two halves are split
  * between the workloads to keep each traced run short): the persisted
  * stores built by name; and the session memos built by name, one pass
  * over the registry slice, each query forced through the `noop` sink,
  * and each slice query's row count and content hash checked against
  * the recorded values. */
object RegistryLeg {
  import Workloads._

  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds per store build (store.*). */
  def stores(ctx: Ctx): Map[String, Double] =
    Registry.Stores.map { n =>
      s"store.${n}_s" -> secondsOf(ctx.tracer.span(n, "store") {
        graft.StoreBuilds.build(ctx.spark, ctx.fixture.toString, n)
      })._2 }.toMap

  /** Seconds per memo build and per module's slice queries (memo.*,
    * queries.*), and the slice's mismatches. */
  def queries(ctx: Ctx): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val sf = ctx.fixture.toString
    val memos = SparkEntry.memoWarmers.map { case (n, w) =>
      s"memo.${n}_s" -> secondsOf(ctx.tracer.span(n, "memo")(w(spark, sf)))._2 }
    val order = new scala.util.Random(ctx.seed).shuffle(Registry.slice)
    val timed = order.map { case (m, q) =>
      m -> secondsOf(ctx.tracer.span(q.name, "queries", m)(force(q.run(spark, sf))))._2 }
    val perModule = Registry.Modules.map(m =>
      s"queries.${m}_s" -> timed.filter(_._1 == m).map(_._2).sum)

    val expected = ExpectedHashes.load(ctx.expected)
    val observed = Registry.slice.map { case (_, q) => q.name -> Registry.contentHash(q.run(spark, sf)) }
    ctx.record.foreach(p => ExpectedHashes.save(p, observed))
    val mismatches = observed.filter { case (n, h) => !expected.get(n).contains(h) }.map {
      case (n, (rows, h)) => s"query $n: $rows rows / $h, expected " +
        expected.get(n).map(e => s"${e._1} rows / ${e._2}").getOrElse("no recorded value") }
    ((memos ++ perModule).toMap, mismatches)
  }
}

/** Row counts and content hashes recorded beside the benchmark from
  * an oracle-verified run: `{"query": {"rows": n, "sha256": "…"}}`. */
object ExpectedHashes {
  private val entry = """"([a-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"sha256"\s*:\s*"([0-9a-f]+)"""".r

  def load(p: java.nio.file.Path): Map[String, (Long, String)] =
    entry.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap

  def save(p: java.nio.file.Path, hs: Seq[(String, (Long, String))]): Unit =
    Files.writeString(p, hs.sortBy(_._1).map { case (n, (r, h)) =>
      s"""  "$n": {"rows": $r, "sha256": "$h"}""" }.mkString("{\n", ",\n", "\n}\n"))
}
