package graft

import graft.config.DefaultConfig
import graft.operators.{EventAggregates, Grants}
import graft.streaming.EventPipeline.EventRow
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.3): uuid-dedup idempotence
  * and grant determinism under duplication/shuffling of the event log.
  * Raw ScalaCheck generators with fixed seeds (the scalatest bridge
  * artifact is not on the offline resolver). */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private lazy val spark = SparkTestSession.spark
  private val cfg = DefaultConfig.config

  private val genEvent: Gen[EventRow] = for {
    id <- Gen.choose(1L, 40L)
    user <- Gen.choose(1L, 4L)
    typ <- Gen.oneOf("click", "signup", "purchase", "error", "view")
    value <- Gen.choose(0.0, 500.0)
    k <- Gen.choose(0L, 5L)
    minute <- Gen.choose(0, 59)
  } yield EventRow(id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"),
    user, typ, math.rint(value * 100) / 100, s"""{"k": $k}""")

  private def grantsOf(events: Seq[EventRow]): Map[(Long, String), Boolean] = {
    import spark.implicits._
    Grants.long(EventAggregates.perUser(events.toDF(), cfg.aggregates), cfg)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
  }

  test("re-sending any suffix of the event log never changes aggregates/grants") {
    samples(Gen.listOfN(25, genEvent), 8).foreach { events =>
      // uuid identifies payload: dedupe the generated ids first so
      // duplicates we add are true re-sends of the same event
      val base = events.groupBy(_.event_id).map(_._2.head).toSeq
      val withResends = base ++ base.takeRight(base.length / 2)
      assert(grantsOf(base) == grantsOf(withResends))
    }
  }

  test("event order within the log does not affect final aggregates") {
    samples(Gen.listOfN(20, genEvent), 8).foreach { events =>
      val base = events.groupBy(_.event_id).map(_._2.head).toSeq
      assert(grantsOf(base) == grantsOf(base.reverse))
    }
  }

  // --- connected components vs a reference union-find -----------------

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, for {
      a <- Gen.choose(1L, 20L); b <- Gen.choose(1L, 20L)
    } yield (a, b))

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  test("star-algorithm components equal union-find on random graphs") {
    import spark.implicits._
    samples(genEdges, 6).foreach { edges =>
      val got = graft.operators.ConnectedComponents
        .components(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"edges=$edges")
    }
  }

  // --- binned range join vs a brute-force BETWEEN join -----------------

  test("binned range join equals the brute-force interval scan") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val genCase = for {
      probes <- Gen.listOfN(25, for {
        id <- Gen.choose(1L, 1000L); k <- Gen.choose(1L, 4L)
        m <- Gen.choose(0, 120)
      } yield (id, k, m))
      builds <- Gen.listOfN(8, for {
        k <- Gen.choose(1L, 4L); s <- Gen.choose(0, 100)
        len <- Gen.choose(1, 70)
      } yield (k, s, s + len))
    } yield (probes, builds)
    def t(m: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    samples(genCase, 6).foreach { case (probes, builds) =>
      val p = probes.map { case (id, k, m) => (id, k, t(m)) }
        .toDF("id", "k", "ts")
      val b = builds.zipWithIndex.map { case ((k, s, e), i) =>
        (i.toLong, k, t(s), t(e)) }.toDF("bid", "k", "start", "end")
      val got = graft.operators.RangeJoin
        .binned(p, b, "k", "ts", "start", "end", binMicros = 1800000000L)
        .select("id", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = p.as("p").join(b.as("b"),
          col("p.k") === col("b.k") &&
            col("ts") >= col("start") && col("ts") < col("end"))
        .select("id", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  // --- CDC collapse vs replaying the flip sequence ---------------------

  test("collapse equals replaying alternating flip sequences in order") {
    import spark.implicits._
    val genSeq = Gen.listOfN(4, for {
      user <- Gen.choose(1L, 3L); feature <- Gen.oneOf("purchase", "message")
      first <- Gen.oneOf(true, false); n <- Gen.choose(1, 5)
    } yield (user, feature, first, n))
    samples(genSeq, 8).foreach { keys =>
      // per key: n alternating flips starting from `first`
      val flips = keys.distinctBy(k => (k._1, k._2)).flatMap {
        case (u, f, first, n) =>
          (0 until n).map(i => (u, f, if (i % 2 == 0) first else !first))
      }
      val changes = flips.toDF("user_id", "feature", "has_grant")
      val got = graft.sources.GrantStore
        .collapse(changes)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2))
        .toMap
      // replay: last flip wins; net no-ops (even count) must be absent
      val want = flips.groupBy(f => (f._1, f._2)).collect {
        case (k, fs) if fs.length % 2 == 1 => k -> fs.last._3
      }
      assert(got == want, s"flips=$flips")
      // the driver collapse of the same rows, shuffled
      val rows = scala.util.Random.shuffle(
        changes.queryExecution.toRdd.map(_.copy()).collect().toSeq)
      val local = graft.sources.GrantStore.collapseLocal(rows, changes.schema)
        .map(r => (r.getLong(0), r.getUTF8String(1).toString) -> r.getBoolean(2))
      assert(local.size == local.toMap.size && local.toMap == want, s"flips=$flips")
    }
  }

  test("l2_fp: symmetric, zero on self, bit-equal to the HOF form on random vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val genVec = Gen.listOfN(16, Gen.choose(-(1L << 20), 1L << 20))
    val pairs = samples(for { a <- genVec; b <- genVec } yield (a, b), 60)
    val rows = pairs.toDF("a", "b").select(
      graft.functions.expressions.L2DistanceFp(col("a"), col("b")).as("ab"),
      graft.functions.expressions.L2DistanceFp(col("b"), col("a")).as("ba"),
      graft.functions.expressions.L2DistanceFp(col("a"), col("a")).as("aa"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "symmetry")
      assert(r.getLong(2) == 0L, "identity")
      assert(r.getLong(0) == r.getLong(3), "HOF parity")
    }
  }
}
