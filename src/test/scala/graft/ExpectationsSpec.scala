package graft

import graft.operators.{Expectation, Expectations}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Expectations operator semantics: not-TRUE-fails null handling, audit
  * counts, annotate ordering, split partition, profile stats, and the
  * single-scan plan shape (no per-check re-reads). */
class ExpectationsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def fixture = {
    import spark.implicits._
    Seq[(Long, Option[Double], String)](
      (1L, Some(10.0), "ok"),
      (2L, Some(-5.0), "ok"),
      (3L, None, "ok"), // null value: value checks must FAIL, not skip
      (4L, Some(3.0), "bad"),
      (5L, Some(0.0), "ok")
    ).toDF("id", "v", "tag")
  }

  private val checks = Seq(
    Expectation("v_positive", col("v") > 0),
    Expectation("tag_ok", col("tag") === "ok"),
    Expectation("id_small", col("id") <= 100L))

  test("audit counts failures with NULL predicate = fail") {
    val got = Expectations.audit(fixture, checks)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // v_positive fails id=2 (-5), id=3 (NULL v), id=5 (0.0)
    assert(got == Map(
      "v_positive" -> ((5L, 3L)),
      "tag_ok" -> ((5L, 1L)),
      "id_small" -> ((5L, 0L))))
  }

  test("audit on empty input reports (0,0) per check, not nulls") {
    val got = Expectations.audit(fixture.filter(lit(false)), checks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == checks.map(c => (c.name, 0L, 0L)).toSet)
  }

  test("annotate lists violated checks in declaration order") {
    val got = Expectations.annotate(fixture, checks)
      .select(col("id"), col("violations"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq.empty)
    assert(got(2L) == Seq("v_positive"))
    assert(got(3L) == Seq("v_positive"))
    assert(got(4L) == Seq("tag_ok"))
    // multi-violation row keeps declaration order
    import spark.implicits._
    val multi = Expectations.annotate(
      Seq((200L, Option.empty[Double], "bad")).toDF("id", "v", "tag"), checks)
      .select(col("violations")).head().getSeq[String](0)
    assert(multi == Seq("v_positive", "tag_ok", "id_small"))
  }

  test("split partitions rows exactly; clean side has empty violations") {
    val (clean, bad) = Expectations.split(fixture, checks)
    assert(clean.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(bad.select("id").collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 5L))
    assert(clean.filter(size(col("violations")) =!= 0).isEmpty)
    assert(clean.count() + bad.count() == fixture.count())
  }

  test("profile reports nulls and exact distincts per column") {
    val got = Expectations.profile(fixture, Seq("v", "tag"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("v") == ((5L, 1L, 4L))) // 4 distinct non-null doubles
    assert(got("tag") == ((5L, 0L, 2L)))
  }

  test("audit is one scan: a single aggregate over the input, no joins") {
    val plan = Expectations.audit(fixture, checks)
      .queryExecution.optimizedPlan.toString()
    assert(!plan.toLowerCase.contains("join"), s"unexpected join:\n$plan")
    // exactly one Aggregate over the source (partial/final pairs appear
    // only in the physical plan; optimized logical has one)
    assert("(?i)aggregate".r.findAllIn(plan).size == 1, s"plan:\n$plan")
  }

  test("validation rejects empty and duplicate check lists") {
    intercept[IllegalArgumentException](Expectations.audit(fixture, Nil))
    intercept[IllegalArgumentException](Expectations.annotate(fixture,
      Seq(Expectation("x", lit(true)), Expectation("x", lit(false)))))
    intercept[IllegalArgumentException](Expectations.profile(fixture, Nil))
  }
}
