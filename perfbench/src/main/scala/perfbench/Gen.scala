package perfbench

import java.util.SplittableRandom

/** One generated event. `createdMs` is the creation stamp at the
  * generator; `valid` says whether the registry accepts it. */
final case class Ev(eventId: Long, tsMs: Long, userId: Long, eventType: String,
                    value: Double, props: String, createdMs: Long, valid: Boolean)

/** Seed-derived input properties. Each is drawn from a narrow range,
  * so seeds differ in detail but not in cost class. */
final case class GenParams(
    seed: Long,
    users: Int,            // user population of the feed
    zipf: Double,          // user-key skew exponent
    mix: Seq[(String, Double)], // valid event-type shares
    valueScale: Double,    // purchase/error value spread
    dupFrac: Double,       // re-sent event ids
    oooFrac: Double,       // events that arrive after later ones
    unknownFrac: Double,   // unregistered event types
    malformedFrac: Double, // registered type, props fail the schema
    coldFrac: Double)      // access checks about never-seen users

object GenParams {
  def apply(seed: Long, users: Int): GenParams = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def in(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    val click = in(0.30, 0.36); val signup = in(0.10, 0.14)
    val purchase = in(0.26, 0.30)
    GenParams(seed,
      users = (users * in(0.97, 1.03)).toInt,
      zipf = in(1.05, 1.10),
      mix = Seq("click" -> click, "signup" -> signup, "purchase" -> purchase,
        "error" -> (1 - click - signup - purchase)),
      valueScale = in(90, 110),
      dupFrac = in(0.015, 0.025), oooFrac = in(0.04, 0.06),
      unknownFrac = in(0.025, 0.035), malformedFrac = in(0.015, 0.025),
      coldFrac = 0.75)
  }
}

/** Seeded event generator. The same params give the same events,
  * byte for byte ([[digest]] checks it). Events go out in "slots" (one
  * feed file each); a duplicate or a held-back event lands at most
  * three slots later and keeps its event time, so with slot spans of
  * seconds nothing is older than the 15-minute watermark. */
final class Gen(val p: GenParams, firstUser: Long, firstEventId: Long) {
  private val r = new SplittableRandom(p.seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(p.users)(i => 1.0 / math.pow(i + 1, p.zipf))
    val s = w.sum
    var acc = 0.0
    w.map { x => acc += x / s; acc }
  }
  private var nextId = firstEventId
  private val pending = scala.collection.mutable.Map.empty[Int, Vector[Ev]]

  private def user(): Long = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    firstUser + math.min(p.users - 1, if (i >= 0) i else -i - 1)
  }

  private def eventType(): String = {
    var u = r.nextDouble()
    p.mix.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse(p.mix.last._1)
  }

  /** One fresh event created at `createdMs` with event time `tsMs`. */
  private def event(tsMs: Long, createdMs: Long): Ev = {
    nextId += 1
    val u = r.nextDouble()
    val uid = user()
    val k = r.nextInt(40)
    if (u < p.unknownFrac)
      Ev(nextId, tsMs, uid, if (r.nextBoolean()) "view" else "refund",
        r.nextDouble() * p.valueScale, s"""{"k": $k}""", createdMs, valid = false)
    else if (u < p.unknownFrac + p.malformedFrac) {
      val t = eventType()
      val bad = if (r.nextBoolean()) s"""{"k": "x$k"}""" else s"""{"k": $k"""
      Ev(nextId, tsMs, uid, t, r.nextDouble() * p.valueScale, bad, createdMs, valid = false)
    } else {
      val t = eventType()
      val v = t match {
        case "purchase" => r.nextDouble() * p.valueScale
        case "error" => r.nextDouble() * p.valueScale * 1.1
        case _ => r.nextDouble() * 10
      }
      Ev(nextId, tsMs, uid, t, v, s"""{"k": $k}""", createdMs, valid = true)
    }
  }

  /** The events of slot `s`: `n` fresh events spread over
    * [startMs, startMs + spanMs), plus the duplicates and held-back
    * events earlier slots scheduled for it. A held-back event keeps its
    * creation and event time, so it arrives out of order. */
  def slot(s: Int, n: Int, startMs: Long, spanMs: Long): Vector[Ev] = {
    val out = Vector.newBuilder[Ev]
    out ++= pending.remove(s).getOrElse(Vector.empty)
    var i = 0
    while (i < n) {
      val created = startMs + (spanMs * i) / n
      val e = event(created, created)
      val u = r.nextDouble()
      if (u < p.oooFrac) later(s + 1 + r.nextInt(3), e)
      else out += e
      if (e.valid && r.nextDouble() < p.dupFrac) later(s + 1 + r.nextInt(3), e)
      i += 1
    }
    out.result()
  }

  private def later(s: Int, e: Ev): Unit =
    pending.update(s, pending.getOrElse(s, Vector.empty) :+ e)

  /** Events still scheduled for later slots (flushed by the caller into
    * the last slot it writes, so nothing generated is lost). */
  def drainPending(): Vector[Ev] = {
    val all = pending.toSeq.sortBy(_._1).flatMap(_._2).toVector
    pending.clear()
    all
  }
}

/** What the benchmark keeps of a written feed file: enough to check
  * the outputs, without holding the events themselves on the heap. */
final case class FileInfo(rows: Int, invalidIds: Array[Long], createdMs: Array[Long])

object FileInfo {
  def of(evs: Seq[Ev]): FileInfo =
    FileInfo(evs.size, evs.filterNot(_.valid).map(_.eventId).toArray, evs.map(_.createdMs).toArray)
}

object Gen {
  /** SHA-256 over a canonical encoding of the events. */
  def digest(evs: Iterable[Ev]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(64)
    evs.foreach { e =>
      bb.clear()
      bb.putLong(e.eventId).putLong(e.tsMs).putLong(e.userId)
        .putDouble(e.value).putLong(e.createdMs).put(if (e.valid) 1.toByte else 0.toByte)
      md.update(bb.array(), 0, bb.position())
      md.update(e.eventType.getBytes("UTF-8"))
      md.update(e.props.getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Writes feed files straight through the Parquet writer, outside the
  * engine under test: no Spark job runs on the generator's behalf. A
  * file appears under its final name only when complete (written
  * hidden, then renamed), with a modification time that orders it
  * after every earlier file. */
object FeedWriter {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.MessageTypeParser

  private val schema = MessageTypeParser.parseMessageType(
    """message event {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |  required int64 created_ms;
      |}""".stripMargin)
  private val conf = {
    val c = new Configuration()
    // no .crc side files next to the feed
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  def write(dir: java.nio.file.Path, seq: Int, evs: Seq[Ev],
            mtimeMs: Option[Long] = None): java.nio.file.Path = {
    val name = f"events-$seq%06d.parquet"
    val tmp = dir.resolve("." + name + ".tmp")
    val f = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(tmp.toUri))
      .withConf(conf).withType(schema).build()
    try evs.foreach { e =>
      w.write(f.newGroup()
        .append("event_id", e.eventId).append("ts", e.tsMs * 1000L)
        .append("user_id", e.userId).append("event_type", e.eventType)
        .append("value", e.value).append("props", e.props)
        .append("created_ms", e.createdMs))
    } finally w.close()
    val dst = dir.resolve(name)
    java.nio.file.Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    mtimeMs.foreach(t => java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(t)))
    dst
  }
}
