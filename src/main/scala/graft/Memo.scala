package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.TimeUnit

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions

/** One session memo: a value derived from corpus tables under a source
  * dir, built once per (session, dir, key) and reused until its tables
  * change.
  *
  * A declaration names the memo, the corpus tables it reads (relative
  * to the dir, e.g. `documents.parquet`), whether the bench warm-up
  * phase forces it, and how to drop the persisted store it fronts, if
  * any. Frames a build caches through [[Memo.cache]] belong to the
  * entry that built them and are released with it.
  *
  * Every hit re-stamps the tables (list + stat, no file reads) and
  * compares the stamp recorded at build: a corpus rewritten in place
  * releases the entry and rebuilds it. The release comes first because
  * Spark's CacheManager serves any plan equal to a cached one — and a
  * re-read of the same path is equal — so a frame left registered
  * would hand the old rows to the rebuild. Persisted stores still
  * decide on the rebuild whether to adopt (StoreSentinel's content
  * signature). */
final class Memo[K, V] private (
    val name: String,
    private val tables: Seq[String],
    val warmed: Boolean,
    private val dropStore: (SparkSession, String) => Unit,
    private val build: (SparkSession, String, K) => V) {

  def apply(s: SparkSession, dir: String, k: K): V =
    Memo.entry(this, s, dir, k).value.asInstanceOf[V]

  def apply(s: SparkSession, dir: String)(implicit unit: Unit =:= K): V =
    apply(s, dir, unit(()))

  /** Bench warm-up: build (or hit) and materialize every frame the
    * build cached. */
  def force(s: SparkSession, dir: String)(implicit unit: Unit =:= K): Unit =
    Memo.entry(this, s, dir, unit(())).frames.foreach(_.count())
}

object Memo {

  def apply[V](name: String, tables: Seq[String], warm: Boolean = false,
               dropStore: (SparkSession, String) => Unit = (_, _) => ())(
      build: (SparkSession, String) => V): Memo[Unit, V] =
    new Memo(name, tables, warm, dropStore,
      (s: SparkSession, dir: String, _: Unit) => build(s, dir))

  /** A memo keyed by one more value beside (session, dir), with no
    * warm-up and no persisted store. */
  def keyed[K, V](name: String, tables: Seq[String])(
      build: (SparkSession, String, K) => V): Memo[K, V] =
    new Memo(name, tables, false, (_, _) => (), build)

  private final class Entry(val memo: Memo[_, _], val dir: String,
                            val stamp: String, val value: Any,
                            val frames: Seq[DataFrame])

  /** Everything one session holds: its memo entries, the frames cached
    * outside any build, and the lock of
    * [[PlanUtil.checkpointKeepPartitioning]]. */
  private final class Slot {
    val lock = new Object
    val entries = TrieMap.empty[(String, String, Any), Entry]
    val loose = new ConcurrentLinkedQueue[DataFrame]()
  }

  // Strong keys on purpose: cached values reference their session, so
  // a weak key would never clear; clearAll/forget are the clearing path.
  private val slots = TrieMap.empty[SparkSession, Slot]
  private def slot(s: SparkSession): Slot = slots.getOrElseUpdate(s, new Slot)

  /** Frames cached by the builds running on this thread, innermost
    * first. */
  private val building = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  private def entry[K](m: Memo[K, _], s: SparkSession, dir: String, k: K): Entry = {
    val sl = slot(s)
    val key = (m.name, dir, k)
    val stamp = Memo.stamp(dir, m.tables)
    sl.entries.get(key) match {
      case Some(e) if e.stamp == stamp => e
      case stale =>
        stale.foreach(e => if (sl.entries.remove(key, e)) release(e))
        val frames = ArrayBuffer.empty[DataFrame]
        building.set(frames :: building.get)
        val value = try m.build(s, dir, k) catch {
          case t: Throwable => frames.foreach(uncache); throw t
        } finally building.set(building.get.tail)
        val e = new Entry(m, dir, stamp, value, frames.toSeq)
        // a concurrent build of the same key caches equal plans, so
        // the loser's frames are the winner's cache entries
        sl.entries.putIfAbsent(key, e).getOrElse(e)
    }
  }

  /** Cache `df` and tie it to the memo entry being built on this
    * thread, or — outside any build — to the session until
    * [[clearAll]]/[[forget]]. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    building.get match {
      case frames :: _ => frames += c
      case Nil => slot(c.sparkSession).loose.add(c)
    }
    c
  }

  // cascade: a frame cached over a released one (a query's signature
  // frame over the shingle memo) would otherwise keep serving old rows
  private def uncache(df: DataFrame): Unit = {
    val d = ClassicConversions.castToImpl(df)
    d.sparkSession.sharedState.cacheManager.uncacheQuery(d, cascade = true)
  }

  private def release(e: Entry): Unit = e.frames.foreach(uncache)

  /** Unpersist every entry and drop the persisted stores behind them. */
  def clearAll(): Unit = releaseAll(dropStores = true)

  /** Drop the in-memory entries only — what a process restart loses;
    * the persisted stores stay adoptable. */
  def forget(): Unit = releaseAll(dropStores = false)

  private def releaseAll(dropStores: Boolean): Unit =
    slots.keys.foreach { s =>
      slots.remove(s).foreach { sl =>
        sl.entries.values.foreach { e =>
          release(e)
          if (dropStores) e.memo.dropStore(s, e.dir)
        }
        sl.loose.asScala.foreach(uncache)
      }
    }

  /** The AQE-toggle lock of `s` (see [[PlanUtil.checkpointKeepPartitioning]]). */
  private[graft] def lock(s: SparkSession): Object = slot(s).lock

  /** Sessions holding entries, loose frames or a lock. */
  private[graft] def sessions: Int = slots.size

  /** Every frame the registry holds, loose ones included. */
  private[graft] def frames: Seq[DataFrame] =
    slots.values.toSeq.flatMap(sl =>
      sl.entries.values.flatMap(_.frames) ++ sl.loose.asScala)

  /** Metadata stamp of `tables` under `dir`: the sorted (relative name,
    * size, mtime) listing, from list + stat only. */
  private[graft] def stamp(dir: String, tables: Seq[String]): String =
    tables.sorted.flatMap { t =>
      val root = Paths.get(dir, t)
      if (!Files.exists(root)) Seq(s"$t|absent")
      else {
        val walk = Files.walk(root)
        try walk.iterator.asScala.flatMap { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          if (a.isRegularFile) Some(s"$t/${root.relativize(f)}|${a.size}|" +
            a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
          else None
        }.toSeq.sorted
        finally walk.close()
      }
    }.mkString("\n")
}
