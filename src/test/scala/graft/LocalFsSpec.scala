package graft

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, ForkFreeRawLocalFs}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` filesystem (graft.sources.LocalFs.scala): the
  * session resolves it through both Hadoop APIs, it agrees with stock
  * `RawLocalFileSystem` on every status field and on-disk mode, and it
  * forks no process where stock forks one per create, mkdir and rename. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val root = URI.create("file:///")

  /** The stock bindings, whatever the session binds. */
  private def stockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }

  private def withTempDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("localfs")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** A local path with the scheme, as Spark hands its paths to Hadoop. */
  private def qualified(p: java.nio.file.Path) = new Path("file:" + p)

  private def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def chmod(p: java.nio.file.Path, octal: String): Unit =
    assert(new ProcessBuilder("chmod", octal, p.toString).start().waitFor() == 0)

  /** Every status field, or the exception's class. */
  private def fields(status: => FileStatus): Any = try {
    val s = status
    Seq(s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
      s.getModificationTime, s.getReplication, s.getBlockSize, s.getPermission, s.getOwner, s.getGroup)
  } catch { case e: java.io.IOException => e.getClass }

  test("the session resolves the fork-free classes for file: through both Hadoop APIs") {
    // FileSystem's cache is keyed by scheme, not by conf: a stock
    // instance cached before the session was built would win here.
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration) eq fs)
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[ForkFreeRawLocalFs])
  }

  test("statuses match stock for a file, a dir, links to each and a dangling link") {
    withTempDir { dir =>
      val file = Files.write(dir.resolve("f"), "abc".getBytes)
      val sub = Files.createDirectory(dir.resolve("d"))
      chmod(file, "0640")
      chmod(sub, "1750")
      Files.createSymbolicLink(dir.resolve("lf"), file)
      Files.createSymbolicLink(dir.resolve("ld"), Paths.get("d"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
      val stock = raw(new RawLocalFileSystem)
      val ours = raw(new ForkFreeRawLocalFileSystem)
      val stockFc = FileContext.getFileContext(root, stockConf)
      val oursFc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
      val readAsLink = for (name <- Seq("f", "d", "lf", "ld", "dangling");
           p <- Seq(new Path(dir.resolve(name).toString), qualified(dir.resolve(name)))) yield {
        assert(fields(ours.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
        assert(fields(oursFc.getFileLinkStatus(p)) == fields(stockFc.getFileLinkStatus(p)), p)
        scala.util.Try(ours.getFileLinkStatus(p)).toOption.exists(_.isSymlink)
      }
      // stock reads only unqualified paths as links (see the raw layer)
      assert(readAsLink.count(identity) == 3)
    }
  }

  test("on-disk modes after create, mkdirs and setPermission match stock") {
    withTempDir { dir =>
      val stock = raw(new RawLocalFileSystem)
      val ours = raw(new ForkFreeRawLocalFileSystem)
      val modes = for (fs <- Seq(stock, ours)) yield {
        val base = Files.createDirectory(dir.resolve(fs.getClass.getSimpleName))
        def p(name: String) = new Path(base.resolve(name).toString)
        fs.create(p("f"), perm("640"), false, 4096, 1, 1L << 20, null).close()
        fs.create(p("default"), true).close()
        fs.mkdirs(p("a/b"), perm("750"))
        fs.mkdirs(p("plain"))
        fs.create(p("g"), true).close()
        fs.setPermission(p("g"), perm("604"))
        fs.mkdirs(p("sticky"))
        fs.setPermission(p("sticky"), perm("1777"))
        fs.mkdirs(p("setgid"))
        chmod(base.resolve("setgid"), "2755")
        fs.setPermission(p("setgid"), perm("750"))
        Seq("f", "default", "a", "a/b", "plain", "g", "sticky", "setgid")
          .map(n => n -> mode(base.resolve(n)))
      }
      assert(modes(1) == modes(0))
      assert(modes(0).toMap.apply("sticky") == perm("1777").toShort)
    }
  }

  private def firstLine(p: String): String = Files.readAllLines(Paths.get(p)).get(0).trim

  /** The kernel's last allocated PID. Threads take ids from the same
    * counter, so the delta bounds the processes a run started. */
  private def lastPid(): Long = firstLine("/proc/loadavg").split("\\s+").last.toLong

  /** PIDs allocated while `run` ran. Ids wrap at pid_max back to 300,
    * past the kernel's reserved range. */
  private def pidsAllocated(run: => Unit): Long = {
    val before = lastPid()
    run
    val d = lastPid() - before
    if (d >= 0) d else d + firstLine("/proc/sys/kernel/pid_max").toLong - 300
  }

  private def cycles(fs: FileSystem, fc: FileContext, dir: java.nio.file.Path, n: Int): Unit =
    for (i <- 0 until n) {
      val (a, b) = (qualified(dir.resolve(s"fs-$i.tmp")), qualified(dir.resolve(s"fs-$i")))
      fs.create(a, true).close()
      assert(fs.rename(a, b))
      assert(fs.getFileStatus(b).isFile)
      val (c, d) = (qualified(dir.resolve(s"fc-$i.tmp")), qualified(dir.resolve("fc")))
      fc.create(c, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)).close()
      fc.rename(c, d, Options.Rename.OVERWRITE)
      assert(fc.getFileLinkStatus(d).isFile)
    }

  test("create, rename and status cycles allocate under a tenth of stock's PIDs") {
    assume(Files.exists(Paths.get("/proc/loadavg")), "needs Linux /proc/loadavg")
    val n = 200
    val stockFs = FileSystem.newInstance(root, stockConf)
    val stockFc = FileContext.getFileContext(root, stockConf)
    val conf = spark.sessionState.newHadoopConf()
    val oursFs = FileSystem.get(root, conf)
    val oursFc = FileContext.getFileContext(root, conf)
    try withTempDir { dir =>
      val (s, o) = (Files.createDirectory(dir.resolve("stock")), Files.createDirectory(dir.resolve("ours")))
      cycles(stockFs, stockFc, s, 5)
      cycles(oursFs, oursFc, o, 5)
      val stockPids = pidsAllocated(cycles(stockFs, stockFc, s, n))
      val oursPids = pidsAllocated(cycles(oursFs, oursFc, o, n))
      info(s"PIDs allocated over $n cycles: stock $stockPids, fork-free $oursPids")
      assert(stockPids >= n, "stock classes forked less than once a cycle: nothing to compare against")
      assert(oursPids * 10 < stockPids)
    } finally stockFs.close()
  }
}
