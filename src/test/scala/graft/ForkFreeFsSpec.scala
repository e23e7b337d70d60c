package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.fs.{ForkFree, ForkFreeLocalFileSystem}
import graft.sources.KafkaLog
import graft.tools.PipelineMain
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** `graft.fs.ForkFree` keeps the stock local filesystem's contract: the
  * same permission bits and `.crc` companions through both APIs, the same
  * link-status answers, FileContext's overwriting rename, and checkpoints
  * that move between the two filesystems in either direction. Its install
  * replaces a stock `file:` FileSystem the JVM cached first and keeps a
  * caller's own class, cached or named. */
class ForkFreeFsSpec extends SparkTestBase {
  private val root = URI.create("file:///")

  private def conf(umask: String, forkFree: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (forkFree) ForkFree.install(c)
    c
  }

  /** Uncached instances, so the JVM's cached `file:` FileSystem is not
    * consulted: Hadoop's stock class, or the fork-free one. */
  private def fileSystem(c: Configuration, forkFree: Boolean): FileSystem = {
    val fs = if (forkFree) new ForkFreeLocalFileSystem else new LocalFileSystem
    fs.initialize(root, c)
    fs
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Every entry under `d` (dot-hidden `.crc` files included), relative,
    * with its octal mode, sticky bit included. */
  private def modes(d: JPath): Map[String, String] =
    Files.walk(d).iterator().asScala.filter(_ != d).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Integer].intValue & 0xfff
      d.relativize(p).toString -> Integer.toOctalString(mode)
    }.toMap

  private def write(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes(UTF_8)) finally out.close()

  test("install replaces only Hadoop's stock file: classes, and only once") {
    val c = new Configuration()
    ForkFree.install(c)
    val named = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl").map(c.get)
    assert(named == Seq(classOf[ForkFreeLocalFileSystem].getName,
      classOf[graft.fs.ForkFreeLocalFs].getName))
    ForkFree.install(c)
    assert(Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl").map(c.get) == named)
    val own = new Configuration()
    own.set("fs.file.impl", "com.example.OwnFileSystem")
    ForkFree.install(own)
    assert(own.get("fs.file.impl") == "com.example.OwnFileSystem")
  }

  test("files and dirs get the stock permission bits under the same umask, with .crc companions") {
    for (umask <- Seq("022", "077", "002")) {
      val tree = Seq(false, true).map { forkFree =>
        val d = tempDir("graft-fsperm")
        val c = conf(umask, forkFree)
        val fs = fileSystem(c, forkFree)
        val base = new Path(d.toUri)
        assert(fs.mkdirs(new Path(base, "a/b")))
        write(fs.create(new Path(base, "a/b/plain")), "x")
        write(fs.create(new Path(base, "a/explicit"), perm("640"), true,
          4096, 1.toShort, 1L << 20, null), "y")
        write(fs.create(new Path(base, "a/later")), "z")
        fs.setPermission(new Path(base, "a/later"), perm("751"))
        // NIO cannot set the sticky bit: Hadoop's own code sets it
        assert(fs.mkdirs(new Path(base, "shared")))
        fs.setPermission(new Path(base, "shared"), perm("1777"))
        // the FileContext face, as Spark's checkpoint manager uses it
        val fc = FileContext.getFileContext(root, c)
        fc.mkdir(new Path(base, "fc/x"), FsPermission.getDirDefault, true)
        write(fc.create(new Path(base, "fc/x/log"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()), "w")
        modes(d)
      }
      assert(tree(1) == tree(0), s"umask $umask")
      Seq("a/b/.plain.crc", "a/.explicit.crc", "a/.later.crc", "fc/x/.log.crc")
        .foreach(crc => assert(tree(1).contains(crc), s"$crc missing"))
      assert(tree(1)("a/later") == "751" && tree(1)("shared") == "1777")
    }
  }

  test("getFileLinkStatus: file, dir and missing path as before; a real symlink is still a link") {
    val c = conf("022", forkFree = false)
    val stock = fileSystem(c, forkFree = false)
    val ours = fileSystem(c, forkFree = true)
    val d = tempDir("graft-fslink")
    val file = Files.write(d.resolve("f"), "abc".getBytes(UTF_8))
    val sub = Files.createDirectory(d.resolve("sub"))
    def shape(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen)
    for (p <- Seq(file, sub); path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(shape(ours.getFileLinkStatus(path)) == shape(stock.getFileLinkStatus(path)))
    for (fs <- Seq(stock, ours)) intercept[FileNotFoundException] {
      fs.getFileLinkStatus(new Path(d.resolve("missing").toUri))
    }
    // Hadoop finds a link only through an unqualified path; that answer
    // is kept, and a qualified path now finds it too
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val plain = new Path(link.toString)
    val want = stock.getFileLinkStatus(plain)
    assert(want.isSymlink)
    for (path <- Seq(plain, new Path(link.toUri))) {
      val got = ours.getFileLinkStatus(path)
      assert(got.isSymlink && got.getSymlink == want.getSymlink && got.getLen == want.getLen)
      assert(ours.getLinkTarget(path) == stock.getLinkTarget(plain))
    }
    // a dangling link is still reported, not missing
    Files.delete(file)
    assert(stock.getFileLinkStatus(plain).isSymlink)
    assert(ours.getFileLinkStatus(plain).isSymlink)
    assert(ours.getFileLinkStatus(plain).getSymlink == want.getSymlink)
  }

  test("FileContext rename with OVERWRITE replaces the target and moves its .crc") {
    val fc = FileContext.getFileContext(root, conf("022", forkFree = true))
    val d = new Path(tempDir("graft-fsrename").toUri)
    def put(name: String, s: String): Path = {
      val p = new Path(d, name)
      write(fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), s)
      p
    }
    val (src, dst) = (put("src", "new"), put("dst", "old"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    assert(!fc.util.exists(src) && !fc.util.exists(new Path(d, ".src.crc")))
    assert(fc.util.exists(new Path(d, ".dst.crc")))
  }

  test("a checkpoint written by the stock filesystem resumes under the fork-free one") {
    val dir = tempDir("graft-fsckpt").toString
    val topic = s"$dir/log"
    KafkaLog.createTopic(topic, "shots", 2)
    def produce(from: Int, n: Int): Unit = (0 until 2).foreach { p =>
      KafkaLog.produce(topic, "shots", p, (from until from + n).filter(_ % 2 == p).map { i =>
        KafkaLog.Record(s"k$i", s"""{"game_id":"g$i","year":"2025","month":"01",""" +
          s""""day":"15","winner":"Cleveland","loser":"Boston","x":"1","y":"2",""" +
          s""""play":"1st Q, 10:00.0 remaining<br>Player$i made 2-pointer from 8 ft""" +
          s"""<br>Cleveland leads 2-0"}""", 1700000000000L + i)
      })
    }
    def drain(): Unit = PipelineMain.ingest(spark, PipelineMain.parseOpts(Array(
      "--servers", topic, "--topic", "shots", "--format", KafkaLog.Format,
      "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt", "--max-offsets", "2")))
    val afsKey = "fs.AbstractFileSystem.file.impl"
    produce(0, 4)
    // the session's SQL conf outranks its Hadoop conf in the conf a
    // streaming query's checkpoint manager gets, so this run writes its
    // offsets, commits and sink log through Hadoop's stock LocalFs
    spark.conf.set(afsKey, "org.apache.hadoop.fs.local.LocalFs")
    val stockForks = try ProcessStarts.during(drain()) finally spark.conf.unset(afsKey)
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(stockForks.exists(c => ProcessStarts.program(c) == "readlink"),
        "the first run did not go through the stock filesystem")
    produce(4, 2)
    val ourForks = ProcessStarts.during(drain())
    assert(!ourForks.exists(c => Set("chmod", "readlink")(ProcessStarts.program(c))))
    val ids = spark.read.option("header", "true").csv(s"$dir/ongoing")
      .select("game_id").collect().map(_.getString(0)).toSeq.sorted
    assert(ids == (0 until 6).map(i => s"g$i").sorted, "each record exactly once")
    val commits = new java.io.File(s"$dir/ckpt/commits").list().filter(_.forall(_.isDigit))
    assert(commits.map(_.toInt).sorted.toSeq == (0 until 3), "two stock batches, then one")
  }

  /** The shared session's Hadoop conf, which names the fork-free classes. */
  private def sessionConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** Plants a stock `file:` FileSystem in the JVM's cache, as a writer on a
    * fresh `Configuration` does before any session installs graft.fs. */
  private def plantStock(): FileSystem = {
    FileSystem.get(root, sessionConf).close()
    val stock = FileSystem.get(root, new Configuration())
    assert(!stock.isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(root, sessionConf) eq stock, "the cache ignores the conf")
    stock
  }

  /** Leaves the fork-free instance cached, as the shared session does. */
  private def restoreCache(): Unit = {
    val cached = FileSystem.get(root, sessionConf)
    if (!cached.isInstanceOf[ForkFreeLocalFileSystem]) cached.close()
    assert(FileSystem.get(root, sessionConf).isInstanceOf[ForkFreeLocalFileSystem])
  }

  test("install replaces a stock file: FileSystem the JVM cached before it, once") {
    try {
      val stock = plantStock()
      ForkFree.install(sessionConf)
      val served = FileSystem.get(root, sessionConf)
      assert(served.getClass == classOf[ForkFreeLocalFileSystem])
      // the cache serves it whatever conf asks, and a second install keeps it
      assert(FileSystem.get(root, new Configuration()) eq served)
      ForkFree.install(sessionConf)
      assert(FileSystem.get(root, sessionConf) eq served)
      val d = new Path(tempDir("graft-fsevict").toUri)
      val forks = ProcessStarts.during {
        write(FileSystem.get(root, new Configuration()).create(new Path(d, "a/f")), "x")
      }
      assert(!forks.exists(c => Set("chmod", "readlink")(ProcessStarts.program(c))),
        forks.take(3).mkString("; "))
      // code still holding the dropped instance keeps working
      assert(stock.exists(new Path(d, "a/f")))
    } finally restoreCache()
  }

  test("install with a caller's file: class leaves the cached FileSystem alone") {
    try {
      val stock = plantStock()
      val own = new Configuration()
      own.set("fs.file.impl", "com.example.OwnFileSystem")
      ForkFree.install(own)
      assert(FileSystem.get(root, sessionConf) eq stock)
    } finally restoreCache()
  }

  test("install keeps a cached file: FileSystem of a caller's own class") {
    try {
      FileSystem.get(root, sessionConf).close()
      val c = new Configuration()
      c.set("fs.file.impl", classOf[ForkFreeFsSpec.OwnLocalFileSystem].getName)
      val own = FileSystem.get(root, c)
      assert(own.getClass == classOf[ForkFreeFsSpec.OwnLocalFileSystem])
      ForkFree.install(sessionConf)
      assert(FileSystem.get(root, sessionConf) eq own)
    } finally restoreCache()
  }
}

object ForkFreeFsSpec {
  /** A caller's own `file:` class: a subclass of Hadoop's stock one. */
  class OwnLocalFileSystem extends LocalFileSystem
}
