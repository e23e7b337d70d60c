package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import graft.merge.Swap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The replace protocol on the local filesystem: no Spark, just the
  * renames and the states a killed writer leaves behind. */
class SwapSpec extends AnyFunSuite {
  // the local filesystem every graft session serves (graft.fs.ForkFree)
  private val fs = {
    val conf = new org.apache.hadoop.conf.Configuration()
    graft.fs.ForkFree.install(conf)
    FileSystem.getLocal(conf)
  }

  private def dir(): JPath = SparkTestBase.tempDir("graft-swap")
  private def write(p: JPath, s: String): JPath = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }
  private def read(p: JPath): String = new String(Files.readAllBytes(p), UTF_8)
  private def hp(p: JPath) = new Path(p.toString)
  /** Every name under `d`, dot-hidden ones included. */
  private def names(d: JPath): Set[String] =
    d.toFile.listFiles().map(_.getName).toSet

  test("replace creates an absent live copy and replaces a present one") {
    val d = dir()
    val live = d.resolve("t")
    Swap.replace(fs, hp(live), hp(write(d.resolve("n1/part"), "one").getParent))
    assert(read(live.resolve("part")) == "one")
    assert(names(d) == Set("t"), "the staged dir moves in; nothing else remains")
    Swap.replace(fs, hp(live), hp(write(d.resolve("n2/part"), "two").getParent))
    assert(read(live.resolve("part")) == "two")
    assert(names(d) == Set("t"), "the backup and its hidden copy are gone")
  }

  test("replace with an absent next removes live only when absentRemoves") {
    val d = dir()
    val live = d.resolve("t")
    write(live.resolve("part"), "keep")
    val missing = hp(d.resolve("never-staged"))
    val e = intercept[IllegalArgumentException] {
      Swap.replace(fs, hp(live), missing)
    }
    assert(e.getMessage.contains("untouched"))
    assert(read(live.resolve("part")) == "keep", "live must not be touched")
    assert(names(d) == Set("t"))
    Swap.replace(fs, hp(live), missing, absentRemoves = true)
    assert(names(d).isEmpty, s"live removed, no debris: ${names(d)}")
  }

  test("recover restores a stranded .old and drops a finished swap's backup") {
    val d = dir()
    // killed between the renames: live gone, only the backup holds it
    write(d.resolve("a" + Swap.OldSuffix + "/part"), "a-old")
    // killed after the second rename: live is new, backup is stale
    write(d.resolve("b/part"), "b-new")
    write(d.resolve("b" + Swap.OldSuffix + "/part"), "b-old")
    // killed between hiding a backup and deleting it
    write(d.resolve(".trash-b" + Swap.OldSuffix + "-123/part"), "junk")
    // another target's hidden copy is not b's to sweep
    write(d.resolve(".trash-c" + Swap.OldSuffix + "-9/part"), "c")
    Swap.recover(fs, hp(d.resolve("a")))
    Swap.recover(fs, hp(d.resolve("b")))
    assert(read(d.resolve("a/part")) == "a-old")
    assert(read(d.resolve("b/part")) == "b-new")
    assert(names(d) == Set("a", "b", ".trash-c" + Swap.OldSuffix + "-9"))
    // recoverAll finds every target with debris from one listing
    Swap.recoverAll(fs, hp(d))
    assert(names(d) == Set("a", "b"))
  }

  test("the reader view takes live, else the stranded .old, and never mutates") {
    val d = dir()
    val f = d.resolve("_meta")
    assert(Swap.readText(fs, hp(f)).isEmpty)
    write(d.resolve("_meta" + Swap.OldSuffix), "stranded")
    assert(Swap.readText(fs, hp(f)).contains("stranded"))
    assert(names(d) == Set("_meta" + Swap.OldSuffix), "readers must not repair")
    write(f, "live")
    assert(Swap.readText(fs, hp(f)).contains("live"))
    assert(Swap.visible(Seq("x", "x.old", "y.old", "z")) == Set("x", "y.old", "z"))
  }

  test("writeText replaces a small file atomically and leaves no staging") {
    val d = dir()
    val f = hp(d.resolve("_fingerprint"))
    Swap.writeText(fs, f, "1:2")
    Swap.writeText(fs, f, "3:4")
    assert(Swap.readText(fs, f).contains("3:4"))
    assert(names(d).filterNot(_.startsWith(".")) == Set("_fingerprint"),
      s"only the stamp (and Hadoop's hidden checksum) remain: ${names(d)}")
  }
}
