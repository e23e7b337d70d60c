package perfbench

import java.nio.file.{Files, Path}
import java.util.Random

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  /** relative path → sha256 of every file the generator wrote */
  private def digest(dir: Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Io.sha256(f)).toMap

  private def stage(dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    val days = Gen.days(rnd, 0, 3, 2, 40, Gen.Shares())
    val scrape = Gen.scrape(rnd, days(2), days(1), Gen.Shares())
    Gen.writeSeasonTgz(dir.resolve("season.tgz"), "s.csv",
      days.take(2).flatten.filter(_.kind == Gen.Clean).map(_.row))
    Gen.writeCsvDir(dir.resolve("delta"), scrape.map(_.row))
    Gen.createTopic(dir.resolve("topic"), "t", 2)
    Gen.appendSegment(dir.resolve("topic"), "t", 0, scrape.map(_.json), 1000L)
    Gen.appendSegment(dir.resolve("topic"), "t", 0, scrape.map(_.json), 2000L)
    Gen.mediaFiles(new Random(seed), 2, 30, 60).zipWithIndex.foreach { case (f, i) =>
      Gen.writeBlobFile(dir.resolve("blobs"), i, f)
    }
  }

  test("the same seed writes the same bytes; another seed does not") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    stage(a, 7L); stage(b, 7L); stage(c, 8L)
    val (da, db, dc) = (digest(a), digest(b), digest(c))
    assert(da.nonEmpty)
    assert(da == db)
    assert(da != dc)
    Seq(a, b, c).foreach(Io.deleteTree)
  }

  test("generated shots cover the play-grammar branch matrix and dirty shares") {
    val shots = Gen.days(new Random(3), 0, 20, 10, 100, Gen.Shares()).flatten
    val clean = shots.filter(_.kind == Gen.Clean)
    val plays = clean.map(_.row(8))
    val scoreSegs = plays.map(_.split("<br>")(2))
    for (first <- Seq("LA", "New", "San", "Golden", "Cleveland");
         phrase <- Seq(" leads ", " trails ", " tied ", " now leads ",
           " now trails ", " now tied "))
      assert(scoreSegs.exists(s => s.startsWith(first + " ") && s.contains(phrase)),
        s"no '$first ...$phrase' score segment")
    assert(shots.count(_.kind == Gen.MalformedJson) > 50)
    assert(shots.count(_.kind == Gen.UnparseablePlay) > 50)
    // clean keys are unique
    assert(clean.map(_.key).distinct.size == clean.size)
  }

  test("the CSV reader round-trips what the CSV writer produces") {
    val shots = Gen.days(new Random(5), 0, 1, 2, 30, Gen.Shares()).flatten
    val dir = tmp()
    Gen.writeCsvDir(dir, shots.map(_.row))
    assert(Io.readCsvDir(dir) == shots.map(_.row))
    Io.deleteTree(dir)
  }
}
