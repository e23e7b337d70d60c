package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The one staging rule for the drain family's fixture inputs (q79–q93).
  *
  * A file stream source records the files it has listed in its
  * checkpoint, so a staged input must be complete before any drain lists
  * it and must never change while a drain reads it. The rule is content
  * addressed: the stage of `(fixture, variant)` lives under a name derived
  * from that pair and the fixture's
  * [[graft.ops.SessionLru.pathFingerprint]], and it appears there only by
  * one atomic rename of a finished build. Hence:
  *  - an existing stage is complete, so every JVM reuses it and runs no
  *    build;
  *  - a rewritten fixture has a new name, so its stage is rebuilt and never
  *    mixed with the old bytes, and the superseded dirs of the same
  *    (fixture, variant) are removed once the new one is in place;
  *  - each stage records its fixture's path, and every build removes the
  *    stages whose fixture no longer exists (a spec's deleted temp dir);
  *  - a build that dies part-way leaves only its private dot-named sibling,
  *    which is removed on the way out and never accepted; a build that
  *    loses the rename race to another JVM discards its own copy.
  *
  * Stages live in `java.io.tmpdir` on the local filesystem. TEST/FIXTURE
  * ONLY: production drains read their data's own directory.
  */
private[graft] object Stage {
  /** The stage of `(fixture, variant)`, running `build(dir)` only when no
    * complete stage exists. `build` must create `dir` and everything in it.
    * The fingerprint is taken before the build, so a fixture rewritten
    * mid-build is staged again under its new name by the next call.
    */
  def apply(spark: SparkSession, fixture: String, variant: String)
      (build: String => Unit): String = {
    val target = path(spark, fixture, variant)
    if (!Files.isDirectory(target)) {
      val tmp = privateName(target)
      try {
        build(tmp.toString)
        Files.writeString(tmp.resolve(FixtureRecord), fixture)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        // lost the race: the winner's stage is complete by construction
        case _: java.io.IOException if Files.isDirectory(target) =>
      } finally Streaming.rmr(tmp.toString)
      val name = target.getFileName.toString
      dirsFor(fixture, variant).map(_.getFileName.toString)
        // keep the stage and other JVMs' builds of the same fingerprint
        .filterNot(n => n == name || n.startsWith("." + name + "."))
        .foreach(n => discard(target.resolveSibling(n)))
      // a stage with no record predates the record; its next use rebuilds it
      scala.util.Using.resource(Files.list(root))(_.iterator.asScala.toList)
        .filter(_.getFileName.toString.startsWith("graft-stage-"))
        .filterNot(p => scala.util.Try(Files.exists(Paths.get(
          Files.readString(p.resolve(FixtureRecord))))).getOrElse(false))
        .foreach(discard)
    }
    target.toString
  }

  /** The file in a stage naming its fixture (file sources skip dot names). */
  private val FixtureRecord = ".fixture"

  /** Where the stage of `(fixture, variant)` for the fixture's current
    * content lives (whether or not it is built yet). */
  def path(spark: SparkSession, fixture: String, variant: String): Path =
    root.resolve(prefix(fixture, variant) +
      digest(graft.ops.SessionLru.pathFingerprint(spark, fixture)))

  /** Every dir of `(fixture, variant)`: its stages for any fingerprint and
    * the private dirs of builds and removals. */
  def dirsFor(fixture: String, variant: String): Seq[Path] = {
    val p = prefix(fixture, variant)
    scala.util.Using.resource(Files.list(root))(_.iterator.asScala
      .filter(_.getFileName.toString.stripPrefix(".").startsWith(p)).toList)
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read schema of a parquet file inside a stage, inferred once per JVM: a
    * stage never changes under its name. */
  def schema(spark: SparkSession, file: String): StructType =
    Option(schemas.get(file)).getOrElse {
      // inferred outside the map (no Spark job inside a CHM function); a
      // racing duplicate inference is harmless
      val s = spark.read.parquet(file).schema
      schemas.putIfAbsent(file, s)
      s
    }

  private def root: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  private def prefix(fixture: String, variant: String): String =
    s"graft-stage-$variant-${digest(fixture)}-"

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  private def privateName(p: Path): Path = p.resolveSibling(
    s".${p.getFileName.toString.stripPrefix(".")}.${java.util.UUID.randomUUID()}")

  /** Rename out of the accepted namespace first, then delete: a removal
    * killed part-way leaves a private dir, never a partial stage. */
  private def discard(p: Path): Unit = scala.util.Try {
    val gone = privateName(p)
    Files.move(p, gone, StandardCopyOption.ATOMIC_MOVE)
    Streaming.rmr(gone.toString)
  }
}
