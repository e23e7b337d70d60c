package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes this JVM starts while a block runs, read back from an
  * in-process JFR recording of `jdk.ProcessStart` events. */
object ProcessStarts {
  /** Command lines of every process started during `body`, in order. */
  def during(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  /** The program a command line runs: `chmod` for `/bin/chmod 0644 /x`. */
  def program(command: String): String =
    command.trim.split("\\s+").head.split('/').last
}
