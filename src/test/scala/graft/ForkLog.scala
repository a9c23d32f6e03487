package graft

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The OS processes this JVM starts while a block runs, from any
  * thread, read back from a JFR recording of `jdk.ProcessStart`:
  * `command` is the command line, `stack` the Java frames that started
  * it, innermost first. */
object ForkLog {
  final case class Start(command: String, stack: Seq[String])

  def during(body: => Unit): Seq[Start] = {
    val r = new Recording()
    val f = Files.createTempFile("graft_forks", ".jfr")
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      body
      r.stop()
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala).map { fr =>
              s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}"
            }
          Start(e.getString("command"), frames)
        }
    } finally {
      r.close()
      Files.deleteIfExists(f)
    }
  }
}
