package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The child engine JVMs that CrashReplayFuzz and StreamSoak SIGKILL:
  * started on the parent's own classpath, with the JDK 17 --add-opens
  * Spark needs outside spark-submit. The parent reads the child's stdout
  * markers; its stderr is discarded. */
private[graft] object ChildJvm {
  private val addOpens = Seq("java.lang", "java.lang.invoke",
    "java.lang.reflect", "java.io", "java.net", "java.nio", "java.util",
    "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  def start(main: String, args: String*): Process = {
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Xmx4g", "-XX:ReservedCodeCacheSize=256m", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), main) ++ args
    new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
  }

  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
