package graft

/** Launches a REAL second JVM on the test classpath for the cross-process
  * specs: the JDK 17 `--add-opens` Spark needs outside spark-submit, the
  * suite's pinned UTC/locale settings, and stdout+stderr into `log`. */
object ChildJvm {

  def spawn(xmx: String, main: String, args: Seq[String], log: java.io.File): Process = {
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx$xmx", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-Duser.language=en", "-Duser.country=US",
      "-cp", sys.props("java.class.path"), main) ++ args
    new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start() // file sink: a full pipe can't stall a child
  }
}
