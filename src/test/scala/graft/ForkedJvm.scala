package graft

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Shared scaffolding for tests that must fork a fresh JVM (tiny-heap
  * memory budgets, session-construction-time extensions): assembles the
  * classpath from the compiled class dirs + the Spark jars (sbt's layered
  * classloader hides java.class.path) and passes on the JDK-17 module
  * opens Spark needs outside spark-submit.
  */
object ForkedJvm {

  /** The `--add-opens=…` flags this test JVM was started with. build.sbt's
    * `javaOptions` is the one list; the child inherits it from here. */
  lazy val addOpens: Seq[String] = {
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens")).toSeq
    require(opens.nonEmpty, "ForkedJvm: this JVM was started without " +
      "--add-opens flags, so a forked Spark JVM would fail on JDK 17; run " +
      "it through sbt, whose build.sbt javaOptions carry them")
    opens
  }

  /** Run `mainClass` with the given heap cap and args; returns the exit
    * code. Output is inherited so failures show in the test log. */
  def run(mainClass: String, heap: String, args: Seq[String]): Int = {
    val cp = (Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(new File(_).getAbsolutePath) ++
      new File("/opt/spark/jars").listFiles.map(_.getAbsolutePath))
      .mkString(File.pathSeparator)
    val java = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(java, s"-Xmx$heap", "-cp", cp) ++ addOpens ++
      (mainClass +: args)
    new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
  }
}
