package graft.operators

/** The JVM's one scratch root: a private `Files.createTempDirectory`
  * directory, created on first use and recursively deleted by one
  * shutdown hook. The sink round-trips (Complex), the bucketed storage
  * tables (Joins), the streaming sink/checkpoint/state dirs (Streams),
  * the fallback CC checkpoint dir (Materialize) and the bench's MapReduce
  * output all live under it, so no bench/test JVM leaves table copies
  * behind and no site writes to a predictable path in a shared /tmp.
  */
object Scratch {

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-scratch")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(r.toFile)
    }
    r
  }

  /** A fresh, uniquely named directory under the root. */
  def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** A deterministic path under the root (not created): the same `name`
    * resolves to the same path for the life of the JVM. */
  def path(name: String): String = root.resolve(name).toString
}
