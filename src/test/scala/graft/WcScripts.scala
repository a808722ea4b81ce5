package graft

import java.nio.file.Files

/** The reference's word-count executables (tests/testdata/exec/wc_map.sh
  * and wc_reduce.sh), written to a fresh temp dir so the piped MapReduce
  * tests need no fixture directory. */
object WcScripts {

  /** Writes both scripts; returns their paths as (map, reduce). */
  def write(): (String, String) = {
    val exec = Files.createTempDirectory("graft-mr-exec")
    def script(name: String, body: String): String = {
      val f = exec.resolve(name)
      Files.writeString(f, "#!/bin/sh\n" + body + "\n")
      f.toFile.setExecutable(true)
      f.toString
    }
    (script("wc_map.sh",
      """tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'"""),
      script("wc_reduce.sh",
        """cut -f1 | uniq -c | awk '{print $2"\t"$1}'"""))
  }
}
