package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end proof of the GraftExtensions wiring in a FRESH session:
  * extensions only apply at session construction, and the shared test
  * session already exists, so this forks a JVM running [[ExtensionsMain]]
  * (SQL function injection, checked from plain SQL).
  */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions(GraftExtensions) wires functions + cosine and " +
      "prefix-window rewrites in a fresh session") {
    assert(ForkedJvm.run("graft.ExtensionsMain", "2g",
      Seq("/root/testdata/sf0.001")) == 0,
      "forked extensions JVM failed")
  }
}
