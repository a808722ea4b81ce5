package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import operators.Materialize

/** [[Materialize.overlap]] on plain actions — no Spark needed. */
class MaterializeSpec extends AnyFunSuite {

  test("overlap waits for every action before rethrowing a failure") {
    // a failed streaming batch may be replayed into the same state dirs,
    // so a sibling write must not still be running once overlap throws
    val done = new AtomicBoolean(false)
    val boom = new IllegalStateException("action 0")
    val thrown = intercept[IllegalStateException] {
      Materialize.overlap(Seq(
        () => throw boom,
        () => { Thread.sleep(300); done.set(true) }))
    }
    assert(thrown eq boom, s"rethrew $thrown, not action 0's failure")
    assert(done.get(), "overlap threw while action 1 was still running")
  }

  test("overlap rethrows the first failure in submission order") {
    val first = new IllegalStateException("action 0")
    val thrown = intercept[IllegalStateException] {
      Materialize.overlap(Seq(
        () => { Thread.sleep(200); throw first },
        () => throw new IllegalStateException("action 1")))
    }
    assert(thrown eq first, s"rethrew $thrown, not action 0's failure")
  }
}
