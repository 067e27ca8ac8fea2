package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the isolation [[TestSpark]] gives the other suites: a context
  * stopped by one suite is not handed to the next.
  */
class TestSparkSpec extends AnyFunSuite {

  test("a stopped shared context is replaced by a live session") {
    val dead = TestSpark.spark
    dead.sparkContext.stop()
    val live = TestSpark.spark
    assert(live ne dead)
    assert(!live.sparkContext.isStopped)
    assert(live.range(10).count() == 10)
    assert(TestSpark.spark eq live)
  }
}
