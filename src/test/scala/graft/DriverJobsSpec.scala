package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DriverJobs

/** The driver-side action pool: await-all semantics and failure
  * reporting. */
class DriverJobsSpec extends AnyFunSuite {

  test("awaitAll returns results in order") {
    assert(DriverJobs.awaitAll(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
  }

  test("awaitAll rethrows the first failure with every sibling failure suppressed") {
    def failing(msg: String): () => Int = () => throw new IllegalStateException(msg)
    val e = intercept[IllegalStateException] {
      DriverJobs.awaitAll(Seq(failing("first"), () => 7, failing("second")))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }
}
