package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Verify's gate filter. Not a SparkSuite: an unknown name must fail
  * before any session is built, so this never touches (or stops) the
  * suites' shared session. */
class VerifySpec extends AnyFunSuite {

  test("an unknown gate in the filter fails before anything is written") {
    // a fresh path that does not exist; Verify would create it
    val out = Files.createTempDirectory("verify-spec")
    Files.delete(out)
    // the data directory is never read: the filter check comes first
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array(out.resolveSibling("no-data").toString,
        out.toString, "hot_items,no_such_gate"))
    }
    assert(e.getMessage.contains("no_such_gate"), e.getMessage)
    assert(!e.getMessage.contains("hot_items"), e.getMessage)
    assert(!Files.exists(out), s"Verify created $out before failing")
  }
}
