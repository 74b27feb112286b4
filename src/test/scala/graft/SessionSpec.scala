package graft

import org.scalatest.funsuite.AnyFunSuite

/** Startup parsing of the entry points' numeric env vars (no Spark). */
class SessionSpec extends AnyFunSuite {

  test("positiveInt rejects non-positive and non-numeric values by name") {
    for (raw <- Seq("0", "-1", "*", "abc", "")) {
      val e = intercept[IllegalArgumentException](
        Session.positiveInt("SPARK_GRAFT_CPUS", raw))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
      assert(e.getMessage.contains(s"'$raw'"), raw)
    }
  }

  test("positiveInt trims blanks; an unset variable takes the default") {
    assert(Session.positiveInt("SPARK_GRAFT_PARTS", " 8 ") == 8)
    assert(Session.envPositiveInt("SPARK_GRAFT_UNSET_FOR_SESSION_SPEC", 32) == 32)
  }
}
