package graft

import org.scalatest.funsuite.AnyFunSuite

/** Helpers shared by the harness mains: the JSON string escaper (Bench
  * detail + Verify's oracle_sql.json) and the dev mains' conf overrides.
  */
class HarnessSpec extends AnyFunSuite {

  test("jstr: quote, backslash, tab, CR and U+0001 parse back unchanged") {
    val raw = "a\"b\\c\td\re\u0001f\ng"
    val lit = Bench.jstr(raw)
    assert(lit.forall(_ >= ' '), lit) // no raw control char reaches the file
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(lit, classOf[String])
    assert(back == raw)
  }

  test("confOverrides: k=v lists parse; a malformed entry names the variable and the entry") {
    val env = Map("X_CONF" -> " a.b=1 , c=x=y ,,")
    assert(QTime.confOverrides("X_CONF", env) == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(QTime.confOverrides("UNSET_CONF", env).isEmpty)
    val e = intercept[IllegalArgumentException](
      QTime.confOverrides("X_CONF", Map("X_CONF" -> "a=1,oops")))
    assert(e.getMessage.contains("X_CONF") && e.getMessage.contains("'oops'"),
      e.getMessage)
    intercept[IllegalArgumentException](
      QTime.confOverrides("X_CONF", Map("X_CONF" -> "=v"))): Unit
  }
}
