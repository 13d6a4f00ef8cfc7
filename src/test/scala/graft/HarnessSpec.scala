package graft

import org.scalatest.funsuite.AnyFunSuite

/** Helpers shared by the harness mains: the JSON string escaper (Bench
  * detail + Verify's oracle_sql.json), the dev mains' conf overrides and
  * QTime's query-name check.
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

  test("queryNames: an unknown query name fails up front, naming it") {
    assert(QTime.queryNames(" a1_cluster_up,,j1_zip_join ") ==
      Seq("a1_cluster_up", "j1_zip_join"))
    val e = intercept[IllegalArgumentException](
      QTime.queryNames("a1_cluster_up,c2_catalog_tables"))
    assert(e.getMessage.contains("c2_catalog_tables") &&
      !e.getMessage.contains("a1_cluster_up"), e.getMessage)
    intercept[IllegalArgumentException](QTime.queryNames(" , ")): Unit
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
