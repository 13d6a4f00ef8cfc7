package graft

import org.scalatest.funsuite.AnyFunSuite

/** Helpers shared by the harness mains: the one session factory, the JSON
  * string escaper (Bench detail + Verify's oracle_sql.json), QTime's conf
  * overrides, query-name check and plan dump.
  */
class HarnessSpec extends AnyFunSuite {

  test("GraftSession: the suite's session carries Bench's confs") {
    val spark = SparkSpec.session
    val conf = spark.sessionState.conf
    assert(conf.autoBroadcastJoinThreshold == 32L * 1024 * 1024)
    assert(conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.numShufflePartitions == 4 && conf.sessionLocalTimeZone == "UTC")
    assert(spark.sparkContext.master == "local[4]")
    assert(!spark.sparkContext.getConf.getBoolean("spark.ui.enabled", true))
  }

  test("writePlans: one formatted plan file per named query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plans").resolve("sub")
    QTime.writePlans(SparkSpec.session, SparkSpec.Sf,
      Seq("a1_cluster_up", "j1_zip_join"), dir.toString)
    Seq("a1_cluster_up", "j1_zip_join").foreach { n =>
      val txt = java.nio.file.Files.readString(dir.resolve(s"$n.txt"))
      assert(txt.startsWith("== Physical Plan ==") && txt.endsWith("\n"), txt)
    }
  }

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
