package graft.sources

import graft.{Oracle, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-contract registration for the source layer (SURVEY §2 S1/S3/C1):
  * the registry JSON scan and the scatter-gather command runner — the
  * reference's most-executed code paths (/root/reference/remote.py:52-90,
  * cluster.py:147-148) — verified against the DuckDB oracle, not just unit
  * tests (the one §2 territory the r1 driver couldn't see).
  *
  *  - `s1_registry_rows`: [[Registry.remotesFromJson]] over a committed
  *    fixture remotes.json (a classpath resource); oracle = DuckDB JSON
  *    functions over the fixture text.
  *  - `c1_run_on_all`: [[Registry.runOnAll]] fan-out over the fixture
  *    registry with the pure port-22 executor — the non-22 node's thrown
  *    error surfaces as a C3 error-value row.
  *  - `s3_cmd_results`: the same fan-out over the corpus-derived registry
  *    (fleet scale) with a deterministically flaky executor, served through
  *    the [[CmdSource]] DataSourceV2 (`format("graft-cmd")`) — command
  *    output as a pluggable BatchScan table.
  */
object SourcePack extends QueryPack {

  /** The committed registry fixture's JSON text, a classpath resource, so
    * the keys below run from any checkout or jar. */
  val FixtureJson: String = {
    val in = getClass.getResourceAsStream("/graft/sources/remotes.json")
    require(in != null, "classpath resource graft/sources/remotes.json is missing")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_registry_rows" -> ((s, _) => Registry.remotesFromJson(s, FixtureJson)),
    "c1_run_on_all" -> ((s, _) => {
      import s.implicits._
      val nodes = Registry.remotesFromJson(s, FixtureJson).as[Registry.NodeInfo]
      Registry.runOnAll(nodes, "nodetool info")(Registry.PureExec.sshFixture).toDF()
    }),
    // through the DataSourceV2 [[CmdSource]] — the production shape: command
    // output as a mounted TABLE, not an embedded mapPartitions call
    "s3_cmd_results" -> ((s, d) =>
      s.read.format("graft-cmd")
        .option("sfdir", d).option("command", "uptime").option("exec", "flaky")
        .load()),
    "xs_csv_roundtrip" -> ((s, d) => Formats.csvRoundtrip(s, d)),
    "xs_orc_roundtrip" -> ((s, d) => Formats.orcRoundtrip(s, d)),
    "xs_json_lines" -> ((s, d) => Formats.jsonRoundtrip(s, d)),
    "xs_corrupt_json" -> ((s, d) => Formats.corruptJsonScan(s, d)),
    "xs_schema_evolution" -> ((s, d) => Formats.schemaEvolutionScan(s, d)),
    "xs_avro_roundtrip" -> ((s, d) => Formats.avroRoundtrip(s, d)),
  )

  /** Fixture registry rows via DuckDB's JSON functions over the fixture's
    * own text as a literal: one row per top-level key. DuckDB parses the
    * raw text, never rows the Spark side produced. */
  private val fixtureRegistryCte: String = {
    val text = FixtureJson.replace("'", "''")
    s"""j AS (SELECT CAST('$text' AS JSON) AS doc),
       |registry_rows AS (
       |  SELECT name, doc->name->>'host' AS host,
       |         CAST(doc->name->>'port' AS INTEGER) AS port,
       |         doc->name->>'user' AS "user", doc->name->>'password' AS password
       |  FROM (SELECT unnest(json_keys(doc)) AS name, doc FROM j)
       |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s1_registry_rows" ->
      s"""WITH $fixtureRegistryCte
         |SELECT name, host, port, "user", password FROM registry_rows""".stripMargin,
    "c1_run_on_all" ->
      s"""WITH $fixtureRegistryCte
         |SELECT name AS node, 'nodetool info' AS command,
         |  CASE WHEN port = 22
         |       THEN 'nodetool info: ok from ' || name || '@' || host ELSE '' END AS stdout,
         |  CASE WHEN port = 22 THEN ''
         |       ELSE 'connect to ' || host || ':' || CAST(port AS VARCHAR) || ' refused'
         |       END AS stderr,
         |  CASE WHEN port = 22 THEN 0 ELSE 255 END AS exit_status
         |FROM registry_rows""".stripMargin,
    "s3_cmd_results" ->
      Oracle.withCtes(Oracle.registryCte)(
        s"""SELECT name AS node, 'uptime' AS command,
           |  CASE WHEN ${Oracle.h24("name")} % 10 = 0 THEN ''
           |       ELSE 'uptime: up 42 days on ' || name END AS stdout,
           |  CASE WHEN ${Oracle.h24("name")} % 10 = 0
           |       THEN 'ssh: connection to ' || host || ' failed' ELSE '' END AS stderr,
           |  CASE WHEN ${Oracle.h24("name")} % 10 = 0 THEN 255 ELSE 0 END AS exit_status
           |FROM registry""".stripMargin),
    // roundtrip oracles read the ORIGINAL parquet: equality proves the
    // format's encode→decode path is lossless for the chosen columns
    "xs_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "xs_orc_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "xs_json_lines" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_orderdate AS DATE) AS o_orderdate FROM orders""".stripMargin,
    // the avro roundtrip (real Avro container files via avro-core, deflate
    // codec, timestamp-micros) must surface every row, type, and instant
    // losslessly — including the timestamp column, where a timezone or
    // unit slip would shift every value
    "xs_avro_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate FROM orders""".stripMargin,
    // replays the deterministic corruption rule on the clean table: the
    // PERMISSIVE scan must account for every row, good or bad
    "xs_corrupt_json" ->
      """SELECT
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END) AS n_good,
        |  count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_corrupt,
        |  CAST(sum(CASE WHEN o_orderkey % 7 <> 0
        |               THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
        |    AS good_total
        |FROM orders""".stripMargin,
    // replays the batch cutoff: pre-cutoff rows predate the added column
    "xs_schema_evolution" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |            THEN 'PRE_SCHEMA' ELSE o_orderpriority END AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1""".stripMargin,
  )
}
