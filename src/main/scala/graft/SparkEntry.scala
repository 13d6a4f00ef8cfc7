package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry and its DuckDB oracles — see SURVEY.md §7 at the repo root.
  * Queries are contributed by per-module [[QueryPack]]s; keys are
  * `"<survey-op-id>_<name>"`.
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    sources.SourcePack,
    operators.CatalogPack,
    operators.ParsePack,
    operators.LifecyclePack,
    operators.RelationalPack,
    operators.ScalePack,
    operators.TextDedupPack,
    operators.SimMediaPack,
    operators.GeoPack,
    streaming.StreamingPack,
  )

  /** flatMap(_.toMap) would silently drop colliding keys across packs
    * (shrinking the driver contract with no error) — assert disjointness.
    */
  private def disjointUnion[V](parts: Seq[Map[String, V]], what: String): Map[String, V] = {
    val merged = parts.flatten.toMap
    require(merged.size == parts.map(_.size).sum,
      s"duplicate $what keys across packs: " +
        parts.flatMap(_.keys).groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
          .mkString(", "))
    merged
  }

  /** Flagship query (SURVEY §7 step 1): `identify_schema_tables` — the read
    * side of the reference's schema-removal entry point
    * (/root/reference/geomesa_cassandra.py:48-52). Driver smoke-checks
    * rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.CatalogOps.findSchemaTables(spark, "/root/testdata/sf0.001", "purchase")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    disjointUnion(packs.map(_.queries), "query")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    disjointUnion(packs.map(_.oracles), "oracle")
}
