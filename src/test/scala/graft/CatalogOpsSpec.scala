package graft

import graft.operators.CatalogOps
import org.apache.spark.sql.functions._

class CatalogOpsSpec extends SparkSpec {

  test("flagship: findSchemaTables returns the 4 lowercased index tables") {
    val names = CatalogOps.findSchemaTables(spark, Sf, "purchase")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("catalog_purchase_attr", "catalog_purchase_id",
      "catalog_purchase_z2", "catalog_purchase_z3"))
  }

  test("listSfts is distinct and matches event_type domain") {
    val sfts = CatalogOps.listSfts(spark, Sf).collect().map(_.getString(0)).toSet
    val types = Tables.events(spark, Sf).select("event_type")
      .distinct().collect().map(_.getString(0)).toSet
    assert(sfts == types)
    assert(CatalogOps.countSfts(spark, Sf).collect().head.getLong(0) == sfts.size)
  }

  test("cqlsh frame filter drops headers/footers, keeps trimmed data rows") {
    val out = CatalogOps.cqlshFrameFilter(spark, Sf).collect().map(_.getString(0)).toSet
    val types = Tables.events(spark, Sf).select("event_type")
      .distinct().collect().map(_.getString(0)).toSet
    assert(out == types)
  }

  test("existence predicates F7/F8 agree on this fixture and partition tables") {
    val df = CatalogOps.tableExistence(spark, Sf).cache()
    assert(df.where(col("exists_f7") =!= col("exists_f8")).count() == 0)
    val missing = CatalogOps.missingTables(spark, Sf).count()
    val present = CatalogOps.presentTables(spark, Sf).count()
    assert(missing + present == df.count())
  }

  test("schemaComplete = bool_and of per-table existence") {
    val rows = CatalogOps.schemaComplete(spark, Sf).collect()
    assert(rows.length == 5)
    val missingSfts = CatalogOps.missingTables(spark, Sf)
      .select("sft").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(r.getBoolean(1) == !missingSfts.contains(r.getString(0)))
    }
  }

  test("the derived fixture tables plan over a LocalRelation, never an InMemoryRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val fixtures = Seq(Tables.catalog _, Tables.registry _, Tables.schemaTables _,
      Tables.compactionStdout _, Tables.snapshotLines _, Tables.describeResults _,
      Tables.infoResults _)
    fixtures.foreach { t =>
      val df = t(spark, Sf)
      val plan = df.where(col(df.columns.head).isNotNull).queryExecution.optimizedPlan
      assert(plan.collect { case r: LocalRelation => r }.nonEmpty, plan)
      assert(plan.collect { case r: InMemoryRelation => r }.isEmpty, plan)
    }
  }

  test("Tables.table resolves a corpus schema once per session; clearDerived resolves it again") {
    val s = spark.newSession()
    try {
      val direct = s.read.parquet(s"$Sf/orders.parquet")
      assert(jobsStarted(s)(Tables.table(s, Sf, "orders"): Unit) > 0) // footer inference
      assert(Tables.memoized[AnyRef](s, Sf, "schema:orders").isDefined)
      var again: org.apache.spark.sql.DataFrame = null
      assert(jobsStarted(s) { again = Tables.table(s, Sf, "orders") } == 0)
      assert(again.schema == direct.schema && again.count() == direct.count())
      Tables.clearDerived(s)
      assert(Tables.memoized[AnyRef](s, Sf, "schema:orders").isEmpty)
      assert(jobsStarted(s)(Tables.table(s, Sf, "orders"): Unit) > 0)
    } finally Tables.clearDerived(s)
  }

  test("catalogAfterDelete removes exactly the deleted sft") {
    val before = Tables.catalog(spark, Sf).count()
    val after = CatalogOps.catalogAfterDelete(spark, Sf, "error")
    assert(after.where(col("sft") === "error").count() == 0)
    assert(before - after.count() == 5) // 4 index rows + 1 metadata row
  }
}
