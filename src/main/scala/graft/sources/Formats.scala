package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X-S file-format breadth (SURVEY §2 X-S): csv / orc / json-lines readers
  * exercised as write-then-read roundtrips against the parquet fixture
  * tables, so the driver's DuckDB oracle (which reads the original parquet)
  * verifies the full encode→decode path of each format, not just that a scan
  * returns rows.
  *
  * The reference stores nothing in these formats (its inputs are command
  * stdout and a JSON registry), so this family is a pure Spark extension:
  * `spark.read.{csv,orc,json}` with an explicit schema — schema-on-read,
  * never inference, because at 100 TB an inference pass is a second full
  * scan and a schema drift hazard.
  *
  * The write side is a *staging* step, not part of the measured query: each
  * format is exported once per (session, sfDir) as a partitioned parallel
  * write (never `coalesce(1)` — a single-task full-table write is a
  * scale-killer by construction), and the registered query is the read path
  * over the staged files. That matches the real shape: an export job runs
  * once; scans of the exported data run many times.
  *
  * Column choices are deliberate per format's fidelity:
  *  - csv: int/string columns only (nation) — text roundtrip is exact;
  *  - orc: the full supplier row incl. double — binary format, bit-exact;
  *  - json: ints/strings/date (orders) — dates serialize as ISO strings and
  *    read back via the explicit schema.
  *
  * avro: the sandbox ships avro-core (`org.apache.avro`, the real Apache
  * Avro Java implementation) but not the `spark-avro` connector jar
  * (`org.apache.spark.sql.avro`), so `.format("avro")` cannot run here.
  * [[avroRoundtrip]] therefore implements the connector's essential path
  * directly against avro-core: a per-partition `DataFileWriter` export
  * (deflate codec, timestamp-micros logical type) and a per-file
  * `DataFileReader` scan — real Avro container files produced and consumed
  * by the canonical library, not a hand-rolled lookalike. On a cluster with
  * the connector, swap both sides for `.format("avro")`; the staged layout
  * is identical.
  */
object Formats {

  /** One staged export per (session, sfDir, format): the memo holds the
    * read-side DataFrame; the write ran when the entry was created. The
    * attempt-unique path means an abandoned timed-out writer can never race
    * a rebuild's overwrite on the same directory (ADVICE r7).
    */
  private def stagedRead(spark: SparkSession, sfDir: String, fmt: String)
                        (write: String => Unit)(read: String => DataFrame): DataFrame =
    Tables.memo(spark, sfDir, s"fmt_$fmt") {
      val path = Tables.uniqueStageDir(spark, sfDir, s"fmt_$fmt")
      write(path)
      read(path)
    }

  /** csv with header; partitioned parallel write, schema-on-read. */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.nation(spark, sfDir)
    stagedRead(spark, sfDir, "csv_nation")(
      p => src.write.mode("overwrite").option("header", "true").csv(p))(
      p => spark.read.schema(src.schema).option("header", "true").csv(p))
  }

  /** orc preserves every Spark type bit-exactly, including double. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.supplier(spark, sfDir)
    stagedRead(spark, sfDir, "orc_supplier")(
      p => src.write.mode("overwrite").orc(p))(
      p => spark.read.schema(src.schema).orc(p))
  }

  /** json-lines roundtrip over a date-bearing slice of orders. */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate").cast("date").as("o_orderdate"))
    stagedRead(spark, sfDir, "json_orders")(
      p => src.write.mode("overwrite").json(p))(
      p => spark.read.schema(src.schema).json(p))
  }

  /** Error-tolerant ingest — the reference's C3 "exceptions kept as values"
    * (/root/reference/geomesa_cassandra.py:229-235) applied at the file
    * layer: a json dataset where a deterministic subset of rows (orderkey ≡
    * 0 mod 7) is written MALFORMED, read back in PERMISSIVE mode with a
    * corrupt-record column. Bad rows become (nulls, raw-line) rows instead
    * of failing the scan — at 100 TB an ingest job cannot die on row
    * 3 × 10¹¹, it must land the bad rows somewhere auditable. The query
    * aggregates the split (good/corrupt counts + the good-side exact sum);
    * because the corruption rule is deterministic, the DuckDB oracle
    * replays the classification from the clean table — proving both that
    * nothing failed and that nothing was silently dropped.
    */
  def corruptJsonScan(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val schema = org.apache.spark.sql.types.StructType(
      src.schema.fields :+
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType))
    val parsed = stagedRead(spark, sfDir, "json_corrupt")(
      p => src.select(
        when(col("o_orderkey") % 7 === 0,
          // truncated object: opens, never closes — unparseable by design
          concat(lit("{\"o_orderkey\": "), col("o_orderkey").cast("string"), lit(",")))
          .otherwise(to_json(struct(src.columns.map(col): _*)))
          .as("value"))
        .write.mode("overwrite").text(p))(
      p => spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(p))
    parsed.agg(
      count(when(col("_corrupt").isNull, 1)).as("n_good"),
      count(col("_corrupt")).as("n_corrupt"),
      sum(when(col("_corrupt").isNull, col("o_totalprice").cast("decimal(12,2)")))
        .cast("double").as("good_total"))
  }

  /** Schema evolution across staged batches — the other inevitable 100-TB
    * ingest reality: years-old files lack columns that newer files carry.
    * Two parquet batches are staged under one root (old: 2-column rows from
    * before the cutoff; new: 3-column rows with `o_orderpriority` added),
    * and the scan reads the ROOT with `mergeSchema` — old rows surface the
    * added column as null, no rewrite of historical files. The query
    * normalizes nulls to a sentinel and aggregates; the oracle replays the
    * cutoff rule on the clean table, proving the merged read loses neither
    * rows nor values. (mergeSchema costs a footer pass per file — at scale
    * pin the merged schema explicitly once known; the semantics tested
    * here are identical.)
    */
  def schemaEvolutionScan(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1999-01-01").cast("timestamp")
    val merged = stagedRead(spark, sfDir, "parquet_evolved")(
      p => {
        val src = Tables.orders(spark, sfDir)
        src.where(col("o_orderdate") < cutoff)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$p/batch=old")
        src.where(col("o_orderdate") >= cutoff)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$p/batch=new")
      })(
      p => spark.read.option("mergeSchema", "true").parquet(p))
    merged
      .groupBy(coalesce(col("o_orderpriority"), lit("PRE_SCHEMA")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
  }

  /** The avro twin of [[orcRoundtrip]]: long/string/double/timestamp
    * columns of `orders` written as REAL Avro object-container files and
    * read back. Both sides use avro-core's own classes — the write is a
    * distributed per-partition `DataFileWriter` (deflate codec; timestamps
    * as the spec's `timestamp-micros` logical type on long), the read is a
    * per-file `DataFileReader` fan-out (driver lists file PATHS — metadata,
    * never data — and each task decodes its own file, the same
    * one-task-per-file shape `binaryFile` sources use). The registered
    * query aggregates the roundtripped rows per status incl. exact decimal
    * totals and min/max order timestamps; the DuckDB oracle computes the
    * same from the original parquet, so any encode/decode infidelity —
    * value, type, or timezone — hash-mismatches.
    */
  def avroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    val sparkSchema = src.schema
    stagedRead(spark, sfDir, "avro_orders")(
      p => {
        new java.io.File(p).mkdirs()
        src.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val part = org.apache.spark.TaskContext.getPartitionId()
          val schema = AvroBridge.parseSchema(AvroBridge.OrdersAvroSchema)
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
          w.create(schema, new java.io.File(f"$p/part-$part%05d.avro"))
          try rows.foreach(r => w.append(AvroBridge.toRecord(schema, r)))
          finally w.close()
        }
      })(
      p => {
        val files = new java.io.File(p).listFiles()
          .filter(_.getName.endsWith(".avro")).map(_.getAbsolutePath).sorted
        val rdd = spark.sparkContext
          .parallelize(files.toSeq, math.max(files.length, 1))
          .flatMap(AvroBridge.readFile)
        spark.createDataFrame(rdd, sparkSchema)
      })
  }

  /** Force all format exports (Bench stage phase). */
  def stageAll(spark: SparkSession, sfDir: String): Unit = {
    csvRoundtrip(spark, sfDir)
    orcRoundtrip(spark, sfDir)
    jsonRoundtrip(spark, sfDir)
    corruptJsonScan(spark, sfDir)
    schemaEvolutionScan(spark, sfDir)
    avroRoundtrip(spark, sfDir)
    ()
  }
}
