package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._

/** Readers for the driver-generated Parquet corpus (TESTDATA.md) and every
  * other Parquet path graft reads (products, shipped corpora, staged
  * streams).
  *
  * All reads are plain columnar Parquet scans: Catalyst pushes filters and
  * prunes columns into the scan, which is the 100 TB-scale analog of the
  * reference's 50 MB line-aligned chunked text scan (coordinator.py:47-60 —
  * there, chunk size bounds memory; here `spark.sql.files.maxPartitionBytes`
  * bounds split size and the scan never materializes a whole file either).
  * Every Parquet read goes through [[parquet]], which resolves the schema
  * from one footer on the driver, so constructing a read runs no Spark job.
  */
object Tables {

  /** The one Parquet reader: `spark.read.parquet(path)` with the schema
    * taken from one data file's footer on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.FooterSchema]])
    * instead of Spark's schema-inference job, which is a fixed cost on
    * every short query. Same schema as inference (one footer, same
    * conversion, partition columns still discovered from `key=value`
    * dirs). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema.of(spark, path)).parquet(path)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` has shipped in two physical encodings across data drops:
    * Parquet INT64 TIMESTAMP(NANOS) (read as raw-nanos LONG via the
    * `nanosAsLong` legacy flag) and TIMESTAMP(MICROS, adjustedToUTC=false)
    * (read natively as TIMESTAMP_NTZ). Either way we expose `ts_us` =
    * microseconds since epoch as BIGINT and do all event-time logic on that
    * integer, so both engines order and bucket identically (DuckDB's
    * `epoch_us(ts)` truncates ns→µs exactly like `div 1000`, and reads µs
    * as-is). The NTZ branch goes through `cast(... as timestamp)` which is
    * exact because every session pins `spark.sql.session.timeZone=UTC`.
    *
    * `spark.sql.legacy.parquet.nanosAsLong=true` stays set on all sessions —
    * it only affects NANOS columns, so it is inert on µs data but keeps the
    * legacy drop readable.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    raw.withColumn("ts_us", tsUs)
  }

  /** Generic directory-of-text-files source — the reference's ingest surface
    * (coordinator.py:20-44,47-60). One row per line; line-aligned splitting is
    * the same invariant the reference's chunker maintains. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("value")

  /** CSV source with an explicit schema — schema-on-read is mandatory at
    * scale (inference is a full extra pass over the data) and makes the
    * columnar pruning/pushdown behavior identical to the Parquet path.
    * Split-aligned like the text source (quoted newlines disabled). */
  def csv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("multiLine", "false")
      .csv(path)

  /** JSON-lines source with an explicit schema (same rationale as csv:
    * never pay the inference pass; one JSON object per line keeps the input
    * splittable). */
  def jsonLines(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("multiLine", "false")
      .json(path)

  /** ORC source — the other columnar format warehouses hand you. Same
    * pushdown/pruning behavior as Parquet (predicates reach the ORC reader's
    * stripe/row-group statistics), so the operator library runs on ORC lakes
    * unchanged. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
