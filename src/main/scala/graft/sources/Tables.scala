package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver's parquet fixtures (TESTDATA.md / FIXTURES.md).
  *
  * The reference has no sources at all — its input is a driver-resident
  * `std::vector` of pointer pairs (SURVEY.md §2.2 "Scans"). Here every
  * query reads columnar parquet so Catalyst can push filters and prune
  * columns down to the scan — the 100 TB posture.
  */
object Tables {

  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Fixture schemas, inferred ONCE per (dir, table) per process and
    * passed explicitly thereafter: `read.parquet` with no schema
    * runs a footer-inference pass on every call — ~70 ms of driver+job
    * work that every one of the suite's ~400 table reads per sweep was
    * paying (measured: an explicit schema turns a one-table
    * `sum(col)` count() from 0.39 s into 0.09 s). Metadata only — the
    * fixtures are read-only inputs, the schema is re-inferred in every
    * fresh JVM, and no row or result is memoized (the same
    * process-lifetime discipline as EventStreams.splitCache). On a
    * production deployment this is the catalog's job; a bare-path
    * reader should still pin schemas explicitly at this call rate. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.ts` is TIMESTAMP(MICROS) parquet, not adjusted to UTC, so
    * Spark reads it natively as TIMESTAMP_NTZ (since the fixture refresh; the
    * older fixtures stored INT64 epoch-nanos, which needed the
    * `nanosAsLong` legacy read plus explicit conversion — both retired).
    *
    * Adds `ts_utc` next to the raw columns: the same wall clock kept as
    * ntz, the type every written-then-read-back result and every oracle
    * comparison uses (tz-free, matching the fixture date columns).
    * Queries needing integer event-time math derive epoch micros with
    * `unix_micros(CAST(ts AS TIMESTAMP))` — wall-clock-preserving under
    * the UTC session [[GraftSession.configure]] pins.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts_utc", col("ts"))
}
