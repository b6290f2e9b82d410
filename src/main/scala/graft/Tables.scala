package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Central table loader for the engine.
  *
  * All inputs are single parquet files under `sfDir` (TESTDATA.md /
  * FIXTURES.md). Schemas come from parquet footers — with one exception:
  * `events.ts` is physically TIMESTAMP(NANOS, isAdjustedToUTC=false),
  * which Spark 4 refuses to read by default (`PARQUET_TYPE_ILLEGAL`,
  * SURVEY.md §1.4). We flip `spark.sql.legacy.parquet.nanosAsLong`
  * (runtime-settable, verified) so `ts` arrives as nanos-since-epoch
  * `LongType`, then truncate to a microsecond `timestamp_ntz` — which is
  * bit-identical to DuckDB's own native ns→µs truncation of the same file,
  * keeping the DuckDB oracle comparable.
  *
  * Scale notes (100 TB): the loader adds no shuffle and no driver-side
  * work; every helper below is a pure projection on the scan, so filter
  * pushdown and column pruning flow through to the parquet reader
  * untouched. At cluster scale the same code reads a directory of many
  * files — nothing here assumes a single file.
  */
object Tables {

  /** Generic accessor: `table(spark, dir, "lineitem")`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case other    => parquet(spark, s"$sfDir/$other.parquet")
    }

  /** Footer schemas by (path, length, mtime). Spark infers a parquet
    * schema with one Spark job per read, so without this every declared
    * query ran one job per table it touches while its DataFrame was
    * being built; a rewritten file changes its key.
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val schema = schemas.computeIfAbsent((st.getPath.toString, st.getLen, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, d: String): DataFrame   = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame   = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame     = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame   = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame  = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** `events` normalized so the `ts` column is `timestamp_ntz` at µs
    * precision, equal to what DuckDB reads from the same file — robust
    * to BOTH physical layouts the driver has generated (SURVEY.md
    * §1.4): nanosecond INT64 timestamps (read as LongType under
    * `nanosAsLong`, then ns→µs converted) and plain µs timestamps
    * (cast straight to ntz). Branching on the observed schema keeps
    * every event query working if the fixtures change layout again.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
    }
  }

  /** Decimal-cast helper, SURVEY.md §2.0 rule 1: never SUM/AVG raw
    * doubles — decimal arithmetic is exact and order-independent, so
    * results don't depend on partitioning / aggregation order. That is
    * what makes results reproducible on a 1000-executor cluster, not just
    * cross-engine comparable.
    */
  def dec(c: Column, precision: Int = 18, scale: Int = 2): Column =
    c.cast(DecimalType(precision, scale))
}
