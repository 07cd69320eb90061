package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  *
  * All tables are plain parquet; reads go through the DataSource V2 parquet
  * scan so Catalyst pushes filters/projections down (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
      Phase(spark, "tables.load") {
    // The generated `events` table has stored `ts` as TIMESTAMP(NANOS)
    // (readable only as long, via the legacy conf) in some drops and as
    // TIMESTAMP(MICROS) (which parquet marks NTZ) in others. Normalize by
    // the schema actually read, so everything downstream sees a plain
    // TimestampType either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val ts = df.schema("ts").dataType match {
        case LongType => timestamp_micros((col("ts") / 1000L).cast(LongType))
        case TimestampType => col("ts")
        case _ => col("ts").cast(TimestampType) // TIMESTAMP_NTZ µs drop (session TZ is UTC)
      }
      df.withColumn("ts", ts)
    } else df
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
