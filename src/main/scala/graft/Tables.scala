package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Io

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). Each table is one parquet file under
  * `<sfDir>/<name>.parquet`; scans stay declarative so Catalyst
  * pushes projections and filters into the parquet reader. Every load
  * goes through [[graft.sources.Io.readParquet]], so building a frame
  * over an unchanged table fires no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else Io.readParquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read nanos as long, floor-divide
    * to micros) and plain TIMESTAMP(MICROS) (read natively as NTZ).
    * Either way the column is normalized to a session-tz TimestampType
    * so every downstream operator sees one type. Oracle SQL mirrors both
    * via `make_timestamp(epoch_ns(ts)//1000)`, an identity on micros.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ → TimestampType branch below is only value-preserving under
    // a UTC session; pin it here rather than relying on each entry point.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = Io.readParquet(spark, s"$sfDir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      // `div` keeps the arithmetic in LongType: `/` would promote the
      // int64 epoch-nanos (~8.6e17 > 2^53) to double and round by ~64 ns.
      case LongType         => timestamp_micros(expr("ts div 1000"))
      // NTZ → session-tz timestamp; value-preserving under the UTC session.
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts: expected INT64 nanos, TIMESTAMP_NTZ or TIMESTAMP, got $other")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
