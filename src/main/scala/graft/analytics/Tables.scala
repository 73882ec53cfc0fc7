package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.ParquetRows

/** Loaders for the driver-provided star schema (TESTDATA.md).
  *
  * Each table is a single parquet file per scale factor. All reads go
  * through [[graft.core.ParquetRows.frame]]: the schema comes from the
  * file's footer on the driver, with no inference job, and the scan is
  * Spark's parquet scan, so Catalyst gets column pruning and predicate
  * pushdown for free. At cluster scale these paths would be
  * directories of many files and nothing here changes.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetRows.frame(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** The events fixtures have shipped with two physical `ts` types:
    * TIMESTAMP(NANOS) — which Spark's vectorized reader only surfaces
    * as a nanosecond LONG under the legacy conf — and plain
    * `timestamp[us]` with isAdjustedToUTC=false, which Spark reads as
    * TIMESTAMP_NTZ. Normalize either to a session-TZ TimestampType at
    * microsecond precision, the one type every downstream query and
    * oracle comparison assumes.
    *
    * Contract: a LongType `ts` is ALWAYS epoch-nanoseconds — the only
    * way the fixture yields a long is the nanosAsLong legacy surface
    * of TIMESTAMP(NANOS); a plain-INT64-micros fixture has never
    * shipped and would need a footer-level logical-type probe to
    * distinguish, so it is out of contract here.
    *
    * The NTZ→TimestampType cast interprets the wall-clock value in the
    * session time zone; the DuckDB oracle treats the same value as UTC,
    * so correctness requires a UTC session. Every session this project
    * builds sets it; the require makes the helper self-contained rather
    * than silently shifting instants under a drifted session. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val needsTzCast = df.schema("ts").dataType != TimestampType
    if (needsTzCast) {
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID)
      require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          || tz == "UTC",
        s"normalizeEventTs requires spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the NTZ/nanos-long fixture encodes UTC wall time and the oracle compares in UTC")
    }
    df.schema("ts").dataType match {
      case LongType        => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _               => df
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // footer probe (memoized, on a cloned session) instead of an
    // unconditional global conf set: the current NTZ fixture mutates
    // nothing; only a nanos-generation fixture — whose scan genuinely
    // requires the legacy conf on THIS session — sets it
    if (graft.streaming.EventStream.probeEventsTsType(spark, dir) ==
        org.apache.spark.sql.types.LongType)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
