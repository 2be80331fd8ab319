package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Capture sinks (T4) and CSV export (T5).
  *
  * The reference captures a window of the enriched tick stream (or the
  * bar stream) into a columnar file for plotting/analysis
  * (scripts/capture_pipeline_data.jl:67-113 tick schema, :115-173 bar
  * schema), and exports the columnar capture to CSV
  * (scripts/jld2_to_csv.jl:13-41). Here the capture is a parquet write of
  * the same columns/types; `tick_idx`/`bar_idx` are dense, so the
  * "skip tick_start, take num_records" window is an index-range FILTER —
  * partition-prunable at any scale, no global sort or limit.
  */
object Capture {

  /** The error a tick capture raises for a `tick_idx` above Int.MaxValue. */
  val TickIdxOverflow: String =
    s"tick capture: tick_idx exceeds Int.MaxValue (${Int.MaxValue}); the int tick_idx column would wrap"

  /** 7-column tick capture (reference capture_pipeline_data.jl:67-113):
    * skip the first `tickStart` ticks, keep `numRecords`.
    * Float32/UInt8 reference types map to float/tinyint. The capture's
    * `tick_idx` is an int, as in the reference: a captured tick past
    * Int.MaxValue fails the query with [[TickIdxOverflow]] instead of
    * wrapping (the session runs with ANSI casts off).
    */
  def tickCapture(signal: DataFrame, tickStart: Long = 0L,
      numRecords: Long = Long.MaxValue): DataFrame = {
    val hi = if (numRecords >= Long.MaxValue - tickStart) Long.MaxValue
    else tickStart + numRecords
    signal
      .where(col("tick_idx") > tickStart && col("tick_idx") <= hi)
      .select(
        when(col("tick_idx") > Int.MaxValue, raise_error(lit(TickIdxOverflow)))
          .otherwise(col("tick_idx")).cast("int").as("tick_idx"),
        col("raw_price").cast("int"),
        col("price_delta").cast("int"),
        col("signal_re").cast("float").as("complex_signal_real"),
        col("signal_im").cast("float").as("complex_signal_imag"),
        col("normalization").cast("float"),
        col("status_flag").cast("tinyint"))
  }

  /** 11-column bar capture (reference capture_pipeline_data.jl:115-173):
    * bars completing after `tickStart`, first `numRecords` of them.
    */
  def barCapture(bars: DataFrame, ticksPerBar: Int, tickStart: Long = 0L,
      numRecords: Long = Long.MaxValue): DataFrame = {
    val startBar = tickStart / ticksPerBar
    val hi = if (numRecords >= Long.MaxValue - startBar) Long.MaxValue
    else startBar + numRecords
    bars
      .where(col("bar_idx") > startBar && col("bar_idx") <= hi)
      .select(
        col("bar_idx").cast("long"),
        col("bar_open_raw").cast("int"),
        col("bar_high_raw").cast("int"),
        col("bar_low_raw").cast("int"),
        col("bar_close_raw").cast("int"),
        col("bar_volume").cast("int"),
        col("bar_ticks").cast("int"),
        col("bar_signal_re").cast("float").as("bar_complex_signal_real"),
        col("bar_signal_im").cast("float").as("bar_complex_signal_imag"),
        col("bar_normalization").cast("float"),
        col("bar_flags").cast("tinyint"))
  }

  /** Columnar capture write (the reference's JLD2 analog). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** T5 CSV export of a capture (reference scripts/jld2_to_csv.jl:13-41:
    * same columns, one header row).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Schema-checked CSV read-back (inference would widen float->double
    * and byte->int, breaking round-trips).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  val tickCaptureSchema: StructType = StructType(Seq(
    StructField("tick_idx", IntegerType),
    StructField("raw_price", IntegerType),
    StructField("price_delta", IntegerType),
    StructField("complex_signal_real", FloatType),
    StructField("complex_signal_imag", FloatType),
    StructField("normalization", FloatType),
    StructField("status_flag", ByteType)))

  val barCaptureSchema: StructType = StructType(Seq(
    StructField("bar_idx", LongType),
    StructField("bar_open_raw", IntegerType),
    StructField("bar_high_raw", IntegerType),
    StructField("bar_low_raw", IntegerType),
    StructField("bar_close_raw", IntegerType),
    StructField("bar_volume", IntegerType),
    StructField("bar_ticks", IntegerType),
    StructField("bar_complex_signal_real", FloatType),
    StructField("bar_complex_signal_imag", FloatType),
    StructField("bar_normalization", FloatType),
    StructField("bar_flags", ByteType)))
}
