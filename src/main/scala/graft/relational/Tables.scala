package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TPC-H-ish test tables (repo:TESTDATA.md).
  * One parquet file per table under the scale-factor directory.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events table's `ts` encoding has varied across testdata
    * generations: nanosecond parquet timestamps (which Spark can only
    * read as a long, via the legacy flag) and native microsecond
    * timestamps. Branch on the decoded type so both load identically:
    * nanos are truncated to micros (DuckDB's TIMESTAMP does the same
    * truncation, so oracles agree); micros pass through untouched.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
}
