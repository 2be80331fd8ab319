package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Batch-side pipeline observability via Spark's Observation API — the
  * batch analog of the reference pipeline's consumer/manager statistics
  * (reference: src/TripleSplitSystem.jl consumer stats,
  * src/PipelineOrchestrator.jl metrics; mapped for streaming by
  * `TickStream.runManaged`). Row counts, null counts, and value
  * bounds are collected ON THE SAME PASS as whatever action consumes
  * the DataFrame: `observe` rides the existing job as accumulator
  * updates, so the audit adds ZERO extra scans and no cache — at
  * 100 TB the difference between "audited" and "scanned twice".
  */
object Audit {

  /** Attach a row-count + per-column integrity probe (null count, min,
    * max) to `df`. Returns the instrumented frame — use IT in place of
    * `df` — and the [[Observation]]; read `observation.get` after any
    * action on the returned frame has completed.
    *
    * The metric names are `rows`, and `<col>_nulls` / `<col>_min` /
    * `<col>_max` per audited column.
    */
  def audited(df: DataFrame, name: String, cols: Seq[String]): (DataFrame, Observation) = {
    val obs = Observation(name)
    val aggs: Seq[Column] = count(lit(1)).as("rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Reconciliation helper for write paths: audit `df`, run `action`
    * (e.g. a parquet write), and return the observed metrics map.
    * Typical use asserts `rows` against an upstream count or a sink-side
    * footer count — the row-level "did everything arrive" audit every
    * production ingest ships.
    */
  def auditedRun(df: DataFrame, name: String, cols: Seq[String])(
      action: DataFrame => Unit): Map[String, Any] = {
    val (instrumented, obs) = audited(df, name, cols)
    action(instrumented)
    obs.get
  }
}
