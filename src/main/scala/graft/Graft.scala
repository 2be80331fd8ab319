package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

import graft.config.{BarConfig, FlowControlConfig, PipelineConfig, SignalConfig}
import graft.operators.TickPipeline
import graft.streaming.{TickIn, TickOut, TickStream}

/** One-import facade for users of the reference pipeline
  * (LostArkRaider/TickDataPipeline): every export of the reference's
  * top-level module (reference: src/TickDataPipeline.jl:10-71) mapped to
  * its Spark-native equivalent. The semantics match the reference; the
  * shapes are DataFrames/Datasets instead of channels and mutable
  * structs, so everything composes with the rest of Spark.
  *
  * Reference export -> here:
  *   - BroadcastMessage / create_broadcast_message  -> [[graft.model.TickRecord]] rows
  *   - FLAG_OK/MALFORMED/HOLDLAST/CLIPPED/AGC_LIMIT -> [[graft.model.Flags]]
  *   - stream_expanded_ticks                        -> [[expandTicks]]
  *   - parse_tick_line                              -> [[readTickFile]] / [[parseTickLines]]
  *   - encode/decode_timestamp                      -> [[encodeTimestamp]]/[[decodeTimestamp]]
  *   - TickHotLoopState + process_tick_signal!/_cpm!/_amc! -> [[hotLoop]] (all four
  *     encoders, selected by `SignalConfig.encoderType`; the sequential state
  *     becomes the two-pass distributed prefix scan)
  *   - CPM_LUT_1024 / HEXAD16                       -> [[graft.functions.TickFunctions]]
  *   - TripleSplitManager / subscribe/broadcast/stats -> [[consumerRegistry]] +
  *     [[TickStream.broadcastTo]] (priority/drop fan-out, exact accounting)
  *   - PipelineConfig + load/save/validate + default-path trio -> [[graft.config.PipelineConfig]]
  *   - design_decimation_filter / get_predefined_filter -> [[designDecimationFilter]] /
  *     [[predefinedFilter]] (true Remez equiripple at the reference's orders)
  *   - BarProcessorState / process_tick_for_bars!   -> [[bars]]
  *   - run_pipeline / run_pipeline! / stop_pipeline! -> [[runPipeline]] /
  *     [[TickStream.runManaged]] / `ManagedPipeline.stop()`
  *
  * Beyond the reference (no Julia counterpart; discoverable from here):
  *   - relational/training-data query surface: [[graft.relational.RelationalQueries]],
  *     [[graft.llm.LlmQueries]], [[graft.media.MediaQueries]] (all oracle-gated
  *     via [[SparkEntry]])
  *   - storage layout: [[graft.sources.Warehouse]] (bucketed no-shuffle joins,
  *     partition pruning, small-file compaction, Z-order clustering)
  *   - observability: [[graft.operators.Audit]] (same-pass row/integrity metrics)
  *   - streaming corpus ingestion: [[graft.streaming.DocStream]] (exact +
  *     canonical + MinHash near-dup rejection per micro-batch, replay-safe)
  *   - persisted dedup indexes: [[graft.llm.DedupIndex]] (signatures,
  *     prefix-partitioned bands, candidate pairs, per-doc shingle sets;
  *     build once per corpus snapshot, probe incrementally — data-path
  *     keyed JVM cache behind the l-queries is single-snapshot by
  *     contract, see [[graft.llm.LlmQueries.invalidateSharedIndexes]])
  *   - persisted ANN indexes: [[graft.llm.VectorIndex]] (IVF lists under dynamic
  *     partition pruning; PQ codebook + asymmetric-distance search)
  *   - skew tooling: [[graft.operators.Salted]]
  *   - custom physical operators: [[graft.plans.TopK]] (bounded-heap
  *     top-k per key with a partial pass below the shuffle — the
  *     logical-node/strategy/exec extension tier)
  */
object Graft {

  // ------------------------------------------------------------- ingestion
  /** Parse a `;`-delimited tick file with malformed/blank-line drop and a
    * dense 1-based line index (reference: parse_tick_line +
    * VolumeExpansion.jl:145-218).
    */
  def readTickFile(spark: SparkSession, path: String): DataFrame =
    TickPipeline.readTickFile(SparkEntry.tune(spark), path)

  /** Parse an already-loaded line column (same drop semantics). */
  def parseTickLines(df: DataFrame, line: Column, orderCol: Column): DataFrame =
    TickPipeline.parseTickLines(df, line, orderCol)

  /** Volume expansion with per-replica price deltas and the global
    * `tick_idx` (reference: stream_expanded_ticks).
    */
  def expandTicks(lines: DataFrame): DataFrame =
    TickPipeline.expandVolumeChunked(lines)

  /** 8-bytes-per-char timestamp pack / unpack (reference:
    * encode_timestamp_to_int64 / decode_timestamp_from_int64).
    */
  def encodeTimestamp(ts: Column): Column =
    graft.functions.TickFunctions.encodeTimestamp(ts)
  def decodeTimestamp(packed: Column): Column =
    graft.functions.TickFunctions.decodeTimestamp(packed)

  // -------------------------------------------------------------- hot loop
  /** The full tick hot loop — validation, hold-last, jump guard,
    * winsorization, adaptive Q16 normalization and the configured
    * encoder (derivative / hexad16 / cpm / amc) — as one distributed
    * scan with the values of [[graft.operators.HotLoopKernel]], the same
    * Float32 arithmetic as [[hotLoopStream]] (reference:
    * process_tick_signal! and friends).
    */
  def hotLoop(ticks: DataFrame, cfg: SignalConfig): DataFrame =
    TickPipeline.hotLoopChunked(ticks, cfg)

  /** Bars: tumbling OHLC + boxcar/FIR average + bar-level encoding
    * (reference: process_tick_for_bars!).
    */
  def bars(ticks: DataFrame, cfg: BarConfig): DataFrame =
    TickPipeline.bars(ticks, cfg)

  /** FIR designs (reference: design_decimation_filter /
    * get_predefined_filter — DSP.jl remez parity, true equiripple).
    */
  def designDecimationFilter(m: Int): Array[Double] =
    graft.functions.FirFilter.designDecimationFilter(m)
  def predefinedFilter(m: Int): Array[Double] =
    graft.functions.FirFilter.predefined(m)

  // ------------------------------------------------------------- streaming
  /** Consumer registry for the priority/drop fan-out (reference:
    * create_triple_split_manager / subscribe_consumer! /
    * get_manager_stats).
    */
  def consumerRegistry(): TickStream.ConsumerRegistry =
    new TickStream.ConsumerRegistry

  /** Streaming hot loop over a typed tick stream (single instrument —
    * the reference's exact sequential semantics), and the keyed
    * multi-symbol scale-out variant.
    */
  def hotLoopStream(ticks: Dataset[TickIn], cfg: SignalConfig): Dataset[TickOut] =
    TickStream.hotLoopStream(ticks, cfg)
  def hotLoopStreamKeyed(ticks: Dataset[(String, TickIn)],
      cfg: SignalConfig): Dataset[(String, TickOut)] =
    TickStream.hotLoopStreamKeyed(ticks, cfg)

  /** State-v2 (`transformWithState`) variants: the keyed hot loop on the
    * RocksDB-backed processor API, and the event-time-timer
    * inactivity-gap session closer.
    */
  def hotLoopStreamTws(ticks: Dataset[(String, TickIn)],
      cfg: SignalConfig): Dataset[(String, TickOut)] =
    TickStream.hotLoopStreamTws(ticks, cfg)
  def sessionCloseStream(ticks: Dataset[TickStream.SymTick],
      gapMs: Long): Dataset[TickStream.SessionClose] =
    TickStream.sessionCloseStream(ticks, gapMs)
  def rollingStream(ticks: Dataset[(String, TickIn)],
      window: Int = 16): Dataset[TickStream.RollingOut] =
    TickStream.rollingStream(ticks, window)

  // -------------------------------------------------------------- pipeline
  /** Batch end-to-end run from a config (reference: run_pipeline): tick
    * file -> expansion -> hot loop -> bar enrichment.
    */
  def runPipeline(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val s = SparkEntry.tune(spark)
    val lines = readTickFile(s, cfg.tickFilePath)
    val ticks = expandTicks(lines)
    val hot = hotLoop(ticks, cfg.signal)
    if (cfg.bars.enabled)
      TickPipeline.enrich(hot, bars(ticks, cfg.bars), cfg.bars.ticksPerBar)
    else hot
  }
}
