package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.config.{FlowControlConfig, SignalConfig}

/** Structured Streaming variant of the tick pipeline (SURVEY.md §2B
  * Q18-Q20; reference: the channel-based pipeline of
  * src/PipelineOrchestrator.jl + src/TripleSplitSystem.jl).
  *
  * The reference is a single sequential stream; the streaming hot loop
  * preserves exactly that semantics with `flatMapGroupsWithState` on a
  * single key (state = [[HotLoopState]], folded by [[HotLoopStep]] with
  * the batch scan's arithmetic, [[graft.operators.HotLoopKernel]]), so a
  * stream's outputs equal the batch hot loop's bit for bit. Micro-batches replace the channel; for
  * multi-symbol scale-out, key by instrument instead — each group is an
  * independent sequential stream.
  */
object TickStream {

  /** T10: the reference's flow-control delay (inter-tick sleep,
    * src/VolumeExpansion.jl:18-30) maps to micro-batch cadence — a
    * processing-time trigger of the configured delay. `delayMs = 0`
    * (reference "no delay") triggers as fast as data arrives.
    */
  def triggerFor(fc: FlowControlConfig): Trigger =
    Trigger.ProcessingTime(math.max(0L, math.ceil(fc.delayMs).toLong))

  /** Stateful hot loop over a parsed tick stream. Input rows must carry
    * (tick_idx, timestamp, raw_price, price_delta); rows within a
    * micro-batch are sorted by tick_idx before folding.
    */
  def hotLoopStream(ticks: Dataset[TickIn], cfg: SignalConfig): Dataset[TickOut] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[HotLoopState, TickOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[HotLoopState]) =>
          val (s, outs) = HotLoopStep.foldBatch(state.getOption, it, cfg)
          state.update(s)
          outs.iterator
      }
  }

  /** Multi-symbol scale-out of [[hotLoopStream]]: key by instrument and
    * each group runs the SAME sequential recurrence independently —
    * state, parallelism and shuffle all partition by symbol, so the
    * single-key total-order bottleneck disappears at fleet scale (one
    * group per instrument, thousands of instruments spread across
    * executors). Rows within a micro-batch are sorted by `tick_idx`
    * before folding (same contract as [[hotLoopStream]]: a lower
    * tick_idx arriving in a LATER batch folds in arrival order).
    */
  def hotLoopStreamKeyed(ticks: Dataset[(String, TickIn)],
      cfg: SignalConfig): Dataset[(String, TickOut)] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_._1)
      .flatMapGroupsWithState[HotLoopState, (String, TickOut)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (sym, it, state: GroupState[HotLoopState]) =>
          val (s, outs) = HotLoopStep.foldBatch(state.getOption, it.map(_._2), cfg)
          state.update(s)
          outs.iterator.map(o => (sym, o))
      }
  }

  /** Spark 4 state-v2 processor backing [[hotLoopStreamTws]]: the same
    * sequential recurrence as [[hotLoopStreamKeyed]]'s
    * `flatMapGroupsWithState` closure, expressed through the
    * `StatefulProcessor` lifecycle — named typed state
    * (`ValueState[HotLoopState]`, no-TTL) bound in `init`, folded in
    * `handleInputRows`. The processor form is what the v2 engine's
    * operational upgrades attach to (RocksDB state store with changelog
    * checkpointing, state schema evolution, per-state TTL) — the fold
    * itself is byte-identical to the v1 path, and the spec pins
    * cross-engine parity.
    */
  private[streaming] class HotLoopProcessor(cfg: SignalConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, TickIn), (String, TickOut)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[HotLoopState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[HotLoopState]("hotloop",
        org.apache.spark.sql.Encoders.product[HotLoopState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, TickIn)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, TickOut)] = {
      val (s, outs) = HotLoopStep.foldBatch(Option.when(st.exists())(st.get()),
        rows.map(_._2), cfg)
      st.update(s)
      outs.iterator.map(o => (key, o))
    }
  }

  /** [[hotLoopStreamKeyed]] on the Spark 4 `transformWithState` (state
    * v2) API. Identical semantics and output; requires the RocksDB
    * state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`), which is also what a
    * production deployment wants for the hot loop: changelog
    * checkpointing makes the per-micro-batch state commit O(delta)
    * instead of O(state), and state no longer lives on the executor
    * heap. Scale shape is unchanged — state, shuffle, and parallelism
    * all partition by symbol.
    */
  def hotLoopStreamTws(ticks: Dataset[(String, TickIn)],
      cfg: SignalConfig): Dataset[(String, TickOut)] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_._1)
      .transformWithState(new HotLoopProcessor(cfg),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Input/output rows for [[sessionCloseStream]]. */
  case class SymTick(sym: String, ts: java.sql.Timestamp, price: Int)
  case class SessionClose(sym: String, n_ticks: Long, first_ms: Long, last_ms: Long)
  // NOT private: the state encoder's generated code must reach the
  // field accessors, else codegen fails and every state (de)serialize
  // falls back to the interpreted path.
  case class SessAgg(n: Long, firstMs: Long, lastMs: Long, timerAtMs: Long)

  /** State-v2 processor with EVENT-TIME TIMERS: closes a per-symbol
    * session when the symbol has been quiet for `gapMs` of event time —
    * the session summary is emitted from `handleExpiredTimer` when the
    * WATERMARK passes last_tick + gap, not when a next element happens
    * to arrive. The v1 API can only approximate this
    * (`GroupStateTimeout.EventTimeTimeout` times out the whole group,
    * fires lazily, and cannot re-arm mid-batch); v2 timers are named
    * per-key instants the engine tracks in the state store — each new
    * tick deletes the previous timer and arms last_ms + gap. Scale
    * shape: state, timers, and shuffle all partition by symbol; an
    * idle symbol costs one (timestamp, key) entry in the timer column
    * family, not a scan.
    */
  private[streaming] class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, SymTick, SessionClose] {
    @transient private var agg: org.apache.spark.sql.streaming.ValueState[SessAgg] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      agg = getHandle.getValueState[SessAgg]("sess",
        org.apache.spark.sql.Encoders.product[SessAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[SymTick],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionClose] = {
      var s = if (agg.exists()) agg.get() else SessAgg(0L, Long.MaxValue, Long.MinValue, -1L)
      rows.foreach { t =>
        val ms = t.ts.getTime
        s = SessAgg(s.n + 1, math.min(s.firstMs, ms), math.max(s.lastMs, ms), s.timerAtMs)
      }
      if (s.timerAtMs >= 0) getHandle.deleteTimer(s.timerAtMs)
      val armAt = s.lastMs + gapMs
      getHandle.registerTimer(armAt)
      agg.update(s.copy(timerAtMs = armAt))
      Iterator.empty
    }
    override def handleExpiredTimer(key: String,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionClose] = {
      val out =
        if (agg.exists()) {
          val s = agg.get()
          Iterator.single(SessionClose(key, s.n, s.firstMs, s.lastMs))
        } else Iterator.empty
      agg.clear()
      out
    }
  }

  /** Inactivity-gap session closer over a symbol-keyed tick stream
    * (event-time timers; see [[SessionTimerProcessor]]). Input must
    * carry a watermark on `ts`.
    */
  def sessionCloseStream(ticks: Dataset[SymTick], gapMs: Long): Dataset[SessionClose] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.sym)
      .transformWithState(new SessionTimerProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Output of [[rollingStream]]: the trailing-W sum/count of
    * raw_price per symbol at each tick (the rolling mean is the exact
    * rational sum/cnt — emitted as integers, the engine-exact
    * discipline).
    */
  case class RollingOut(sym: String, tick_idx: Long, win_sum: Long, win_cnt: Int)

  /** State-v2 processor with LIST STATE: a trailing-16-tick rolling
    * window per symbol that SPANS micro-batches — the window's tail
    * lives in `ListState[Long]` (the engine's list column family:
    * `appendValue` is an O(1) write, `put` rewrites the bounded ≤16
    * entries), so tick 1 of a new micro-batch still sees the previous
    * batch's 15 ticks. Completes the state-v2 primitive coverage next
    * to [[HotLoopProcessor]] (ValueState) and
    * [[SessionTimerProcessor]] (event-time timers). Rows fold in
    * tick_idx order within a batch (the established contract).
    */
  private[streaming] class RollingWindowProcessor(window: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, TickIn), RollingOut] {
    @transient private var tail: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      tail = getHandle.getListState[Long]("tail",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, TickIn)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RollingOut] = {
      var buf: Vector[Long] =
        if (tail.exists()) tail.get().toVector else Vector.empty
      val outs = rows.toSeq.sortBy(_._2.tick_idx).map { case (_, t) =>
        buf = (buf :+ t.raw_price.toLong).takeRight(window)
        RollingOut(key, t.tick_idx, buf.sum, buf.size)
      }
      tail.put(buf.toArray)
      outs.iterator
    }
  }

  /** Trailing-16-tick rolling sum/count per symbol, micro-batch
    * spanning (see [[RollingWindowProcessor]]).
    */
  def rollingStream(ticks: Dataset[(String, TickIn)],
      window: Int = 16): Dataset[RollingOut] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_._1)
      .transformWithState(new RollingWindowProcessor(window),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Consumer types (reference: src/TripleSplitSystem.jl:16-20). */
  sealed trait ConsumerType
  case object Priority extends ConsumerType   // lossless, backpressures
  case object Monitoring extends ConsumerType // drop-on-full
  case object Analytics extends ConsumerType  // drop-on-full

  /** Per-consumer delivery stats (reference: TripleSplitSystem.jl:272-305).
    * Rows reach a consumer only through the fan-out's `partitionSink`.
    */
  final class ConsumerStats(val name: String, val kind: ConsumerType, val bufferSize: Int) {
    val messagesSent = new AtomicLong
    val messagesDropped = new AtomicLong
    /** Buffer fill read by the drop policy once per micro-batch (room =
      * `bufferSize - fillProbe()`). A sink that has returned has consumed
      * its share, hence the default 0; an asynchronous sink that queues
      * rows reports its backlog here. */
    @volatile var fillProbe: () => Int = () => 0
  }

  /** T34: consumer registry with subscribe/unsubscribe (reference:
    * TripleSplitSystem.jl:109-128 subscribe!, :142-154 unsubscribe!) and
    * T36 manager-level broadcast totals (:297-305).
    */
  final class ConsumerRegistry {
    private val consumers = new java.util.concurrent.ConcurrentHashMap[String, ConsumerStats]()
    val totalBroadcasts = new AtomicLong
    val successfulBroadcasts = new AtomicLong
    /** Exact rows seen by the fan-out, accumulated per micro-batch inside
      * foreachBatch — the metrics source for [[ManagedPipeline.stats]]
      * (`query.recentProgress` is capped at
      * spark.sql.streaming.numRecentProgressUpdates entries and would
      * silently undercount long runs). */
    val rowsBroadcast = new AtomicLong
    /** Per-batch fan-out latency extrema/total (ms) — the batch is the
      * honest Spark analog of the reference's per-tick µs min/max/avg
      * (PipelineOrchestrator.jl:116-186). */
    val batchMsMin = new AtomicLong(Long.MaxValue)
    val batchMsMax = new AtomicLong(Long.MinValue)
    val batchMsSum = new AtomicLong
    private[streaming] def recordBatchMs(ms: Long): Unit = {
      batchMsMin.accumulateAndGet(ms, math.min)
      batchMsMax.accumulateAndGet(ms, math.max)
      batchMsSum.addAndGet(ms)
      ()
    }

    def subscribe(name: String, kind: ConsumerType, bufferSize: Int): ConsumerStats = {
      val c = new ConsumerStats(name, kind, bufferSize)
      val prev = consumers.putIfAbsent(name, c)
      if (prev != null)
        throw new IllegalArgumentException(s"consumer '$name' already subscribed")
      c
    }
    def unsubscribe(name: String): Boolean = consumers.remove(name) != null
    def get(name: String): Option[ConsumerStats] = Option(consumers.get(name))
    def active: Seq[ConsumerStats] = consumers.values.asScala.toSeq.sortBy(_.name)

    /** Manager stats (reference: TripleSplitSystem.jl:297-305). */
    def managerStats: Map[String, Long] = Map(
      "total_broadcasts" -> totalBroadcasts.get(),
      "successful_broadcasts" -> successfulBroadcasts.get(),
      "active_consumers" -> active.size.toLong)
  }

  /** Multi-consumer broadcast with the reference's priority/drop policy:
    * PRIORITY consumers always receive every row (in Spark, a normal
    * sink — backpressure is intrinsic to micro-batching); MONITORING /
    * ANALYTICS consumers drop (and count) rows beyond their buffer room.
    * One `foreachBatch` fan-out so all consumers observe the same
    * micro-batch — mirroring broadcast_to_all! (TripleSplitSystem.jl:172-259).
    * Every consumer is served through `partitionSink`, called with the
    * consumer's name; with no sink the fan-out only counts.
    *
    * Each micro-batch is ONE Spark job: the job that runs the stateful
    * stage. Before it starts, the driver fixes each consumer's room —
    * unbounded for Priority, `bufferSize - fillProbe()` otherwise — which
    * does not depend on the batch size. Each partition buffers its rows,
    * hands them to `partitionSink` for every Priority consumer (the
    * unbounded stream never leaves the executors), and returns its row
    * count plus its `keep` smallest rows by `tick_idx`, `keep` being the
    * largest room among the dropping consumers. A dropping consumer's
    * share is the batch's `sent = min(n, room)` smallest rows, which
    * always lie in the union of each partition's `sent` smallest; the
    * driver takes them from the merged candidates and calls
    * `partitionSink` with them (at most `room` rows, in `tick_idx` order).
    * The cut is by rank, so delivery is exact even when `tick_idx` has
    * gaps (upstream drops, files split across triggers).
    */
  def broadcastTo(
      enriched: Dataset[TickOut],
      registry: ConsumerRegistry,
      checkpoint: String,
      partitionSink: Option[(String, Iterator[TickOut]) => Unit] = None,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    fanOut(enriched, registry, checkpoint, partitionSink, trigger)(() => ())

  /** [[broadcastTo]], running `afterBatch` at the end of each micro-batch
    * body, once the batch's counters are recorded. */
  private def fanOut(
      enriched: Dataset[TickOut],
      registry: ConsumerRegistry,
      checkpoint: String,
      partitionSink: Option[(String, Iterator[TickOut]) => Unit],
      trigger: Trigger)(afterBatch: () => Unit): StreamingQuery =
    enriched.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[TickOut], _: Long) =>
        val batchT0 = System.currentTimeMillis()
        val consumers = registry.active
        val rooms = consumers.map { c =>
          if (c.kind == Priority) Long.MaxValue
          else math.max(0L, (c.bufferSize - c.fillProbe()).toLong)
        }
        val priorityNames = consumers.filter(_.kind == Priority).map(_.name)
        // Dropping consumers are served on the driver from the merged candidates.
        val fromDriver = consumers.map(c => partitionSink.isDefined && c.kind != Priority)
        val keep = rooms.zip(fromDriver).collect { case (r, true) => r }
          .maxOption.fold(0)(r => math.min(r, Int.MaxValue.toLong).toInt)
        val parts = batch.sparkSession.sparkContext.runJob(batch.rdd, (it: Iterator[TickOut]) => {
          val rows = it.toArray
          partitionSink.foreach(s => priorityNames.foreach(name => s(name, rows.iterator)))
          (rows.length.toLong,
            if (keep == 0) Array.empty[TickOut] else rows.sortBy(_.tick_idx).take(keep))
        })
        val n = parts.iterator.map(_._1).sum
        registry.totalBroadcasts.incrementAndGet()
        registry.rowsBroadcast.addAndGet(n)
        if (n > 0) {
          val candidates = parts.flatMap(_._2).sortBy(_.tick_idx)
          consumers.lazyZip(rooms).lazyZip(fromDriver).foreach { (c, room, driverSide) =>
            val sent = math.min(n, room)
            if (driverSide && sent > 0)
              partitionSink.foreach(_(c.name, candidates.iterator.take(sent.toInt)))
            c.messagesSent.addAndGet(sent)
            c.messagesDropped.addAndGet(n - sent)
          }
          registry.successfulBroadcasts.incrementAndGet()
        }
        registry.recordBatchMs(System.currentTimeMillis() - batchT0)
        afterBatch()
      }
      .start()

  /** T38 metrics snapshot (reference: PipelineOrchestrator.jl:19-33).
    * Batch-latency min/max/avg are the micro-batch analog of the
    * reference's per-tick µs extrema; 0 until the first batch completes.
    */
  final case class PipelineStats(
      ticksProcessed: Long, batches: Long, wallMs: Long,
      batchMsMin: Long = 0L, batchMsMax: Long = 0L, batchMsAvg: Double = 0.0) {
    def ticksPerSec: Double =
      if (wallMs <= 0) 0.0 else ticksProcessed * 1000.0 / wallMs
  }

  /** Stats from the registry's exact foreachBatch accounting, not
    * `query.recentProgress` (a bounded ring buffer), with the wall clock
    * running from `startedAtMs`. */
  private def statsOf(registry: ConsumerRegistry, startedAtMs: Long): PipelineStats = {
    val batches = registry.totalBroadcasts.get()
    PipelineStats(
      ticksProcessed = registry.rowsBroadcast.get(),
      batches = batches,
      wallMs = System.currentTimeMillis() - startedAtMs,
      batchMsMin = if (batches == 0) 0L else registry.batchMsMin.get(),
      batchMsMax = if (batches == 0) 0L else registry.batchMsMax.get(),
      batchMsAvg = if (batches == 0) 0.0
                   else registry.batchMsSum.get().toDouble / batches)
  }

  /** T37/T38/T39: managed pipeline — start the fan-out under a metrics
    * clock, report progress, expose stats, stop cooperatively.
    *
    * Reference mapping: run_pipeline! with metrics + progress every N
    * ticks (PipelineOrchestrator.jl:340-432, per-tick timing :116-186),
    * stop_pipeline! (:206-213) — here progress is reported from the
    * micro-batch (the Spark unit of work) and `stop()` drains the
    * in-flight batch before terminating, then emits the final snapshot.
    */
  final class ManagedPipeline private[streaming] (
      val query: StreamingQuery,
      registry: ConsumerRegistry,
      startedAtMs: Long,
      onComplete: PipelineStats => Unit) {
    def stats: PipelineStats = statsOf(registry, startedAtMs)
    def managerStats: Map[String, Long] = registry.managerStats
    /** Cooperative stop: finish the running micro-batch, then terminate
      * and fire the completion callback with final stats. */
    def stop(): PipelineStats = {
      query.processAllAvailable()
      query.stop()
      query.awaitTermination()
      val s = stats
      onComplete(s)
      s
    }
  }

  /** Start a managed fan-out pipeline (T37/T38): trigger cadence from
    * flow control (T10), delivery through [[broadcastTo]], completion
    * hook. `onProgress` runs synchronously at the end of a micro-batch
    * body, inline as in the reference's processing loop
    * (PipelineOrchestrator.jl:366-374, which logs every 10k ticks): it
    * fires when the rows processed so far cross a multiple of
    * `progressEveryRows`, or after every batch when that is `<= 0`. A
    * slow callback delays the next batch, and one that throws fails the
    * query.
    */
  def runManaged(
      enriched: Dataset[TickOut],
      registry: ConsumerRegistry,
      checkpoint: String,
      flow: FlowControlConfig = FlowControlConfig(),
      partitionSink: Option[(String, Iterator[TickOut]) => Unit] = None,
      onProgress: PipelineStats => Unit = _ => (),
      onComplete: PipelineStats => Unit = _ => (),
      progressEveryRows: Long = 0L): ManagedPipeline = {
    val t0 = System.currentTimeMillis()
    var lastReportedRows = 0L // batch bodies run one at a time, on the query's thread
    val query = fanOut(enriched, registry, checkpoint, partitionSink, triggerFor(flow)) { () =>
      val s = statsOf(registry, t0)
      if (progressEveryRows <= 0L ||
          s.ticksProcessed / progressEveryRows > lastReportedRows / progressEveryRows) {
        lastReportedRows = s.ticksProcessed
        onProgress(s)
      }
    }
    new ManagedPipeline(query, registry, t0, onComplete)
  }

  /** Event-time windowed aggregation with watermark over the events table
    * shape (Q18): tumbling count + sum per window and type.
    */
  def windowedEventCounts(events: DataFrame, window: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("events"), sum("value").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("events"), col("sum_value"))

  /** Q18 companion: SESSION windows — activity bursts per event type,
    * closed after `gap` of event-time silence. Dynamic windows merge as
    * events arrive (Spark's native session_window state store handles the
    * merge; partitioned by type, so state scales with active sessions per
    * key, not stream length).
    */
  def sessionizedEventCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("event_type"))
      .agg(count(lit(1)).as("events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("event_type"),
        col("events"), col("sum_value"))

  /** Streaming exact dedup with BOUNDED state (the streaming counterpart
    * of the batch l01 dedup): duplicate `event_id`s arriving within the
    * watermark horizon are dropped, and the per-key state expires once
    * the watermark passes — state size tracks the horizon, not the
    * stream length, so the operator survives unbounded streams.
    */
  def dedupEventsWithinWatermark(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join (the streaming counterpart of the batch
    * range/as-of joins q22/q23): each tick pairs with every quote on the
    * same symbol whose event time falls within `tolerance` at or before
    * the tick. Both sides carry watermarks and the join condition is a
    * symbol equality plus a BOUNDED time range, which is exactly what
    * lets Spark expire both join state stores at watermark + tolerance —
    * state tracks the time horizon, not the stream length, so the join
    * survives unbounded streams at any scale. Shapes:
    * ticks(symbol, tick_ts, price), quotes(q_symbol, quote_ts, bid).
    */
  def joinTicksWithQuotes(ticks: DataFrame, quotes: DataFrame,
      watermark: String, tolerance: String): DataFrame =
    ticks.withWatermark("tick_ts", watermark)
      .join(quotes.withWatermark("quote_ts", watermark),
        expr(s"""symbol = q_symbol AND
                 quote_ts >= tick_ts - INTERVAL $tolerance AND
                 quote_ts <= tick_ts"""))
      .select(col("symbol"), col("tick_ts"), col("price"),
        col("quote_ts"), col("bid"))

  /** LEFT OUTER stream-stream interval join: like
    * [[joinTicksWithQuotes]], but a tick with NO in-horizon quote still
    * surfaces (null quote columns) — emitted only once the watermark
    * passes the end of its join validity window, i.e. when the engine
    * can PROVE no matching quote can still arrive. Same bounded-state
    * guarantee as the inner form; the null-side emission point is the
    * state-expiry point, so outer results trail the watermark rather
    * than the data.
    */
  def joinTicksWithQuotesOuter(ticks: DataFrame, quotes: DataFrame,
      watermark: String, tolerance: String): DataFrame =
    ticks.withWatermark("tick_ts", watermark)
      .join(quotes.withWatermark("quote_ts", watermark),
        expr(s"""symbol = q_symbol AND
                 quote_ts >= tick_ts - INTERVAL $tolerance AND
                 quote_ts <= tick_ts"""),
        "left_outer")
      .select(col("symbol"), col("tick_ts"), col("price"),
        col("quote_ts"), col("bid"))

  /** Stream-static enrichment join (the dimension-lookup pattern): the
    * streaming side joins a bounded static table that Spark BROADCASTS
    * into every micro-batch — no streaming state at all, no watermark
    * needed, and the stream's own partitioning is untouched. left_outer
    * keeps unmatched stream rows (null dim columns) so a late dimension
    * row never drops data. At 100 TB/day the dim side stays
    * broadcast-sized while the stream scales with its sources.
    */
  def enrichTicksWithStaticDim(ticks: DataFrame, dim: DataFrame): DataFrame =
    ticks.join(org.apache.spark.sql.functions.broadcast(dim),
      Seq("symbol"), "left_outer")

  /** Idempotent micro-batch sink (the foreachBatch exactly-once recipe):
    * every micro-batch lands under a batchId-derived path with
    * mode=overwrite, so a replayed batch (failure between sink write and
    * checkpoint commit) rewrites the SAME files instead of duplicating —
    * the batchId is the idempotence key the checkpoint guarantees stable.
    */
  def runIdempotentBatchSink(df: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
}
