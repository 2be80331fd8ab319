package graft.streaming

import graft.config.SignalConfig
import graft.operators.HotLoopKernel

/** Incoming tick for the sequential/streaming hot loop. */
case class TickIn(tick_idx: Long, timestamp: Long, raw_price: Int, price_delta: Int)

/** Enriched tick emitted by the hot loop. */
case class TickOut(
    tick_idx: Long, timestamp: Long, raw_price: Int, price_delta: Int,
    signal_re: Float, signal_im: Float, normalization: Float, status_flag: Byte)

/** The stored state of the sequential hot loop between micro-batches:
  * exactly the fields of [[HotLoopKernel]] that a later output reads
  * (reference: src/TickHotLoopF32.jl:53-83). The arithmetic lives in the
  * kernel; [[HotLoopStep]] loads this row into it once per micro-batch and
  * saves it back once.
  */
case class HotLoopState(
    hasLastClean: Boolean = false,
    barTickCount: Int = 0,
    barDeltaMin: Int = Int.MaxValue,
    barDeltaMax: Int = Int.MinValue,
    sumBarMin: Long = 0,
    sumBarMax: Long = 0,
    barCount: Long = 0,
    cachedInvNormQ16: Int = HotLoopKernel.InvNormPreloadQ16,
    phaseAccumulatorQ32: Int = 0,
    prevNormalizedRatio: Float = 0.0f)

/** The sequential hot loop: [[HotLoopKernel.step]] over ticks in the order
  * given, the body of every streaming hot-loop entry and the reference the
  * batch scan is tested against.
  */
object HotLoopStep {

  /** Fold `ticks` in the order given (no sorting: callers that need
    * tick_idx order sort first), starting from `state`; returns the
    * final state and one output per tick.
    */
  def fold(state: HotLoopState, ticks: Seq[TickIn],
      cfg: SignalConfig): (HotLoopState, Seq[TickOut]) = {
    val k = new HotLoopKernel(cfg)
    k.seenValid = state.hasLastClean
    k.barTicks = state.barTickCount
    k.barMin = state.barDeltaMin
    k.barMax = state.barDeltaMax
    k.sumBarMin = state.sumBarMin
    k.sumBarMax = state.sumBarMax
    k.barCount = state.barCount
    k.invQ16 = state.cachedInvNormQ16
    k.phaseQ32 = state.phaseAccumulatorQ32
    k.prevRatio = state.prevNormalizedRatio
    val out = Seq.newBuilder[TickOut]
    ticks.foreach { t =>
      k.step(t.tick_idx, t.raw_price, t.price_delta)
      out += TickOut(t.tick_idx, t.timestamp, t.raw_price, t.price_delta,
        k.re, k.im, k.normalization, k.flag)
    }
    (HotLoopState(k.seenValid, k.barTicks, k.barMin, k.barMax, k.sumBarMin,
      k.sumBarMax, k.barCount, k.invQ16, k.phaseQ32, k.prevRatio), out.result())
  }

  /** One micro-batch of a stateful stream: sorts `rows` by tick_idx and
    * folds them from the stored state (a fresh state for a new key). The
    * body shared by every streaming hot-loop entry.
    */
  def foldBatch(prev: Option[HotLoopState], rows: Iterator[TickIn],
      cfg: SignalConfig): (HotLoopState, Seq[TickOut]) =
    fold(prev.getOrElse(HotLoopState()), rows.toSeq.sortBy(_.tick_idx), cfg)

  /** Fold a whole ordered batch (used by tests and small batch jobs). */
  def run(ticks: Seq[TickIn], cfg: SignalConfig): Seq[TickOut] =
    fold(HotLoopState(), ticks, cfg)._2
}
