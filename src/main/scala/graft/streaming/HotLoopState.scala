package graft.streaming

import graft.config.SignalConfig
import graft.functions.TickFunctions

/** Incoming tick for the sequential/streaming hot loop. */
case class TickIn(tick_idx: Long, timestamp: Long, raw_price: Int, price_delta: Int)

/** Enriched tick emitted by the hot loop. */
case class TickOut(
    tick_idx: Long, timestamp: Long, raw_price: Int, price_delta: Int,
    signal_re: Float, signal_im: Float, normalization: Float, status_flag: Byte)

/** The reference's mutable per-tick state, verbatim semantics in Float32
  * (reference: src/TickHotLoopF32.jl:53-83,287-437). This is the
  * sequential formulation used by the Structured Streaming path (state in
  * flatMapGroupsWithState) and by reference-parity tests; the batch
  * engine computes the same values declaratively
  * ([[graft.operators.TickPipeline]]).
  */
case class HotLoopState(
    hasLastClean: Boolean = false,
    lastClean: Int = 0,
    emaDelta: Int = 0,
    emaDeltaDev: Int = 1,
    hasDeltaEma: Boolean = false,
    emaAbsDelta: Int = 10,
    tickCount: Long = 0,
    ticksAccepted: Long = 0,
    barTickCount: Int = 0,
    barDeltaMin: Int = Int.MaxValue,
    barDeltaMax: Int = Int.MinValue,
    sumBarMin: Long = 0,
    sumBarMax: Long = 0,
    barCount: Long = 0,
    cachedInvNormQ16: Int = math.rint(65536.0f / 8.67f).toInt, // :107
    phaseAccumulatorQ32: Int = 0,
    prevNormalizedRatio: Float = 0.0f)

object HotLoopStep {
  val FlagOk: Byte = 0x00
  val FlagHoldLast: Byte = 0x02
  val FlagClipped: Byte = 0x04
  private val TwoPowMinus16: Float = 1.52587890625e-5f

  private def lutAt(idx: Int): (Float, Float) =
    (TickFunctions.cpmLutRe(idx).toFloat, TickFunctions.cpmLutIm(idx).toFloat)

  private def hexadAt(tickIdx: Long): (Float, Float) = {
    val phase = ((tickIdx - 1) & 15).toInt
    (TickFunctions.hexad16Re(phase).toFloat, TickFunctions.hexad16Im(phase).toFloat)
  }

  /** One tick through the reference hot loop; pure function of
    * (state, tick, config) — the Julia version mutates in place
    * (process_tick_signal!, TickHotLoopF32.jl:287-437).
    */
  def step(s: HotLoopState, t: TickIn, cfg: SignalConfig): (HotLoopState, TickOut) = {
    def out(re: Float, im: Float, norm: Float, flag: Byte): TickOut =
      TickOut(t.tick_idx, t.timestamp, t.raw_price, t.price_delta, re, im, norm, flag)

    def encode(st: HotLoopState, ratio: Float, norm: Float, flag: Byte): (HotLoopState, TickOut) =
      cfg.encoderType match {
        case "cpm" =>
          val phaseScale = 2.0f * cfg.cpmModulationIndex * 2147483648.0f
          // unsafe_trunc Int32 overflow wrap (:165-169)
          val dp = (math.rint((ratio * phaseScale).toDouble).toLong & 0xffffffffL).toInt
          val acc = st.phaseAccumulatorQ32 + dp
          val idx = ((acc >>> 22) & 0x3ff)
          val (re, im) = lutAt(idx)
          (st.copy(phaseAccumulatorQ32 = acc), out(re, im, norm, flag))
        case "amc" =>
          val acc = st.phaseAccumulatorQ32 + cfg.amcIncrementQ32.toInt // wraps mod 2^32
          val idx = ((acc >>> 22) & 0x3ff)
          val (re, im) = lutAt(idx)
          (st.copy(phaseAccumulatorQ32 = acc), out(ratio * re, ratio * im, norm, flag))
        case "derivative" =>
          val d = (ratio - st.prevNormalizedRatio) * cfg.tickDerivativeImagScale
          (st.copy(prevNormalizedRatio = ratio), out(ratio, d, norm, flag))
        case _ => // hexad16
          val (re, im) = hexadAt(t.tick_idx)
          (st, out(ratio * re, ratio * im, norm, flag))
      }

    // Step 1: validation (:302-326). Note hold-last and first-tick route
    // derivative through the HEXAD16 zero-amplitude path (so the
    // derivative's prev-ratio does NOT advance) — reference quirk.
    if (t.raw_price < cfg.minPrice || t.raw_price > cfg.maxPrice) {
      if (s.hasLastClean) {
        val flag = FlagHoldLast
        val (s2, o) = cfg.encoderType match {
          case "amc" | "cpm" => encode(s, 0.0f, 1.0f, flag)
          case _ =>
            val (re, im) = hexadAt(t.tick_idx)
            (s, out(0.0f * re, 0.0f * im, 1.0f, flag))
        }
        (s2.copy(ticksAccepted = s2.ticksAccepted + 1), o)
      } else {
        (s, out(0.0f, 0.0f, 1.0f, FlagOk)) // first tick invalid (:321-325)
      }
    } else if (!s.hasLastClean) {
      // Step 2: first valid tick seeds lastClean, emits zeros (:329-343)
      val seeded = s.copy(hasLastClean = true, lastClean = t.raw_price)
      val (s2, o) = cfg.encoderType match {
        case "amc" | "cpm" => encode(seeded, 0.0f, 1.0f, FlagOk)
        case _ =>
          val (re, im) = hexadAt(t.tick_idx)
          (seeded, out(0.0f * re, 0.0f * im, 1.0f, FlagOk))
      }
      (s2.copy(ticksAccepted = s2.ticksAccepted + 1), o)
    } else {
      var flag = FlagOk
      var delta = t.price_delta
      // Step 3: jump guard (:347-351)
      if (math.abs(delta) > cfg.maxJump) {
        delta = if (delta > 0) cfg.maxJump else -cfg.maxJump
        flag = (flag | FlagClipped).toByte
      }
      // Step 4: winsorize before bar stats (:353-359)
      if (math.abs(delta) > cfg.winsorizeDeltaThreshold) {
        delta = if (delta > 0) cfg.winsorizeDeltaThreshold else -cfg.winsorizeDeltaThreshold
        flag = (flag | FlagClipped).toByte
      }
      // Steps 5-6: reserved EMAs (:361-375) — kept for state parity
      val absDelta = math.abs(delta)
      val (emaD, emaDev, hasEma) =
        if (s.hasDeltaEma) {
          val ed = s.emaDelta + ((delta - s.emaDelta) >> 4)
          val dev = math.abs(delta - ed)
          (ed, s.emaDeltaDev + ((dev - s.emaDeltaDev) >> 4), true)
        } else (delta, math.max(absDelta, 1), true)
      val emaAbs = s.emaAbsDelta +
        math.rint(((absDelta.toFloat - s.emaAbsDelta.toFloat) * cfg.agcAlpha).toDouble).toInt
      // Step 7: bar min/max (:377-381)
      var barTicks = s.barTickCount + 1
      var bMin = math.min(s.barDeltaMin, delta)
      var bMax = math.max(s.barDeltaMax, delta)
      var (sumMin, sumMax, barCnt, inv) = (s.sumBarMin, s.sumBarMax, s.barCount, s.cachedInvNormQ16)
      // Step 8: boundary recalc (:383-405)
      if (barTicks >= 144) {
        sumMin += bMin; sumMax += bMax; barCnt += 1
        val norm = math.max(sumMax.toDouble / barCnt - sumMin.toDouble / barCnt, 1.0)
        inv = math.rint((65536.0f / norm.toFloat).toDouble).toInt
        barTicks = 0; bMin = Int.MaxValue; bMax = Int.MinValue
      }
      // Step 9: Q16 normalization (:407-414)
      val ratio = (delta * inv).toFloat * TwoPowMinus16
      val normFactor = 1.0f / (inv.toFloat * TwoPowMinus16)
      val s2 = s.copy(
        emaDelta = emaD, emaDeltaDev = emaDev, hasDeltaEma = hasEma,
        emaAbsDelta = emaAbs, barTickCount = barTicks,
        barDeltaMin = bMin, barDeltaMax = bMax,
        sumBarMin = sumMin, sumBarMax = sumMax, barCount = barCnt,
        cachedInvNormQ16 = inv)
      val (s3, o) = encode(s2, ratio, normFactor, flag)
      (s3.copy(lastClean = t.raw_price, ticksAccepted = s3.ticksAccepted + 1), o)
    }
  }

  /** Fold `ticks` in the order given (no sorting: callers that need
    * tick_idx order sort first), starting from `state`; returns the
    * final state and one output per tick.
    */
  def fold(state: HotLoopState, ticks: Seq[TickIn],
      cfg: SignalConfig): (HotLoopState, Seq[TickOut]) = {
    var s = state
    val out = Seq.newBuilder[TickOut]
    ticks.foreach { t =>
      val (s2, o) = step(s, t, cfg)
      s = s2
      out += o
    }
    (s, out.result())
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
