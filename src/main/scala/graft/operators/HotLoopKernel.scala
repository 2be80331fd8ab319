package graft.operators

import scala.annotation.switch

import graft.config.SignalConfig
import graft.functions.TickFunctions

/** The hot loop's one arithmetic specification: the reference's Float32
  * values with the Q16 reciprocal rounded ties-to-even
  * (process_tick_signal!, reference: src/TickHotLoopF32.jl:287-437),
  * written once in primitive arithmetic. Three places run it:
  *
  *   - the sequential fold ([[graft.streaming.HotLoopStep]]) calls [[step]]
  *     per tick, with the state in this kernel's fields, loaded from and
  *     saved to a `HotLoopState` once per micro-batch;
  *   - the batch scan ([[TickPipeline.hotLoopChunked]]) rebuilds a row's
  *     carry-in with its monoid rounds and calls [[emit]];
  *   - the DuckDB oracle ([[TickQueries]]) restates it with `FLOAT`
  *     arithmetic and `round_even`.
  *
  * Row classes (reference :302-343):
  *   - `Pre`: an out-of-range price before any valid tick. The encoder is
  *     not called: (0, 0), normalization 1, FLAG_OK.
  *   - `Hold`: an out-of-range price after a valid tick (hold-last). The
  *     encoder is called with ratio 0 — CPM re-emits its phase, AMC
  *     advances its carrier — normalization 1, FLAG_HOLDLAST.
  *   - `First`: the first valid tick, as `Hold` but FLAG_OK.
  *   - `Elig`: every later valid tick: jump guard, winsorize, 144-tick bar
  *     statistics, Q16 ratio, FLAG_CLIPPED when either clip fired.
  *
  * Derivative and HEXAD16 emit (0, 0) on `Hold`/`First` (the reference
  * routes them through the zero-amplitude HEXAD16 path), and the
  * derivative's previous ratio advances only on `Elig`.
  *
  * Signed zero: every (re, im) leaves through `+ 0.0f`, so no output
  * component is ever -0.0 (`0.0f * re` of a negative LUT entry would be).
  */
final class HotLoopKernel(cfg: SignalConfig) extends Serializable {
  import HotLoopKernel._

  private[this] val minPrice = cfg.minPrice
  private[this] val maxPrice = cfg.maxPrice
  private[this] val maxJump = cfg.maxJump
  private[this] val winsorize = cfg.winsorizeDeltaThreshold
  private[this] val imagScale = cfg.tickDerivativeImagScale
  private[this] val phaseScale = cpmPhaseScale(cfg)
  private[this] val amcStep: Int = cfg.amcIncrementQ32.toInt // wraps mod 2^32

  /** The encoder, picked once: [[Derivative]], [[Hexad16]], [[Cpm]] or [[Amc]]. */
  val encoder: Int = cfg.encoderType match {
    case "derivative" => Derivative
    case "hexad16" => Hexad16
    case "cpm" => Cpm
    case "amc" => Amc
    case other => throw new IllegalArgumentException(s"unknown encoder: $other")
  }

  // The sequential state (reference :53-83).
  var seenValid = false
  var barTicks = 0
  var barMin: Int = Int.MaxValue
  var barMax: Int = Int.MinValue
  var sumBarMin = 0L
  var sumBarMax = 0L
  var barCount = 0L
  var invQ16: Int = InvNormPreloadQ16
  var phaseQ32 = 0
  var prevRatio = 0.0f

  // The outputs of the last step or emit.
  var re = 0.0f
  var im = 0.0f
  var normalization = 1.0f
  var flag: Byte = FlagOk

  def valid(rawPrice: Int): Boolean = rawPrice >= minPrice && rawPrice <= maxPrice

  /** Jump guard, then winsorize (reference :347-359). A delta was clipped
    * iff the result differs from it.
    */
  def clip(delta: Int): Int = {
    val d = if (delta > maxJump) maxJump else if (delta < -maxJump) -maxJump else delta
    if (d > winsorize) winsorize else if (d < -winsorize) -winsorize else d
  }

  /** CPM phase increment of a ratio, wrapped to Int32 (reference :165-169). */
  def cpmIncrement(ratio: Float): Int = math.rint(ratio * phaseScale).toLong.toInt

  /** AMC carrier phase after `calls` encoder calls. */
  def amcPhase(calls: Long): Int = calls.toInt * amcStep

  /** One tick of the sequential fold. */
  def step(tickIdx: Long, rawPrice: Int, priceDelta: Int): Unit = {
    val cls = rowClass(valid(rawPrice), seenValid)
    if (cls == First) seenValid = true
    else if (cls == Elig) {
      val d = clip(priceDelta)
      barTicks += 1
      barMin = math.min(barMin, d)
      barMax = math.max(barMax, d)
      if (barTicks == TicksPerStatsBar) { // reference :383-405
        sumBarMin += barMin; sumBarMax += barMax; barCount += 1
        invQ16 = HotLoopKernel.invQ16(barCount, sumBarMin, sumBarMax)
        barTicks = 0; barMin = Int.MaxValue; barMax = Int.MinValue
      }
    }
    emit(cls, priceDelta, invQ16, tickIdx)
  }

  /** The outputs of one row of class `cls` with Q16 reciprocal `inv`
    * (read on `Elig` rows only), from the encoder state in [[phaseQ32]] /
    * [[prevRatio]], which the call advances like the reference's encoder.
    */
  def emit(cls: Int, priceDelta: Int, inv: Int, tickIdx: Long): Unit = {
    val elig = cls == Elig
    val d = if (elig) clip(priceDelta) else 0
    val r = if (elig) ratio(d, inv) else 0.0f
    normalization = if (elig) HotLoopKernel.normalization(inv) else 1.0f
    flag = if (cls == Hold) FlagHoldLast else if (elig && d != priceDelta) FlagClipped else FlagOk
    var x = 0.0f
    var y = 0.0f
    if (cls != Pre) (encoder: @switch) match {
      case Derivative =>
        if (elig) { x = r; y = (r - prevRatio) * imagScale; prevRatio = r }
      case Hexad16 =>
        if (elig) {
          val p = ((tickIdx - 1) & 15).toInt
          x = r * Hexad16Re(p); y = r * Hexad16Im(p)
        }
      case Cpm =>
        if (elig) phaseQ32 += cpmIncrement(r)
        val i = phaseQ32 >>> 22
        x = LutRe(i); y = LutIm(i)
      case _ => // Amc
        phaseQ32 += amcStep
        val i = phaseQ32 >>> 22
        x = r * LutRe(i); y = r * LutIm(i)
    }
    re = x + 0.0f
    im = y + 0.0f
  }
}

object HotLoopKernel {
  final val Derivative = 0
  final val Hexad16 = 1
  final val Cpm = 2
  final val Amc = 3

  final val Pre = 0
  final val Hold = 1
  final val First = 2
  final val Elig = 3

  final val FlagOk: Byte = 0x00
  final val FlagHoldLast: Byte = 0x02
  final val FlagClipped: Byte = 0x04

  /** Stats-bar length, independent of the bar processor (reference :50). */
  final val TicksPerStatsBar = 144
  final val TwoPowMinus16 = 1.52587890625e-5f
  /** Q16 reciprocal before the first completed stats bar (reference :107). */
  val InvNormPreloadQ16: Int = math.rint(65536.0f / 8.67f).toInt // 7559

  private val Hexad16Re: Array[Float] = TickFunctions.hexad16Re.map(_.toFloat)
  private val Hexad16Im: Array[Float] = TickFunctions.hexad16Im.map(_.toFloat)
  private val LutRe: Array[Float] = TickFunctions.cpmLutRe.map(_.toFloat)
  private val LutIm: Array[Float] = TickFunctions.cpmLutIm.map(_.toFloat)

  /** Row class from the price check and whether a valid tick came before. */
  def rowClass(valid: Boolean, seenValid: Boolean): Int =
    if (valid) { if (seenValid) Elig else First }
    else if (seenValid) Hold else Pre

  /** Q16 reciprocal of the cumulative normalization over `k` completed
    * stats bars: `max(avg max - avg min, 1)` in Double, then
    * `rint(65536f / norm.toFloat)` — Float32, ties-to-even (reference
    * :397-399).
    */
  def invQ16(k: Long, sumMin: Long, sumMax: Long): Int =
    if (k == 0) InvNormPreloadQ16
    else {
      val norm = math.max(sumMax.toDouble / k - sumMin.toDouble / k, 1.0)
      math.rint(65536.0f / norm.toFloat).toInt
    }

  /** Normalized ratio of a clipped delta (reference :407-414). */
  def ratio(d: Int, inv: Int): Float = (d * inv).toFloat * TwoPowMinus16

  /** CPM phase per unit ratio, in Q32 turns: 2h·2^31 (reference :152-183). */
  def cpmPhaseScale(cfg: SignalConfig): Float = 2.0f * cfg.cpmModulationIndex * 2147483648.0f

  /** Normalization factor of a Q16 reciprocal (reference :407-414). */
  def normalization(inv: Int): Float = 1.0f / (inv.toFloat * TwoPowMinus16)
}
