package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.config.SignalConfig
import graft.functions.TickFunctions

/** Hand-computed hot-loop cases mirroring the reference's unit tests
  * (reference: test/test_tickhotloopf32.jl), run through the batch scan.
  * The expected values restate the Float32 specification
  * ([[HotLoopKernel]]): each output column holds a Float32 result,
  * widened to DOUBLE.
  */
class HotLoopSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SignalConfig(minPrice = 39000, maxPrice = 44000,
    maxJump = 50, winsorizeDeltaThreshold = 10,
    tickDerivativeImagScale = 2.0f, cpmModulationIndex = 0.5f)

  private def ticks(rows: (Long, Int, Int)*): DataFrame =
    rows.toDF("tick_idx", "raw_price", "price_delta")
      .withColumn("timestamp", org.apache.spark.sql.functions.lit(0L))

  private def run(enc: String, rows: (Long, Int, Int)*): Seq[(Long, Double, Double, Double, Int)] =
    runCfg(cfg.copy(encoderType = enc), rows: _*)

  private def runCfg(c: SignalConfig, rows: (Long, Int, Int)*): Seq[(Long, Double, Double, Double, Int)] =
    graft.Graft.hotLoop(ticks(rows: _*), c)
      .select($"tick_idx", $"signal_re", $"signal_im", $"normalization", $"status_flag")
      .as[(Long, Double, Double, Double, Int)].collect().sortBy(_._1).toSeq

  private val twoPowMinus16 = 1.52587890625e-5f
  private val r1: Float = (10 * 7559).toFloat * twoPowMinus16 // ratio for delta=10 at preload norm
  private def lutRe(i: Int): Float = TickFunctions.cpmLutRe(i).toFloat
  private def lutIm(i: Int): Float = TickFunctions.cpmLutIm(i).toFloat

  test("derivative: first tick, clip+winsorize, hold-last keeps prev ratio") {
    val out = run("derivative",
      (1L, 39500, 0),     // first valid -> zeros, norm 1
      (2L, 39510, 10),    // elig: ratio r1, im = (r1-0)*2
      (3L, 30000, -9510), // invalid -> hold-last, flag 2
      (4L, 39515, 9515),  // clip 50 -> winsorize 10 -> flag 4; im = (r1-r1)*2 = 0
      (5L, 39505, -10))   // ratio -r1, im = (-r1-r1)*2
    assert(out(0) == ((1L, 0.0, 0.0, 1.0, 0)))
    assert(out(1)._2 == r1 && out(1)._3 == (r1 - 0f) * 2f && out(1)._5 == 0)
    assert(out(2) == ((3L, 0.0, 0.0, 1.0, 2)))
    assert(out(3)._2 == r1 && out(3)._3 == 0.0 && out(3)._5 == 4)
    assert(out(4)._2 == -r1 && out(4)._3 == (-r1 - r1) * 2f && out(4)._5 == 0)
    assert(out(1)._4 == 1f / (7559 * twoPowMinus16)) // normalization factor
  }

  test("invalid-before-first-valid emits FLAG_OK zeros; first valid seeds") {
    val out = run("derivative",
      (1L, 30000, 0),    // pre: flag 0 (not hold-last)
      (2L, 39500, 9500)) // first valid: zeros
    assert(out(0) == ((1L, 0.0, 0.0, 1.0, 0)))
    assert(out(1) == ((2L, 0.0, 0.0, 1.0, 0)))
  }

  test("cpm: pre emits zeros but first valid emits LUT[0] = (1,0)") {
    val out = run("cpm", (1L, 30000, 0), (2L, 39500, 9500))
    assert(out(0)._2 == 0.0 && out(0)._3 == 0.0)
    assert(out(1)._2 == 1.0 && out(1)._3 == 0.0)
  }

  test("cpm: accumulator wraps and holds advance nothing") {
    // delta 10 -> ratio r1; Int32 phase += rint(r1 * 2^31), wrapping
    val acc = math.rint(r1 * 2147483648.0f).toLong.toInt
    val idx = acc >>> 22
    val out = run("cpm",
      (1L, 39500, 0), (2L, 39510, 10), (3L, 30000, -9510))
    assert(out(1)._2 == lutRe(idx))
    assert(out(1)._3 == lutIm(idx))
    // hold-last calls the encoder with ratio 0: accumulator unchanged
    assert(out(2)._2 == lutRe(idx) && out(2)._5 == 2)
  }

  test("amc: carrier advances every encoder call with hardcoded period 16") {
    val out = run("amc", (1L, 39500, 0), (2L, 39510, 10), (3L, 39520, 10))
    // tick1: enc_rn=1, amplitude 0 -> 0; tick2: enc_rn=2, idx=128
    assert(out(0)._2 == 0.0)
    assert(out(1)._2 == r1 * lutRe(128))
    assert(out(1)._3 == r1 * lutIm(128))
    assert(out(2)._2 == r1 * lutRe(192))
  }

  test("amc: honor_amc_carrier_period derives the increment from the configured period") {
    // period 8 -> increment 2^32/8 -> lut_idx advances 128 per call
    // (vs 64 under the hardcoded period 16)
    val out = runCfg(
      cfg.copy(encoderType = "amc", amcCarrierPeriod = 8.0f, honorAmcCarrierPeriod = true),
      (1L, 39500, 0), (2L, 39510, 10), (3L, 39520, 10))
    assert(out(0)._2 == 0.0)
    assert(out(1)._2 == r1 * lutRe(256))
    assert(out(1)._3 == r1 * lutIm(256))
    assert(out(2)._2 == r1 * lutRe(384))
    // flag off at the same period: unchanged reference behavior
    val off = run("amc", (1L, 39500, 0), (2L, 39510, 10))
    assert(off(1)._2 == r1 * lutRe(128))
  }

  test("hexad16: phase cycles mod 16 by tick_idx") {
    val rows = (1L to 18L).map(i => (i, 39500 + 10 * i.toInt, 10))
    val out = run("hexad16", rows: _*)
    // tick 17: phase (17-1)%16 = 0 -> phasor (1,0) -> re = ratio, im = 0
    assert(out(16)._2 == r1 && out(16)._3 == 0.0)
    // tick 5: phase 4 -> phasor (0,1): re = 0, im = ratio
    assert(out(4)._2 == 0.0 && out(4)._3 == r1)
  }

  test("144-tick bar boundary recomputes normalization cumulatively") {
    // 1 first-valid tick + 145 eligible ticks, constant delta 2
    val rows = (1L to 146L).map(i => (i, 40000 + 2 * i.toInt, 2))
    val out = run("derivative", rows: _*)
    val rPre = (2 * 7559).toFloat * twoPowMinus16
    assert(out(1)._2 == rPre)    // preload norm before any completed bar
    assert(out(143)._2 == rPre)  // elig 143: still preload
    // elig 144 (tick 145): bar completes, norm = max(2-2,1)=1,
    // inv = rint(65536f / 1f) = 65536
    assert(out(144)._2 == 2.0)
    assert(out(144)._4 == 1.0)
    assert(out(145)._2 == 2.0)
  }
}
