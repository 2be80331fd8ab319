package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Timestamp packing semantics (reference: src/VolumeExpansion.jl:46-81). */
class TickFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def enc(s: String): Long =
    Seq(s).toDF("ts").select(TickFunctions.encodeTimestamp(col("ts")))
      .as[Long].head()

  test("packs first 8 ASCII chars big-endian") {
    assert(enc("20250319 070000") ==
      "20250319".getBytes("US-ASCII").foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)))
  }

  test("short strings are low-aligned, one shift per present char") {
    assert(enc("AB") == 0x4142L) // not 0x4142000000000000
    assert(enc("A") == 0x41L)
    assert(enc("1234567") == 0x31323334353637L)
  }

  test("empty string packs to 0") { assert(enc("") == 0L) }

  test("decode reverses encode for 8-char dates") {
    val out = Seq("20250319").toDF("ts")
      .select(TickFunctions.decodeTimestamp(
        TickFunctions.encodeTimestamp(col("ts")))).as[String].head()
    assert(out == "20250319")
  }

  test("Q16 preload matches the reference constant") {
    assert(graft.operators.HotLoopKernel.InvNormPreloadQ16 == 7559)
  }

  test("HEXAD16 LUT is 16 unit-magnitude phasors at 22.5-degree steps") {
    val re = TickFunctions.hexad16Re; val im = TickFunctions.hexad16Im
    assert(re.length == 16 && im.length == 16)
    (0 until 16).foreach { k =>
      assert(math.abs(re(k) * re(k) + im(k) * im(k) - 1.0) < 1e-6)
      val ang = math.atan2(im(k), re(k))
      val want = k * 22.5 * math.Pi / 180
      val diff = math.abs(math.IEEEremainder(ang - want, 2 * math.Pi))
      assert(diff < 1e-6, s"phase $k off by $diff")
    }
  }

  test("CPM LUT has 1024 unit entries and wraps the full circle") {
    val re = TickFunctions.cpmLutRe; val im = TickFunctions.cpmLutIm
    assert(re.length == 1024)
    assert(re(0) == 1.0 && math.abs(im(0)) == 0.0)
    assert(math.abs(re(512) + 1.0) < 1e-6) // pi
    (0 until 1024 by 64).foreach(k =>
      assert(math.abs(re(k) * re(k) + im(k) * im(k) - 1.0) < 1e-6))
  }
}
