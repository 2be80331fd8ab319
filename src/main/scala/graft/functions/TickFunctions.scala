package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar building blocks for the tick pipeline, expressed as pure
  * Catalyst column expressions (codegen-friendly, no UDFs).
  */
object TickFunctions {

  /** Pack the first min(8, length) ASCII chars of a timestamp string
    * into an Int64, 8 bits per char, big-endian within the packed bytes
    * and low-aligned for short strings — e.g. "AB" packs to 0x4142, not
    * 0x4142000000000000 — mirroring the reference's one-shift-per-present-
    * char fold (reference: src/VolumeExpansion.jl:46-59).
    */
  def encodeTimestamp(ts: Column): Column = {
    // Branch-free and expression-minimal (generated code must stay well
    // under the JIT's 8000-byte huge-method limit or the scan drops to
    // interpreted bytecode): pack all 8 fixed positions — absent chars
    // contribute 0 via ascii('') = 0 — then low-align with one unsigned
    // right-shift of the 8*(8-len) empty trailing bits. For len = 0 the
    // packed value is already 0, so the (mod-64) shift is harmless.
    def byteAt(i: Int): Column = ascii(substring(ts, i, 1)).cast("long") % 256L
    val packed8 = (1 to 8).map(i => shiftleft(byteAt(i), 8 * (8 - i)): Column).reduce(_ + _)
    val len = least(length(ts), lit(8))
    call_function("shiftrightunsigned", packed8, ((lit(8) - len) * 8).cast("int"))
  }

  /** Reverse of [[encodeTimestamp]] (debug helper; reference
    * src/VolumeExpansion.jl:68-81 — zero bytes are skipped).
    */
  def decodeTimestamp(packed: Column): Column = {
    val chars = (7 to 0 by -1).map { shift =>
      val b = shiftright(packed, 8 * shift).cast("long") % 256
      when(b =!= 0, char(b)).otherwise(lit(""))
    }
    concat(chars: _*)
  }

  /** Double-precision HEXAD-16 LUT: 16 unit phasors at 22.5° steps.
    * Values generated with Float32 truncation of the reference constants
    * so the library matches the reference's Float32 LUT exactly
    * (reference: src/TickHotLoopF32.jl:13-30).
    */
  val hexad16Re: Array[Double] = hexadLut.map(_._1)
  val hexad16Im: Array[Double] = hexadLut.map(_._2)

  private lazy val hexadLut: Array[(Double, Double)] = {
    val c225 = 0.9238795325112867f.toDouble // Float32(cos 22.5°) widened
    val s225 = 0.3826834323650898f.toDouble
    val sq2 = 0.7071067811865476f.toDouble
    Array(
      (1.0, 0.0), (c225, s225), (sq2, sq2), (s225, c225),
      (0.0, 1.0), (-s225, c225), (-sq2, sq2), (-c225, s225),
      (-1.0, 0.0), (-c225, -s225), (-sq2, -sq2), (-s225, -c225),
      (0.0, -1.0), (s225, -c225), (sq2, -sq2), (c225, -s225))
  }

  /** 1024-entry unit-circle LUT shared by the CPM and AMC encoders.
    * Entry k = (cos, sin) of 2πk/1024, computed in Float32 like the
    * reference then widened to double (reference: src/TickHotLoopF32.jl:36-46).
    */
  lazy val cpmLutRe: Array[Double] =
    (0 until 1024).map(k => math.cos((2 * math.Pi * k / 1024).toFloat.toDouble).toFloat.toDouble).toArray
  lazy val cpmLutIm: Array[Double] =
    (0 until 1024).map(k => math.sin((2 * math.Pi * k / 1024).toFloat.toDouble).toFloat.toDouble).toArray

  /** Format a double so it round-trips bit-exactly through SQL text.
    * Used to embed identical literals in Spark plans and oracle SQL.
    */
  def dlit(d: Double): String = {
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) s"${d.toLong}.0"
    else "%.17e".format(d)
  }

  /** SQL list literal for a LUT, shared with the DuckDB oracle. */
  def sqlArray(lut: Array[Double]): String = lut.map(dlit).mkString("[", ", ", "]")
}
