package graft.operators

import java.nio.file.Files

import graft.SparkSpec

/** The reference's own volume-expansion fixtures (FIXTURES.md §1;
  * reference: test/test_volume_expansion.jl).
  */
class VolumeExpansionSpec extends SparkSpec {
  import spark.implicits._

  private def runFile(lines: String*): Seq[(Long, Int, Int)] = {
    val f = Files.createTempFile("ticks", ".txt")
    Files.writeString(f, lines.mkString("\n"))
    val df = TickPipeline.expandVolumeChunked(TickPipeline.readTickFile(spark, f.toString))
    df.select($"tick_idx", $"raw_price", $"price_delta")
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
  }

  test("canonical 3-line fixture: tick_idx 1..3, deltas 0,+1,+1") {
    val out = runFile(
      "20250319 070000 0520000;41971;41970;41971;1",
      "20250319 070001 0520000;41972;41971;41972;1",
      "20250319 070002 0520000;41973;41972;41973;1")
    assert(out == Seq((1L, 41971, 0), (2L, 41972, 1), (3L, 41973, 1)))
  }

  test("volume expansion: 4 ticks, replica deltas 0,+1,0,+1") {
    val out = runFile(
      "20250319 070000 0520000;41971;41970;41971;1",
      "20250319 070001 0520000;41972;41971;41972;2",
      "20250319 070002 0520000;41973;41972;41973;1")
    assert(out == Seq(
      (1L, 41971, 0), (2L, 41972, 1), (3L, 41972, 0), (4L, 41973, 1)))
  }

  test("malformed and blank lines are silently dropped") {
    val out = runFile(
      "20250319 070000 0520000;41971;41970;41971;1",
      "",
      "malformed;data",
      "20250319 070001 0520000;41972;41971;41972;1")
    assert(out.map(_._2) == Seq(41971, 41972))
    // delta bridges the dropped lines
    assert(out.map(_._3) == Seq(0, 1))
  }

  test("delta signs: 0, +5, -3, 0") {
    val out = runFile(
      "20250319 070000 0520000;41970;41969;41970;1",
      "20250319 070001 0520000;41975;41974;41975;1",
      "20250319 070002 0520000;41972;41971;41972;1",
      "20250319 070003 0520000;41972;41971;41972;1")
    assert(out.map(_._3) == Seq(0, 5, -3, 0))
  }

  test("volume conservation: sum(volume) ticks emitted, volume 0 emits none") {
    val out = runFile(
      "20250319 070000 0520000;41971;41970;41971;3",
      "20250319 070001 0520000;41972;41971;41972;0",
      "20250319 070002 0520000;41973;41972;41973;2")
    assert(out.size == 5)
    assert(out.map(_._1) == (1L to 5L))
    // volume-0 line still updates previous_last: delta vs 41972
    assert(out.map(_._3) == Seq(0, 0, 0, 1, 0))
  }
}
