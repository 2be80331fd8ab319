package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own checks: generators, digests, percentile and
  * self-time arithmetic. test_perfbench.py builds the classes and runs this
  * main; it exits non-zero on the first failed check.
  */
object SelfTest {
  private var n = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    n += 1
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-selftest").toString
    def bytes(seed: Long, name: String) = {
      val p = s"$dir/$name"
      TickGen.writeFile(seed, 5000, p)
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq
    }
    check("same seed gives an identical tick file")(bytes(3, "a") == bytes(3, "b"))
    check("another seed gives another tick file")(bytes(3, "a") != bytes(4, "c"))
    check("same seed gives an identical tick stream")(
      TickGen.streamTicks(5, 3000).toSeq == TickGen.streamTicks(5, 3000).toSeq)
    val lines = TickGen.lines(3, 5000).toSeq
    check("the file has malformed lines")(lines.exists(!_.ok))
    check("the file has out-of-range prices")(lines.exists(l => l.ok && (l.last < 36600 || l.last > 43300)))
    val ticks = TickGen.expand(3, 5000)
    check("expansion: one tick per volume unit of each well-formed line")(
      ticks.length == lines.filter(_.ok).map(_.volume).sum)
    check("expansion: dense 1-based index")(ticks.map(_.tick_idx).toSeq == (1L to ticks.length))
    check("expansion: line deltas telescope to last minus first price")(
      ticks.map(_.price_delta.toLong).sum == ticks.last.raw_price - ticks.head.raw_price)
    check("expansion: at most one nonzero delta per line")(
      ticks.count(_.price_delta != 0) <= lines.count(_.ok))
    val ref = TickGen.reference(ticks.toSeq, graft.config.PipelineConfig.shipped.signal)
    check("reference has hold-last and clipped ticks")(
      ref.exists(_.status_flag == 2) && ref.exists(_.status_flag == 4))
    val bars = TickGen.referenceBars(ticks.toSeq, graft.config.BarConfig(ticksPerBar = 21))
    check("bar fold: complete bars only")(bars.length == ticks.length / 21)
    check("bar fold: OHLC bounds")(bars.forall { case (o, h, l, c) => h >= o && h >= c && l <= o && l <= c })

    check("percentile, even sample")(near(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5))
    check("percentile p90")(near(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90), 3.7))
    check("percentile of one value")(near(Stats.percentile(Seq(7.0), 90), 7.0))
    check("supported percentile: 100 batches support p90")(near(Stats.supportedPercentile(100), 90.0))
    check("supported percentile: 10 batches support only the median")(near(Stats.supportedPercentile(10), 50.0))
    val parent = Span(1, "p", 0, "t", "g1", 0L, 10000000000L)
    val kids = Seq(Span(2, "a", 1, "t", "g2", 1000000000L, 3000000000L),
      Span(3, "b", 1, "t", "g3", 2000000000L, 5000000000L),
      Span(4, "c", 1, "t", "g4", 7000000000L, 8000000000L),
      Span(5, "d", 2, "t", "g5", 1000000000L, 2000000000L))
    check("self time subtracts the union of direct children")(near(Stats.selfTime(parent, parent +: kids), 5.0))
    check("self time of a leaf is its duration")(near(Stats.selfTime(kids(2), parent +: kids), 1.0))
    check("q16 of the preload normalization")(TickGen.q16(65536.0 / 7559) == 7559L)

    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      import spark.implicits._
      val a = Seq((1, "x", 1.5), (2, "y", -0.0), (3, null, 2.0)).toDF("k", "s", "d")
      val b = Seq((3, null, 2.0), (1, "x", 1.5), (2, "y", -0.0)).toDF("k", "s", "d").repartition(2)
      val c = Seq((1, "x", 1.5), (2, "y", 0.0), (3, null, 2.0)).toDF("k", "s", "d")
      check("digest ignores row order and partitioning")(PerfBench.digestOf(a) == PerfBench.digestOf(b))
      check("digest sees a changed value")(PerfBench.digestOf(a) != PerfBench.digestOf(c))
      check("digest counts rows")(PerfBench.digestOf(a).startsWith("3:"))
    } finally spark.stop()
    println(s"selftest: $n checks passed")
  }
}
