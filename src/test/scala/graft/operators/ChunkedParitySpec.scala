package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.config.SignalConfig

/** The scalable (prefix-scan) pipeline stages must agree row-for-row,
  * bit-for-bit with their plain-Scala references ([[TickReference]]): the
  * expansion as a loop over lines, the hot loop as the sequential kernel
  * fold. The test names keep the names of the window formulations these
  * references replaced.
  */
class ChunkedParitySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SignalConfig(minPrice = 39000, maxPrice = 44000,
    maxJump = 50, winsorizeDeltaThreshold = 10,
    tickDerivativeImagScale = 2.0f, cpmModulationIndex = 0.5f)

  // Deterministic pseudo-random tick stream with holds, clips, replicas,
  // and enough rows to cross several 144-tick bars and partitions.
  private lazy val lineSeq: Seq[(Long, String, Int, Int)] = {
    val rnd = new scala.util.Random(7)
    (1 to 800).map { i =>
      val price = 39000 + rnd.nextInt(5200) - 100
      (i.toLong, f"2025031$i%01d 070000 0000000".take(23), price, 1 + rnd.nextInt(3))
    }
  }
  private lazy val lines: DataFrame =
    lineSeq.toDF("line_idx", "ts_str", "last", "volume").repartition(5)

  test("expandVolumeChunked == expandVolume") {
    val got = TickPipeline.expandVolumeChunked(lines)
      .select("tick_idx", "line_idx", "replica_idx", "timestamp", "raw_price", "price_delta")
      .as[(Long, Long, Int, Long, Int, Int)].collect().sortBy(_._1).toSeq
    val want = TickReference.expand(lineSeq).map(t =>
      (t.tickIdx, t.lineIdx, t.replicaIdx, t.timestamp, t.rawPrice, t.priceDelta))
    assert(got == want)
  }

  Seq("derivative", "hexad16", "cpm", "amc").foreach { enc =>
    test(s"hotLoopChunked == hotLoop for $enc") {
      val c = cfg.copy(encoderType = enc)
      val got = TickReference.bitRows(
        TickPipeline.hotLoopChunked(TickPipeline.expandVolumeChunked(lines), c))
      val want = TickReference.bitRows(TickReference.hotLoop(TickReference.expand(lineSeq), c))
      assert(got == want)
    }
  }

  test("hotLoopChunked handles the no-valid-ticks edge") {
    val ticks = (1L to 5L).map(i => (i, 10, 0))
      .toDF("tick_idx", "raw_price", "price_delta")
    val out = TickPipeline.hotLoopChunked(ticks, cfg)
      .select($"signal_re", $"status_flag").as[(Double, Int)].collect()
    assert(out.forall(r => r._1 == 0.0 && r._2 == 0)) // all pre, FLAG_OK
  }
}
