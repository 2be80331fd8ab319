package graft.operators

import org.apache.spark.sql.DataFrame

import graft.config.SignalConfig
import graft.streaming.{HotLoopStep, TickIn, TickOut}

/** Plain-Scala references for the tick pipeline's specs: the volume
  * expansion written as a loop over lines, and the hot loop as the
  * sequential kernel fold ([[HotLoopStep]]).
  */
object TickReference {

  /** One expanded tick, as [[TickPipeline.expandVolumeChunked]] emits it. */
  final case class Tick(tickIdx: Long, lineIdx: Long, replicaIdx: Int, timestamp: Long,
      rawPrice: Int, priceDelta: Int)

  /** The reference's timestamp packing: the first ≤ 8 ASCII chars,
    * big-endian, low-aligned (reference: src/VolumeExpansion.jl:46-59).
    */
  def packTimestamp(ts: String): Long = ts.take(8).foldLeft(0L)((a, c) => (a << 8) | (c & 0xffL))

  /** Volume expansion of lines (line_idx, ts_str, last, volume): the line
    * delta against the previous line rides on replica 1, the other
    * replicas carry 0, and `tick_idx` numbers the replicas densely from 1
    * (reference: src/VolumeExpansion.jl:175-214).
    */
  def expand(lines: Seq[(Long, String, Int, Int)]): Seq[Tick] = {
    val out = Seq.newBuilder[Tick]
    var prev: Option[Int] = None
    var base = 0L
    lines.sortBy(_._1).foreach { case (lineIdx, ts, last, volume) =>
      val delta = prev.fold(0)(last - _)
      (1 to volume).foreach { r =>
        out += Tick(base + r, lineIdx, r, packTimestamp(ts), last, if (r == 1) delta else 0)
      }
      prev = Some(last)
      base += volume
    }
    out.result()
  }

  /** The sequential hot loop over expanded ticks. */
  def hotLoop(ticks: Seq[Tick], cfg: SignalConfig): Seq[TickOut] =
    HotLoopStep.run(ticks.map(t => TickIn(t.tickIdx, t.timestamp, t.rawPrice, t.priceDelta)), cfg)

  /** (tick_idx, raw_price, price_delta, bits of signal_re, signal_im and
    * normalization, status_flag): the bit patterns make signed zeros count.
    */
  type BitRow = (Long, Int, Int, Long, Long, Long, Int)

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** A batch hot-loop output, in tick order. */
  def bitRows(df: DataFrame): Seq[BitRow] =
    df.select("tick_idx", "raw_price", "price_delta", "signal_re", "signal_im",
        "normalization", "status_flag").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), bits(r.getDouble(3)),
        bits(r.getDouble(4)), bits(r.getDouble(5)), r.getInt(6)))
      .sortBy(_._1).toSeq

  /** Sequential outputs, each Float widened as the batch columns hold it. */
  def bitRows(outs: Seq[TickOut]): Seq[BitRow] =
    outs.map(o => (o.tick_idx, o.raw_price, o.price_delta, bits(o.signal_re.toDouble),
      bits(o.signal_im.toDouble), bits(o.normalization.toDouble), o.status_flag.toInt))
      .sortBy(_._1)
}
