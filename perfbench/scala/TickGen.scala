package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import graft.config.{BarConfig, SignalConfig}
import graft.streaming.{HotLoopStep, TickIn, TickOut}

/** Seeded tick inputs and the reference answers they must produce.
  *
  * Prices walk around 40000 in small steps. A few lines are malformed
  * (dropped by the parser), a few carry an out-of-range price (hold-last)
  * and a few jump by more than `maxJump` (clipping), so every branch of the
  * hot loop is taken.
  */
object TickGen {
  final case class Line(text: String, ok: Boolean, last: Int, volume: Int)

  /** The price process shared by the file and the stream generators. */
  final class Prices(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var p = 40000
    def next(): Int = {
      val u = rnd.nextInt(1000)
      if (u < 3) { // out of the default [36600, 43300] range: hold-last
        if (rnd.nextBoolean()) 30000 else 50000
      } else {
        p += (if (u < 6) (if (rnd.nextBoolean()) 1 else -1) * (60 + rnd.nextInt(140))
              else rnd.nextInt(7) - 3)
        p = math.max(37000, math.min(43000, p))
        p
      }
    }
    def volume(): Int = 1 + rnd.nextInt(3)
    def malformed(): Option[String] = rnd.nextInt(1000) match {
      case 0 => Some("")
      case 1 => Some("malformed;data")
      case 2 => Some("20250319 070000 0520000;1;2;x;1")
      case _ => None
    }
  }

  def lines(seed: Long, n: Int): Iterator[Line] = {
    val pr = new Prices(seed)
    Iterator.range(0, n).map { i =>
      pr.malformed() match {
        case Some(bad) => Line(bad, ok = false, 0, 0)
        case None =>
          val last = pr.next(); val vol = pr.volume()
          val sec = i / 10
          val ts = f"202503${19 + sec / 86400 % 9}%02d ${sec / 3600 % 24}%02d${sec / 60 % 60}%02d${sec % 60}%02d ${i % 10 * 100000}%07d"
          Line(s"$ts;${last - 1};${last + 1};$last;$vol", ok = true, last, vol)
      }
    }
  }

  def writeFile(seed: Long, n: Int, path: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8))
    try lines(seed, n).foreach { l => w.write(l.text); w.write('\n') } finally w.close()
  }

  /** Expanded ticks the file stands for (the batch pipeline's contract:
    * malformed lines dropped, line delta on replica 1, 1-based index).
    */
  def expand(seed: Long, n: Int): Array[TickIn] = {
    val out = Array.newBuilder[TickIn]
    var idx = 0L; var prev: Option[Int] = None
    lines(seed, n).filter(_.ok).foreach { l =>
      val d = prev.map(l.last - _).getOrElse(0)
      prev = Some(l.last)
      (1 to l.volume).foreach { r =>
        idx += 1
        out += TickIn(idx, 0L, l.last, if (r == 1) d else 0)
      }
    }
    out.result()
  }

  /** Stream ticks (already parsed, volume 1); `timestamp` is set when sent. */
  def streamTicks(seed: Long, n: Int): Array[TickIn] = {
    val pr = new Prices(seed)
    var prev = 0
    Array.tabulate(n) { i =>
      val p = pr.next()
      val d = if (i == 0) 0 else p - prev
      prev = p
      TickIn(i + 1L, 0L, p, d)
    }
  }

  def reference(ticks: Seq[TickIn], cfg: SignalConfig): Array[TickOut] =
    HotLoopStep.run(ticks, cfg).toArray

  /** Plain fold of complete bars: (open, high, low, close) per bar. */
  def referenceBars(ticks: Seq[TickIn], cfg: BarConfig): Array[(Int, Int, Int, Int)] =
    ticks.grouped(cfg.ticksPerBar).filter(_.size == cfg.ticksPerBar).map { b =>
      val ps = b.map(_.raw_price)
      (ps.head, ps.max, ps.min, ps.last)
    }.toArray

  /** The float tolerance the project's stream spec uses. */
  def close(a: Double, b: Double, abs: Double = 1e-5): Boolean =
    math.abs(a - b) <= 1e-4 * math.abs(b) + abs

  /** The columns that must match the reference exactly. */
  def exactMismatch(o: TickOut, idx: Long, raw: Int, delta: Int, flag: Int): Boolean =
    o.tick_idx != idx || o.raw_price != raw || o.price_delta != delta ||
      o.status_flag.toInt != flag

  /** The float columns, within the tolerance. */
  def floatMismatch(o: TickOut, re: Double, im: Double, norm: Double): Boolean =
    !close(re, o.signal_re) || !close(im, o.signal_im) || !close(norm, o.normalization, 1e-6)

  /** The Q16 reciprocal behind a normalization value (65536 / inv). */
  def q16(norm: Double): Long = math.round(65536.0 / norm)
}
