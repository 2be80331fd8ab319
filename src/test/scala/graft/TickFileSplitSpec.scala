package graft

import java.nio.file.Files

import org.apache.spark.graftest.ShuffleStageCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.config.SignalConfig
import graft.operators.TickReference

/** The file → hot loop path keeps file order across many input splits
  * with no shuffle: `readTickFile` indexes lines in scan order and
  * declares that order, the expansion and the hot loop ask for it with
  * `orderBy`, and Catalyst has nothing left to sort.
  */
class TickFileSplitSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SignalConfig(encoderType = "derivative", minPrice = 39000,
    maxPrice = 44000, maxJump = 50, winsorizeDeltaThreshold = 10,
    tickDerivativeImagScale = 2.0f)

  // ~6000 lines (~300 KB): valid ticks with out-of-range prices, jumps
  // and multi-tick volumes, plus every kind of line the parser drops.
  private lazy val fileLines: Seq[String] = {
    val rnd = new scala.util.Random(11)
    (1 to 6000).map { i =>
      val p = 39000 + rnd.nextInt(5200) - 100
      i % 211 match {
        case 0 => ""
        case 1 => "malformed;row"
        case 2 => f"20250305 07${i % 60}%02d00 0000000;${p - 1};$p;$p"
        case 3 => f"20250305 07${i % 60}%02d00 0000000;x;$p;$p;1"
        case 4 => f"20250305 07${i % 60}%02d00 0000000;${p - 1};$p;$p;1;9"
        case _ => f"20250305 07${i % 60}%02d00 0000000; ${p - 1};$p ;$p;${1 + rnd.nextInt(3)}"
      }
    }
  }

  private lazy val path: String = {
    val f = Files.createTempDirectory("ticksplit").resolve("ticks.txt")
    Files.writeString(f, fileLines.mkString("\n"))
    f.toString
  }

  /** Surviving lines in file order, parsed with plain Scala:
    * (line_idx, ts_str, bid, ask, last, volume).
    */
  private lazy val expected: Seq[(Long, String, Int, Int, Int, Int)] =
    fileLines.map(_.split(";", -1)).collect {
      case Array(ts, b, a, l, v) if Seq(b, a, l, v).forall(_.trim.toIntOption.isDefined) =>
        (ts.trim, b.trim.toInt, a.trim.toInt, l.trim.toInt, v.trim.toInt)
    }.zipWithIndex.map { case ((ts, b, a, l, v), i) => (i + 1L, ts, b, a, l, v) }

  /** Run `body` with file splits small enough to cut the file into many
    * input partitions.
    */
  private def withSmallSplits[A](body: => A): A = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "32k")
    spark.conf.set(keys(1), "1")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val outCols = Seq("tick_idx", "line_idx", "replica_idx", "timestamp",
    "raw_price", "price_delta", "signal_re", "signal_im", "normalization", "status_flag")

  // Doubles compare by bit pattern, so signed zeros count.
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select(outCols.map(col): _*).collect()
      .map(_.toSeq.map { case d: Double => bits(d); case x => x })
      .sortBy(_.head.asInstanceOf[Long]).toSeq

  test("readTickFile: line_idx is the file-order position among surviving lines") {
    withSmallSplits {
      assert(spark.read.textFile(path).rdd.getNumPartitions >= 4)
      val got = Graft.readTickFile(spark, path)
        .select("line_idx", "ts_str", "bid", "ask", "last", "volume")
        .as[(Long, String, Int, Int, Int, Int)].collect().sortBy(_._1).toSeq
      assert(got.length == expected.length && expected.length < fileLines.length)
      assert(got == expected)
    }
  }

  test("file -> expansion -> hot loop equals the window reference, with no shuffle") {
    withSmallSplits {
      val (chunked, stages) = ShuffleStageCounter.run(spark.sparkContext, "file-to-hot-loop") {
        rows(Graft.hotLoop(Graft.expandTicks(Graft.readTickFile(spark, path)), cfg))
      }
      assert(stages.groupStages > 0)
      assert(stages.count == 0, "shuffle-write stages on the file -> hot loop path")

      // The reference: the plain-Scala expansion of the parsed lines, then
      // the sequential kernel fold.
      val ticks = TickReference.expand(expected.map { case (li, ts, _, _, last, vol) =>
        (li, ts, last, vol) })
      val reference = ticks.zip(TickReference.hotLoop(ticks, cfg)).map { case (t, o) =>
        Seq(t.tickIdx, t.lineIdx, t.replicaIdx, t.timestamp, t.rawPrice, t.priceDelta,
          bits(o.signal_re.toDouble), bits(o.signal_im.toDouble),
          bits(o.normalization.toDouble), o.status_flag.toInt)
      }
      assert(chunked.length == expected.map(_._6.toLong).sum)
      assert(chunked == reference)
    }
  }
}
