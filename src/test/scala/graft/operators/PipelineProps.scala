package graft.operators

import java.nio.file.Files

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec
import graft.config.{BarConfig, SignalConfig}

/** ScalaCheck properties for the tick pipeline (the t1-tier properties
  * declared in SURVEY.md §5: volume-expansion conservation, clip/winsorize
  * bounds + flag discipline, OHLC invariants). Case counts are kept small —
  * each case is a full Spark job on a generated stream.
  */
object PipelineProps extends Properties("TickPipeline") {
  private lazy val spark = SparkSpec.session
  import org.apache.spark.sql.functions._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxSize(40)

  private val genLine: Gen[(Int, Int)] = for {
    price <- Gen.choose(39500, 43500)
    volume <- Gen.frequency(6 -> Gen.choose(1, 4), 1 -> Gen.const(0))
  } yield (price, volume)
  private val genStream: Gen[List[(Int, Int)]] =
    Gen.nonEmptyListOf(genLine)

  private def expand(lines: List[(Int, Int)]) = {
    val f = Files.createTempFile("prop-ticks", ".txt")
    Files.writeString(f, lines.zipWithIndex.map { case ((p, v), i) =>
      f"20250319 ${70000 + i}%06d 0520000;$p;${p - 1};$p;$v"
    }.mkString("\n"))
    TickPipeline.expandVolumeChunked(TickPipeline.readTickFile(spark, f.toString))
  }

  // T7/T8/T9: row count = sum(volume); tick_idx is a gapless 1..N total
  // order; each line's replicas sum to the line-level delta (replica 1
  // carries it, the rest are 0), so delta is conserved through expansion.
  property("expansion conserves count, order, and delta") = forAll(genStream) { lines =>
    val rows = expand(lines)
      .select(col("tick_idx"), col("raw_price"), col("price_delta"))
      .collect().sortBy(_.getLong(0))
    val expected = lines.map(_._2.toLong).sum
    val idxOk = rows.map(_.getLong(0)).toSeq == (1L to expected)
    // line-level delta = price vs previous LINE (volume-0 lines advance
    // previous_last too); only lines with volume > 0 emit their delta.
    val prices = lines.map(_._1)
    val lineDeltas = prices.zipWithIndex.map { case (p, i) =>
      if (i == 0) 0 else p - prices(i - 1)
    }
    val emittedDeltaSum =
      lines.zip(lineDeltas).filter(_._1._2 > 0).map(_._2).sum
    val deltaSumOk = rows.map(_.getInt(2)).sum == emittedDeltaSum
    (rows.length == expected) :| s"count ${rows.length} != $expected" &&
      idxOk :| "tick_idx not gapless 1..N" &&
      deltaSumOk :| "sum of replica deltas != sum of line deltas"
  }

  private val hotCfg = SignalConfig(encoderType = "derivative",
    minPrice = 39000, maxPrice = 44000, maxJump = 50,
    winsorizeDeltaThreshold = 10, tickDerivativeImagScale = 2.0f)

  private def hotOut(prices: List[Int]) = {
    val ticks = spark.createDataFrame(
      spark.sparkContext.parallelize(
        prices.zipWithIndex.map { case (p, i) =>
          // price_delta as volume expansion would emit it: vs previous line
          org.apache.spark.sql.Row(i + 1L, 7L, p,
            if (i == 0) 0 else p - prices(i - 1))
        }, 2),
      new org.apache.spark.sql.types.StructType()
        .add("tick_idx", "long").add("timestamp", "long")
        .add("raw_price", "int").add("price_delta", "int"))
    TickPipeline.hotLoopChunked(ticks, hotCfg)
      .select(col("tick_idx"), col("raw_price"), col("signal_re"),
        col("status_flag"))
      .collect().sortBy(_.getLong(0))
  }

  private val genPrices: Gen[List[Int]] = Gen.resize(30,
    Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.choose(39500, 43500), // valid range
      1 -> Gen.choose(100, 38000), // out of range -> hold-last
      1 -> Gen.choose(44500, 99000))))

  // T11-T14/T19: the winsorized normalized ratio is bounded by
  // threshold / norm (norm >= 1 and the Q16 preload also bounds it);
  // invalid prices yield ratio 0 with HOLDLAST (or OK before first valid).
  property("hot loop bounds ratios and flags held ticks") = forAll(genPrices) { prices =>
    val out = hotOut(prices)
    val firstValid = prices.indexWhere(p => p >= 39000 && p <= 44000)
    val boundOk = out.forall { r =>
      math.abs(r.getDouble(2)) <= hotCfg.winsorizeDeltaThreshold.toDouble + 1e-4
    }
    val heldOk = out.zipWithIndex.forall { case (r, i) =>
      val valid = prices(i) >= 39000 && prices(i) <= 44000
      val flag = r.getInt(3)
      if (valid) true
      else if (firstValid == -1 || i < firstValid) flag == 0x00 // pre-init OK quirk
      else (flag & 0x02) == 0x02 // FLAG_HOLDLAST
    }
    val heldZero = out.zipWithIndex.forall { case (r, i) =>
      val valid = prices(i) >= 39000 && prices(i) <= 44000
      valid || r.getDouble(2) == 0.0
    }
    boundOk :| "ratio exceeds winsorize bound" &&
      heldOk :| "held-tick flag discipline violated" &&
      heldZero :| "held tick emitted nonzero ratio"
  }

  private val barCfg = BarConfig(enabled = true, ticksPerBar = 21,
    normalizationWindowBars = 120, barMethod = "boxcar")

  // T26: complete bars only (floor(N/21)); OHLC invariants
  // (validate_bar_processing.jl:63-85): low <= open, close <= high.
  property("bars satisfy OHLC invariants") = forAll(
    Gen.choose(21, 130).flatMap(n => Gen.listOfN(n, Gen.choose(39500, 43500)))) { prices =>
    import spark.implicits._
    val ticks = prices.zipWithIndex.map { case (p, i) => (i + 1L, p) }
      .toDF("tick_idx", "raw_price").withColumn("timestamp", lit(7L))
    val bars = TickPipeline.bars(ticks, barCfg)
      .select(col("bar_idx"), col("bar_open_raw"), col("bar_high_raw"),
        col("bar_low_raw"), col("bar_close_raw"))
      .collect()
    val countOk = bars.length == prices.length / 21
    val ohlcOk = bars.forall { b =>
      val (o, h, l, c) = (b.getInt(1), b.getInt(2), b.getInt(3), b.getInt(4))
      l <= o && o <= h && l <= c && c <= h && l <= h
    }
    countOk :| s"bar count ${bars.length} != ${prices.length / 21}" &&
      ohlcOk :| "OHLC invariant violated"
  }
}
