package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{BarConfig, SignalConfig}
import graft.functions.TickFunctions

/** The tick-processing pipeline re-expressed as Spark dataflow. Every
  * reference "stateful" computation is order-indexed and algebraically
  * cumulative (SURVEY.md §7.0), so each stage lowers to a two-pass prefix
  * scan over `tick_idx` ([[Ordered]]/[[Scan]]: partials per chunk, driver
  * prefix, local finish) — no partition-less window, no
  * mapGroupsWithState.
  *
  * Numerics: the hot loop's values are those of [[HotLoopKernel]], the
  * one specification shared with the streaming fold and the DuckDB
  * oracle: Float32 arithmetic with the Q16 reciprocal rounded
  * ties-to-even, as in the reference (src/TickHotLoopF32.jl:287-437).
  * Output columns are DOUBLE; each holds the Float32 result, widened. The
  * bar processor computes in Double with explicit half-up rounding
  * (`floor(x+0.5)`), mirrored expression-for-expression by the oracle.
  */
object TickPipeline {

  // ------------------------------------------------------------------ T1/T2
  /** Batch text tick source: read a `;`-delimited tick file, skip blank
    * and malformed lines, keep file order (reference:
    * src/VolumeExpansion.jl:145-218). `line_idx` is 1-based over
    * surviving lines, assigned with the scalable two-pass index in scan
    * order: the text source's partition-then-row order IS file order
    * (`file_pos` = `monotonically_increasing_id` follows it too), so no
    * sort is needed and the output is declared ordered by `line_idx`.
    */
  def readTickFile(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.textFile(path).toDF("value")
      .withColumn("file_pos", monotonically_increasing_id())
    Ordered.withGlobalIndex(parseTickLines(raw, col("value"), col("file_pos")), "line_idx")
  }

  /** Parse `;`-delimited tick lines: exactly 5 fields, 4 int fields;
    * malformed or blank rows are dropped (reference:
    * src/VolumeExpansion.jl:95-113,163-171).
    */
  def parseTickLines(df: DataFrame, line: Column, orderCol: Column): DataFrame = {
    // Split ONCE into an array column, then project fields from it — five
    // inline `split` copies would quintuple the generated code (and the
    // per-row work wherever codegen falls back to interpretation).
    def intAt(i: Int) = trim(element_at(col("parts"), i)).try_cast("int")
    df.select(orderCol.as("file_pos"), split(line, ";").as("parts"))
      .select(col("file_pos"),
        trim(element_at(col("parts"), 1)).as("ts_str"),
        intAt(2).as("bid"), intAt(3).as("ask"), intAt(4).as("last"),
        intAt(5).as("volume"), size(col("parts")).as("n_fields"))
      .where(col("n_fields") === 5 &&
        col("bid").isNotNull && col("ask").isNotNull &&
        col("last").isNotNull && col("volume").isNotNull)
      .drop("n_fields")
  }

  // ------------------------------------------------------------------ T7-T9
  /** Volume expansion + line-level lag delta + global tick index
    * (reference: src/VolumeExpansion.jl:175-214) in one distributed
    * [[Scan]] pass (state = last price + running volume sum). Input needs
    * (line_idx, ts_str, last, volume); extra columns pass through.
    *
    * Deltas are computed across *lines* before expansion; replica 1
    * carries the real delta, replicas 2..v carry 0; the stream's very
    * first tick carries 0. `tick_idx` = prefix-sum of volumes, dense and
    * 1-based over the expanded stream.
    */
  def expandVolumeChunked(lines: DataFrame): DataFrame =
    expandSortedLines(lines.orderBy("line_idx"), emitLineIdx = false)

  /** One-Scan expansion over lines that are ALREADY globally range-ordered
    * (range-partitioned + sorted): computes line delta, the tick-index
    * base (prefix volume sum) and optionally a dense 1-based `line_idx`
    * in a single two-pass scan, then explodes. `tick_idx` (prefix base +
    * ascending replica index) is strictly increasing in the scan's row
    * order but computed after the scan barrier, so an ordered fence
    * declares it: a downstream `orderBy("tick_idx")` plans to nothing.
    */
  private def expandSortedLines(sorted: DataFrame, emitLineIdx: Boolean,
      emitTimestamp: Boolean = true): DataFrame = {
    // A pre-packed `timestamp` (see syntheticTicksExpanded) skips the
    // per-tick string pack below: the line-level long rides through the
    // scan checkpoint and the explode instead of the ts_str string.
    val prePacked = sorted.columns.contains("timestamp")
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    val li = sorted.schema.fieldIndex("last")
    val vi = sorted.schema.fieldIndex("volume")
    // State: (line count, seen-any-line, last price, cumulative volume).
    val appended =
      Seq(StructField("line_delta", IntegerType, nullable = false),
        StructField("tick_base", LongType, nullable = false)) ++
        (if (emitLineIdx) Seq(StructField("line_idx", LongType, nullable = false)) else Nil)
    val scanned = Scan.scan[(Long, Boolean, Int, Long)](
      sorted,
      appended,
      zero = (0L, false, 0, 0L),
      lift = r => (1L, true, r.getInt(li), r.getInt(vi).toLong),
      combine = (a, b) => (a._1 + b._1, a._2 || b._2, if (b._2) b._3 else a._3, a._4 + b._4),
      emit = (s, r) => Seq[Any](if (s._2) r.getInt(li) - s._3 else 0, s._4) ++
        (if (emitLineIdx) Seq(s._1 + 1) else Nil))
    val exploded = scanned
      .withColumn("replica_idx",
        explode(when(col("volume") >= 1, sequence(lit(1), col("volume")))
          .otherwise(array().cast("array<int>"))))
      .withColumn("tick_idx", col("tick_base") + col("replica_idx"))
    val ticks = (if (emitTimestamp && !prePacked)
       exploded.withColumn("timestamp", TickFunctions.encodeTimestamp(col("ts_str")))
     else exploded)
      .withColumn("raw_price", col("last"))
      .withColumn("price_delta",
        when(col("replica_idx") === 1, col("line_delta")).otherwise(lit(0)))
      .drop("tick_base")
    Scan.planFenceOrdered(ticks, Seq("tick_idx"))
  }

  // ----------------------------------------------------------------- T11-T24
  /** The hot loop: validation/hold-last, jump guard, winsorization,
    * 144-tick bar statistics, cumulative-mean normalization, Q16
    * fixed-point ratio and one of four encoders, with the values of
    * [[HotLoopKernel]]. The recurrence is strictly causal in `tick_idx`,
    * so it lowers to ONE multi-round [[Scan.scanRounds]] over the ordered
    * stream: no partition-less window, no broadcast, no extra shuffle. The
    * input is checkpointed once and each round is a lightweight fold job
    * that rebuilds part of a row's carry-in ([[ScanStates]] holds the
    * monoid algebras):
    *
    *   - round 0, [[ScanStates.EligState]]: row classes
    *     (pre/hold/first/eligible) + eligible-row and encoder-call
    *     numbering — the conditional two-branch prefix monoid;
    *   - round 1, [[ScanStates.BarSeg]]: cumulative 144-tick bar
    *     statistics (completed-bar count, sums of per-bar min/max
    *     clipped delta, open-bar partial) — reads round 0's running
    *     eligible count for globally-aligned bar segmentation;
    *   - round 2 (derivative/cpm only): the encoder's carried state — the
    *     derivative's previous eligible ratio (last-wins) or the CPM phase
    *     (a wrapping Int32 sum of phase increments). HEXAD16 carries
    *     nothing, and the AMC phase is closed-form in round 0's
    *     encoder-call count.
    *
    * The emit pass loads that carry-in into the kernel, which returns the
    * row's `normalization`, `status_flag`, `signal_re` and `signal_im`.
    *
    * Input: (tick_idx BIGINT, raw_price INT, price_delta INT
    * [, ...passthrough]); output appends those four columns.
    *
    * Ordering contract: the scan asks for its input with
    * `orderBy("tick_idx")` and declares its output ordered by `tick_idx`.
    * Input whose producer declares that order (the expansion scans,
    * `spark.range`) costs no shuffle; any other input is range-sorted
    * once up front.
    */
  def hotLoopChunked(ticks: DataFrame, cfg: SignalConfig): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField}
    import HotLoopKernel.{Amc, Cpm, Derivative, Elig, TicksPerStatsBar}
    import Scan.Round
    import ScanStates._

    val sorted = ticks.orderBy("tick_idx")
    val tIdx = sorted.schema.fieldIndex("tick_idx")
    val pIdx = sorted.schema.fieldIndex("raw_price")
    val dIdx = sorted.schema.fieldIndex("price_delta")
    val kernel = new HotLoopKernel(cfg)
    val enc = kernel.encoder

    // Q16 reciprocal of the eligible row numbered `eligRn` with clipped
    // delta `d`: a boundary tick's own bar enters the running stats
    // before that tick's ratio (reference: TickHotLoopF32.jl:383-405).
    def invFor(seg: BarSeg, eligRn: Long, d: Int): Int = {
      val (k, sm, sx, cmn, cmx, open) = barCumulative(seg)
      if (eligRn % TicksPerStatsBar == 0)
        HotLoopKernel.invQ16(k + 1, sm + (if (open) math.min(cmn, d) else d),
          sx + (if (open) math.max(cmx, d) else d))
      else HotLoopKernel.invQ16(k, sm, sx)
    }
    def isElig(prev: Array[Any], r: InternalRow): Boolean =
      prev(0).asInstanceOf[EligState].anyValid && kernel.valid(r.getInt(pIdx))
    // The ratio of an eligible row, from the running states before it.
    def rowRatio(prev: Array[Any], r: InternalRow): Float = {
      val d = kernel.clip(r.getInt(dIdx))
      HotLoopKernel.ratio(d, invFor(prev(1).asInstanceOf[BarSeg],
        prev(0).asInstanceOf[EligState].eligNP + 1, d))
    }

    val eligRound: Round = new Round {
      def zero: Any = eligZero
      def lift(prev: Array[Any], r: InternalRow): Any = eligLift(kernel.valid(r.getInt(pIdx)))
      def combine(a: Any, b: Any): Any =
        eligCombine(a.asInstanceOf[EligState], b.asInstanceOf[EligState])
    }
    val barRound: Round = new Round {
      def zero: Any = barZero
      def lift(prev: Array[Any], r: InternalRow): Any =
        if (!isElig(prev, r)) barZero
        else {
          val eligRn = prev(0).asInstanceOf[EligState].eligNP + 1
          barLift(isElig = true, (eligRn - 1) / TicksPerStatsBar,
            kernel.clip(r.getInt(dIdx)), eligRn % TicksPerStatsBar == 0)
        }
      def combine(a: Any, b: Any): Any =
        barCombine(a.asInstanceOf[BarSeg], b.asInstanceOf[BarSeg])
    }
    val encRound: Option[Round] = enc match {
      case Derivative => Some(new Round { // last eligible ratio, last-wins
        def zero: Any = (false, 0.0f)
        def lift(prev: Array[Any], r: InternalRow): Any =
          if (isElig(prev, r)) (true, rowRatio(prev, r)) else (false, 0.0f)
        def combine(a: Any, b: Any): Any =
          if (b.asInstanceOf[(Boolean, Float)]._1) b else a
      })
      case Cpm => Some(new Round { // phase: Int32 sum, wrapping mod 2^32
        def zero: Any = 0
        def lift(prev: Array[Any], r: InternalRow): Any =
          if (isElig(prev, r)) kernel.cpmIncrement(rowRatio(prev, r)) else 0
        def combine(a: Any, b: Any): Any = a.asInstanceOf[Int] + b.asInstanceOf[Int]
      })
      case _ => None
    }

    Scan.scanRounds(sorted,
      Seq(StructField("normalization", DoubleType, nullable = false),
        StructField("status_flag", IntegerType, nullable = false),
        StructField("signal_re", DoubleType, nullable = false),
        StructField("signal_im", DoubleType, nullable = false)),
      IndexedSeq(eligRound, barRound) ++ encRound,
      (st, r) => {
        val e = st(0).asInstanceOf[EligState]
        val delta = r.getInt(dIdx)
        val cls = HotLoopKernel.rowClass(kernel.valid(r.getInt(pIdx)), e.anyValid)
        val inv =
          if (cls == Elig) invFor(st(1).asInstanceOf[BarSeg], e.eligNP + 1, kernel.clip(delta))
          else 0
        enc match {
          case Derivative => kernel.prevRatio = st(2).asInstanceOf[(Boolean, Float)]._2
          case Cpm => kernel.phaseQ32 = st(2).asInstanceOf[Int]
          case Amc => kernel.phaseQ32 = kernel.amcPhase(e.encNP)
          case _ =>
        }
        kernel.emit(cls, delta, inv, r.getLong(tIdx))
        Seq[Any](kernel.normalization.toDouble, kernel.flag.toInt,
          kernel.re.toDouble, kernel.im.toDouble)
      },
      // The scan's input-order requirement, restated as a declared output
      // property: rows stay globally range-ordered by tick_idx, so the
      // declared queries' final `orderBy("tick_idx")` plans to nothing
      // (no Exchange, no Sort) instead of re-sorting the whole stream.
      orderedBy = Seq("tick_idx"))
  }

  // ----------------------------------------------------------------- T26-T33
  /** Bar processor: tumbling count-window OHLC over ALL ticks (validity is
    * not consulted — reference processes every message,
    * src/BarProcessor.jl:163-202), boxcar averaging, cumulative high/low
    * normalization recalculated every `normalizationWindowBars` bars,
    * bar delta with jump guard + winsorization, derivative encoding.
    *
    * Returns one row per *completed* bar. FIR averaging is handled by
    * [[FirFilter]] (separate, heavier path).
    */
  def bars(ticks: DataFrame, cfg: BarConfig): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField}
    val n = cfg.ticksPerBar
    val agg = ticks
      .withColumn("bar_id0", floor((col("tick_idx") - 1) / lit(n.toDouble)).cast("long"))
      .groupBy("bar_id0")
      .agg(
        count(lit(1)).as("cnt"),
        min_by(col("raw_price"), col("tick_idx")).as("bar_open_raw"),
        max("raw_price").as("bar_high_raw"),
        min("raw_price").as("bar_low_raw"),
        max_by(col("raw_price"), col("tick_idx")).as("bar_close_raw"),
        max_by(col("timestamp"), col("tick_idx")).as("bar_end_timestamp"))
      .where(col("cnt") === n)
      .withColumn("bar_idx", col("bar_id0") + 1)

    val withAvg =
      if (cfg.barMethod == "FIR")
        agg.join(firBarAverages(ticks, n), Seq("bar_idx"), "inner")
      else agg.withColumn("bar_average_raw",
        floor((col("bar_high_raw") + col("bar_low_raw") + col("bar_close_raw")).cast("double")
          / 3.0 + 0.5).cast("int"))

    // The bars table is ticks/N — smaller but still unbounded, so its
    // cumulative chain uses the same two-pass [[Scan]] technique as the
    // tick stream (no partition-less window, no broadcast).
    val sortedBars = withAvg.orderBy("bar_idx")

    // One multi-round scan (checkpoint the bars once):
    //   round 0 — running high/low sums + previous bar average (monoid:
    //   two sums and a last-wins pair);
    //   round 1 — normalization: cumulative avg(high)-avg(low) over all
    //   completed bars, recalculated (and immediately applied) only every
    //   `normalizationWindowBars`-th bar, 1.0 before the first recalc
    //   (reference: src/BarProcessor.jl:247-270) — a last-wins carry whose
    //   lift reads round 0's running sums.
    val hiIdx = sortedBars.schema.fieldIndex("bar_high_raw")
    val loIdx = sortedBars.schema.fieldIndex("bar_low_raw")
    val avIdx = sortedBars.schema.fieldIndex("bar_average_raw")
    val biIdx = sortedBars.schema.fieldIndex("bar_idx")
    val normEvery = cfg.normalizationWindowBars
    val cumRound: Scan.Round = new Scan.Round {
      def zero: Any = (0L, 0L, false, 0)
      def lift(prev: Array[Any], r: InternalRow): Any =
        (r.getInt(hiIdx).toLong, r.getInt(loIdx).toLong, true, r.getInt(avIdx))
      def combine(a: Any, b: Any): Any = {
        val aa = a.asInstanceOf[(Long, Long, Boolean, Int)]
        val bb = b.asInstanceOf[(Long, Long, Boolean, Int)]
        (aa._1 + bb._1, aa._2 + bb._2, aa._3 || bb._3, if (bb._3) bb._4 else aa._4)
      }
    }
    def normHere(cums: (Long, Long, Boolean, Int), r: InternalRow): Double = {
      val bi = r.getLong(biIdx)
      math.max((cums._1 + r.getInt(hiIdx)).toDouble / bi -
        (cums._2 + r.getInt(loIdx)).toDouble / bi, 1.0)
    }
    val normRound: Scan.Round = new Scan.Round {
      def zero: Any = (false, 1.0)
      def lift(prev: Array[Any], r: InternalRow): Any =
        if (r.getLong(biIdx) % normEvery == 0)
          (true, normHere(prev(0).asInstanceOf[(Long, Long, Boolean, Int)], r))
        else (false, 0.0)
      def combine(a: Any, b: Any): Any = {
        val bb = b.asInstanceOf[(Boolean, Double)]
        if (bb._1) bb else a
      }
    }
    val withNorm = Scan.scanRounds(sortedBars,
      Seq(StructField("cum_high", LongType, nullable = false),
        StructField("cum_low", LongType, nullable = false),
        StructField("prev_avg", IntegerType, nullable = true),
        StructField("bar_normalization", DoubleType, nullable = false)),
      IndexedSeq(cumRound, normRound),
      (st, r) => {
        val c = st(0).asInstanceOf[(Long, Long, Boolean, Int)]
        val n = st(1).asInstanceOf[(Boolean, Double)]
        val norm =
          if (r.getLong(biIdx) % normEvery == 0) normHere(c, r)
          else if (n._1) n._2 else 1.0
        Seq(c._1 + r.getInt(hiIdx), c._2 + r.getInt(loIdx),
          if (c._3) c._4 else null, norm)
      },
      orderedBy = Seq("bar_idx")) // bars stay range-ordered: final orderBy("bar_idx") is free

    val d0 = coalesce(col("bar_average_raw") - col("prev_avg"), lit(0))
    val maxJ = lit(cfg.maxBarJump); val winz = lit(cfg.winsorizeBarThreshold)
    val withDelta = withNorm
      .withColumn("d0", d0)
      .withColumn("clip1", abs(col("d0")) > maxJ)
      .withColumn("d1", when(col("clip1"), when(col("d0") > 0, maxJ).otherwise(-maxJ))
        .otherwise(col("d0")))
      .withColumn("clip2", abs(col("d1")) > winz)
      .withColumn("bar_price_delta", when(col("clip2"),
        when(col("d1") > 0, winz).otherwise(-winz)).otherwise(col("d1")))
      .withColumn("bar_flags",
        when(col("clip1") || col("clip2"), lit(4)).otherwise(lit(0)))

    // Derivative encoding; prev_normalized divides the *previous average*
    // by the *current* normalization — reference quirk
    // (src/BarProcessor.jl:294-310); first bar's prev_normalized is 0.
    withDelta
      .withColumn("bar_signal_re",
        col("bar_price_delta").cast("double") / col("bar_normalization") + 0.0)
      .withColumn("bar_signal_im",
        (col("bar_average_raw").cast("double") / col("bar_normalization") -
          coalesce(col("prev_avg").cast("double") / col("bar_normalization"), lit(0.0)))
          * lit(cfg.barDerivativeImagScale.toDouble) + 0.0)
      .withColumn("bar_ticks", lit(n))
      .withColumn("bar_volume", lit(n))
      .select("bar_idx", "bar_ticks", "bar_volume", "bar_open_raw", "bar_high_raw",
        "bar_low_raw", "bar_close_raw", "bar_average_raw", "bar_price_delta",
        "bar_signal_re", "bar_signal_im", "bar_normalization", "bar_flags",
        "bar_end_timestamp")
  }

  /** FIR anti-aliasing bar average (reference: src/BarProcessor.jl:169-174,
    * 345-358): at each bar-completion tick b, the dot product of the
    * decimation filter with the trailing `taps` raw prices (zero-filled
    * before stream start).
    *
    * Scalable formulation: each tick contributes `coeff[b - t + 1] *
    * price` to its ~taps/N overlapping boundaries. The contributions are
    * accumulated *inside each partition* (a typed `mapPartitions` folding
    * into a boundary-keyed map — the classic map-side reduce), so only
    * one pre-summed row per (partition, boundary) is shuffled: ~bars per
    * partition + taps/N overlap rows, a ~taps/N (≈52×) shuffle-volume
    * reduction over scattering one row per (tick, boundary) term. A tiny
    * hash aggregation then folds the per-partition partials. Each term is
    * rounded to fixed-point (1e-9) longs BEFORE summation so the total is
    * order-independent — bit-identical under any partitioning and
    * mirrorable by the DuckDB oracle.
    */
  def firBarAverages(ticks: DataFrame, n: Int): DataFrame = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val coeffs = graft.functions.FirFilter.predefined(n)
    val taps = coeffs.length
    ticks
      .select(col("tick_idx"), col("raw_price").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        // boundary tick -> running fixed-point dot partial
        val acc = scala.collection.mutable.LongMap.empty[Long]
        it.foreach { case (t, price) =>
          // boundaries b = multiples of n with 1 <= b - t + 1 <= taps
          var b = ((t + n - 1) / n) * n
          val bMax = ((t + taps - 1) / n) * n
          while (b <= bMax) {
            val c = coeffs((b - t).toInt) // coeff[b - t + 1], 0-based array
            acc(b) = acc.getOrElse(b, 0L) +
              math.floor(c * price * 1e9 + 0.5).toLong
            b += n
          }
        }
        acc.iterator.map { case (b, s) => (b, s) }
      }
      .toDF("b_tick", "partial")
      .groupBy("b_tick")
      .agg(sum("partial").as("dot_scaled"))
      .select((col("b_tick") / n).cast("long").as("bar_idx"),
        floor(col("dot_scaled").cast("double") / 1e9 + 0.5).cast("int")
          .as("bar_average_raw"))
  }

  /** Left-join bar fields back onto their completing ticks (null on the
    * other N-1 of N ticks) — the reference's message enrichment
    * (src/BarProcessor.jl:312-328).
    */
  def enrich(ticksWithSignal: DataFrame, barsDf: DataFrame, ticksPerBar: Int): DataFrame =
    ticksWithSignal.join(
      barsDf.withColumn("bar_end_tick", col("bar_idx") * ticksPerBar)
        .drop("bar_end_timestamp"),
      ticksWithSignal("tick_idx") === col("bar_end_tick"), "left")
      .drop("bar_end_tick")

  // ------------------------------------------------------------------ ticks
  /** Deterministic synthetic tick stream derived from the driver's
    * lineitem table (pure integer arithmetic so the DuckDB oracle derives
    * the identical stream). ~2% of prices fall outside the default valid
    * range on each side, exercising hold-last.
    */
  def syntheticTicks(spark: SparkSession, sfDir: String): DataFrame = {
    // Column-pruned scan + two-pass chunked index: (l_orderkey,
    // l_linenumber) is the lineitem PK so the dense index is
    // deterministic, and no single-partition window sort is needed.
    val keyed = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    Ordered.withGlobalIndex(keyed, "line_idx", "l_orderkey", "l_linenumber")
      .select(
        col("line_idx"),
        concat(
          (lit(20250301) + (col("l_orderkey") + col("l_linenumber")) % 28).cast("string"),
          lit(" 070000 0000000")).as("ts_str"),
        (lit(39000) + (col("l_orderkey") * 7 + col("l_linenumber") * 131
          + col("l_suppkey") * 17) % 5200 - 100).cast("int").as("last"),
        (lit(1) + (col("l_orderkey") + col("l_linenumber")) % 3).cast("int").as("volume"))
  }

  /** Fused synthetic source: ONE range sort of the lineitem keys, then a
    * single [[Scan]] computing line index, line delta and tick base
    * together, then expansion — output declared globally ordered by
    * `tick_idx`, so [[hotLoopChunked]] adds no shuffle. Saves the second
    * range shuffle + scan of the index-then-expand composition.
    *
    * `withTimestamp = false` skips the ts_str build + 8-byte pack
    * entirely — the string column cannot be pruned through the expand
    * scan's RDD barrier, so consumers that never read `timestamp` (the
    * hot-loop queries) should opt out at the source: the checkpointed
    * line rows shrink to a handful of primitive columns.
    */
  def syntheticTicksExpanded(spark: SparkSession, sfDir: String,
      withTimestamp: Boolean = true): DataFrame = {
    val keyed = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    // The packed timestamp is computed PER LINE inside the pre-scan
    // projection (build the ts_str, pack it, discard the string), so the
    // scan checkpoint and the explode carry an 8-byte long instead of a
    // 23-char string, and the pack runs once per line instead of once
    // per expanded tick. Identical values: replicas share their line's
    // timestamp.
    val tsCol =
      if (withTimestamp) Seq(TickFunctions.encodeTimestamp(concat(
        (lit(20250301) + (col("l_orderkey") + col("l_linenumber")) % 28).cast("string"),
        lit(" 070000 0000000"))).as("timestamp"))
      else Nil
    val sorted = keyed.orderBy("l_orderkey", "l_linenumber")
      .select(tsCol ++ Seq(
        (lit(39000) + (col("l_orderkey") * 7 + col("l_linenumber") * 131
          + col("l_suppkey") * 17) % 5200 - 100).cast("int").as("last"),
        (lit(1) + (col("l_orderkey") + col("l_linenumber")) % 3).cast("int").as("volume")): _*)
    expandSortedLines(sorted, emitLineIdx = true, emitTimestamp = withTimestamp)
  }

  /** Flagship end-to-end: synthetic ticks → expansion → hot loop
    * (derivative encoder, the shipped default) → bar enrichment.
    */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = SignalConfig(encoderType = "derivative", minPrice = 39000,
      maxPrice = 44000, tickDerivativeImagScale = 2.0f)
    val barCfg = BarConfig(enabled = true, ticksPerBar = 21, barMethod = "boxcar")
    val ticks = syntheticTicksExpanded(spark, sfDir)
    val hot = hotLoopChunked(ticks, cfg)
    enrich(hot, bars(ticks, barCfg), barCfg.ticksPerBar)
      .orderBy("tick_idx")
  }
}
