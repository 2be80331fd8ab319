package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{BarConfig, SignalConfig}
import graft.functions.TickFunctions

/** The tick-processing pipeline re-expressed as declarative Spark
  * dataflow. Every reference "stateful" computation is order-indexed and
  * algebraically cumulative (SURVEY.md §7.0), so the whole hot loop
  * (reference: src/TickHotLoopF32.jl:287-437) lowers to window functions
  * over `tick_idx` — no mutable state, no mapGroupsWithState.
  *
  * Numerics: this module computes in Double with explicit half-up
  * rounding (`floor(x+0.5)`) so results are bit-reproducible across
  * engines (the DuckDB oracle mirrors the same expressions). The
  * reference computes in Float32 with ties-to-even rounding; the integer
  * paths (clipping, Q16 fixed-point, phase accumulators) are exact either
  * way, the float paths agree to ~1e-6 relative.
  *
  * Scale note: `Window.orderBy(tick_idx)` with no partition serializes
  * onto one partition — fine for correctness tests, fatal at 100 TB. The
  * scalable formulation of the same semantics is the two-pass prefix scan
  * in [[Ordered]]/[[Scan]] (partials per chunk + driver prefix + local
  * finish); see `hotLoopChunked` docs below.
  */
object TickPipeline {

  import TickFunctions.{cpmLutIm, cpmLutRe, hexad16Im, hexad16Re}

  /** Preloaded Q16 reciprocal before the first completed 144-tick bar
    * (reference: src/TickHotLoopF32.jl:107).
    */
  val InvNormPreload: Long = math.rint(65536.0f / 8.67f).toLong // 7559
  val TwoPowMinus16: Double = 1.52587890625e-5
  val TicksPerStatsBar = 144 // hardcoded, independent of bar-processor config (TickHotLoopF32.jl:50)

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
    * (reference: src/VolumeExpansion.jl:175-214). Input needs
    * (line_idx, ts_str, last, volume); extra columns pass through.
    *
    * Deltas are computed across *lines* before expansion; replica 1
    * carries the real delta, replicas 2..v carry 0; the stream's very
    * first tick carries 0. `tick_idx` = prefix-sum of volumes, dense and
    * 1-based over the expanded stream.
    */
  def expandVolume(lines: DataFrame): DataFrame = {
    val wLine = Window.orderBy("line_idx")
    val wCum = wLine.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      .withColumn("line_delta",
        coalesce(col("last") - lag("last", 1).over(wLine), lit(0)))
      .withColumn("cum_vol", sum("volume").over(wCum))
      .withColumn("replica_idx",
        explode(when(col("volume") >= 1, sequence(lit(1), col("volume")))
          .otherwise(array().cast("array<int>"))))
      .withColumn("tick_idx", col("cum_vol") - col("volume") + col("replica_idx"))
      .withColumn("timestamp", TickFunctions.encodeTimestamp(col("ts_str")))
      .withColumn("raw_price", col("last"))
      .withColumn("price_delta",
        when(col("replica_idx") === 1, col("line_delta")).otherwise(lit(0)))
      .drop("cum_vol")
  }

  // ----------------------------------------------------------------- T11-T24
  /** The hot loop: validation/hold-last, jump guard, winsorization,
    * 144-tick bar statistics, cumulative-mean normalization, Q16
    * fixed-point ratio, and one of four encoders — all as window
    * expressions over `tick_idx`.
    *
    * Input: (tick_idx, raw_price, price_delta [, ...passthrough]).
    * Output adds: signal_re, signal_im, normalization, status_flag.
    */
  def hotLoop(ticks: DataFrame, cfg: SignalConfig): DataFrame = {
    val wOrd = Window.orderBy("tick_idx")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)

    val minP = lit(cfg.minPrice); val maxP = lit(cfg.maxPrice)
    val maxJ = lit(cfg.maxJump); val winz = lit(cfg.winsorizeDeltaThreshold)

    // Stage 1: validation classes. `first_valid` is the cumulative min of
    // valid tick indices; four mutually exclusive row classes fall out
    // (reference: TickHotLoopF32.jl:302-343).
    val s1 = ticks
      .withColumn("valid", col("raw_price").between(minP, maxP))
      .withColumn("first_valid",
        min(when(col("valid"), col("tick_idx"))).over(wCum))
    val s2 = s1
      .withColumn("is_pre", !col("valid") && col("first_valid").isNull)
      .withColumn("is_hold", !col("valid") && col("first_valid").isNotNull)
      .withColumn("is_elig", col("valid") && col("tick_idx") =!= col("first_valid"))
      // Stage 2: jump guard then winsorize (order matters — reference
      // clips before bar statistics, TickHotLoopF32.jl:347-359).
      .withColumn("clip1", abs(col("price_delta")) > maxJ)
      .withColumn("d1", when(col("clip1"),
        when(col("price_delta") > 0, maxJ).otherwise(-maxJ)).otherwise(col("price_delta")))
      .withColumn("clip2", abs(col("d1")) > winz)
      .withColumn("d", when(col("clip2"),
        when(col("d1") > 0, winz).otherwise(-winz)).otherwise(col("d1")))
      .withColumn("flag_clip", col("clip1") || col("clip2"))
      // Stage 3: position among eligible ticks → 144-tick stats bars.
      .withColumn("elig_rn",
        sum(when(col("is_elig"), 1L).otherwise(0L)).over(wCum))
    val s3 = s2
      .withColumn("bar_id",
        when(col("is_elig"), floor((col("elig_rn") - 1) / lit(144.0)).cast("long")))
      .withColumn("bar_pos",
        when(col("is_elig"), col("elig_rn") - floor((col("elig_rn") - 1) / lit(144.0)).cast("long") * 144))
      .withColumn("is_boundary", col("is_elig") && col("bar_pos") === 144)
    // Stage 4: per-bar delta min/max (full-partition frame).
    val wBar = Window.partitionBy("bar_id")
    val s4 = s3
      .withColumn("bar_min", min(when(col("is_elig"), col("d"))).over(wBar))
      .withColumn("bar_max", max(when(col("is_elig"), col("d"))).over(wBar))
    // Stage 5: completed-bar cumulative sums. A bar's (min,max) enters the
    // running statistics exactly at its boundary tick, *before* that
    // tick's own normalization (TickHotLoopF32.jl:383-405), which the
    // current-row-inclusive frame reproduces.
    val s5 = s4
      .withColumn("k_bars",
        coalesce(sum(when(col("is_boundary"), 1L)).over(wCum), lit(0L)))
      .withColumn("sum_min",
        coalesce(sum(when(col("is_boundary"), col("bar_min"))).over(wCum), lit(0L)))
      .withColumn("sum_max",
        coalesce(sum(when(col("is_boundary"), col("bar_max"))).over(wCum), lit(0L)))
    // Stage 6: Q16 reciprocal + normalized ratio (TickHotLoopF32.jl:397-414).
    val norm = greatest(
      col("sum_max").cast("double") / col("k_bars") -
        col("sum_min").cast("double") / col("k_bars"), lit(1.0))
    val s6 = s5
      .withColumn("inv_q16", when(col("k_bars") === 0, lit(InvNormPreload))
        .otherwise(floor(lit(65536.0) / norm + 0.5).cast("long")))
      .withColumn("ratio", when(col("is_elig"),
        (col("d").cast("long") * col("inv_q16")).cast("double") * lit(TwoPowMinus16))
        .otherwise(lit(0.0)))
      .withColumn("normalization", when(col("is_elig"),
        lit(1.0) / (col("inv_q16").cast("double") * lit(TwoPowMinus16)))
        .otherwise(lit(1.0)))
      .withColumn("status_flag",
        when(col("is_hold"), lit(2))
          .when(col("is_elig") && col("flag_clip"), lit(4))
          .otherwise(lit(0)))

    // Stage 7: encoder (plan-time selection — no per-row dispatch,
    // TickHotLoopF32.jl:416-432).
    val encoded = cfg.encoderType match {
      case "derivative" =>
        val prev = coalesce(
          last(when(col("is_elig"), col("ratio")), ignoreNulls = true).over(wPrev),
          lit(0.0))
        // Hold/first ticks route through the zero-amplitude HEXAD16 path in
        // the reference — output (0,0); prev_ratio only advances on
        // eligible ticks (TickHotLoopF32.jl:310-318,257-282).
        s6.withColumn("signal_re", when(col("is_elig"), col("ratio")).otherwise(lit(0.0)) + 0.0)
          .withColumn("signal_im", when(col("is_elig"),
            (col("ratio") - prev) * lit(cfg.tickDerivativeImagScale.toDouble))
            .otherwise(lit(0.0)) + 0.0)
      case "hexad16" =>
        val phase = ((col("tick_idx") - 1) % 16).cast("int")
        s6.withColumn("signal_re",
            col("ratio") * TickFunctions.lutLookup(hexad16Re, phase + 1) + 0.0)
          .withColumn("signal_im",
            col("ratio") * TickFunctions.lutLookup(hexad16Im, phase + 1) + 0.0)
      case "cpm" =>
        val scale = 2.0 * cfg.cpmModulationIndex.toDouble * 2147483648.0
        val withAcc = s6
          .withColumn("inc", when(col("is_elig"),
            floor(col("ratio") * lit(scale) + 0.5).cast("long")).otherwise(lit(0L)))
          .withColumn("acc", pmod(sum(col("inc")).over(wCum), lit(4294967296L)))
          .withColumn("lut_idx", floor(col("acc") / lit(4194304.0)).cast("int"))
        withAcc
          .withColumn("signal_re", when(col("is_pre"), lit(0.0))
            .otherwise(TickFunctions.lutLookup(cpmLutRe, col("lut_idx") + 1)) + 0.0)
          .withColumn("signal_im", when(col("is_pre"), lit(0.0))
            .otherwise(TickFunctions.lutLookup(cpmLutIm, col("lut_idx") + 1)) + 0.0)
      case "amc" =>
        // Carrier advances by the hardcoded period-16 increment on every
        // encoder call (holds included); amc_carrier_period config is
        // deliberately not wired — reference quirk (TickHotLoopF32.jl:115).
        // honorAmcCarrierPeriod (default-off extension) derives the
        // increment from the configured period instead.
        val withAcc = s6
          .withColumn("enc_rn", sum(when(!col("is_pre"), 1L).otherwise(0L)).over(wCum))
          .withColumn("acc", pmod(col("enc_rn") * lit(cfg.amcIncrementQ32), lit(4294967296L)))
          .withColumn("lut_idx", floor(col("acc") / lit(4194304.0)).cast("int"))
        withAcc
          .withColumn("signal_re", when(col("is_pre"), lit(0.0))
            .otherwise(col("ratio") * TickFunctions.lutLookup(cpmLutRe, col("lut_idx") + 1)) + 0.0)
          .withColumn("signal_im", when(col("is_pre"), lit(0.0))
            .otherwise(col("ratio") * TickFunctions.lutLookup(cpmLutIm, col("lut_idx") + 1)) + 0.0)
      case other => throw new IllegalArgumentException(s"unknown encoder: $other")
    }

    encoded.drop("valid", "first_valid", "is_pre", "is_hold",
      "clip1", "d1", "d", "clip2", "flag_clip", "elig_rn", "bar_id", "bar_pos",
      "is_boundary", "bar_min", "bar_max", "k_bars", "sum_min", "sum_max",
      "inv_q16", "is_elig", "ratio", "inc", "acc", "lut_idx", "enc_rn")
  }

  /** Scalable volume expansion: identical semantics to [[expandVolume]]
    * but with a single distributed [[Scan]] pass (state = last price +
    * running volume sum) instead of two partition-less windows. Use for
    * large inputs; `expandVolume` and this agree row-for-row.
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

  /** Scalable hot loop: identical output to [[hotLoop]] (same expressions
    * in the same order), with NO partition-less window, NO broadcast of an
    * unbounded table, and NO extra shuffle. The whole reference recurrence
    * is strictly causal in `tick_idx`, so it lowers to ONE multi-round
    * [[Scan.scanRounds]] over the already-ordered stream — the input is
    * checkpointed once and each round is a lightweight fold job
    * ([[ScanStates]] holds the monoid algebras):
    *
    *   - round 0, [[ScanStates.EligState]]: row classes
    *     (pre/hold/first/eligible) + eligible-row and encoder-call
    *     numbering — the conditional two-branch prefix monoid;
    *   - round 1, [[ScanStates.BarSeg]]: cumulative 144-tick bar
    *     statistics (completed-bar count, sums of per-bar min/max
    *     winsorized delta, open-bar partial) — reads round 0's running
    *     eligible count for globally-aligned bar segmentation;
    *   - round 2 (derivative/cpm only): encoder chain state — the
    *     derivative's previous-eligible-ratio (last-wins) or the running
    *     CPM phase-increment sum, each reading rounds 0-1 to reconstruct
    *     the row's Q16 ratio. HEXAD16 and AMC are closed-form (phase from
    *     tick/encoder index) — no third round.
    *
    * Ordering contract: the scan asks for its input with
    * `orderBy("tick_idx")` and declares its output ordered by `tick_idx`.
    * Input whose producer declares that order (the expansion scans,
    * `spark.range`) costs no shuffle; any other input is range-sorted
    * once up front.
    */
  def hotLoopChunked(ticks: DataFrame, cfg: SignalConfig): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField}
    import Scan.Round
    import ScanStates._
    val minP = lit(cfg.minPrice); val maxP = lit(cfg.maxPrice)
    val maxJ = lit(cfg.maxJump); val winz = lit(cfg.winsorizeDeltaThreshold)

    val s1 = ticks.orderBy("tick_idx")
      .withColumn("valid", col("raw_price").between(minP, maxP))
      .withColumn("clip1", abs(col("price_delta")) > maxJ)
      .withColumn("d1", when(col("clip1"),
        when(col("price_delta") > 0, maxJ).otherwise(-maxJ)).otherwise(col("price_delta")))
      .withColumn("clip2", abs(col("d1")) > winz)
      .withColumn("d", when(col("clip2"),
        when(col("d1") > 0, winz).otherwise(-winz)).otherwise(col("d1")))
      .withColumn("flag_clip", col("clip1") || col("clip2"))

    val vIdx = s1.schema.fieldIndex("valid")
    val dIdx = s1.schema.fieldIndex("d")
    val preload = InvNormPreload // local copies: keep the scan closures
    val statsBar = TicksPerStatsBar // free of the enclosing object
    def invQ16(k: Long, sm: Long, sx: Long): Long =
      if (k == 0) preload
      else math.floor(65536.0 /
        math.max(sx.toDouble / k - sm.toDouble / k, 1.0) + 0.5).toLong
    // Row-inclusive Q16 reciprocal: a boundary tick's own bar enters the
    // running stats before that tick's ratio (matches the window
    // formulation and the reference, TickHotLoopF32.jl:383-405).
    def invFor(seg: BarSeg, rowElig: Boolean, rowBoundary: Boolean, d: Int): Long = {
      val (k, sm, sx, cmn, cmx, open) = barCumulative(seg)
      if (rowElig && rowBoundary) {
        val nm = if (open) math.min(cmn, d) else d
        val nx = if (open) math.max(cmx, d) else d
        invQ16(k + 1, sm + nm, sx + nx)
      } else invQ16(k, sm, sx)
    }
    // The Q16 ratio of an ELIGIBLE row, from the pre-row running states —
    // double arithmetic in the same shape as the `ratio` column below.
    def rowRatio(prev: Array[Any], r: InternalRow): Double = {
      val e = prev(0).asInstanceOf[EligState]
      val eligRn = e.eligNP + 1
      val d = r.getInt(dIdx)
      val inv = invFor(prev(1).asInstanceOf[BarSeg], rowElig = true,
        eligRn % statsBar == 0, d)
      (d.toLong * inv).toDouble * TwoPowMinus16
    }

    val eligRound: Round = new Round {
      def zero: Any = eligZero
      def lift(prev: Array[Any], r: InternalRow): Any = eligLift(r.getBoolean(vIdx))
      def combine(a: Any, b: Any): Any =
        eligCombine(a.asInstanceOf[EligState], b.asInstanceOf[EligState])
    }
    val barRound: Round = new Round {
      def zero: Any = barZero
      def lift(prev: Array[Any], r: InternalRow): Any = {
        val e = prev(0).asInstanceOf[EligState]
        if (!(r.getBoolean(vIdx) && e.anyValid)) barZero
        else {
          val eligRn = e.eligNP + 1
          barLift(isElig = true, (eligRn - 1) / statsBar,
            r.getInt(dIdx), eligRn % statsBar == 0)
        }
      }
      def combine(a: Any, b: Any): Any =
        barCombine(a.asInstanceOf[BarSeg], b.asInstanceOf[BarSeg])
    }
    val scaleCpm = 2.0 * cfg.cpmModulationIndex.toDouble * 2147483648.0
    val encRound: Option[Round] = cfg.encoderType match {
      case "derivative" => Some(new Round { // last eligible ratio, last-wins
        def zero: Any = (false, 0.0)
        def lift(prev: Array[Any], r: InternalRow): Any = {
          val e = prev(0).asInstanceOf[EligState]
          if (r.getBoolean(vIdx) && e.anyValid) (true, rowRatio(prev, r))
          else (false, 0.0)
        }
        def combine(a: Any, b: Any): Any = {
          val bb = b.asInstanceOf[(Boolean, Double)]
          if (bb._1) bb else a
        }
      })
      case "cpm" => Some(new Round { // running phase-increment sum
        def zero: Any = 0L
        def lift(prev: Array[Any], r: InternalRow): Any = {
          val e = prev(0).asInstanceOf[EligState]
          if (r.getBoolean(vIdx) && e.anyValid)
            math.floor(rowRatio(prev, r) * scaleCpm + 0.5).toLong
          else 0L
        }
        def combine(a: Any, b: Any): Any = a.asInstanceOf[Long] + b.asInstanceOf[Long]
      })
      case "hexad16" | "amc" => None
      case other => throw new IllegalArgumentException(s"unknown encoder: $other")
    }
    val isDeriv = cfg.encoderType == "derivative"
    val isCpm = cfg.encoderType == "cpm"

    val appended =
      Seq(StructField("is_pre", BooleanType, nullable = false),
        StructField("is_hold", BooleanType, nullable = false),
        StructField("is_elig", BooleanType, nullable = false),
        StructField("elig_rn", LongType, nullable = false),
        StructField("enc_rn", LongType, nullable = false),
        StructField("inv_q16", LongType, nullable = false)) ++
      (if (isDeriv) Seq(StructField("prev_ratio", DoubleType, nullable = false))
       else if (isCpm) Seq(StructField("cum_inc", LongType, nullable = false))
       else Nil)

    val scanned = Scan.scanRounds(s1, appended,
      IndexedSeq(eligRound, barRound) ++ encRound,
      (st, r) => {
        val e = st(0).asInstanceOf[EligState]
        val valid = r.getBoolean(vIdx); val seen = e.anyValid
        val isElig = valid && seen; val isPre = !valid && !seen
        val eligRn = e.eligNP + (if (isElig) 1L else 0L)
        val encRn = e.encNP + (if (!isPre) 1L else 0L)
        val boundary = isElig && eligRn % statsBar == 0
        val d = r.getInt(dIdx)
        val inv = invFor(st(1).asInstanceOf[BarSeg], isElig, boundary, d)
        val base = Seq[Any](isPre, !valid && seen, isElig, eligRn, encRn, inv)
        if (isDeriv) base :+ st(2).asInstanceOf[(Boolean, Double)]._2
        else if (isCpm) {
          val inc = if (isElig)
            math.floor((d.toLong * inv).toDouble * TwoPowMinus16 * scaleCpm + 0.5).toLong
          else 0L
          base :+ (st(2).asInstanceOf[Long] + inc) // inclusive running sum
        } else base
      },
      // The scan's input-order requirement, restated as a declared output
      // property: rows stay globally range-ordered by tick_idx, so the
      // declared queries' final `orderBy("tick_idx")` plans to nothing
      // (no Exchange, no Sort) instead of re-sorting the whole stream.
      orderedBy = Seq("tick_idx"))

    val s4 = scanned
      .withColumn("ratio", when(col("is_elig"),
        (col("d").cast("long") * col("inv_q16")).cast("double") * lit(TwoPowMinus16))
        .otherwise(lit(0.0)))
      .withColumn("normalization", when(col("is_elig"),
        lit(1.0) / (col("inv_q16").cast("double") * lit(TwoPowMinus16)))
        .otherwise(lit(1.0)))
      .withColumn("status_flag",
        when(col("is_hold"), lit(2))
          .when(col("is_elig") && col("flag_clip"), lit(4))
          .otherwise(lit(0)))

    val encoded = cfg.encoderType match {
      case "derivative" =>
        s4.withColumn("signal_re", when(col("is_elig"), col("ratio")).otherwise(lit(0.0)) + 0.0)
          .withColumn("signal_im", when(col("is_elig"),
            (col("ratio") - col("prev_ratio")) * lit(cfg.tickDerivativeImagScale.toDouble))
            .otherwise(lit(0.0)) + 0.0)
      case "hexad16" =>
        val phase = ((col("tick_idx") - 1) % 16).cast("int")
        s4.withColumn("signal_re",
            col("ratio") * TickFunctions.lutLookup(hexad16Re, phase + 1) + 0.0)
          .withColumn("signal_im",
            col("ratio") * TickFunctions.lutLookup(hexad16Im, phase + 1) + 0.0)
      case "cpm" =>
        s4.withColumn("acc", pmod(col("cum_inc"), lit(4294967296L)))
          .withColumn("lut_idx", floor(col("acc") / lit(4194304.0)).cast("int"))
          .withColumn("signal_re", when(col("is_pre"), lit(0.0))
            .otherwise(TickFunctions.lutLookup(cpmLutRe, col("lut_idx") + 1)) + 0.0)
          .withColumn("signal_im", when(col("is_pre"), lit(0.0))
            .otherwise(TickFunctions.lutLookup(cpmLutIm, col("lut_idx") + 1)) + 0.0)
      case "amc" =>
        // Carrier phase is closed-form in the encoder-call number from
        // round 0 (hardcoded period-16 increment — reference quirk,
        // TickHotLoopF32.jl:115; honorAmcCarrierPeriod derives it from
        // the configured period instead — default-off extension).
        s4.withColumn("acc", pmod(col("enc_rn") * lit(cfg.amcIncrementQ32), lit(4294967296L)))
          .withColumn("lut_idx", floor(col("acc") / lit(4194304.0)).cast("int"))
          .withColumn("signal_re", when(col("is_pre"), lit(0.0))
            .otherwise(col("ratio") * TickFunctions.lutLookup(cpmLutRe, col("lut_idx") + 1)) + 0.0)
          .withColumn("signal_im", when(col("is_pre"), lit(0.0))
            .otherwise(col("ratio") * TickFunctions.lutLookup(cpmLutIm, col("lut_idx") + 1)) + 0.0)
      case other => throw new IllegalArgumentException(s"unknown encoder: $other")
    }

    encoded.drop("valid", "is_pre", "is_hold", "is_elig",
      "clip1", "d1", "d", "clip2", "flag_clip", "elig_rn", "enc_rn",
      "inv_q16", "ratio", "acc", "lut_idx", "prev_ratio", "cum_inc")
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
