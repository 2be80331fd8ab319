package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{BarConfig, SignalConfig}
import graft.functions.TickFunctions

/** Oracle-checked queries exercising the tick pipeline on a deterministic
  * tick stream derived from the driver's lineitem table. The DuckDB SQL
  * restates the pipeline as window queries with the same arithmetic, so
  * outputs hash-match without tolerance:
  *   - the hot loop (t03-t06, t09) mirrors [[HotLoopKernel]] operation for
  *     operation: `FLOAT` (Float32) arithmetic, the Q16 reciprocal rounded
  *     with `round_even`, every signal component `+ 0` in `FLOAT`, results
  *     widened to DOUBLE;
  *   - expansion and bars (t01, t02, t07, t08, t10) mirror
  *     [[TickPipeline]]'s integer and double expressions in the same order,
  *     with the same LUT and coefficient literals via [[TickFunctions.dlit]].
  */
object TickQueries {

  private val cfg = SignalConfig(minPrice = 39000, maxPrice = 44000,
    maxJump = 50, winsorizeDeltaThreshold = 10, cpmModulationIndex = 0.5f,
    tickDerivativeImagScale = 2.0f)
  private val barCfg = BarConfig(enabled = true, ticksPerBar = 21,
    normalizationWindowBars = 120, winsorizeBarThreshold = 50,
    maxBarJump = 100, barDerivativeImagScale = 4.0f, barMethod = "boxcar")

  private def withCfg(enc: String) = cfg.copy(encoderType = enc)

  // ------------------------------------------------------------- SQL pieces

  /** Packed 8-byte ASCII timestamp (ts_str always has >= 8 chars here). */
  private val packedTsSql: String =
    (1 to 8).map(i => s"ascii(substring(ts_str, $i, 1)) * ${1L << (8 * (8 - i))}")
      .mkString(" + ")

  /** Shared derivation of the synthetic tick stream (mirrors
    * [[TickPipeline.syntheticTicks]] + [[TickPipeline.expandVolumeChunked]]).
    */
  private val ticksCte: String =
    s"""lines AS (
       |  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS line_idx,
       |         concat(CAST(20250301 + (l_orderkey + l_linenumber) % 28 AS VARCHAR),
       |           ' 070000 0000000') AS ts_str,
       |         CAST(39000 + (l_orderkey * 7 + l_linenumber * 131 + l_suppkey * 17) % 5200
       |           - 100 AS INTEGER) AS last,
       |         CAST(1 + (l_orderkey + l_linenumber) % 3 AS INTEGER) AS volume
       |  FROM lineitem),
       |deltas AS (
       |  SELECT *,
       |    COALESCE(last - lag(last) OVER (ORDER BY line_idx), 0) AS line_delta,
       |    SUM(volume) OVER (ORDER BY line_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vol
       |  FROM lines),
       |expanded AS (
       |  SELECT *, unnest(generate_series(1, volume)) AS replica_idx FROM deltas),
       |ticks AS (
       |  SELECT CAST(cum_vol - volume + replica_idx AS BIGINT) AS tick_idx,
       |         line_idx, replica_idx,
       |         $packedTsSql AS ts_packed,
       |         last AS raw_price,
       |         CASE WHEN replica_idx = 1 THEN line_delta ELSE 0 END AS price_delta
       |  FROM expanded)""".stripMargin

  /** `x` as a DuckDB `FLOAT`: the kernel's Float32 values. */
  private def f32(x: Any): String = s"CAST($x AS FLOAT)"
  private val zeroF = f32(0)

  /** The hot-loop chain up to ratio/normalization/flag: row classes,
    * clipping and 144-tick bar statistics as windows over `tick_idx`,
    * then [[HotLoopKernel.invQ16]], `ratio` and `normalization` in
    * `FLOAT`.
    */
  private val hotChainCte: String = {
    val minP = cfg.minPrice; val maxP = cfg.maxPrice
    val maxJ = cfg.maxJump; val winz = cfg.winsorizeDeltaThreshold
    val twoPowMinus16 = f32(TickFunctions.dlit(HotLoopKernel.TwoPowMinus16.toDouble))
    s"""h1 AS (
       |  SELECT t.*, (raw_price BETWEEN $minP AND $maxP) AS valid,
       |    min(CASE WHEN raw_price BETWEEN $minP AND $maxP THEN tick_idx END)
       |      OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS first_valid
       |  FROM ticks t),
       |h2 AS (
       |  SELECT *,
       |    (NOT valid) AND first_valid IS NULL AS is_pre,
       |    (NOT valid) AND first_valid IS NOT NULL AS is_hold,
       |    valid AND tick_idx <> first_valid AS is_elig,
       |    abs(price_delta) > $maxJ AS clip1,
       |    CASE WHEN abs(price_delta) > $maxJ
       |         THEN CASE WHEN price_delta > 0 THEN $maxJ ELSE -$maxJ END
       |         ELSE price_delta END AS d1
       |  FROM h1),
       |h3 AS (
       |  SELECT *,
       |    abs(d1) > $winz AS clip2,
       |    CASE WHEN abs(d1) > $winz
       |         THEN CASE WHEN d1 > 0 THEN $winz ELSE -$winz END
       |         ELSE d1 END AS d
       |  FROM h2),
       |h4 AS (
       |  SELECT *,
       |    (clip1 OR clip2) AS flag_clip,
       |    SUM(CASE WHEN is_elig THEN 1 ELSE 0 END)
       |      OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS elig_rn
       |  FROM h3),
       |h5 AS (
       |  SELECT *,
       |    CASE WHEN is_elig THEN CAST(floor((elig_rn - 1) / 144.0) AS BIGINT) END AS bar_id,
       |    CASE WHEN is_elig
       |         THEN elig_rn - CAST(floor((elig_rn - 1) / 144.0) AS BIGINT) * 144 END AS bar_pos
       |  FROM h4),
       |h6 AS (
       |  SELECT *,
       |    is_elig AND bar_pos = 144 AS is_boundary,
       |    min(CASE WHEN is_elig THEN d END) OVER (PARTITION BY bar_id) AS bar_min,
       |    max(CASE WHEN is_elig THEN d END) OVER (PARTITION BY bar_id) AS bar_max
       |  FROM h5),
       |h7 AS (
       |  SELECT *,
       |    COALESCE(SUM(CASE WHEN is_boundary THEN 1 END)
       |      OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |      AS k_bars,
       |    COALESCE(SUM(CASE WHEN is_boundary THEN bar_min END)
       |      OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |      AS sum_min,
       |    COALESCE(SUM(CASE WHEN is_boundary THEN bar_max END)
       |      OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |      AS sum_max
       |  FROM h6),
       |h8 AS (
       |  SELECT *,
       |    CASE WHEN k_bars = 0 THEN ${HotLoopKernel.InvNormPreloadQ16}
       |         ELSE CAST(round_even(${f32(65536)} / CAST(greatest(
       |                CAST(sum_max AS DOUBLE) / k_bars - CAST(sum_min AS DOUBLE) / k_bars,
       |                1.0) AS FLOAT), 0) AS INTEGER) END AS inv_q16
       |  FROM h7),
       |h9 AS (
       |  SELECT *,
       |    CASE WHEN is_elig
       |         THEN CAST(CAST(d AS BIGINT) * inv_q16 AS FLOAT) * $twoPowMinus16
       |         ELSE $zeroF END AS ratio,
       |    CASE WHEN is_elig
       |         THEN ${f32(1)} / (CAST(inv_q16 AS FLOAT) * $twoPowMinus16)
       |         ELSE ${f32(1)} END AS normalization,
       |    CASE WHEN is_hold THEN 2
       |         WHEN is_elig AND (clip1 OR clip2) THEN 4
       |         ELSE 0 END AS status_flag
       |  FROM h8)""".stripMargin
  }

  private val outCols =
    "tick_idx, raw_price, price_delta, status_flag, signal_re, signal_im, normalization"
  private val normDouble = "CAST(normalization AS DOUBLE) AS normalization"

  /** `(lut)[idx + 1]` as a `FLOAT`: the kernel's Float32 LUT entry. */
  private def lutAt(lut: Array[Double], idx: String): String =
    f32(s"(${TickFunctions.sqlArray(lut)})[CAST($idx AS INTEGER) + 1]")

  // ---------------------------------------------------------------- queries

  /** T2/T3: line parsing with malformed/blank drop + timestamp packing.
    * The synthetic line build sits behind a [[Scan.planFenceOrdered]]: a
    * real tick source is a text-file scan (a natural optimizer boundary),
    * and without the fence PushDownPredicates inlines five copies of the
    * whole line-builder into the parse filter — a generated method far
    * past the JIT budget.
    */
  def qTickParse(s: SparkSession, d: String): DataFrame = {
    // The ordered fence declares the synthetic lines' true line_idx range
    // order (they come off the global-index scan in order), so the final
    // orderBy("orig_line") — an alias chain down to line_idx — plans to
    // nothing instead of re-sorting the parsed stream.
    val lines = Scan.planFenceOrdered(TickPipeline.syntheticTicks(s, d)
      .select(col("line_idx"),
        when(col("line_idx") % 97 === 0, lit("malformed;data"))
          .when(col("line_idx") % 89 === 0, lit(""))
          .otherwise(concat(col("ts_str"), lit(";"), (col("last") - 1).cast("string"),
            lit(";"), col("last").cast("string"), lit(";"), col("last").cast("string"),
            lit(";"), col("volume").cast("string"))).as("value")), Seq("line_idx"))
      .where(length(trim(col("value"))) > 0)
    TickPipeline.parseTickLines(lines, col("value"), col("line_idx"))
      .select(col("file_pos").as("orig_line"),
        TickFunctions.encodeTimestamp(col("ts_str")).as("ts_packed"),
        col("bid"), col("ask"), col("last"), col("volume"))
      .orderBy("orig_line")
  }
  val qTickParseSql: String =
    s"""WITH $ticksCte,
       |raw AS (
       |  SELECT line_idx,
       |    CASE WHEN line_idx % 97 = 0 THEN 'malformed;data'
       |         WHEN line_idx % 89 = 0 THEN ''
       |         ELSE concat(ts_str, ';', CAST(last - 1 AS VARCHAR), ';',
       |              CAST(last AS VARCHAR), ';', CAST(last AS VARCHAR),
       |              ';', CAST(volume AS VARCHAR)) END AS value
       |  FROM lines),
       |nonblank AS (SELECT * FROM raw WHERE length(trim(value)) > 0),
       |parsed AS (
       |  SELECT line_idx AS orig_line,
       |    trim(string_split(value, ';')[1]) AS ts_str,
       |    TRY_CAST(trim(string_split(value, ';')[2]) AS INTEGER) AS bid,
       |    TRY_CAST(trim(string_split(value, ';')[3]) AS INTEGER) AS ask,
       |    TRY_CAST(trim(string_split(value, ';')[4]) AS INTEGER) AS last,
       |    TRY_CAST(trim(string_split(value, ';')[5]) AS INTEGER) AS volume,
       |    len(string_split(value, ';')) AS n_fields
       |  FROM nonblank)
       |SELECT orig_line, $packedTsSql AS ts_packed, bid, ask, last, volume
       |FROM parsed
       |WHERE n_fields = 5 AND bid IS NOT NULL AND ask IS NOT NULL
       |  AND last IS NOT NULL AND volume IS NOT NULL
       |ORDER BY orig_line""".stripMargin

  /** T7-T9: volume expansion with replica-delta semantics + dense index
    * (scalable single-Scan variant; equality with the window variant is
    * asserted in ChunkedParitySpec and by this oracle).
    */
  def qVolumeExpansion(s: SparkSession, d: String): DataFrame =
    // The expansion declares its tick_idx order, so the final orderBy
    // plans to nothing.
    TickPipeline.syntheticTicksExpanded(s, d)
      .select(col("tick_idx"), col("line_idx"), col("replica_idx").cast("long"),
        col("timestamp").as("ts_packed"), col("raw_price"), col("price_delta"))
      .orderBy("tick_idx")
  val qVolumeExpansionSql: String =
    s"""WITH $ticksCte
       |SELECT tick_idx, line_idx, replica_idx, ts_packed, raw_price, price_delta
       |FROM ticks ORDER BY tick_idx""".stripMargin

  private def hotQuery(enc: String)(s: SparkSession, d: String): DataFrame =
    TickPipeline.hotLoopChunked(
      // The hot queries never read `timestamp`: skip the ts_str build and
      // keep the scan checkpoints all-primitive (see syntheticTicksExpanded).
      TickPipeline.syntheticTicksExpanded(s, d, withTimestamp = false)
        .select("tick_idx", "raw_price", "price_delta"),
      withCfg(enc))
      .select("tick_idx", "raw_price", "price_delta", "status_flag",
        "signal_re", "signal_im", "normalization")
      .orderBy("tick_idx")

  private def hotSql(encoderSelect: String, extraCte: String = ""): String =
    s"""WITH $ticksCte,
       |$hotChainCte$extraCte
       |$encoderSelect
       |ORDER BY tick_idx""".stripMargin

  /** T23: derivative encoder (shipped default). */
  def qHotDerivative(s: SparkSession, d: String): DataFrame = hotQuery("derivative")(s, d)
  val qHotDerivativeSql: String = hotSql(
    s"""SELECT $outCols FROM (
       |  SELECT tick_idx, raw_price, price_delta, status_flag, $normDouble,
       |    CAST(ratio + $zeroF AS DOUBLE) AS signal_re,
       |    CAST((CASE WHEN is_elig THEN (ratio - COALESCE(
       |        last_value(CASE WHEN is_elig THEN ratio END IGNORE NULLS)
       |          OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |        $zeroF)) * ${f32(TickFunctions.dlit(cfg.tickDerivativeImagScale.toDouble))}
       |     ELSE $zeroF END) + $zeroF AS DOUBLE) AS signal_im
       |  FROM h9)""".stripMargin)

  /** T20: HEXAD-16 discrete 16-phase encoder. */
  def qHotHexad16(s: SparkSession, d: String): DataFrame = hotQuery("hexad16")(s, d)
  val qHotHexad16Sql: String = hotSql(
    s"""SELECT $outCols FROM (
       |  SELECT tick_idx, raw_price, price_delta, status_flag, $normDouble,
       |    CAST(ratio * ${lutAt(TickFunctions.hexad16Re, "(tick_idx - 1) % 16")}
       |      + $zeroF AS DOUBLE) AS signal_re,
       |    CAST(ratio * ${lutAt(TickFunctions.hexad16Im, "(tick_idx - 1) % 16")}
       |      + $zeroF AS DOUBLE) AS signal_im
       |  FROM h9)""".stripMargin)

  /** T21: CPM encoder — phase accumulator as cumulative sum with mod-2^32
    * wraparound; LUT index from the top 10 bits.
    */
  def qHotCpm(s: SparkSession, d: String): DataFrame = hotQuery("cpm")(s, d)
  val qHotCpmSql: String = {
    val scale = f32(TickFunctions.dlit(HotLoopKernel.cpmPhaseScale(cfg).toDouble))
    hotSql(
      s"""SELECT $outCols FROM (
         |  SELECT tick_idx, raw_price, price_delta, status_flag, $normDouble,
         |    CAST(CASE WHEN is_pre THEN $zeroF ELSE ${lutAt(TickFunctions.cpmLutRe, "lut_idx")}
         |    END + $zeroF AS DOUBLE) AS signal_re,
         |    CAST(CASE WHEN is_pre THEN $zeroF ELSE ${lutAt(TickFunctions.cpmLutIm, "lut_idx")}
         |    END + $zeroF AS DOUBLE) AS signal_im
         |  FROM hcpm)""".stripMargin,
      extraCte =
        s""",
           |hinc AS (
           |  SELECT *, CASE WHEN is_elig
           |    THEN CAST(round_even(ratio * $scale, 0) AS BIGINT) ELSE 0 END AS inc
           |  FROM h9),
           |hcpm AS (
           |  SELECT *,
           |    CAST(floor(((SUM(inc) OVER (ORDER BY tick_idx
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      % 4294967296 + 4294967296) % 4294967296) / 4194304.0) AS BIGINT) AS lut_idx
           |  FROM hinc)""".stripMargin)
  }

  /** T22: AMC encoder — closed-form carrier (hardcoded period 16,
    * reference quirk) amplitude-modulated by the normalized ratio.
    */
  def qHotAmc(s: SparkSession, d: String): DataFrame = hotQuery("amc")(s, d)
  val qHotAmcSql: String = hotSql(
    s"""SELECT $outCols FROM (
       |  SELECT tick_idx, raw_price, price_delta, status_flag, $normDouble,
       |    CAST(CASE WHEN is_pre THEN $zeroF ELSE ratio * ${lutAt(TickFunctions.cpmLutRe, "lut_idx")}
       |    END + $zeroF AS DOUBLE) AS signal_re,
       |    CAST(CASE WHEN is_pre THEN $zeroF ELSE ratio * ${lutAt(TickFunctions.cpmLutIm, "lut_idx")}
       |    END + $zeroF AS DOUBLE) AS signal_im
       |  FROM hamc)""".stripMargin,
    extraCte =
      s""",
         |hamc AS (
         |  SELECT *,
         |    CAST(floor(((SUM(CASE WHEN NOT is_pre THEN 1 ELSE 0 END)
         |        OVER (ORDER BY tick_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      * ${cfg.amcIncrementQ32}) % 4294967296) / 4194304.0) AS BIGINT) AS lut_idx
         |  FROM h9)""".stripMargin)

  /** T26-T33: boxcar bar processor over all ticks. */
  def qBarsBoxcar(s: SparkSession, d: String): DataFrame =
    TickPipeline.bars(TickPipeline.syntheticTicksExpanded(s, d), barCfg)
      .orderBy("bar_idx")
  /** Bar chain SQL from a `complete` CTE carrying
    * (bar_idx, OHLC, bar_average_raw, bar_end_timestamp).
    */
  private def barsChainSql(prefixCtes: String): String = {
    val n = barCfg.ticksPerBar
    s"""WITH $ticksCte,
       |$prefixCtes,
       |norm0 AS (
       |  SELECT *,
       |    SUM(CAST(bar_high_raw AS BIGINT)) OVER wc AS cum_high,
       |    SUM(CAST(bar_low_raw AS BIGINT)) OVER wc AS cum_low,
       |    lag(bar_average_raw) OVER (ORDER BY bar_idx) AS prev_avg
       |  FROM complete
       |  WINDOW wc AS (ORDER BY bar_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |norm AS (
       |  SELECT *,
       |    COALESCE(last_value(CASE WHEN bar_idx % ${barCfg.normalizationWindowBars} = 0
       |      THEN greatest(
       |        CAST(cum_high AS DOUBLE) / bar_idx -
       |        CAST(cum_low AS DOUBLE) / bar_idx, 1.0)
       |      END IGNORE NULLS) OVER
       |      (ORDER BY bar_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |      1.0) AS bar_normalization
       |  FROM norm0),
       |delta AS (
       |  SELECT *, COALESCE(bar_average_raw - prev_avg, 0) AS d0 FROM norm),
       |clipped AS (
       |  SELECT *,
       |    abs(d0) > ${barCfg.maxBarJump} AS clip1,
       |    CASE WHEN abs(d0) > ${barCfg.maxBarJump}
       |         THEN CASE WHEN d0 > 0 THEN ${barCfg.maxBarJump} ELSE -${barCfg.maxBarJump} END
       |         ELSE d0 END AS d1
       |  FROM delta),
       |final AS (
       |  SELECT *,
       |    abs(d1) > ${barCfg.winsorizeBarThreshold} AS clip2,
       |    CASE WHEN abs(d1) > ${barCfg.winsorizeBarThreshold}
       |         THEN CASE WHEN d1 > 0 THEN ${barCfg.winsorizeBarThreshold}
       |              ELSE -${barCfg.winsorizeBarThreshold} END
       |         ELSE d1 END AS bar_price_delta
       |  FROM clipped)
       |SELECT bar_idx, $n AS bar_ticks, $n AS bar_volume,
       |  bar_open_raw, bar_high_raw, bar_low_raw, bar_close_raw, bar_average_raw,
       |  bar_price_delta,
       |  CAST(bar_price_delta AS DOUBLE) / bar_normalization + 0.0 AS bar_signal_re,
       |  (CAST(bar_average_raw AS DOUBLE) / bar_normalization -
       |   COALESCE(CAST(prev_avg AS DOUBLE) / bar_normalization, 0.0))
       |    * ${TickFunctions.dlit(barCfg.barDerivativeImagScale.toDouble)} + 0.0 AS bar_signal_im,
       |  bar_normalization,
       |  CASE WHEN clip1 OR clip2 THEN 4 ELSE 0 END AS bar_flags,
       |  bar_end_timestamp
       |FROM final ORDER BY bar_idx""".stripMargin
  }

  private def aggCte: String = {
    val n = barCfg.ticksPerBar
    s"""agg AS (
       |  SELECT CAST(floor((tick_idx - 1) / ${n}.0) AS BIGINT) AS bar_id0,
       |    COUNT(*) AS cnt,
       |    min_by(raw_price, tick_idx) AS bar_open_raw,
       |    max(raw_price) AS bar_high_raw,
       |    min(raw_price) AS bar_low_raw,
       |    max_by(raw_price, tick_idx) AS bar_close_raw,
       |    max_by(ts_packed, tick_idx) AS bar_end_timestamp
       |  FROM ticks GROUP BY 1)""".stripMargin
  }

  val qBarsBoxcarSql: String = {
    val n = barCfg.ticksPerBar
    barsChainSql(
      s"""$aggCte,
         |complete AS (
         |  SELECT *, bar_id0 + 1 AS bar_idx,
         |    CAST(floor(CAST(bar_high_raw + bar_low_raw + bar_close_raw AS DOUBLE)
         |      / 3.0 + 0.5) AS INTEGER) AS bar_average_raw
         |  FROM agg WHERE cnt = $n)""".stripMargin)
  }

  /** T28/T29: FIR anti-aliasing bar average — scatter/gather convolution
    * with order-independent fixed-point accumulation, coefficients shared
    * with the oracle as literals.
    */
  def qBarsFir(s: SparkSession, d: String): DataFrame =
    TickPipeline.bars(TickPipeline.syntheticTicksExpanded(s, d),
      barCfg.copy(barMethod = "FIR"))
      .orderBy("bar_idx")
  val qBarsFirSql: String = {
    val n = barCfg.ticksPerBar
    val coeffs = graft.functions.FirFilter.predefined(n)
    val taps = coeffs.length
    barsChainSql(
      s"""$aggCte,
         |scat AS (
         |  SELECT tick_idx, raw_price,
         |    unnest(generate_series(
         |      ((tick_idx + ${n - 1}) // $n) * $n,
         |      ((tick_idx + ${taps - 1}) // $n) * $n,
         |      $n)) AS b_tick
         |  FROM ticks),
         |fir AS (
         |  SELECT b_tick // $n AS bar_idx,
         |    CAST(floor(CAST(SUM(CAST(floor(
         |        cf[CAST(b_tick - tick_idx + 1 AS INTEGER)] * raw_price * 1e9 + 0.5)
         |      AS BIGINT)) AS DOUBLE) / 1e9 + 0.5) AS INTEGER) AS bar_average_raw
         |  FROM scat, (SELECT ${TickFunctions.sqlArray(coeffs)} AS cf) const
         |  GROUP BY 1),
         |complete AS (
         |  SELECT a.*, a.bar_id0 + 1 AS bar_idx, f.bar_average_raw
         |  FROM agg a JOIN fir f ON a.bar_id0 + 1 = f.bar_idx
         |  WHERE a.cnt = $n)""".stripMargin)
  }

  /** T4: the 7-column tick capture window over the derivative hot loop
    * (skip 100 ticks, take 2000) — the capture sink's projection/filter
    * under the oracle.
    */
  def qTickCapture(s: SparkSession, d: String): DataFrame =
    // The capture casts tick_idx long→int, which breaks Catalyst's
    // alias-aware ordering propagation from the hot-loop scan even though
    // the cast is monotone (values < 2^31 here by the capture window;
    // the capture raises past Int.MaxValue instead of wrapping).
    // The ordered fence re-declares the (unchanged) row order over the
    // 2000 captured rows so the final orderBy stays a no-op.
    Scan.planFenceOrdered(
      graft.sources.Capture.tickCapture(
        TickPipeline.hotLoopChunked(
          TickPipeline.syntheticTicksExpanded(s, d, withTimestamp = false)
            .select("tick_idx", "raw_price", "price_delta"),
          withCfg("derivative")),
        tickStart = 100, numRecords = 2000), Seq("tick_idx"))
      .orderBy("tick_idx")
  val qTickCaptureSql: String =
    s"""SELECT CAST(tick_idx AS INTEGER) AS tick_idx,
       |  CAST(raw_price AS INTEGER) AS raw_price,
       |  CAST(price_delta AS INTEGER) AS price_delta,
       |  CAST(signal_re AS REAL) AS complex_signal_real,
       |  CAST(signal_im AS REAL) AS complex_signal_imag,
       |  CAST(normalization AS REAL) AS normalization,
       |  CAST(status_flag AS TINYINT) AS status_flag
       |FROM ($qHotDerivativeSql)
       |WHERE tick_idx > 100 AND tick_idx <= 2100
       |ORDER BY tick_idx""".stripMargin

  /** T4: the 11-column bar capture over the boxcar bar chain. */
  def qBarCapture(s: SparkSession, d: String): DataFrame =
    graft.sources.Capture.barCapture(
      TickPipeline.bars(TickPipeline.syntheticTicksExpanded(s, d), barCfg),
      ticksPerBar = barCfg.ticksPerBar, tickStart = 0, numRecords = 500)
      .orderBy("bar_idx")
  val qBarCaptureSql: String =
    s"""SELECT CAST(bar_idx AS BIGINT) AS bar_idx,
       |  CAST(bar_open_raw AS INTEGER) AS bar_open_raw,
       |  CAST(bar_high_raw AS INTEGER) AS bar_high_raw,
       |  CAST(bar_low_raw AS INTEGER) AS bar_low_raw,
       |  CAST(bar_close_raw AS INTEGER) AS bar_close_raw,
       |  CAST(bar_volume AS INTEGER) AS bar_volume,
       |  CAST(bar_ticks AS INTEGER) AS bar_ticks,
       |  CAST(bar_signal_re AS REAL) AS bar_complex_signal_real,
       |  CAST(bar_signal_im AS REAL) AS bar_complex_signal_imag,
       |  CAST(bar_normalization AS REAL) AS bar_normalization,
       |  CAST(bar_flags AS TINYINT) AS bar_flags
       |FROM ($qBarsBoxcarSql)
       |WHERE bar_idx > 0 AND bar_idx <= 500
       |ORDER BY bar_idx""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_tick_parse" -> qTickParse _,
    "t02_volume_expansion" -> qVolumeExpansion _,
    "t03_hotloop_derivative" -> qHotDerivative _,
    "t04_hotloop_hexad16" -> qHotHexad16 _,
    "t05_hotloop_cpm" -> qHotCpm _,
    "t06_hotloop_amc" -> qHotAmc _,
    "t07_bars_boxcar" -> qBarsBoxcar _,
    "t08_bars_fir" -> qBarsFir _,
    "t09_tick_capture" -> qTickCapture _,
    "t10_bar_capture" -> qBarCapture _
  )

  val oracles: Map[String, String] = Map(
    "t01_tick_parse" -> qTickParseSql,
    "t02_volume_expansion" -> qVolumeExpansionSql,
    "t03_hotloop_derivative" -> qHotDerivativeSql,
    "t04_hotloop_hexad16" -> qHotHexad16Sql,
    "t05_hotloop_cpm" -> qHotCpmSql,
    "t06_hotloop_amc" -> qHotAmcSql,
    "t07_bars_boxcar" -> qBarsBoxcarSql,
    "t08_bars_fir" -> qBarsFirSql,
    "t09_tick_capture" -> qTickCaptureSql,
    "t10_bar_capture" -> qBarCaptureSql
  )
}
