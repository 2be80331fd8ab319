package graft.config

/** Signal-processing (hot-loop) parameters. Defaults mirror the
  * reference's struct defaults (reference: src/PipelineConfig.jl:44-56);
  * `shipped` mirrors config/pipeline/default.toml.
  */
case class SignalConfig(
    agcAlpha: Float = 0.125f,
    agcMinScale: Int = 4,
    agcMaxScale: Int = 50,
    winsorizeDeltaThreshold: Int = 10,
    minPrice: Int = 36600,
    maxPrice: Int = 43300,
    maxJump: Int = 50,
    encoderType: String = "amc",
    cpmModulationIndex: Float = 0.5f,
    cpmLutSize: Int = 1024,
    amcCarrierPeriod: Float = 16.0f, // validated but never wired in the reference (TickHotLoopF32.jl:115)
    amcLutSize: Int = 1024,
    // Default-off extension: when true, the AMC carrier increment is
    // derived from amcCarrierPeriod instead of the reference's hardcoded
    // period 16. Off reproduces the reference quirk bit-for-bit.
    honorAmcCarrierPeriod: Boolean = false,
    tickDerivativeImagScale: Float = 4.0f
) {
  /** AMC carrier phase increment per encoder call, in Q32 turns: the
    * reference's hardcoded 2^32/16 (TickHotLoopF32.jl:115 ignores its own
    * amc_carrier_period), unless honorAmcCarrierPeriod derives it from
    * the configured period. The one definition for the batch and
    * streaming hot loops.
    */
  def amcIncrementQ32: Long =
    if (honorAmcCarrierPeriod) math.floor(4294967296.0 / amcCarrierPeriod + 0.5).toLong
    else 268435456L

  def validate(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (agcAlpha <= 0f || agcAlpha >= 1f) errs += s"agc_alpha must be in (0,1): $agcAlpha"
    if (agcMinScale <= 0) errs += "agc_min_scale must be positive"
    if (agcMaxScale < agcMinScale) errs += "agc_max_scale must be >= agc_min_scale"
    if (winsorizeDeltaThreshold <= 0) errs += "winsorize_delta_threshold must be positive"
    if (minPrice <= 0) errs += "min_price must be positive"
    if (maxPrice <= minPrice) errs += "max_price must be > min_price"
    if (maxJump <= 0) errs += "max_jump must be positive"
    if (!Set("hexad16", "cpm", "amc", "derivative").contains(encoderType))
      errs += s"unknown encoder_type: $encoderType"
    if (cpmModulationIndex <= 0f || cpmModulationIndex > 1f)
      errs += s"cpm_modulation_index must be in (0,1]: $cpmModulationIndex"
    if (cpmLutSize != 1024) errs += "cpm_lut_size must be 1024"
    if (amcLutSize != 1024) errs += "amc_lut_size must be 1024"
    if (amcCarrierPeriod <= 0f) errs += "amc_carrier_period must be positive"
    if (tickDerivativeImagScale <= 0f) errs += "tick_derivative_imag_scale must be positive"
    errs.result()
  }
}

/** Bar-processing parameters (reference: src/PipelineConfig.jl:100-115). */
case class BarConfig(
    enabled: Boolean = false,
    ticksPerBar: Int = 21,
    normalizationWindowBars: Int = 120,
    winsorizeBarThreshold: Int = 50,
    maxBarJump: Int = 100,
    barDerivativeImagScale: Float = 4.0f,
    barMethod: String = "boxcar"
) {
  def validate(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (ticksPerBar <= 0) errs += "ticks_per_bar must be positive"
    if (normalizationWindowBars <= 0) errs += "normalization_window_bars must be positive"
    if (winsorizeBarThreshold <= 0) errs += "winsorize_bar_threshold must be positive"
    if (maxBarJump <= 0) errs += "max_bar_jump must be positive"
    if (barDerivativeImagScale <= 0f) errs += "bar_derivative_imag_scale must be positive"
    if (!Set("boxcar", "FIR").contains(barMethod)) errs += s"bar_method must be boxcar|FIR: $barMethod"
    errs.result()
  }
}

case class FlowControlConfig(delayMs: Double = 0.0)
case class ChannelConfig(priorityBufferSize: Int = 4096, standardBufferSize: Int = 2048)
case class PerformanceConfig(
    targetLatencyUs: Int = 500, maxLatencyUs: Int = 1000, targetThroughputTps: Float = 10000.0f)

case class PipelineConfig(
    pipelineName: String = "default",
    tickFilePath: String = "",
    signal: SignalConfig = SignalConfig(),
    bars: BarConfig = BarConfig(),
    flow: FlowControlConfig = FlowControlConfig(),
    channels: ChannelConfig = ChannelConfig(),
    performance: PerformanceConfig = PerformanceConfig()
) {
  def validate(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    errs ++= signal.validate()
    errs ++= bars.validate()
    if (flow.delayMs < 0) errs += "delay_ms must be >= 0"
    if (channels.priorityBufferSize <= 0) errs += "priority_buffer_size must be positive"
    if (channels.standardBufferSize <= 0) errs += "standard_buffer_size must be positive"
    if (performance.targetLatencyUs <= 0) errs += "target_latency_us must be positive"
    if (performance.maxLatencyUs < performance.targetLatencyUs)
      errs += "max_latency_us must be >= target_latency_us"
    errs.result()
  }
}

object PipelineConfig {
  /** The reference's shipped config (reference: config/pipeline/default.toml). */
  val shipped: PipelineConfig = PipelineConfig(
    signal = SignalConfig(
      encoderType = "derivative",
      cpmModulationIndex = 0.2f,
      tickDerivativeImagScale = 2.0f),
    bars = BarConfig(
      enabled = true,
      ticksPerBar = 21,
      normalizationWindowBars = 120,
      winsorizeBarThreshold = 50,
      maxBarJump = 100,
      barDerivativeImagScale = 4.0f,
      barMethod = "FIR")
  )

  /** Minimal TOML-subset loader covering the reference's config files:
    * `[section]` headers, `key = value` with string/int/float/bool values,
    * `#` comments (only outside quoted strings).
    *
    * Fallbacks for missing keys mirror `load_config_from_toml`'s literal
    * defaults (reference: src/PipelineConfig.jl:397-459), which differ
    * from the struct-constructor defaults: agc_alpha 0.0625 (not 0.125),
    * min_price 39000, max_price 44000, encoder "cpm" (not "amc"),
    * pipeline_name "loaded", tick_file_path "data/raw/YM 06-25.Last.txt".
    */
  def fromToml(text: String): PipelineConfig = {
    var section = ""
    val kv = scala.collection.mutable.Map[String, String]()
    // Strip '#' comments, but not inside a double-quoted value.
    def stripComment(line: String): String = {
      var inQuote = false
      var escaped = false
      val b = new StringBuilder
      var done = false
      line.foreach { c =>
        if (!done) {
          // Mirror the unescape pass: inside a quoted value a backslash
          // protects the next character, so an escaped quote (\") must
          // not flip inQuote (else `name = "say \"#hi\""` truncates at
          // the '#' and breaks the save->load round-trip).
          if (escaped) { b += c; escaped = false }
          else if (c == '\\' && inQuote) { b += c; escaped = true }
          else if (c == '"') { inQuote = !inQuote; b += c }
          else if (c == '#' && !inQuote) done = true
          else b += c
        }
      }
      b.result()
    }
    // TOML basic-string unescape (the inverse of toToml's q): a single
    // left-to-right pass so "\\\"" decodes as backslash-then-quote.
    def unescape(s: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '"'  => b += '"';  i += 2
            case '\\' => b += '\\'; i += 2
            case 'n'  => b += '\n'; i += 2
            case 't'  => b += '\t'; i += 2
            case other => b += c; b += other; i += 2
          }
        } else { b += c; i += 1 }
      }
      b.result()
    }
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.startsWith("[") && line.endsWith("]")) section = line.substring(1, line.length - 1).trim
      else if (line.contains("=")) {
        val Array(k, v) = line.split("=", 2)
        val key = (if (section.isEmpty) "" else section + ".") + k.trim
        val t = v.trim
        kv(key) =
          if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
            unescape(t.substring(1, t.length - 1))
          else t
      }
    }
    // Wrap value parsing so a malformed value reports its key.
    def parse[A](k: String, raw: String, what: String, f: String => A): A =
      try f(raw)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"config key '$k': cannot parse '$raw' as $what", e)
      }
    def s(k: String, d: String) = kv.getOrElse(k, d)
    def i(k: String, d: Int) = kv.get(k).map(x => parse(k, x, "int", _.toDouble.toInt)).getOrElse(d)
    def f(k: String, d: Float) = kv.get(k).map(x => parse(k, x, "float", _.toFloat)).getOrElse(d)
    def dd(k: String, d: Double) = kv.get(k).map(x => parse(k, x, "double", _.toDouble)).getOrElse(d)
    def b(k: String, d: Boolean) = kv.get(k).map(x => parse(k, x, "bool", _.toBoolean)).getOrElse(d)
    PipelineConfig(
      pipelineName = s("pipeline_name", "loaded"),
      tickFilePath = s("tick_file_path", "data/raw/YM 06-25.Last.txt"),
      signal = SignalConfig(
        agcAlpha = f("signal_processing.agc_alpha", 0.0625f),
        agcMinScale = i("signal_processing.agc_min_scale", 4),
        agcMaxScale = i("signal_processing.agc_max_scale", 50),
        winsorizeDeltaThreshold = i("signal_processing.winsorize_delta_threshold", 10),
        minPrice = i("signal_processing.min_price", 39000),
        maxPrice = i("signal_processing.max_price", 44000),
        maxJump = i("signal_processing.max_jump", 50),
        encoderType = s("signal_processing.encoder_type", "cpm"),
        cpmModulationIndex = f("signal_processing.cpm_modulation_index", 0.5f),
        cpmLutSize = i("signal_processing.cpm_lut_size", 1024),
        amcCarrierPeriod = f("signal_processing.amc_carrier_period", 16.0f),
        amcLutSize = i("signal_processing.amc_lut_size", 1024),
        honorAmcCarrierPeriod = b("signal_processing.honor_amc_carrier_period", false),
        tickDerivativeImagScale = f("signal_processing.tick_derivative_imag_scale", 4.0f)),
      bars = BarConfig(
        enabled = b("bar_processing.enabled", false),
        ticksPerBar = i("bar_processing.ticks_per_bar", 21),
        normalizationWindowBars = i("bar_processing.normalization_window_bars", 120),
        winsorizeBarThreshold = i("bar_processing.winsorize_bar_threshold", 50),
        maxBarJump = i("bar_processing.max_bar_jump", 100),
        barDerivativeImagScale = f("bar_processing.bar_derivative_imag_scale", 4.0f),
        barMethod = s("bar_processing.bar_method", "boxcar")),
      flow = FlowControlConfig(delayMs = dd("flow_control.delay_ms", 0.0)),
      channels = ChannelConfig(
        priorityBufferSize = i("channels.priority_buffer_size", 4096),
        standardBufferSize = i("channels.standard_buffer_size", 2048)),
      performance = PerformanceConfig(
        targetLatencyUs = i("performance.target_latency_us", 500),
        maxLatencyUs = i("performance.max_latency_us", 1000),
        targetThroughputTps = f("performance.target_throughput_tps", 10000.0f))
    )
  }

  /** TOML serialization (T6's save half; reference:
    * src/PipelineConfig.jl:477-524 save_config_to_toml) — same sections
    * and keys as [[fromToml]] reads, so save -> load round-trips.
    */
  def toToml(c: PipelineConfig): String = {
    // TOML basic-string escaping: backslash first, then quote — a
    // Windows-style path or an embedded quote must survive the
    // save -> load round-trip.
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    s"""pipeline_name = ${q(c.pipelineName)}
       |tick_file_path = ${q(c.tickFilePath)}
       |
       |[signal_processing]
       |agc_alpha = ${c.signal.agcAlpha}
       |agc_min_scale = ${c.signal.agcMinScale}
       |agc_max_scale = ${c.signal.agcMaxScale}
       |winsorize_delta_threshold = ${c.signal.winsorizeDeltaThreshold}
       |min_price = ${c.signal.minPrice}
       |max_price = ${c.signal.maxPrice}
       |max_jump = ${c.signal.maxJump}
       |encoder_type = ${q(c.signal.encoderType)}
       |cpm_modulation_index = ${c.signal.cpmModulationIndex}
       |cpm_lut_size = ${c.signal.cpmLutSize}
       |amc_carrier_period = ${c.signal.amcCarrierPeriod}
       |amc_lut_size = ${c.signal.amcLutSize}
       |honor_amc_carrier_period = ${c.signal.honorAmcCarrierPeriod}
       |tick_derivative_imag_scale = ${c.signal.tickDerivativeImagScale}
       |
       |[bar_processing]
       |enabled = ${c.bars.enabled}
       |ticks_per_bar = ${c.bars.ticksPerBar}
       |normalization_window_bars = ${c.bars.normalizationWindowBars}
       |winsorize_bar_threshold = ${c.bars.winsorizeBarThreshold}
       |max_bar_jump = ${c.bars.maxBarJump}
       |bar_derivative_imag_scale = ${c.bars.barDerivativeImagScale}
       |bar_method = ${q(c.bars.barMethod)}
       |
       |[flow_control]
       |delay_ms = ${c.flow.delayMs}
       |
       |[channels]
       |priority_buffer_size = ${c.channels.priorityBufferSize}
       |standard_buffer_size = ${c.channels.standardBufferSize}
       |
       |[performance]
       |target_latency_us = ${c.performance.targetLatencyUs}
       |max_latency_us = ${c.performance.maxLatencyUs}
       |target_throughput_tps = ${c.performance.targetThroughputTps}
       |""".stripMargin
  }

  /** Save to a file path (creates parent directories). */
  def save(c: PipelineConfig, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, toToml(c))
  }

  /** T6: default-config discovery with working-directory priority
    * (reference: src/PipelineConfig.jl:300-327 get_default_config_path):
    * `cwd`/config/pipeline/default.toml if present, else the same path
    * under the library home (`home`, for projects embedding this library
    * that keep the shipped config there).
    */
  def defaultConfigPath(
      cwd: String = sys.props("user.dir"),
      home: String = sys.env.getOrElse("GRAFT_HOME", sys.props("user.dir"))): String = {
    val local = java.nio.file.Paths.get(cwd, "config", "pipeline", "default.toml")
    if (java.nio.file.Files.isRegularFile(local)) local.toAbsolutePath.toString
    else java.nio.file.Paths.get(home, "config", "pipeline", "default.toml")
      .toAbsolutePath.toString
  }

  /** T6: create-if-missing (reference: src/PipelineConfig.jl:329-353) —
    * writes the constructor-default config so a fresh checkout has an
    * editable file.
    */
  def ensureConfigExists(path: String): Unit =
    if (!java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path)))
      save(PipelineConfig(), path)

  /** T6: load the default config, creating it first if missing
    * (reference: src/PipelineConfig.jl:255-265 load_default_config).
    */
  def loadDefault(
      cwd: String = sys.props("user.dir"),
      home: String = sys.env.getOrElse("GRAFT_HOME", sys.props("user.dir"))): PipelineConfig = {
    val p = defaultConfigPath(cwd, home)
    ensureConfigExists(p)
    fromToml(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
  }
}
