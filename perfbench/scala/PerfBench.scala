package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{Graft, SparkEntry}
import graft.config.{FlowControlConfig, PipelineConfig}
import graft.operators.TickPipeline
import graft.sources.Capture
import graft.streaming.{TickIn, TickOut, TickStream}

/** Benchmark driver: runs one workload in this JVM and writes its
  * measurements to `<work>/result.json` (see run.py, which builds the
  * classes, makes the query_mix tables and checks them against DuckDB).
  *
  * Every number is taken from outside the program: the benchmark times its
  * own calls into the public API and reads Spark's listener and streaming
  * progress events.
  */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, cores: Int)

  /** What a workload reports: metric name -> value, plus operation counts. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer.empty[String]
    val mixOutputs = mutable.LinkedHashMap.empty[String, String]
    def fail(n: Long, why: String): Unit = {
      failed += n
      if (errors.size < 20) errors += why
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv.getOrElse("data", ""), kv("cores").toInt)
    new File(c.work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(spark)
    val probe = new GroupListener
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(spark, c.trace, c.workload)
    val r = new Result
    try {
      c.workload match {
        case "tick_replay" => new Replay(spark, c, probe, tracer, r).run()
        case "tick_stream" => new Stream(spark, c, probe, tracer, r).run()
        case "query_mix" => new Mix(spark, c, probe, tracer, r).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (c.trace) tracer.dump(s"${c.work}/spans.json")
      writeResult(s"${c.work}/result.json", r)
      note("done")
    } finally spark.stop()
  }

  // ------------------------------------------------------------ shared

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Set-up time, taken several times: round 1 runs from JVM start (the
    * session, JIT and first fixture builds) minus the benchmark's own input
    * generation and checking, later rounds reset the workload's state and
    * warm it up again. The median is reported.
    */
  def setupRounds(rounds: Int, excludedS: () => Double)(reset: () => Unit)(warm: () => Unit): Seq[Double] =
    (0 until rounds).map { i =>
      val t0 = System.nanoTime()
      if (i > 0) reset()
      warm()
      val s = (System.nanoTime() - t0) / 1e9
      val v = if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludedS() else s
      note(f"setup round ${i + 1}: $v%.3f s")
      v
    }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2fs] $msg")

  /** Heap retained after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    // The ContextCleaner frees blocks of collected RDDs only after a GC
    // has cleared their references, so collect, let it run, collect again.
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def dropPersisted(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def writeResult(path: String, r: Result): Unit = {
    val m = r.metrics.map { case (k, v) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString(",")
    val mix = r.mixOutputs.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
    val errs = r.errors.map(jsonStr).mkString(",")
    val body = s"""{"attempted":${r.attempted},"failed":${r.failed},"errors":[$errs],""" +
      s""""metrics":{$m},"mix_outputs":{$mix}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
    ()
  }

  /** Order-insensitive digest of a DataFrame's full output: row count and
    * the sum of a 64-bit hash of each row's binary form. Materializes every
    * row through `queryExecution.toRdd`, like the benchmark's count.
    */
  def digestOf(df: DataFrame): String = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { row =>
        val u = proj(row)
        val h2 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7)
        h += (u.hashCode.toLong << 32) ^ (h2 & 0xffffffffL)
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    s"$n:${java.lang.Long.toHexString(h)}"
  }
}

import PerfBench._

// ================================================================ replay

/** tick_replay: a seeded `;`-delimited tick file through
  * `Graft.runPipeline` (derivative encoder, 21-tick boxcar bars, enrich)
  * into `Capture.writeParquet`, as a closed loop of repetitions. Every
  * repetition's Parquet output is read back and checked against
  * `HotLoopStep.run` and a plain 21-tick bar fold.
  */
final class Replay(spark: SparkSession, c: Conf, probe: GroupListener, tracer: Tracer, r: Result) {
  private val lines = 40000
  private val file = s"${c.work}/ticks-${c.seed}-$lines.txt"
  private val out = s"${c.work}/replay-out"
  private val base = PipelineConfig.shipped.copy(
    bars = PipelineConfig.shipped.bars.copy(barMethod = "boxcar"))

  private def rep(name: String): Span = tracer.span(name)(
    Capture.writeParquet(Graft.runPipeline(spark, base.copy(tickFilePath = file)), out))._2

  def run(): Unit = {
    val ((ticks, ref, refBars), genS) = timed {
      if (!new File(file).exists()) TickGen.writeFile(c.seed, lines, file)
      val t = TickGen.expand(c.seed, lines)
      (t, TickGen.reference(t.toSeq, base.signal), TickGen.referenceBars(t.toSeq, base.bars))
    }
    val setup = setupRounds(3, () => genS)(() => dropPersisted(spark)) { () =>
      rep("warmup"); dropPersisted(spark)
    }
    r.metrics("setup_s") = Stats.median(setup)
    retainedHeapMb() // every timed repetition starts after a full collection

    val heap = ArrayBuffer.empty[Double]
    val walls = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    val spans = ArrayBuffer.empty[Span]
    val t0 = System.nanoTime()
    while (walls.size < 2 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val s = rep("replay")
      probe.settle(spark)
      spans += s
      walls += s.durS
      cpu += probe.group(s.group).cpuNs.get.toDouble
      r.attempted += 1
      note(f"replay repetition: ${s.durS}%.3f s")
      verify(ref, refBars)
      dropPersisted(spark)
      heap += retainedHeapMb()
    }
    val n = ticks.length.toDouble
    r.metrics("throughput_per_s") = n / Stats.median(walls.toSeq)
    r.metrics("cpu_us_per_item") = Stats.median(cpu.toSeq) / n / 1e3
    r.metrics("latency_p50_ms") = Stats.median(walls.toSeq) * 1e3
    r.metrics("latency_p90_ms") = Stats.percentile(walls.toSeq, 90) * 1e3
    r.metrics("heap_peak_mb") = heap.max
    if (c.trace) ladder(ticks, spans.toSeq)
  }

  /** Ticks that differ from the reference only by a Q16 rounding tie. */
  private var tieTicks = 0L

  private def verify(ref: Array[TickOut], refBars: Array[(Int, Int, Int, Int)]): Unit = {
    val rows = spark.read.parquet(out).select("tick_idx", "raw_price", "price_delta",
      "status_flag", "signal_re", "signal_im", "normalization", "bar_idx",
      "bar_open_raw", "bar_high_raw", "bar_low_raw", "bar_close_raw").collect()
    val byIdx = rows.sortBy(_.getLong(0))
    var bad = 0L
    if (byIdx.length != ref.length) bad += 1
    var bars = 0
    var first = ""
    var tiePrev = false
    byIdx.iterator.zip(ref.iterator).foreach { case (row, o) =>
      def num(i: Int) = row.get(i).asInstanceOf[Number]
      // The batch engine rounds the Q16 reciprocal half-up in double, the
      // sequential reference ties-to-even in float (see TickPipeline's
      // numerics note): at an exact tie they differ by one unit for the
      // rest of that 144-tick stats bar, and the derivative carries it one
      // tick further. Such ticks are counted, not failed; their exact
      // columns must still match.
      val tie = math.abs(TickGen.q16(o.normalization) - TickGen.q16(num(6).doubleValue)) == 1
      val exactBad = TickGen.exactMismatch(o, row.getLong(0), num(1).intValue, num(2).intValue,
        num(3).intValue)
      val floatBad = TickGen.floatMismatch(o, num(4).doubleValue, num(5).doubleValue,
        num(6).doubleValue)
      if (exactBad || (floatBad && !tie && !tiePrev)) {
        bad += 1
        if (first.isEmpty) first = s"; first: got $row, want $o"
      } else if (floatBad) tieTicks += 1
      tiePrev = tie
      if (!row.isNullAt(7)) {
        val b = row.getLong(7).toInt
        bars += 1
        val want = if (b >= 1 && b <= refBars.length) Some(refBars(b - 1)) else None
        if (row.getLong(0) != b.toLong * base.bars.ticksPerBar || !want.contains(
            (num(8).intValue, num(9).intValue, num(10).intValue, num(11).intValue))) {
          bad += 1
          if (first.isEmpty) first = s"; first bar: got $row, want $want"
        }
      }
    }
    if (bars != refBars.length) bad += 1
    if (bad > 0) r.fail(1, s"replay output differs from the reference in $bad rows/bars$first")
  }

  /** Cumulative prefixes parse; +expand; +hotloop; (+bars); +enrich; +sink,
    * each timed from construction through its action. A layer's numbers
    * are the difference between its prefix and the one before.
    */
  private def ladder(ticks: Array[TickIn], reps: Seq[Span]): Unit = {
    val m = r.metrics
    val sig = base.signal
    val barCfg = base.bars
    val n = ticks.length.toDouble
    final case class P(wall: Double, build: Double, cpu: Double, shuffle: Double,
        rows: Double, ckpt: Double)
    // Each prefix runs twice and the faster run is kept: a single run of a
    // ~2 s prefix is at the mercy of one GC or scheduling hiccup.
    def prefix(name: String, sink: Boolean = false)(build: => DataFrame): P =
      (0 until 2).map { _ =>
        dropPersisted(spark)
        val before = storedBytes(spark)
        val ((bs, rows, ck), s) = tracer.span(s"ladder.$name") {
          val (df, b) = timed(build)
          val ck = storedBytes(spark) - before
          val rows =
            if (sink) { Capture.writeParquet(df, out); n.toLong }
            else df.queryExecution.toRdd.count()
          (b, rows, math.max(ck, storedBytes(spark) - before))
        }
        probe.settle(spark)
        val g = probe.group(s.group)
        dropPersisted(spark)
        P(s.durS, bs, g.cpuS, g.shuffleWrite.get.toDouble, rows.toDouble, ck.toDouble)
      }.minBy(_.wall)
    val parse = prefix("parse")(Graft.readTickFile(spark, file))
    val expand = prefix("expand")(Graft.expandTicks(Graft.readTickFile(spark, file)))
    def hot(s: graft.config.SignalConfig) =
      Graft.hotLoop(Graft.expandTicks(Graft.readTickFile(spark, file)), s)
    val hotloop = prefix("hotloop")(hot(sig))
    val bars = prefix("bars")(Graft.bars(Graft.expandTicks(Graft.readTickFile(spark, file)), barCfg))
    def enriched = {
      val t = Graft.expandTicks(Graft.readTickFile(spark, file))
      TickPipeline.enrich(Graft.hotLoop(t, sig), Graft.bars(t, barCfg), barCfg.ticksPerBar)
    }
    val enrich = prefix("enrich")(enriched)
    val sink = prefix("sink", sink = true)(enriched)
    val barsSelf: (P => Double) => Double = x => x(bars) - x(expand)
    val selfOf: Seq[(String, (P => Double) => Double)] = Seq(
      "parse" -> (x => x(parse)),
      "expand" -> (x => x(expand) - x(parse)),
      "hotloop" -> (x => x(hotloop) - x(expand)),
      "bars" -> barsSelf,
      "enrich" -> (x => x(enrich) - x(hotloop) - barsSelf(x)),
      "sink" -> (x => x(sink) - x(enrich)))
    val outRows = Map("parse" -> parse.rows, "expand" -> expand.rows, "hotloop" -> hotloop.rows,
      "bars" -> bars.rows, "enrich" -> enrich.rows, "sink" -> sink.rows)
    selfOf.foreach { case (layer, self) =>
      m(s"replay.$layer.ns_per_tick_core") = self(_.wall) * c.cores * 1e9 / n
      m(s"replay.$layer.build_s") = self(_.build)
      m(s"replay.$layer.cpu_s") = self(_.cpu)
      m(s"replay.$layer.shuffle_bytes") = self(_.shuffle)
      m(s"replay.$layer.rows_out") = outRows(layer)
    }
    m("replay.expand.checkpoint_bytes") = expand.ckpt
    m("replay.hotloop.checkpoint_bytes") = hotloop.ckpt
    m("replay.bars.checkpoint_bytes") = bars.ckpt
    m("replay.expand.ratio") = expand.rows / parse.rows
    m("replay.q16_tie_ticks") = tieTicks.toDouble
    Seq("hexad16", "cpm", "amc").foreach { e =>
      val p = prefix(s"hotloop_$e")(hot(sig.copy(encoderType = e)))
      m(s"replay.hotloop.$e.ns_per_tick_core") = (p.wall - expand.wall) * c.cores * 1e9 / n
    }
    val fir = prefix("bars_fir")(Graft.bars(Graft.expandTicks(Graft.readTickFile(spark, file)),
      barCfg.copy(barMethod = "FIR")))
    m("replay.bars.fir.ns_per_tick_core") = (fir.wall - expand.wall) * c.cores * 1e9 / n
    val seq = (0 until 3).map(_ => timed(graft.streaming.HotLoopStep.run(ticks.toSeq, sig))._2)
    m("replay.seq_baseline.ns_per_tick") = Stats.median(seq) * 1e9 / n
    val repGroups = probe.groups(reps.map(_.group))
    m("replay.task_skew_max") = Stats.median(repGroups.map(_.taskSkewMax))
    m("replay.gc_s") = Stats.median(repGroups.map(_.gcS))
    // Tracing overhead: repetitions with and without span recording,
    // alternated so that drift does not favour either side.
    val pairs = (0 until 2).map { _ =>
      val plain = tracer.untraced(rep("replay").durS); dropPersisted(spark)
      val withSpans = rep("replay").durS; dropPersisted(spark)
      (plain, withSpans)
    }
    val plain = Stats.median(pairs.map(_._1))
    m("tick_replay.trace.overhead_pct") = (Stats.median(pairs.map(_._2)) - plain) / plain * 100
  }
}

// ================================================================ stream

/** Delivery record of one streaming phase, written by the executor-side
  * sink (local mode: same JVM) and read by the driver.
  */
final class Delivery(val n: Int) {
  val latencyNs = new Array[Long](n + 1)
  val outs = new Array[TickOut](n + 1)
  val seen = new AtomicIntegerArray(n + 1)
  val delivered = new AtomicLong
  val standard = new AtomicLong
}

object Delivery {
  @volatile var current: Delivery = _
  val sink: (String, Iterator[TickOut]) => Unit = (name, it) => {
    val d = current
    if (name == "priority") it.foreach { t =>
      val now = System.nanoTime()
      val i = t.tick_idx.toInt
      if (i >= 1 && i <= d.n) {
        d.latencyNs(i) = now - t.timestamp
        d.outs(i) = t
        d.seen.incrementAndGet(i)
      }
      d.delivered.incrementAndGet()
    }
    else it.foreach(_ => d.standard.incrementAndGet())
  }
}

/** tick_stream: an open-loop generator thread feeds `MemoryStream[TickIn]`
  * on a fixed schedule through `Graft.hotLoopStream` and
  * `TickStream.runManaged` (one Priority consumer, one bounded Standard
  * consumer that drops). Each rate runs as a fresh query with its own
  * checkpoint, in a fixed order: an overloaded phase would otherwise
  * carry its backlog into the next. Latency runs from each tick's due time
  * to its delivery at the sink.
  */
final class Stream(spark: SparkSession, c: Conf, probe: GroupListener, tracer: Tracer, r: Result) {
  import spark.implicits._
  private val lowRate = 10000
  private val highRate = 40000
  private val standardBuffer = 2048
  private val prime = 2000
  private val cfg = PipelineConfig.shipped.signal
  private var phaseNo = 0

  final case class Phase(rate: Int, delivery: Delivery, latMs: Seq[Double], batches: Seq[StreamingQueryProgress],
      wallS: Double, drainMs: Double, backlogEnd: Long, lateMsMax: Double, sent: Long, dropped: Long,
      cpuS: Double, gcS: Double)

  /** Runs one fresh query over `ticks`, offered at `rate` ticks/s. */
  private def phase(ticks: Array[TickIn], rate: Int, name: String): Phase = {
    phaseNo += 1
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // One input partition per task slot: by default every addData call
    // becomes its own partition, and a micro-batch spanning hundreds of
    // 5 ms chunks would run hundreds of tiny tasks.
    val input = MemoryStream[TickIn](c.cores)
    val d = new Delivery(ticks.length)
    Delivery.current = d
    val registry = Graft.consumerRegistry()
    registry.subscribe("priority", TickStream.Priority, ticks.length)
    val std = registry.subscribe("standard", TickStream.Monitoring, standardBuffer)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val ckpt = s"${c.work}/ckpt/$name-$phaseNo-${System.nanoTime()}"
    // Stream jobs run on the query's own thread, outside any job group:
    // executor CPU and GC are read from the listener's totals.
    val (cpu0, gc0) = (probe.total.cpuNs.get, probe.total.gcMs.get)
    val (res, span) = tracer.span(name) {
      val managed = TickStream.runManaged(Graft.hotLoopStream(input.toDS(), cfg), registry, ckpt,
        flow = FlowControlConfig(0.0), partitionSink = Some(Delivery.sink))
      // Prime the query (its first batch plans and compiles everything)
      // before the schedule starts; primed ticks are checked, not timed.
      input.addData((0 until prime).map(i => ticks(i).copy(timestamp = System.nanoTime())))
      managed.query.processAllAvailable()
      val periodNs = 5000000L
      val nsPerTick = 1e9 / rate
      val t0 = System.nanoTime() + periodNs - (prime * nsPerTick).toLong
      var sent = prime
      var lateMax = 0L
      while (sent < ticks.length) {
        val now = System.nanoTime()
        val upto = math.min(ticks.length, ((now - t0) / nsPerTick).toLong + 1).toInt
        if (upto > sent) {
          val chunk = (sent until upto).map(i => ticks(i).copy(timestamp = t0 + (i * nsPerTick).toLong))
          lateMax = math.max(lateMax, now - chunk.head.timestamp)
          input.addData(chunk)
          sent = upto
        }
        val wake = t0 + (sent * nsPerTick).toLong
        val sleepNs = wake - System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      }
      val genEnd = System.nanoTime()
      val backlog = ticks.length - d.delivered.get
      managed.query.processAllAvailable()
      val drained = System.nanoTime()
      managed.stop()
      val start = t0 + (prime * nsPerTick).toLong
      (genEnd - start, (drained - genEnd) / 1e6, backlog, lateMax / 1e6,
        std.messagesSent.get, std.messagesDropped.get, drained - start)
    }
    spark.streams.removeListener(listener)
    note(f"stream phase $name at $rate/s: ${res._7 / 1e9}%.2f s, drain ${res._2}%.0f ms")
    probe.settle(spark)
    val cpuS = (probe.total.cpuNs.get - cpu0) / 1e9
    val gcS = (probe.total.gcMs.get - gc0) / 1e3
    val (_, drainMs, backlog, lateMs, sent, dropped, wallNs) = res
    val lat = (prime + 1 to ticks.length).filter(i => d.seen.get(i) > 0).map(i => d.latencyNs(i) / 1e6)
    val batches = progress.toArray(Array.empty[StreamingQueryProgress]).toSeq.filter(_.numInputRows > 0)
    Phase(rate, d, lat, batches, wallNs / 1e9, drainMs, backlog, lateMs, sent, dropped, cpuS, gcS)
  }

  /** Exactly-once delivery to the Priority consumer, values equal to the
    * sequential reference, and `sent + dropped = n` for the Standard one.
    */
  private def check(p: Phase, ref: Array[TickOut]): Unit = {
    val d = p.delivery
    var bad = 0L
    (1 to d.n).foreach { i =>
      val o = d.outs(i)
      val want = ref(i - 1)
      if (d.seen.get(i) != 1 || o == null ||
          TickGen.exactMismatch(o, want.tick_idx, want.raw_price, want.price_delta,
            want.status_flag.toInt) ||
          TickGen.floatMismatch(o, want.signal_re, want.signal_im, want.normalization)) bad += 1
    }
    if (bad > 0) r.fail(bad, s"${p.rate}/s: $bad ticks not delivered exactly once or wrong")
    if (p.sent + p.dropped != d.n)
      r.fail(1, s"${p.rate}/s: standard consumer sent ${p.sent} + dropped ${p.dropped} != ${d.n}")
    r.attempted += d.n
  }

  def run(): Unit = {
    // The low rate gets the larger share: its latency percentiles rest on
    // the number of micro-batches it spans.
    val nLow = prime + (lowRate * c.seconds * 0.6).toInt
    val nHigh = prime + (highRate * c.seconds * 0.4).toInt
    val ((warm, low, high, refLow, refHigh), genS) = timed {
      val w = TickGen.streamTicks(c.seed + 7, 4000)
      val lo = TickGen.streamTicks(c.seed, nLow)
      val hi = TickGen.streamTicks(c.seed + 1, nHigh)
      (w, lo, hi, TickGen.reference(lo.toSeq, cfg), TickGen.reference(hi.toSeq, cfg))
    }
    val setup = setupRounds(3, () => genS)(() => ())(() => { phase(warm, 40000, "warmup"); () })
    r.metrics("setup_s") = Stats.median(setup)
    retainedHeapMb()

    val pLow = phase(low, lowRate, "stream_low")
    val heapLow = retainedHeapMb()
    val pHigh = phase(high, highRate, "stream_high")
    val heapHigh = retainedHeapMb()
    check(pLow, refLow)
    check(pHigh, refHigh)

    val m = r.metrics
    m("throughput_per_s") = (nHigh - prime) / pHigh.wallS
    m("cpu_us_per_item") = (pLow.cpuS + pHigh.cpuS) / (nLow + nHigh) * 1e6
    m("latency_p50_ms") = Stats.median(pLow.latMs)
    m("latency_p90_ms") = Stats.percentile(pLow.latMs, 90)
    m("heap_peak_mb") = math.max(heapLow, heapHigh)
    if (c.trace) traced(pLow, pHigh)
  }

  private def traced(lo: Phase, hi: Phase): Unit = {
    val m = r.metrics
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val both = lo.batches ++ hi.batches
    m("stream.batches") = lo.batches.size
    m("stream.hi_batches") = hi.batches.size
    m("stream.hi_p50_ms") = Stats.median(hi.latMs)
    m("stream.hi_p90_ms") = Stats.percentile(hi.latMs, 90)
    m("stream.supported_pct") = Stats.supportedPercentile(lo.batches.size)
    m("stream.rows_per_batch_p50") = p50(lo.batches.map(_.numInputRows.toDouble))
    m("stream.batch_ms_p50") = p50(lo.batches.map(_.batchDuration.toDouble))
    m("stream.batch_ms_max") = if (lo.batches.isEmpty) 0.0 else lo.batches.map(_.batchDuration).max.toDouble
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset").foreach { k =>
      m(s"stream.progress.${k}_ms_p50") =
        p50(lo.batches.flatMap(b => Option(b.durationMs.get(k)).map(_.doubleValue)))
    }
    val states = both.flatMap(_.stateOperators.headOption)
    m("stream.state.rows_total") = states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m("stream.state.memory_bytes") = states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    m("stream.state.commit_ms_p50") = p50(states.map(_.commitTimeMs.toDouble))
    m("stream.fanout.sent") = (lo.sent + hi.sent).toDouble
    m("stream.fanout.dropped") = (lo.dropped + hi.dropped).toDouble
    m("stream.fanout.standard_deliver_ratio") =
      (lo.delivery.standard.get + hi.delivery.standard.get).toDouble / (lo.delivery.n + hi.delivery.n)
    m("stream.gen.late_ms_max") = math.max(lo.lateMsMax, hi.lateMsMax)
    m("stream.backlog_end_ticks") = hi.backlogEnd.toDouble
    m("stream.drain_ms") = hi.drainMs
    m("stream.cpu_s") = lo.cpuS + hi.cpuS
    m("stream.gc_s") = lo.gcS + hi.gcS
    val plain = tracer.untraced(phase(TickGen.streamTicks(c.seed, lo.delivery.n), lowRate, "stream_low"))
    m("tick_stream.trace.overhead_pct") =
      (Stats.median(lo.latMs) - Stats.median(plain.latMs)) / Stats.median(plain.latMs) * 100
  }
}

// ================================================================== mix

/** query_mix: one client runs a fixed pass over five declared queries (the
  * three families) at a small scale. Each query is timed from the
  * `SparkEntry.queries` call (Scan, Ordered and the index builders run eager
  * jobs at construction) through full materialization of its output.
  * Digests of every timed execution must equal the digest of a reference
  * execution, whose Parquet output run.py compares with the DuckDB oracle.
  */
final class Mix(spark: SparkSession, c: Conf, probe: GroupListener, tracer: Tracer, r: Result) {
  val names: Seq[String] = Seq("q67_sliding_median", "q69_hll_window",
    "l17_dedup_clusters", "l77_ivfpq_topk", "m13_audio_fingerprint")
  private val queries = SparkEntry.queries

  final case class Exec(name: String, span: Span, buildS: Double, planS: Double, digest: String)

  private def exec(name: String): Exec = {
    val ((b, plan, dg), s) = tracer.span(name) {
      val (df, b) = timed(queries(name)(spark, c.data))
      val dg = digestOf(df)
      (b, df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3, dg)
    }
    Exec(name, s, b, plan, dg)
  }

  private def pass(): Seq[Exec] = names.map(exec)

  private def reset(): Unit = {
    graft.llm.LlmQueries.invalidateSharedIndexes()
    spark.catalog.clearCache()
  }

  def run(): Unit = {
    val oracle = SparkEntry.oracleSql
    val sql = names.map(q => s"${jsonStr(q)}:${jsonStr(oracle(q))}").mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${c.work}/oracle_sql.json"), sql.getBytes("UTF-8"))

    // Round 1 is the cold pass (JIT, codegen, index builds). It is also the
    // reference execution: each result is written as Parquet for the DuckDB
    // comparison and read back for the digest every timed execution must
    // match (the read-back is the benchmark's own work, excluded from
    // set-up). Later rounds drop the indexes and construct every query
    // again, which rebuilds them.
    val want = mutable.LinkedHashMap.empty[String, String]
    var checkS = 0.0
    var coldPass = 0.0
    val setup = setupRounds(3, () => checkS)(() => reset()) { () =>
      if (want.isEmpty) coldPass = timed(names.foreach { q =>
        val path = s"${c.work}/mix-out/$q"
        tracer.span(q)(queries(q)(spark, c.data).write.mode("overwrite").parquet(path))
        val (d, s) = timed(digestOf(spark.read.parquet(path)))
        checkS += s
        want(q) = d
        r.mixOutputs(q) = path
      })._2 - checkS
      else names.foreach(q => tracer.span(s"construct.$q")(queries(q)(spark, c.data)))
    }
    r.metrics("setup_s") = Stats.median(setup)
    retainedHeapMb() // every timed pass starts after a full collection

    val passes = ArrayBuffer.empty[Seq[Exec]]
    val passS = ArrayBuffer.empty[Double]
    val heap = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val (p, s) = timed(pass())
      passes += p
      passS += s
      note(f"mix pass: $s%.3f s " + p.map(e => f"${e.name}=${e.span.durS}%.2f").mkString(" "))
      heap += retainedHeapMb()
      p.foreach { e =>
        r.attempted += 1
        if (e.digest != want(e.name))
          r.fail(1, s"${e.name}: timed output digest ${e.digest} != reference ${want(e.name)}")
      }
    }
    probe.settle(spark)
    val cpuPerPass = passes.map(p => probe.groups(p.map(_.span.group)).map(_.cpuS).sum)
    val m = r.metrics
    m("throughput_per_s") = names.size / Stats.median(passS.toSeq)
    m("cpu_us_per_item") = Stats.median(cpuPerPass.toSeq) / names.size * 1e6
    m("latency_p50_ms") = Stats.median(passS.toSeq) * 1e3
    m("latency_p90_ms") = Stats.percentile(passS.toSeq, 90) * 1e3
    m("heap_peak_mb") = heap.max
    if (c.trace) traced(passes.toSeq, passS.toSeq, coldPass)
  }

  private def family(q: String) = q.head match {
    case 'q' => "relational"
    case 'l' => "llm"
    case _ => "media"
  }

  private def traced(passes: Seq[Seq[Exec]], passS: Seq[Double], coldPass: Double): Unit = {
    val m = r.metrics
    names.foreach { q =>
      val ex = passes.map(_.find(_.name == q).get)
      m(s"mix.$q.wall_s") = Stats.median(ex.map(_.span.durS))
      m(s"mix.$q.build_s") = Stats.median(ex.map(_.buildS))
    }
    Seq("relational", "llm", "media").foreach { f =>
      def perPass(v: Seq[Exec] => Double) = Stats.median(passes.map(v))
      def groups(p: Seq[Exec]) = probe.groups(p.filter(e => family(e.name) == f).map(_.span.group))
      m(s"mix.$f.plan_s") = perPass(_.filter(e => family(e.name) == f).map(_.planS).sum)
      m(s"mix.$f.cpu_s") = perPass(p => groups(p).map(_.cpuS).sum)
      m(s"mix.$f.shuffle_bytes") = perPass(p => groups(p).map(_.shuffleWrite.get.toDouble).sum)
      m(s"mix.$f.spill_bytes") = perPass(p => groups(p).map(_.spill.get.toDouble).sum)
      m(s"mix.$f.task_skew_max") = perPass(p => groups(p).map(_.taskSkewMax).max)
    }
    m("mix.fixture_s") = coldPass - Stats.median(passS)
    val plain = tracer.untraced((0 until 2).map(_ => timed(pass())._2))
    m("query_mix.trace.overhead_pct") = (Stats.median(passS) - Stats.median(plain)) / Stats.median(plain) * 100
  }
}
