package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-side counters of one job group, summed over its tasks. */
final class Counters {
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  /** stage id -> executor run times (ms) of its tasks, for task skew. */
  val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  def add(m: org.apache.spark.executor.TaskMetrics, stage: Int): Unit = {
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    val buf = stageTaskMs.computeIfAbsent(stage, _ => new ArrayBuffer[Long])
    buf.synchronized { buf += m.executorRunTime }
    ()
  }

  def cpuS: Double = cpuNs.get / 1e9
  def gcS: Double = gcMs.get / 1e3

  /** Largest max/median task run time over stages with 2+ tasks. */
  def taskSkewMax: Double = {
    val ratios = stageTaskMs.values.asScala.toSeq.flatMap { b =>
      val ts = b.synchronized(b.toVector)
      if (ts.size < 2) None
      else Some(ts.max.toDouble / math.max(Stats.percentile(ts.map(_.toDouble), 50), 1.0))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** One SparkListener that attributes task metrics to the job group the
  * job ran under. Every benchmark operation runs under its own group, so
  * the counters of one operation, eager construction jobs included, can
  * be read back by group id.
  */
final class GroupListener extends SparkListener {
  val total = new Counters
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup.put(s, id)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      total.add(e.taskMetrics, e.stageId)
      Option(stageGroup.get(e.stageId)).foreach(g =>
        byGroup.computeIfAbsent(g, _ => new Counters).add(e.taskMetrics, e.stageId))
    }

  def group(id: String): Counters = byGroup.getOrDefault(id, new Counters)
  def groups(ids: Iterable[String]): Seq[Counters] = ids.toSeq.map(group)

  /** Counters are complete only once the asynchronous bus has drained. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

/** A timed interval recorded around one call into the program. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    group: String, startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. With tracing off it only sets a job group per
  * operation; with tracing on it also keeps every span in memory and
  * dumps them as JSON when the run ends.
  */
final class Tracer(spark: SparkSession, enabled: Boolean, run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var keep = enabled

  /** Run `body` with span recording off (to measure tracing overhead). */
  def untraced[A](body: => A): A = {
    val was = keep
    keep = false
    try body finally keep = was
  }

  private val stack = new java.util.ArrayDeque[Span]()
  private var next = 0

  /** Run `body` under a fresh job group; when tracing, record its span. */
  def span[A](name: String)(body: => A): (A, Span) = {
    val sc = spark.sparkContext
    val id = { next += 1; next }
    val group = s"$run-$id-$name"
    val parent = Option(stack.peek()).map(_.id).getOrElse(0)
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val outerDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val open = Span(id, name, parent, run, group, System.nanoTime(), 0L)
    stack.push(open)
    try {
      val a = body
      val s = open.copy(endNs = System.nanoTime())
      if (keep) spans.synchronized(spans += s)
      (a, s)
    } finally {
      stack.pop()
      outer match {
        case Some(g) => sc.setJobGroup(g, outerDesc, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  def dump(path: String): Unit = {
    val body = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""group":"${s.group}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Stats.selfTime(s, all)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
    ()
  }
}

/** Order statistics and span arithmetic used by every workload. */
object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Highest percentile with at least `beyond` samples above it, when
    * `n` samples are correlated in groups (one group per micro-batch,
    * whose ticks share their fate): the support is the group count.
    */
  def supportedPercentile(groups: Int, beyond: Int = 10): Double =
    if (groups <= beyond) 50.0 else 100.0 * (groups - beyond) / groups

  /** Span duration minus the part of it covered by its direct children. */
  def selfTime(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }
}
