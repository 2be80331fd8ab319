package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graftest.BatchJobCounter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.SignalConfig
import graft.operators.TickReference

class TickStreamSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SignalConfig(minPrice = 39000, maxPrice = 44000,
    maxJump = 50, winsorizeDeltaThreshold = 10, encoderType = "derivative",
    tickDerivativeImagScale = 2.0f)

  private def mkTicks(n: Int): Seq[TickIn] = {
    val rnd = new scala.util.Random(13)
    (1 to n).map(i => TickIn(i.toLong, 7L, 39000 + rnd.nextInt(5200) - 100,
      if (i == 1) 0 else rnd.nextInt(41) - 20))
  }

  /** A `partitionSink` that records every delivered row under its
    * consumer's name, and a reader of what a consumer got. The rows go to
    * an accumulator: the sink is serialized into tasks even under
    * local[*], so a captured collection would be filled on a copy.
    */
  private def recordingSink(): (String => Seq[TickOut], (String, Iterator[TickOut]) => Unit) = {
    val rows = spark.sparkContext.collectionAccumulator[(String, TickOut)]("delivered")
    (name => rows.value.asScala.collect { case (`name`, t) => t }.toSeq,
      (name, it) => it.foreach(t => rows.add((name, t))))
  }

  test("streaming hot loop equals the sequential fold across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = mkTicks(600)
    val expected = HotLoopStep.run(ticks, cfg)

    val input = MemoryStream[TickIn]
    val out = TickStream.hotLoopStream(input.toDS(), cfg)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("hotloop_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // three micro-batches -> state must carry across
      input.addData(ticks.take(200): _*); query.processAllAvailable()
      input.addData(ticks.slice(200, 400): _*); query.processAllAvailable()
      input.addData(ticks.drop(400): _*); query.processAllAvailable()
      val got = spark.table("hotloop_out").as[TickOut]
        .collect().sortBy(_.tick_idx).toSeq
      assert(got == expected)
    } finally query.stop()
  }

  test("multi-symbol scale-out: keyed stream matches independent single-symbol runs") {
    implicit val sqlCtx = spark.sqlContext
    // Two instruments with different tick streams, interleaved in
    // arrival order across micro-batches.
    val ymTicks = mkTicks(300)
    val esTicks = {
      val rnd = new scala.util.Random(47)
      (1 to 250).map(i => TickIn(i.toLong, 9L, 39000 + rnd.nextInt(5200) - 100,
        if (i == 1) 0 else rnd.nextInt(41) - 20))
    }
    val expectedYm = HotLoopStep.run(ymTicks, cfg)
    val expectedEs = HotLoopStep.run(esTicks, cfg)

    val interleaved: Seq[(String, TickIn)] =
      ymTicks.map(("YM", _)).zipAll(esTicks.map(("ES", _)), null, null)
        .flatMap { case (a, b) => Seq(a, b).filter(_ != null) }
    val input = MemoryStream[(String, TickIn)]
    val out = TickStream.hotLoopStreamKeyed(input.toDS(), cfg)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("hotloop_keyed_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(interleaved.take(180): _*); query.processAllAvailable()
      input.addData(interleaved.slice(180, 400): _*); query.processAllAvailable()
      input.addData(interleaved.drop(400): _*); query.processAllAvailable()
      val got = spark.table("hotloop_keyed_out").as[(String, TickOut)].collect()
      val bySym = got.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.tick_idx).toSeq)
      assert(bySym("YM") == expectedYm)
      assert(bySym("ES") == expectedEs)
    } finally query.stop()
  }

  test("transformWithState (state v2) hot loop matches the v1 keyed path exactly") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ymTicks = mkTicks(300)
      val esTicks = {
        val rnd = new scala.util.Random(47)
        (1 to 250).map(i => TickIn(i.toLong, 9L, 39000 + rnd.nextInt(5200) - 100,
          if (i == 1) 0 else rnd.nextInt(41) - 20))
      }
      val expectedYm = HotLoopStep.run(ymTicks, cfg)
      val expectedEs = HotLoopStep.run(esTicks, cfg)
      val interleaved: Seq[(String, TickIn)] =
        ymTicks.map(("YM", _)).zipAll(esTicks.map(("ES", _)), null, null)
          .flatMap { case (a, b) => Seq(a, b).filter(_ != null) }
      val input = MemoryStream[(String, TickIn)]
      val out = TickStream.hotLoopStreamTws(input.toDS(), cfg)
      val ckpt = Files.createTempDirectory("ckpt_tws").toString
      val query = out.writeStream
        .format("memory").queryName("hotloop_tws_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        input.addData(interleaved.take(180): _*); query.processAllAvailable()
        input.addData(interleaved.slice(180, 400): _*); query.processAllAvailable()
        input.addData(interleaved.drop(400): _*); query.processAllAvailable()
        val got = spark.table("hotloop_tws_out").as[(String, TickOut)].collect()
        val bySym = got.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.tick_idx).toSeq)
        assert(bySym("YM") == expectedYm)
        assert(bySym("ES") == expectedEs)
      } finally query.stop()
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state-v2 event-time timers close inactivity sessions at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import TickStream.{SymTick, SessionClose}
      def tick(sym: String, ms: Long) = SymTick(sym, new java.sql.Timestamp(ms), 100)
      val input = MemoryStream[SymTick]
      val out = TickStream.sessionCloseStream(
        input.toDS().withWatermark("ts", "0 seconds").as[SymTick], gapMs = 5000L)
      val ckpt = Files.createTempDirectory("ckpt_timer").toString
      val query = out.writeStream
        .format("memory").queryName("session_close_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        // Batch 1: YM ticks at 1s/2s/3s, ES at 2s. Watermark after the
        // batch is 3s; timers sit at 8s (YM) and 7s (ES) — nothing fires.
        input.addData(tick("YM", 1000), tick("YM", 2000), tick("ES", 2000),
          tick("YM", 3000))
        query.processAllAvailable()
        assert(spark.table("session_close_out").count() == 0L)
        // Batch 2 pushes the watermark to 20s; both timers expire and the
        // sessions close from handleExpiredTimer, not from a new element
        // on those symbols.
        input.addData(tick("ZZ", 20000))
        query.processAllAvailable()
        // One more batch so the 20s watermark (computed at batch-2 end)
        // is applied to timer expiry.
        input.addData(tick("ZZ", 21000))
        query.processAllAvailable()
        val got = spark.table("session_close_out").as[SessionClose]
          .collect().sortBy(_.sym).toSeq
        assert(got.exists(s => s.sym == "YM" && s.n_ticks == 3 &&
          s.first_ms == 1000 && s.last_ms == 3000), s"YM session wrong: $got")
        assert(got.exists(s => s.sym == "ES" && s.n_ticks == 1 &&
          s.first_ms == 2000 && s.last_ms == 2000), s"ES session wrong: $got")
        assert(!got.exists(_.sym == "ZZ"), s"ZZ session should still be open: $got")
      } finally query.stop()
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state-v2 list state carries the rolling window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ticks = mkTicks(40)
      // Expected: trailing-16 sums computed directly.
      val prices = ticks.map(_.raw_price.toLong)
      val expected = ticks.indices.map { i =>
        val w = prices.slice(math.max(0, i - 15), i + 1)
        (ticks(i).tick_idx, w.sum, w.length)
      }
      val input = MemoryStream[(String, TickIn)]
      val out = TickStream.rollingStream(input.toDS())
      val ckpt = Files.createTempDirectory("ckpt_roll").toString
      val query = out.writeStream
        .format("memory").queryName("rolling_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        // The batch boundary at 20 is the point of the test: tick 21's
        // window must include ticks 6-20 from the PREVIOUS batch.
        input.addData(ticks.take(20).map(("YM", _)): _*); query.processAllAvailable()
        input.addData(ticks.drop(20).map(("YM", _)): _*); query.processAllAvailable()
        val got = spark.table("rolling_out").as[TickStream.RollingOut]
          .collect().sortBy(_.tick_idx)
          .map(r => (r.tick_idx, r.win_sum, r.win_cnt)).toSeq
        assert(got == expected)
      } finally query.stop()
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // Both paths run HotLoopKernel, so the batch's DOUBLE columns hold the
  // stream's Float32 values exactly (the name predates the shared kernel).
  test("streaming f32 hot loop tracks the batch double pipeline to 1e-5") {
    val ticks = mkTicks(500)
    val amc8 = cfg.copy(encoderType = "amc", amcCarrierPeriod = 8f, honorAmcCarrierPeriod = true)
    Seq(cfg, amc8).foreach { c =>
      assert(TickReference.bitRows(graft.Graft.hotLoop(ticks.toDF(), c)) ==
        TickReference.bitRows(HotLoopStep.run(ticks, c)), c.encoderType)
    }
  }

  test("hot-loop stream resumes its stored state across a restart from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = mkTicks(600)
    Seq(cfg, cfg.copy(encoderType = "cpm")).foreach { c =>
      val input = MemoryStream[TickIn]
      val ckpt = Files.createTempDirectory("ckpt_restart").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[TickOut]
      def start() = graft.Graft.hotLoopStream(input.toDS(), c).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((ds: org.apache.spark.sql.Dataset[TickOut], _: Long) => { got ++= ds.collect(); () })
        .start()
      val first = start()
      try { input.addData(ticks.take(350): _*); first.processAllAvailable() }
      finally first.stop()
      input.addData(ticks.drop(350): _*)
      val second = start()
      try second.processAllAvailable()
      finally second.stop()
      assert(TickReference.bitRows(got.toSeq) == TickReference.bitRows(HotLoopStep.run(ticks, c)),
        c.encoderType)
    }
  }

  test("broadcast fan-out: priority lossless, others drop and count") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = mkTicks(300)
    val input = MemoryStream[TickIn]
    val enriched = TickStream.hotLoopStream(input.toDS(), cfg)
    val registry = new TickStream.ConsumerRegistry
    val prio = registry.subscribe("prio", TickStream.Priority, 64)
    val mon = registry.subscribe("mon", TickStream.Monitoring, 100)
    val ckpt = Files.createTempDirectory("ckpt2").toString
    val (delivered, sink) = recordingSink()
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    try {
      input.addData(ticks: _*)
      query.processAllAvailable()
      assert(prio.messagesSent.get() == 300 && prio.messagesDropped.get() == 0)
      assert(mon.messagesSent.get() == 100)
      assert(mon.messagesDropped.get() == 200) // buffer 100, drop the rest
      assert(delivered("prio").size == 300 && delivered("mon").size == 100)
      // the dropped share is the TAIL: the kept rows are the first 100
      assert(delivered("mon").map(_.tick_idx).max == 100)
      assert(registry.managerStats("total_broadcasts") >= 1)
      assert(registry.managerStats("successful_broadcasts") >= 1)
    } finally query.stop()
  }

  test("drop cutoff is rank-based: gapped tick_idx still delivers exactly room rows") {
    implicit val sqlCtx = spark.sqlContext
    // tick_idx 1, 4, 7, ... — gaps arise whenever upstream parsing drops
    // lines; the cutoff must count rows, not index arithmetic
    val ticks = mkTicks(300).map(t => t.copy(tick_idx = t.tick_idx * 3 - 2))
    val input = MemoryStream[TickIn]
    val enriched = TickStream.hotLoopStream(input.toDS(), cfg)
    val registry = new TickStream.ConsumerRegistry
    val mon = registry.subscribe("mon", TickStream.Monitoring, 100)
    val ckpt = Files.createTempDirectory("ckpt6").toString
    val (delivered, sink) = recordingSink()
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    try {
      input.addData(ticks: _*)
      query.processAllAvailable()
      assert(mon.messagesSent.get() == 100 && mon.messagesDropped.get() == 200)
      // exactly the 100 smallest ids survive: 1..298 step 3
      val got = delivered("mon").map(_.tick_idx).sorted
      assert(got.size == 100 && got == (1L to 298L by 3L))
    } finally query.stop()
  }

  test("T34 registry: subscribe -> deliver -> unsubscribe; duplicate names rejected") {
    implicit val sqlCtx = spark.sqlContext
    val registry = new TickStream.ConsumerRegistry
    registry.subscribe("a", TickStream.Priority, 8)
    intercept[IllegalArgumentException](registry.subscribe("a", TickStream.Analytics, 8))
    val input = MemoryStream[TickIn]
    val enriched = TickStream.hotLoopStream(input.toDS(), cfg)
    val ckpt = Files.createTempDirectory("ckpt3").toString
    val (_, sink) = recordingSink()
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    try {
      input.addData(mkTicks(50): _*); query.processAllAvailable()
      assert(registry.get("a").get.messagesSent.get() == 50)
      // late subscriber sees only post-subscription batches; removed one stops
      val b = registry.subscribe("b", TickStream.Analytics, 1000)
      assert(registry.unsubscribe("a"))
      assert(!registry.unsubscribe("a"))
      input.addData(mkTicks(80).map(t => t.copy(tick_idx = t.tick_idx + 50)): _*)
      query.processAllAvailable()
      assert(b.messagesSent.get() == 80)
      assert(registry.get("a").isEmpty)
      assert(registry.managerStats("active_consumers") == 1)
    } finally query.stop()
  }

  test("distributed fan-out: no driver collect, counts from aggregate + partition sink") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = mkTicks(300)
    val input = MemoryStream[TickIn]
    val enriched = TickStream.hotLoopStream(input.toDS(), cfg)
    val registry = new TickStream.ConsumerRegistry
    val prio = registry.subscribe("prio", TickStream.Priority, 64)
    val mon = registry.subscribe("mon", TickStream.Monitoring, 120)
    // partition-side delivery: count rows per consumer via accumulators
    val sentPrio = spark.sparkContext.longAccumulator("sent_prio")
    val sentMon = spark.sparkContext.longAccumulator("sent_mon")
    val prioOnDriver = spark.sparkContext.longAccumulator("prio_on_driver")
    val sink: (String, Iterator[TickOut]) => Unit = { (name, it) =>
      val n = it.size.toLong
      if (name == "prio") sentPrio.add(n) else sentMon.add(n)
      if (name == "prio" && org.apache.spark.TaskContext.get() == null) prioOnDriver.add(1L)
    }
    val ckpt = Files.createTempDirectory("ckpt4").toString
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    try {
      input.addData(ticks: _*)
      query.processAllAvailable()
      assert(prio.messagesSent.get() == 300 && sentPrio.value == 300L)
      assert(mon.messagesSent.get() == 120 && sentMon.value == 120L)
      assert(mon.messagesDropped.get() == 180)
      assert(prioOnDriver.value == 0L) // the Priority stream never reaches the driver
    } finally query.stop()
  }

  test("fan-out runs one Spark job per micro-batch, also when a consumer is cut") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = mkTicks(350)
    val input = MemoryStream[TickIn]
    val enriched = TickStream.hotLoopStream(input.toDS(), cfg)
    val registry = new TickStream.ConsumerRegistry
    val prio = registry.subscribe("prio", TickStream.Priority, 64)
    val mon = registry.subscribe("mon", TickStream.Monitoring, 100)
    val sink: (String, Iterator[TickOut]) => Unit = (_, it) => it.foreach(_ => ())
    val ckpt = Files.createTempDirectory("ckpt_jobs").toString
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    val jobs = new BatchJobCounter(spark.sparkContext, query.id.toString)
    spark.sparkContext.addSparkListener(jobs)
    def lastDataBatch: Long =
      query.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    try {
      // Every consumer has room: the hot-loop job is the only job.
      input.addData(ticks.take(50): _*); query.processAllAvailable()
      val fits = lastDataBatch
      assert(mon.messagesSent.get() == 50 && mon.messagesDropped.get() == 0)
      assert(jobs.jobsOf(fits) == 1)
      // The Monitoring consumer is cut (room 100 of 300 rows).
      input.addData(ticks.drop(50): _*); query.processAllAvailable()
      val cut = lastDataBatch
      assert(cut > fits)
      assert(mon.messagesSent.get() == 150 && mon.messagesDropped.get() == 200)
      assert(prio.messagesSent.get() == 350 && prio.messagesDropped.get() == 0)
      assert(jobs.jobsOf(cut) == 1)
    } finally {
      query.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("drop cutoff is exact when the batch spans several state partitions") {
    implicit val sqlCtx = spark.sqlContext
    // Globally unique, gapped tick_idx interleaved across five symbols:
    // the smallest ticks of the batch come from every symbol, and the
    // symbols hash to several state partitions.
    val syms = Seq("YM", "ES", "NQ", "CL", "GC")
    val rnd = new scala.util.Random(41)
    val keyed = for (i <- 0 until 80; (s, k) <- syms.zipWithIndex) yield
      (s, TickIn(3L * (i * syms.size + k) + 1, 7L, 39000 + rnd.nextInt(5200) - 100,
        if (i == 0) 0 else rnd.nextInt(41) - 20))
    val n = keyed.size.toLong
    val byRank = keyed.map(_._2.tick_idx).sorted
    val input = MemoryStream[(String, TickIn)]
    val enriched = TickStream.hotLoopStreamKeyed(input.toDS(), cfg).map(_._2)
    val registry = new TickStream.ConsumerRegistry
    val prio = registry.subscribe("prio", TickStream.Priority, 64)
    val mon = registry.subscribe("mon", TickStream.Monitoring, 100)
    mon.fillProbe = () => 25 // room 75
    val ana = registry.subscribe("ana", TickStream.Analytics, 50)
    ana.fillProbe = () => 50 // full: room 0
    val rows = spark.sparkContext.collectionAccumulator[(String, Long)]("fanout_rows")
    val prioParts = spark.sparkContext.collectionAccumulator[Int]("prio_parts")
    val sink: (String, Iterator[TickOut]) => Unit = { (name, it) =>
      val ids = it.map(_.tick_idx).toSeq
      ids.foreach(i => rows.add((name, i)))
      if (name == "prio" && ids.nonEmpty) prioParts.add(org.apache.spark.TaskContext.getPartitionId())
    }
    val ckpt = Files.createTempDirectory("ckpt_parts").toString
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    try {
      input.addData(keyed: _*); query.processAllAvailable()
      assert(prioParts.value.asScala.toSet.size >= 2, "batch did not span several partitions")
      val got = rows.value.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(got("prio") == byRank)
      assert(got("mon") == byRank.take(75))
      assert(!got.contains("ana"))
      assert(prio.messagesSent.get() == n && prio.messagesDropped.get() == 0)
      assert(mon.messagesSent.get() == 75 && mon.messagesDropped.get() == n - 75)
      assert(ana.messagesSent.get() == 0 && ana.messagesDropped.get() == n)
      Seq(prio, mon, ana).foreach(c =>
        assert(c.messagesSent.get() + c.messagesDropped.get() == n, c.name))
    } finally query.stop()
  }

  test("T37/T38/T39 managed pipeline: stats, progress callback, cooperative stop") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TickIn]
    val enriched = TickStream.hotLoopStream(input.toDS(), cfg)
    val registry = new TickStream.ConsumerRegistry
    registry.subscribe("prio", TickStream.Priority, 64)
    val ckpt = Files.createTempDirectory("ckpt5").toString
    @volatile var completed: Option[TickStream.PipelineStats] = None
    val (delivered, sink) = recordingSink()
    val managed = TickStream.runManaged(enriched, registry, ckpt,
      flow = graft.config.FlowControlConfig(delayMs = 0.0),
      partitionSink = Some(sink),
      onComplete = s => completed = Some(s))
    try {
      input.addData(mkTicks(200): _*)
      managed.query.processAllAvailable()
      val s = managed.stats
      assert(s.ticksProcessed == 200 && s.batches >= 1 && s.wallMs >= 0)
      assert(delivered("prio").size == 200)
      assert(managed.managerStats("successful_broadcasts") >= 1)
      // T38 batch-latency granularity: min/max/avg populated once a
      // batch has completed, and mutually consistent.
      assert(s.batchMsMin >= 0 && s.batchMsMax >= s.batchMsMin)
      assert(s.batchMsAvg >= s.batchMsMin && s.batchMsAvg <= s.batchMsMax)
    } finally {
      val fin = managed.stop()
      assert(fin.ticksProcessed == 200)
      assert(completed.exists(_.ticksProcessed == 200))
      assert(!managed.query.isActive)
    }
  }

  test("managed pipeline reports progress from the batch body, with no query listener") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = mkTicks(320)
    // Batches of 60, 60 and 200 rows; returns ticksProcessed at each report.
    def reports(progressEveryRows: Long): Seq[Long] = {
      val input = MemoryStream[TickIn]
      val registry = new TickStream.ConsumerRegistry
      registry.subscribe("prio", TickStream.Priority, 64)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listeners = spark.streams.listListeners().length
      val managed = TickStream.runManaged(TickStream.hotLoopStream(input.toDS(), cfg), registry,
        Files.createTempDirectory("ckpt_progress").toString,
        onProgress = s => seen.add(s.ticksProcessed), progressEveryRows = progressEveryRows)
      try {
        assert(spark.streams.listListeners().length == listeners)
        Seq(ticks.take(60), ticks.slice(60, 120), ticks.drop(120)).foreach { b =>
          input.addData(b: _*); managed.query.processAllAvailable()
        }
        assert(managed.query.recentProgress.count(_.numInputRows > 0) == 3)
        seen.asScala.toSeq
      } finally managed.stop()
    }
    assert(reports(100L) == Seq(120L, 320L))
    assert(reports(0L) == Seq(60L, 120L, 320L)) // once per data batch
  }

  test("T10 flow-control delay maps to the processing-time trigger") {
    import org.apache.spark.sql.streaming.Trigger
    assert(TickStream.triggerFor(graft.config.FlowControlConfig(delayMs = 25.0)) ==
      Trigger.ProcessingTime(25))
    assert(TickStream.triggerFor(graft.config.FlowControlConfig(delayMs = 0.0)) ==
      Trigger.ProcessingTime(0))
    assert(TickStream.triggerFor(graft.config.FlowControlConfig(delayMs = 0.4)) ==
      Trigger.ProcessingTime(1)) // sub-ms delays round up, not to zero
  }

  test("event-time windowed aggregation with watermark (Q18)") {
    val events = Seq(
      ("2024-01-01 00:00:10", "click", 1.0), ("2024-01-01 00:00:50", "click", 2.0),
      ("2024-01-01 00:01:10", "view", 3.0), ("2024-01-01 00:02:05", "click", 4.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = TickStream.windowedEventCounts(events, "1 minute", "10 minutes")
      .select($"event_type", $"events", $"sum_value")
      .as[(String, Long, Double)].collect().toSet
    // 00:00:10 and 00:00:50 share the [00:00, 00:01) window
    assert(out == Set(("click", 2L, 3.0), ("view", 1L, 3.0), ("click", 1L, 4.0)))
  }

  test("event-time session windows merge bursts and split on gaps (Q18)") {
    val events = Seq(
      // click burst 1: 00:10 and 00:40 chain (gap 30s < 1 min)
      ("2024-01-01 00:00:10", "click", 1.0), ("2024-01-01 00:00:40", "click", 2.0),
      // click burst 2: 02:30 — more than 1 min after 00:40 + gap
      ("2024-01-01 00:02:30", "click", 4.0),
      // view overlaps burst 1's time range but sessions are per-type
      ("2024-01-01 00:00:30", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = TickStream.sessionizedEventCounts(events, "1 minute", "10 minutes")
      .select($"event_type", $"events", $"sum_value")
      .as[(String, Long, Double)].collect().toSet
    assert(out == Set(("click", 2L, 3.0), ("click", 1L, 4.0), ("view", 1L, 3.0)))
  }

  test("composed e2e: watermark dedup -> keyed hot loop -> priority/drop fan-out, one query") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // Two instruments with globally-unique tick_idx (the fan-out cutoff
    // keys on it); an at-least-once source re-delivers some ticks across
    // micro-batches, so the dedup stage must drop them BEFORE they would
    // corrupt the sequential hot-loop state.
    val ymTicks = {
      val rnd = new scala.util.Random(29)
      (1 to 150).map(i => TickIn(i.toLong, 7L, 39000 + rnd.nextInt(5200) - 100,
        if (i == 1) 0 else rnd.nextInt(41) - 20))
    }
    val esTicks = {
      val rnd = new scala.util.Random(31)
      (1 to 120).map(i => TickIn((1000 + i).toLong, 7L, 39000 + rnd.nextInt(5200) - 100,
        if (i == 1) 0 else rnd.nextInt(41) - 20))
    }
    val expectedYm = HotLoopStep.run(ymTicks, cfg)
    val expectedEs = HotLoopStep.run(esTicks, cfg)

    val keyed: Seq[(String, TickIn)] = ymTicks.map(("YM", _)) ++ esTicks.map(("ES", _))
    // (symbol, tick, event-time); duplicates carry a later event time,
    // like a real replayed source.
    val b1 = keyed.take(180).zipWithIndex.map { case ((s, t), i) => (s, t, ts(i / 10)) }
    val replayed = keyed.slice(150, 180).zipWithIndex
      .map { case ((s, t), i) => (s, t, ts(20 + i / 10)) } // 30 dups of b1's tail
    val b2 = keyed.drop(180).zipWithIndex.map { case ((s, t), i) => (s, t, ts(21 + i / 10)) }

    val input = MemoryStream[(String, TickIn, java.sql.Timestamp)]
    val deduped = TickStream.dedupEventsWithinWatermark(
      input.toDF().toDF("sym", "tick", "ts")
        .withColumn("event_id",
          concat($"sym", lit("#"), $"tick.tick_idx".cast("string"))),
      "10 minutes")
      .select($"sym", $"tick").as[(String, TickIn)]
    val enriched = TickStream.hotLoopStreamKeyed(deduped, cfg).map(_._2)
    val registry = new TickStream.ConsumerRegistry
    val prio = registry.subscribe("prio", TickStream.Priority, 64)
    val mon = registry.subscribe("mon", TickStream.Monitoring, 100)
    val ckpt = Files.createTempDirectory("ckpt7").toString
    val (delivered, sink) = recordingSink()
    // The monitoring consumer never drains: its fill is all it was handed.
    mon.fillProbe = () => delivered("mon").size
    val query = TickStream.broadcastTo(enriched, registry, ckpt, partitionSink = Some(sink))
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(replayed ++ b2: _*); query.processAllAvailable()
      // Dedup: exactly one delivery per distinct tick despite the replay.
      assert(prio.messagesSent.get() == 270 && prio.messagesDropped.get() == 0)
      val got = delivered("prio")
      assert(got.map(_.tick_idx).distinct.size == 270)
      // Hot-loop state parity: the replayed ticks must NOT have re-folded —
      // every emitted row equals the clean single-run fold per symbol.
      val bySym = got.groupBy(t => if (t.tick_idx >= 1000) "ES" else "YM")
        .view.mapValues(_.sortBy(_.tick_idx).toSeq)
      assert(bySym("YM") == expectedYm)
      assert(bySym("ES") == expectedEs)
      // Drop policy still applies downstream of the stateful stages: the
      // monitoring consumer keeps only its buffer's worth.
      assert(mon.messagesSent.get() == 100)
      assert(mon.messagesDropped.get() == 170)
    } finally query.stop()
  }

  test("streaming dedup within watermark drops cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val out = TickStream.dedupEventsWithinWatermark(
      input.toDS().toDF("event_id", "ts", "value"), "10 minutes")
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(
        ("a", ts("2024-01-01 00:00:01"), 1.0),
        ("a", ts("2024-01-01 00:00:02"), 2.0), // in-batch dup
        ("b", ts("2024-01-01 00:00:03"), 3.0))
      query.processAllAvailable()
      input.addData(
        ("a", ts("2024-01-01 00:00:30"), 4.0), // cross-batch dup, in horizon
        ("c", ts("2024-01-01 00:01:00"), 5.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id").as[String]
        .collect().sorted.toSeq
      assert(ids == Seq("a", "b", "c"))
    } finally query.stop()
  }

  test("stream-stream interval join pairs ticks with in-horizon quotes only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tickIn = MemoryStream[(String, java.sql.Timestamp, Double)]
    val quoteIn = MemoryStream[(String, java.sql.Timestamp, Double)]
    val joined = TickStream.joinTicksWithQuotes(
      tickIn.toDS().toDF("symbol", "tick_ts", "price"),
      quoteIn.toDS().toDF("q_symbol", "quote_ts", "bid"),
      watermark = "10 seconds", tolerance = "5 seconds")
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_ssj").toString
    val query = joined.writeStream
      .format("memory").queryName("ssj_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      quoteIn.addData(
        ("ES", ts("2024-01-01 00:00:01"), 100.25), // in horizon of the :06 tick
        ("ES", ts("2024-01-01 00:00:05"), 100.50), // in horizon
        ("YM", ts("2024-01-01 00:00:05"), 999.0))  // wrong symbol
      tickIn.addData(("ES", ts("2024-01-01 00:00:06"), 101.0))
      query.processAllAvailable()
      quoteIn.addData(("ES", ts("2024-01-01 00:00:20"), 100.75)) // after the tick
      tickIn.addData(("ES", ts("2024-01-01 00:00:26"), 102.0))   // window [:21, :26] excludes the :20 quote
      query.processAllAvailable()
      val got = spark.table("ssj_out")
        .select($"tick_ts".cast("string"), $"quote_ts".cast("string"), $"bid")
        .as[(String, String, Double)].collect().sorted.toSeq
      // tick :06 matches quotes :01 and :05 (ES, within [-5s, 0]);
      // the YM quote never joins; tick :26's window [:21, :26] excludes :20.
      assert(got == Seq(
        ("2024-01-01 00:00:06", "2024-01-01 00:00:01", 100.25),
        ("2024-01-01 00:00:06", "2024-01-01 00:00:05", 100.50)))
    } finally query.stop()
  }

  test("left-outer stream-stream join emits unmatched ticks after state expiry") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tickIn = MemoryStream[(String, java.sql.Timestamp, Double)]
    val quoteIn = MemoryStream[(String, java.sql.Timestamp, Double)]
    val joined = TickStream.joinTicksWithQuotesOuter(
      tickIn.toDS().toDF("symbol", "tick_ts", "price"),
      quoteIn.toDS().toDF("q_symbol", "quote_ts", "bid"),
      watermark = "5 seconds", tolerance = "5 seconds")
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_ssjo").toString
    val query = joined.writeStream
      .format("memory").queryName("ssjo_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // One matched tick and one unmatched tick (no ES quote in [:25, :30]).
      quoteIn.addData(("ES", ts("2024-01-01 00:00:05"), 100.5))
      tickIn.addData(("ES", ts("2024-01-01 00:00:06"), 101.0),
        ("ES", ts("2024-01-01 00:00:30"), 103.0))
      query.processAllAvailable()
      // Advance both watermarks far past :30 + tolerance so the engine can
      // prove no quote for the :30 tick can still arrive (null-side emit).
      quoteIn.addData(("ES", ts("2024-01-01 00:10:00"), 104.0))
      tickIn.addData(("ES", ts("2024-01-01 00:10:00"), 104.5))
      query.processAllAvailable()
      quoteIn.addData(("ES", ts("2024-01-01 00:20:00"), 105.0))
      tickIn.addData(("ES", ts("2024-01-01 00:20:00"), 105.5))
      query.processAllAvailable()
      val got = spark.table("ssjo_out")
        .select($"tick_ts".cast("string"), $"bid")
        .as[(String, Option[Double])].collect().toSeq
      val matched = got.filter(_._1 == "2024-01-01 00:00:06")
      val unmatched = got.filter(_._1 == "2024-01-01 00:00:30")
      assert(matched == Seq(("2024-01-01 00:00:06", Some(100.5))))
      assert(unmatched == Seq(("2024-01-01 00:00:30", None)),
        s"unmatched tick not emitted with null bid: $got")
    } finally query.stop()
  }

  test("stream-static enrichment broadcasts the dim and keeps unmatched rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val dim = Seq(("YM", "Dow mini"), ("ES", "S&P mini"))
      .toDF("symbol", "contract_name")
    val out = TickStream.enrichTicksWithStaticDim(
      input.toDS().toDF("symbol", "price"), dim)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val query = out.writeStream
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(("YM", 39000.0), ("NQ", 18000.0))
      query.processAllAvailable()
      input.addData(("ES", 5200.0))
      query.processAllAvailable()
      val got = spark.table("enrich_out")
        .select($"symbol", $"contract_name").as[(String, Option[String])]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq(
        ("ES", Some("S&P mini")), ("NQ", None), ("YM", Some("Dow mini"))),
        s"enrichment wrong: $got")
    } finally query.stop()
  }

  test("idempotent foreachBatch sink: replayed batch overwrites, never duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val outDir = java.nio.file.Files.createTempDirectory("fb_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fb_ckpt").toString
    val df = input.toDS().toDF("symbol", "price")
    val q1 = TickStream.runIdempotentBatchSink(df, outDir, ckpt)
    try {
      input.addData(("YM", 1.0), ("YM", 2.0))
      q1.processAllAvailable()
      input.addData(("ES", 3.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterRun = spark.read.parquet(outDir)
    assert(afterRun.count() == 3, "first run lost rows")
    // Replay batch 1 by hand through the same sink body (what a restart
    // that crashed between sink write and checkpoint commit would do):
    // the overwrite of the SAME batch path must not duplicate rows.
    Seq(("ES", 3.0)).toDF("symbol", "price")
      .write.mode("overwrite").parquet(s"$outDir/batch_id=1")
    val afterReplay = spark.read.parquet(outDir)
    assert(afterReplay.count() == 3,
      s"replayed batch duplicated rows: ${afterReplay.count()}")
    assert(afterReplay.where($"symbol" === "ES").count() == 1)
  }
}
