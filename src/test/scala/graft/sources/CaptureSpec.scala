package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.config.{BarConfig, SignalConfig}
import graft.operators.TickPipeline

class CaptureSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ticks = TickPipeline.syntheticTicksExpanded(spark, "/root/testdata/sf0.001")
  private lazy val cfg = SignalConfig(encoderType = "derivative", minPrice = 39000,
    maxPrice = 44000, tickDerivativeImagScale = 2.0f)

  private def sameShape(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq

  test("tick capture: 7-col schema, windowed by dense tick range, parquet round-trip") {
    val hot = TickPipeline.hotLoopChunked(ticks, cfg)
    val cap = Capture.tickCapture(hot, tickStart = 100, numRecords = 500)
    assert(sameShape(cap.schema, Capture.tickCaptureSchema))
    val rows = cap.collect()
    assert(rows.length == 500)
    assert(rows.map(_.getInt(0)).min == 101 && rows.map(_.getInt(0)).max == 600)

    val dir = Files.createTempDirectory("cap").toString
    Capture.writeParquet(cap, dir)
    val back = spark.read.parquet(dir)
    assert(sameShape(back.schema, Capture.tickCaptureSchema))
    assert(back.count() == 500)
  }

  test("tick capture fails loudly on a tick_idx past Int.MaxValue instead of wrapping") {
    def capture(idx: Long) =
      Seq((idx, 40000, 0, 0.0, 0.0, 1.0, 0))
        .toDF("tick_idx", "raw_price", "price_delta", "signal_re", "signal_im",
          "normalization", "status_flag")
        .transform(Capture.tickCapture(_))
    assert(capture(Int.MaxValue.toLong).collect().map(_.getInt(0)).toSeq == Seq(Int.MaxValue))
    val e = intercept[Exception](capture(1L << 31).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(messages.exists(_.contains(Capture.TickIdxOverflow)), e)
  }

  test("bar capture: 11-col schema and CSV round-trip preserves values exactly") {
    val bars = TickPipeline.bars(ticks, BarConfig(enabled = true, ticksPerBar = 21,
      barMethod = "boxcar"))
    val cap = Capture.barCapture(bars, ticksPerBar = 21, tickStart = 0, numRecords = 40)
    assert(sameShape(cap.schema, Capture.barCaptureSchema))
    assert(cap.count() == 40)

    val dir = Files.createTempDirectory("capcsv").toString
    Capture.writeCsv(cap, dir)
    val back = Capture.readCsv(spark, dir, Capture.barCaptureSchema)
    assert(sameShape(back.schema, Capture.barCaptureSchema))
    val a = cap.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b) // float/byte text round-trip is exact
  }

  test("tick CSV export round-trips through the schema-checked reader") {
    val hot = TickPipeline.hotLoopChunked(ticks, cfg)
    val cap = Capture.tickCapture(hot, tickStart = 0, numRecords = 200)
    val dir = Files.createTempDirectory("tickcsv").toString
    Capture.writeCsv(cap, dir)
    val back = Capture.readCsv(spark, dir, Capture.tickCaptureSchema)
    assert(back.count() == 200)
    assert(back.collect().map(_.toSeq).toSet == cap.collect().map(_.toSeq).toSet)
  }
}
