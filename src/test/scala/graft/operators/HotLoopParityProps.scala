package graft.operators

import org.apache.spark.sql.Encoders
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.rng.Seed

import graft.{Graft, SparkSpec}
import graft.config.SignalConfig
import graft.streaming.{HotLoopStep, TickIn}

/** The batch scan (`Graft.hotLoop`) and the sequential fold
  * (`HotLoopStep.run`) agree bit for bit, for every encoder, on generated
  * streams with pre-valid, hold-last and clipped ticks and a planted Q16
  * rounding tie: completed-bar statistics whose Float32 reciprocal
  * `65536f / norm` is exactly n + 0.5 with n even, where ties-to-even and
  * half-up disagree. The input has three partitions, and the second ends
  * exactly on the tie's 144-tick bar boundary, so the tie reaches the
  * third partition only through the scan's carry-in.
  */
object HotLoopParityProps extends Properties("HotLoopParity") {
  private lazy val spark = SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3).withInitialSeed(Seed(20261020L))

  private val cfg = SignalConfig(minPrice = 39000, maxPrice = 44000, maxJump = 50,
    winsorizeDeltaThreshold = 10, tickDerivativeImagScale = 2.0f, cpmModulationIndex = 0.5f)
  private val W = cfg.winsorizeDeltaThreshold
  private val BarTicks = 144

  private def norm(k: Int, sm: Long, sx: Long): Double = math.max(sx.toDouble / k - sm.toDouble / k, 1.0)
  private def quotient(k: Int, sm: Long, sx: Long): Float = 65536.0f / norm(k, sm, sx).toFloat

  /** Bar statistics (k, Σmin, Σmax) that plant a tie: the Float32 quotient
    * rounds differently half-up and ties-to-even, and so does the Double
    * half-up formulation. Ties need ~128+ bars (a quotient with a small
    * denominator never lands on n + 0.5); bars whose min and max sit near
    * +W keep the ratio's normalization small and the search short.
    */
  private lazy val ties: IndexedSeq[(Int, Long, Long)] = (for {
    k <- (128 to 200).iterator
    sm <- (k.toLong * (W - 2) until k.toLong * (W - 2) + k).iterator
    sx <- (sm + k until math.min(sm + 2 * k, k.toLong * W + 1)).iterator
    q = quotient(k, sm, sx).toDouble
    if math.floor(q + 0.5) != math.rint(q) &&
      math.floor(65536.0 / norm(k, sm, sx) + 0.5) != math.rint(q)
  } yield (k, sm, sx)).take(16).toIndexedSeq

  /** A stream planting `tie`, and the index of the tie's boundary tick. */
  private def stream(tie: (Int, Long, Long), seed: Long): (IndexedSeq[TickIn], Int) = {
    val (k, sm, sx) = tie
    val rnd = new scala.util.Random(seed)
    val out = IndexedSeq.newBuilder[(Int, Int)] // (raw_price, price_delta)
    def valid() = 39000 + rnd.nextInt(5001)
    def hold() = if (rnd.nextBoolean()) 30000 + rnd.nextInt(9000) else 44001 + rnd.nextInt(9000)
    // Clipped ticks: a delta at ±W may arrive as anything beyond it.
    def raw(d: Int) = if (math.abs(d) == W && rnd.nextBoolean()) d.sign * (W + 1 + rnd.nextInt(80)) else d
    val pre = 1 + rnd.nextInt(3)
    (1 to pre).foreach(_ => out += ((hold(), rnd.nextInt(41) - 20)))
    out += ((valid(), 0)) // first valid
    var n = pre + 1
    for (i <- 0 until k) {
      val m = Math.floorDiv(sm, k.toLong).toInt + (if (i < Math.floorMod(sm, k.toLong)) 1 else 0)
      val x = Math.floorDiv(sx, k.toLong).toInt + (if (i < Math.floorMod(sx, k.toLong)) 1 else 0)
      val ds = Array.fill(BarTicks)(m + rnd.nextInt(x - m + 1))
      val at = rnd.nextInt(BarTicks)
      ds(at) = m
      ds((at + 1 + rnd.nextInt(BarTicks - 1)) % BarTicks) = x
      ds.foreach { d =>
        if (rnd.nextInt(40) == 0) { out += ((hold(), rnd.nextInt(41) - 20)); n += 1 }
        out += ((valid(), raw(d))); n += 1
      }
    }
    val boundary = n - 1
    // Three partitions whose second ends on the boundary tick.
    val extra = if (n % 2 == 1) 1 else 0
    val total = (n + extra) * 3 / 2
    val body = out.result()
    val tail = (1 to total - n - extra).map { _ =>
      if (rnd.nextInt(20) == 0) (hold(), rnd.nextInt(41) - 20) else (valid(), rnd.nextInt(141) - 70)
    }
    val rows = (if (extra == 1) Seq((hold(), 0)) else Nil) ++ body ++ tail
    (rows.zipWithIndex.map { case ((p, d), i) => TickIn(i + 1L, 0L, p, d) }.toIndexedSeq,
      boundary + extra)
  }

  property("batch scan equals the sequential fold bit for bit at a planted Q16 tie") =
    forAllNoShrink(Gen.oneOf(ties), Gen.long) { (tie, seed) =>
      val (ticks, boundary) = stream(tie, seed)
      val rdd = spark.sparkContext.parallelize(ticks, 3)
      val lastIdx = rdd.mapPartitions(it => Iterator(it.foldLeft(0L)((_, t) => t.tick_idx))).collect()
      val input = Scan.planFenceOrdered(spark.createDataset(rdd)(Encoders.product[TickIn]).toDF(),
        Seq("tick_idx"))
      val (k, sm, sx) = tie
      val tieNorm = 1.0f / (math.rint(quotient(k, sm, sx).toDouble).toFloat * 1.52587890625e-5f)
      val planted = HotLoopStep.run(ticks, cfg)(boundary).normalization == tieNorm
      val mismatched = Seq("derivative", "hexad16", "cpm", "amc").filter { enc =>
        val c = cfg.copy(encoderType = enc)
        TickReference.bitRows(Graft.hotLoop(input, c)) !=
          TickReference.bitRows(HotLoopStep.run(ticks, c))
      }
      (lastIdx(1) == boundary + 1L) :| s"partition edge at ${lastIdx.toSeq}, boundary tick ${boundary + 1}" &&
        planted :| s"no tie planted at tick ${boundary + 1} for $tie" &&
        mismatched.isEmpty :| s"batch != sequential for ${mismatched.mkString(", ")}"
    }
}
