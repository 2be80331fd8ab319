package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

import graft.SparkSpec

/** Two-pass scalable total-order operators vs their single-partition
  * window equivalents.
  */
class OrderedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = (1 to 1000).map(i => (i * 7919) % 1000)
    .toDF("key").repartition(7)

  test("withGlobalIndex equals row_number over a global orderBy") {
    val fast = Ordered.withGlobalIndex(df, "idx", "key")
      .select($"key", $"idx").as[(Int, Long)].collect().sortBy(_._1)
    val slow = df.withColumn("idx", row_number().over(Window.orderBy("key")).cast("long"))
      .select($"key", $"idx").as[(Int, Long)].collect().sortBy(_._1)
    assert(fast.toSeq == slow.toSeq)
  }

  test("Scan carries non-commutative hold-last state across partitions") {
    // State: last non-zero value seen strictly before the row.
    val in = Ordered.withGlobalIndex(
      (1 to 100).map(i => (i, if (i % 7 == 0) i else 0)).toDF("ord", "v")
        .repartition(5), "idx", "ord")
    val vIdx = in.schema.fieldIndex("v")
    val out = Scan.scan[Int](
      in,
      Seq(StructField("held", IntegerType, nullable = false)),
      zero = 0,
      lift = r => r.getInt(vIdx),
      combine = (a, b) => if (b != 0) b else a,
      emit = (s, _: InternalRow) => Seq(s))
    val got = out.select($"ord", $"held").as[(Int, Int)].collect().sortBy(_._1)
    var expectHeld = 0
    got.foreach { case (ord, held) =>
      assert(held == expectHeld, s"at ord $ord")
      if (ord % 7 == 0) expectHeld = ord
    }
  }
}
