package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

class BottomKSpec extends SparkSpec {

  test("aggregate semantics: bounded, ascending, merge-associative") {
    val st = new StructType().add("neg", DoubleType).add("id", LongType)
    val agg = BottomK(BoundReference(0, st, nullable = true), 3)
    // (negated score, id): scores 5, 9, 9, 1, 7 for ids 1..5
    val items = Seq((-5.0, 1L), (-9.0, 2L), (-9.0, 3L), (-1.0, 4L), (-7.0, 5L))
      .map { case (s, id) => InternalRow(InternalRow(s, id)) }
    def fold(rows: Seq[InternalRow]) =
      rows.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, r))
    def result(buf: java.util.PriorityQueue[InternalRow]): Seq[(Double, Long)] = {
      val arr = agg.eval(buf).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 2); (r.getDouble(0), r.getLong(1)) }
    }
    // the three best scores, ascending by negation, ties by ascending id
    val all = result(fold(items))
    assert(all == Seq((-9.0, 2L), (-9.0, 3L), (-7.0, 5L)))
    // merging partial buffers, in either grouping, gives the one-pass
    // result, also through the serialized shuffle form
    val Seq(a, b, c) = Seq(items.take(2), items.slice(2, 4), items.drop(4)).map(fold)
    def ser(buf: java.util.PriorityQueue[InternalRow]) = agg.deserialize(agg.serialize(buf))
    assert(result(agg.merge(agg.merge(ser(a), ser(b)), ser(c))) == all)
    val Seq(a2, b2, c2) = Seq(items.take(2), items.slice(2, 4), items.drop(4)).map(fold)
    assert(result(agg.merge(a2, agg.merge(b2, c2))) == all)
    // null inputs are skipped; an empty group is an empty array
    assert(result(fold(Seq(InternalRow(null)))) == Seq.empty)
  }

  test("a single-group whale returns exactly k rows, equal to the row_number window") {
    val k = 37
    val whale = spark.range(0, 10000, 1, 8)
      .select(lit("w").as("g"), col("id"),
              pmod(col("id") * 7919L + 13L, lit(1009L)).as("h"))
    val got = whale.groupBy(col("g"))
      .agg(VectorFunctions.bottomK(struct(col("h"), col("id")), k).as("top"))
      .select(inline(col("top")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val w = Window.partitionBy(col("g")).orderBy(col("h"), col("id"))
    val replay = whale.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).orderBy(col("rn"))
      .collect().map(r => (r.getAs[Long]("h"), r.getAs[Long]("id"))).toSeq
    assert(got.length == k)
    assert(got == replay)
  }

  test("q43 top-k query agrees with the window formulation") {
    val viaAgg = graft.queries.Relational.q43TopKAgg(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val viaWindow = graft.queries.Relational.q04TopOrdersPerCustomer(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(viaAgg sameElements viaWindow)
  }
}
