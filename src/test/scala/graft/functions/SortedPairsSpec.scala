package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SortedPairsSpec extends SparkTestBase {

  /** The self-join shape this expression replaced — the reference: dedup
    * the (grp, v) rows, optionally keep each group's `cap` smallest via a
    * keyed row_number, self-join on the group, keep pa < pb.
    */
  private def selfJoinRef(rows: Seq[(Long, Long)],
      cap: Option[Int]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val items0 = rows.toDF("grp", "v").dropDuplicates("grp", "v")
    val items = cap match {
      case Some(c) => items0
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("grp")).orderBy(col("v"))))
        .filter(col("rn") <= c).drop("rn")
      case None => items0
    }
    items.toDF("grp", "pa").join(items.toDF("grp", "pb"), "grp")
      .filter(col("pa") < col("pb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def kernel(rows: Seq[(Long, Long)],
      cap: Option[Int]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    SortedPairs.register(spark)
    val pairsCol = cap match {
      case Some(c) => call_function("sorted_pairs", col("ps"), lit(c))
      case None => call_function("sorted_pairs", col("ps"))
    }
    rows.toDF("grp", "v")
      .groupBy(col("grp")).agg(collect_set(col("v")).as("ps"))
      .select(col("grp"), explode(pairsCol).as("e"))
      .select(col("grp"), col("e.pa"), col("e.pb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("identical to the distinct self-join, random baskets with dups") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(12).toLong)
    }
    assert(kernel(rows, None) == selfJoinRef(rows, None))
  }

  test("cap keeps each group's smallest elements, like the keyed row_number") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 600).map { _ =>
      (rnd.nextInt(10).toLong, rnd.nextInt(40).toLong)
    }
    for (c <- Seq(1, 2, 5, 64))
      assert(kernel(rows, Some(c)) == selfJoinRef(rows, Some(c)),
        s"mismatch at cap=$c")
  }

  test("degenerate baskets: empty set and singleton emit no pairs") {
    val rows = Seq((1L, 7L), (2L, 3L), (2L, 3L))
    assert(kernel(rows, None) == selfJoinRef(rows, None))
    assert(kernel(rows, None).isEmpty)
  }

  test("each distinct unordered pair exactly once, pa < pb") {
    SortedPairs.register(spark)
    val r = spark.sql(
      "SELECT sorted_pairs(array(5L, 2L, 9L, 2L, 5L)) AS p").collect().head
    val pairs = r.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(pairs.toSet == Set((2L, 5L), (2L, 9L), (5L, 9L)))
    assert(pairs.size == 3)
    assert(pairs.forall { case (a, b) => a < b })
  }

  /** The three-way self-join sorted_triples replaced — the reference. */
  private def tripleJoinRef(rows: Seq[(Long, Long)],
      cap: Int): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val items = rows.toDF("grp", "v").dropDuplicates("grp", "v")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"))))
      .filter(col("rn") <= cap).drop("rn")
    items.toDF("grp", "pa")
      .join(items.toDF("grp", "pb"), Seq("grp"))
      .filter(col("pa") < col("pb"))
      .join(items.toDF("grp", "pc"), Seq("grp"))
      .filter(col("pb") < col("pc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  test("sorted_triples identical to the three-way self-join, incl. cap") {
    import spark.implicits._
    SortedPairs.register(spark)
    val rnd = new scala.util.Random(43)
    val rows = (1 to 500).map { _ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(15).toLong)
    }
    for (c <- Seq(2, 3, 4, 16)) {
      val got = rows.toDF("grp", "v")
        .groupBy(col("grp")).agg(collect_set(col("v")).as("ps"))
        .select(col("grp"),
          explode(call_function("sorted_triples", col("ps"), lit(c))).as("e"))
        .select(col("grp"), col("e.pa"), col("e.pb"), col("e.pc"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == tripleJoinRef(rows, c), s"mismatch at cap=$c")
    }
  }

  test("null array yields null") {
    SortedPairs.register(spark)
    val r = spark.sql(
      "SELECT sorted_pairs(CAST(NULL AS ARRAY<BIGINT>)) AS p")
      .collect().head
    assert(r.isNullAt(0))
  }

  test("non-long element types fail at analysis, not as silent garbage") {
    // toLongArray over an UnsafeArrayData of 4-byte ints would read
    // 8-byte slots — ExpectsInputTypes must reject it before execution.
    // The cap is pinned to INT the same way: a BIGINT cap is not cast.
    SortedPairs.register(spark)
    for (fn <- Seq("sorted_pairs", "sorted_triples");
         args <- Seq("array(1, 2, 3)", "array(1L, 2L, 3L), CAST(2 AS BIGINT)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $fn($args)").collect()
      }
      assert(e.getMessage.toLowerCase.contains("type"),
        s"$fn($args): expected a type-check analysis error, got: ${e.getMessage}")
    }
  }

  test("pair/triple counts past Int.MaxValue fail loudly, never wrap") {
    // n = 65537 distinct items → C(n,2) just over Int.MaxValue: the old
    // int arithmetic wrapped to a negative allocation size
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val big = new GenericArrayData(
      Array.tabulate(65537)(i => (i.toLong): Any))
    val eP = intercept[UnsupportedOperationException] {
      SortedPairsImpl.compute(big, Int.MaxValue)
    }
    assert(eP.getMessage.contains("65537"))
    val big3 = new GenericArrayData(
      Array.tabulate(2346)(i => (i.toLong): Any))
    val eT = intercept[UnsupportedOperationException] {
      SortedPairsImpl.computeTriples(big3, Int.MaxValue)
    }
    assert(eT.getMessage.contains("2346"))
  }
}
