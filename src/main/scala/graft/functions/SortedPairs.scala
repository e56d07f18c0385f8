package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** All ordered pairs (pa < pb) of a long array's distinct elements —
  * optionally of only the `cap` SMALLEST distinct elements — as a native
  * codegen loop: the pair-generation kernel of the co-purchase edge
  * build. Replaces the `items ⋈ items ON ok` self-join shape: a basket
  * of k parts emits its C(min(k,cap),2) within-order edges directly off
  * one `collect_set` aggregation, so the edge list costs ONE exchange
  * (on the order key) before the global (pa,pb) dedup instead of the
  * self-join's three (the (ok,pk) distinct, the ok re-exchange, plus the
  * sort-merge join of two item-scale sides). Probe on this box (sf0.1,
  * warm min): 1259 → 964 ms for the bare edge list.
  *
  * Semantics (the self-join contract, clause by clause):
  *  - input elements are deduplicated (the old shape's `items.distinct()`
  *    — `collect_set` upstream already guarantees this, but dedup here
  *    keeps the expression total);
  *  - `cap` (foldable, default unbounded) keeps the smallest `cap`
  *    distinct elements BEFORE pairing — exactly the old
  *    `row_number() OVER (PARTITION BY ok ORDER BY pk) <= cap` guard;
  *  - pairs are emitted with pa < pb (the `col("pa") < col("pb")`
  *    filter), each distinct unordered pair exactly once;
  *  - fewer than 2 surviving elements → empty array (a 1-item order
  *    joins only with itself and the pa<pb filter drops it);
  *  - null array → null; null ELEMENTS cannot occur in the edge-build
  *    inputs (l_partkey is non-null; a null key would not survive the
  *    old equi-join either).
  *
  * Output order within a basket is lexicographic — irrelevant to every
  * consumer (all feed a global `.distinct()` on (pa, pb)).
  */
case class SortedPairs(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  def this(child: Expression) = this(child, Literal(Int.MaxValue))


  // registered session-wide as SQL temp functions, so misuse (e.g. an
  // array<int> whose 4-byte slots toLongArray would read as 8-byte
  // garbage) must fail at ANALYSIS, not return silent nonsense
  // (no explicit result type: AbstractDataType is private[sql]; the
  // inferred Seq[DataType] conforms covariantly)
  override def inputTypes = Seq(ArrayType(LongType), IntegerType)

  private lazy val cap: Int = {
    // checked here, not in the constructor: analysis-error rendering
    // copies the tree with non-foldable PrettyAttribute children, and a
    // constructor require would mask the real DATATYPE_MISMATCH
    require(right.foldable, "sorted_pairs(arr, cap): cap must be a literal")
    right.eval(null)
  } match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"sorted_pairs cap must be an integer literal, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pa", LongType, nullable = false),
      StructField("pb", LongType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(arr: Any, capAny: Any): Any =
    SortedPairsImpl.compute(arr.asInstanceOf[ArrayData], cap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) =>
      s"${ev.value} = graft.functions.SortedPairsImpl.compute($arr, $cap);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedPairs {
  /** Registers `sorted_pairs` and `sorted_triples` on the session's
    * function registry (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    FunctionRegistration.tempFunctionOnce(spark,
      "sorted_pairs", {
        case Seq(arr) => new SortedPairs(arr)
        case Seq(arr, cap) => SortedPairs(arr, cap)
        case other => throw new IllegalArgumentException(
          s"sorted_pairs takes (arr[, cap]), got ${other.size} args")
      })
    FunctionRegistration.tempFunctionOnce(spark,
      "sorted_triples", {
        case Seq(arr) => new SortedTriples(arr)
        case Seq(arr, cap) => SortedTriples(arr, cap)
        case other => throw new IllegalArgumentException(
          s"sorted_triples takes (arr[, cap]), got ${other.size} args")
      })
  }
}

/** All ordered TRIPLES (pa < pb < pc) of a long array's distinct
  * elements — the Apriori step past [[SortedPairs]], replacing the
  * three-way basket self-join of `frequent_triples` (two sort-merge
  * joins of the capped item relation) with one compiled loop:
  * C(min(k,cap),3) triples per basket. Dedup/cap/null clauses exactly
  * as [[SortedPairs]] (cap keeps the smallest `cap` distinct elements,
  * the keyed-row_number guard; <3 survivors → empty; null → null).
  */
case class SortedTriples(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  def this(child: Expression) = this(child, Literal(Int.MaxValue))


  // analysis-time input validation — see [[SortedPairs.inputTypes]]
  // (no explicit result type: AbstractDataType is private[sql]; the
  // inferred Seq[DataType] conforms covariantly)
  override def inputTypes = Seq(ArrayType(LongType), IntegerType)

  private lazy val cap: Int = {
    // checked here, not in the constructor: analysis-error rendering
    // copies the tree with non-foldable PrettyAttribute children, and a
    // constructor require would mask the real DATATYPE_MISMATCH
    require(right.foldable, "sorted_triples(arr, cap): cap must be a literal")
    right.eval(null)
  } match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"sorted_triples cap must be an integer literal, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pa", LongType, nullable = false),
      StructField("pb", LongType, nullable = false),
      StructField("pc", LongType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(arr: Any, capAny: Any): Any =
    SortedPairsImpl.computeTriples(arr.asInstanceOf[ArrayData], cap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) =>
      s"${ev.value} = graft.functions.SortedPairsImpl.computeTriples($arr, $cap);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Compiled pair loop, called from interpreted eval and generated code. */
object SortedPairsImpl {

  def compute(arr: ArrayData, cap: Int): ArrayData = {
    val raw = arr.toLongArray()
    java.util.Arrays.sort(raw)
    // drop duplicates in place (sorted, so equals are adjacent), keep
    // only the first `cap` survivors — the smallest, by the sort
    var n = 0
    var i = 0
    while (i < raw.length && n < cap) {
      if (n == 0 || raw(n - 1) != raw(i)) { raw(n) = raw(i); n += 1 }
      i += 1
    }
    // Long arithmetic + explicit guard: with an uncapped call a
    // pathological basket >65535 distinct items would overflow
    // n*(n-1)/2 in int to a NEGATIVE array size (runtime crash with no
    // hint at the cause). Fail with the basket size instead.
    val totalPairs = n.toLong * (n - 1) / 2
    if (totalPairs > Int.MaxValue) throw new UnsupportedOperationException(
      s"sorted_pairs: a basket of $n distinct items would emit " +
        s"$totalPairs pairs (> Int.MaxValue); pass a cap")
    val out = new Array[Any](totalPairs.toInt)
    var k = 0
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        out(k) = new GenericInternalRow(
          Array[Any](raw(a), raw(b))): InternalRow
        k += 1
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out)
  }

  /** C(n,3) ascending triples of the (capped) distinct elements — same
    * dedup/cap walk as [[compute]].
    */
  def computeTriples(arr: ArrayData, cap: Int): ArrayData = {
    val raw = arr.toLongArray()
    java.util.Arrays.sort(raw)
    var n = 0
    var i = 0
    while (i < raw.length && n < cap) {
      if (n == 0 || raw(n - 1) != raw(i)) { raw(n) = raw(i); n += 1 }
      i += 1
    }
    // C(2346,3) already exceeds Int.MaxValue, and below that bound the
    // Long product cannot overflow — so the guard costs no BigInt and
    // the old int arithmetic's silent wrap is gone
    val total: Long =
      if (n < 3) 0L
      else if (n >= 2346) Long.MaxValue
      else n.toLong * (n - 1) * (n - 2) / 6
    if (total > Int.MaxValue) throw new UnsupportedOperationException(
      s"sorted_triples: a basket of $n distinct items would emit more " +
        "triples than Int.MaxValue; pass a cap")
    val out = new Array[Any](total.toInt)
    var k = 0
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        var c = b + 1
        while (c < n) {
          out(k) = new GenericInternalRow(
            Array[Any](raw(a), raw(b), raw(c))): InternalRow
          k += 1
          c += 1
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out)
  }
}
