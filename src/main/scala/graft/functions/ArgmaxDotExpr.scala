package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `argmax_dot(v, cents, offsets, ids) → struct<cluster bigint,
  * score double>`: nearest-centroid assignment in ONE call-sized
  * expression. For each centroid row `m` the score is
  * `vec_dot(v, cents[m]) − offsets[m]` (the caller precomputes
  * `offsets[m] = 0.5·|c_m|²`, turning argmin-distance into
  * argmax-score); a strictly-greater left-to-right fold keeps the FIRST
  * maximum, so ties go to the earliest row — with `ids` sorted
  * ascending, the lowest cluster id, exactly the k-means contract of
  * [[graft.pipeline.Clustering]].
  *
  * The k-scalability point: the centroid matrix arrives as DATA (one
  * literal/broadcast array-of-arrays child), not as k expression nodes.
  * The previous formulation built k `vec_dot` columns plus a k-deep
  * `when`-chain — O(k) generated code that crosses the JVM's
  * huge-method JIT limit at IVF-scale k (the SCALING.md q22 lesson:
  * wide trees inlined into a generated method de-JIT the whole stage).
  * Here the generated code is one static call whatever k is; the loop
  * over centroids is ordinary JIT-able Java.
  *
  * Arithmetic is bit-identical to the expression-tree form it replaces:
  * same sequential `vec_dot` folds, one subtraction per centroid, same
  * strict `>` comparisons in the same order (ClusteringSpec pins the
  * equivalence; the DuckDB unrolled-CTE oracle replays it too).
  */
case class ArgmaxDotExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = isDoubleArray(first.dataType) &&
      (second.dataType match {
        case ArrayType(inner, _) => isDoubleArray(inner)
        case _ => false
      }) &&
      isDoubleArray(third.dataType) &&
      (fourth.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>, " +
        s"ARRAY<DOUBLE>, ARRAY<BIGINT>), got (${first.dataType.simpleString}, " +
        s"${second.dataType.simpleString}, ${third.dataType.simpleString}, " +
        s"${fourth.dataType.simpleString})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def prettyName: String = "argmax_dot"

  override protected def nullSafeEval(v: Any, cents: Any, off: Any, ids: Any): Any =
    ArgmaxDotExpr.compute(v.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData],
      off.asInstanceOf[ArrayData], ids.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c, o, i) =>
      s"graft.functions.ArgmaxDotExpr.compute($v, $c, $o, $i)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object ArgmaxDotExpr {
  def compute(v: ArrayData, cents: ArrayData, off: ArrayData,
      ids: ArrayData): InternalRow = {
    val k = cents.numElements()
    // argmax_dot is SQL-registered, so arbitrary callers reach this —
    // turn shape violations into readable contract errors rather than
    // an ArrayIndexOutOfBoundsException deep inside codegen.
    if (k == 0) throw new IllegalArgumentException(
      "argmax_dot requires a non-empty centroid matrix")
    if (off.numElements() < k || ids.numElements() < k)
      throw new IllegalArgumentException(
        s"argmax_dot offsets/ids must have one entry per centroid row: " +
          s"k=$k, offsets=${off.numElements()}, ids=${ids.numElements()}")
    // Null ELEMENTS get the same treatment as shape violations: a null
    // centroid row would NPE inside the dot, and a null offset slot on
    // the unsafe path would silently read 0.0 — a wrong assignment, the
    // worst failure mode for a SQL-reachable function.
    var m = 0
    while (m < k) {
      if (cents.isNullAt(m) || off.isNullAt(m) || ids.isNullAt(m))
        throw new IllegalArgumentException(
          s"argmax_dot does not accept null centroid/offset/id elements (row $m)")
      // A dimension mismatch would silently TRUNCATE the dot (vec_dot
      // folds over the shorter operand) — a plausible-but-wrong
      // assignment, the worst failure mode for a SQL-reachable function.
      if (cents.getArray(m).numElements() != v.numElements())
        throw new IllegalArgumentException(
          s"argmax_dot dimension mismatch: query vector has " +
            s"${v.numElements()} components, centroid row $m has " +
            s"${cents.getArray(m).numElements()}")
      m += 1
    }
    val (best, bestS) =
      argmax(k, j => VecDotExpr.dot(v, cents.getArray(j)) - off.getDouble(j))
    new GenericInternalRow(Array[Any](ids.getLong(best), bestS))
  }

  /** The nearest-centroid rule — the one copy this expression and the
    * driver-side k-means trainer ([[graft.pipeline.Clustering.lloyd]])
    * share: a strictly-greater left-to-right fold of `score` over rows
    * `0 until k` keeps the FIRST maximum, so with ids ascending the
    * lowest id wins a tie. Returns the winning row and its score. */
  def argmax(k: Int, score: Int => Double): (Int, Double) = {
    var best = 0
    var bestS = score(0)
    var m = 1
    while (m < k) {
      val s = score(m)
      if (s > bestS) { bestS = s; best = m }
      m += 1
    }
    (best, bestS)
  }
}
