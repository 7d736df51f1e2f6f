package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding hot path.
  *
  * `aggregate(zip_with(a, b, ...))` builds an intermediate array per row and
  * walks lambda-function plumbing per element; at 100 TB of embeddings that
  * materialization is the similarity scan's bottleneck. This expression
  * computes the dot product directly over the two ArrayData buffers inside
  * whole-stage codegen — no intermediate array, no lambda dispatch, plain
  * `double` arithmetic in the generated loop.
  *
  * The summation is the same sequential left fold as the higher-order
  * function form and DuckDB's list_dot_product, so results stay bit-exact
  * with the differential oracle (asserted in VectorExpressionsSpec).
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<double> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmax, fully codegen'd: given a vector, its norm,
  * and the (small, broadcast) centroid array as
  * array<struct<cent_id:bigint, ced:array<double>, cnrm:double>>, return
  * the cent_id maximizing cosine — ties toward the SMALLEST cent_id,
  * matching `row_number() OVER (ORDER BY cos DESC, cent_id)` = 1 in the
  * differential oracle. A NaN cosine (zero-norm vector or centroid makes
  * acc/(nrm*cnrm) 0/0) is mapped to +Infinity before comparing, because
  * DuckDB's ORDER BY ... DESC sorts NaN FIRST (NaN > everything): the
  * zero-norm centroid wins with ties still broken toward the smallest
  * cent_id — the same row the oracle's row_number picks, instead of the
  * silent skip a plain `>` would give (NaN fails both > and ==).
  * The HOF form (`array_max(transform(cents, ...))`)
  * allocates a struct per centroid and eval-dispatches the dot product
  * per element; this is one flat double loop inside whole-stage codegen.
  * Each cosine is the same sequential-fold dot then divide as vec_dot, so
  * values stay bit-exact with DuckDB's list_dot_product. Empty centroid
  * arrays yield -1. */
case class CentroidArgMax(
    first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  import org.apache.spark.sql.types.{LongType, StructType}

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(st: StructType, _)) if st.length == 3 =>
        st(0).dataType == LongType &&
          (st(1).dataType match {
            case ArrayType(DoubleType, _) => true; case _ => false
          }) && st(2).dataType == DoubleType
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis
      .TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("centroid_argmax expects (array<double>, double, " +
        "array<struct<bigint, array<double>, double>>), got " +
        s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
        s"${third.dataType.catalogString})")
  }

  override def nullSafeEval(edAny: Any, nrmAny: Any, centsAny: Any): Any = {
    val ed = edAny.asInstanceOf[ArrayData]
    val nrm = nrmAny.asInstanceOf[Double]
    val cents = centsAny.asInstanceOf[ArrayData]
    val k = cents.numElements()
    var bestId = -1L
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val row = cents.getStruct(c, 3)
      val id = row.getLong(0)
      val ced = row.getArray(1)
      val cnrm = row.getDouble(2)
      val n = math.min(ed.numElements(), ced.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += ed.getDouble(i) * ced.getDouble(i)
        i += 1
      }
      var cos = acc / (nrm * cnrm)
      if (java.lang.Double.isNaN(cos)) cos = Double.PositiveInfinity
      if (cos > bestCos || (cos == bestCos && id < bestId)) {
        bestCos = cos
        bestId = id
      }
      c += 1
    }
    bestId
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ed, nrm, cents) => {
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val row = ctx.freshName("row")
      val id = ctx.freshName("id")
      val ced = ctx.freshName("ced")
      val cnrm = ctx.freshName("cnrm")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val cos = ctx.freshName("cos")
      val bestId = ctx.freshName("bestId")
      val bestCos = ctx.freshName("bestCos")
      s"""
         |int $k = $cents.numElements();
         |long $bestId = -1L;
         |double $bestCos = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.InternalRow $row =
         |    $cents.getStruct($c, 3);
         |  long $id = $row.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $ced =
         |    $row.getArray(1);
         |  double $cnrm = $row.getDouble(2);
         |  int $n = java.lang.Math.min($ed.numElements(),
         |    $ced.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $ed.getDouble($i) * $ced.getDouble($i);
         |  }
         |  double $cos = $acc / ($nrm * $cnrm);
         |  if (java.lang.Double.isNaN($cos)) {
         |    $cos = Double.POSITIVE_INFINITY;
         |  }
         |  if ($cos > $bestCos || ($cos == $bestCos && $id < $bestId)) {
         |    $bestCos = $cos;
         |    $bestId = $id;
         |  }
         |}
         |${ev.value} = $bestId;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CentroidArgMax =
    copy(first = f, second = s, third = t)
}

/** Column API over the native vector expressions. `vec_dot` is defined
  * in [[GraftFunctions.table]], so a session needs it registered
  * ([[GraftFunctions.registerAll]], which `graft.SparkEntry.queries` runs
  * before every build) or injected ([[graft.GraftExtensions]]). */
object VectorFunctions {

  /** Dot product of two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  /** Cosine similarity built on the codegen'd dot product. */
  def vec_cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))
  }
}
