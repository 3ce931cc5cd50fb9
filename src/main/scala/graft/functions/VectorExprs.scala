package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  LongType, StructField, StructType}

/** Dot product of two float vectors, evaluated in double precision as a
  * sequential fold — a native Catalyst expression with whole-stage
  * codegen (`doGenCode` emits a tight primitive loop over the unsafe
  * array data). Replaces the interpreted `aggregate(zip_with(...))`
  * higher-order-function formulation, which allocates per element; the
  * result is bitwise identical (same fold order, same widening), so
  * DuckDB oracle parity is preserved while pair-scoring gets ~20×
  * faster. Degenerate inputs keep the HOF semantics exactly:
  * `zip_with` pads the shorter array with null and a null element
  * poisons the running sum, so mismatched lengths or any null element
  * yield NULL — never a silently partial dot product. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"float_vec_dot expects two array<float> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      acc += la.getFloat(i).toDouble * ra.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($l.isNullAt($i) || $r.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $l.getFloat($i) * (double) $r.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two DOUBLE vectors as a sequential left fold from
  * 0.0 — the native, whole-stage-codegen form of the analysis tier's
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (s, x) -> s + x)`
  * (`Similarity.dotD`, and via `vec_dot_d(a, a)` the radicand of
  * `normD`). Bitwise identical to the HOF: the accumulator starts at
  * 0.0 and adds each product in index order, so every IEEE add/mul
  * happens on identical operands in identical sequence; DuckDB oracle
  * parity (list_reduce) is preserved while the per-pair cost drops
  * from an interpreted two-HOF chain (per-element boxed lambda calls
  * plus an intermediate product array) to a primitive loop. Degenerate
  * inputs keep HOF semantics exactly: mismatched lengths (zip_with's
  * null padding) or any null element poison the sum to NULL. */
case class DoubleVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot_d expects two array<double> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot_d"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      acc += la.getDouble(i) * ra.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($l.isNullAt($i) || $r.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $l.getDouble($i) * $r.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVecDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two DOUBLE vectors as a sequential left fold
  * from 0.0 — the native form of `Similarity.sqDist`'s
  * `aggregate(zip_with(v, c, (x, y) -> (x-y)*(x-y)), 0.0D, +)`.
  * Same bitwise-parity and null/ragged contract as [[DoubleVecDot]]:
  * identical operand sequence (subtract once, square, accumulate in
  * index order from 0.0), NULL on length mismatch or a null element.
  * This is the k-means hot path: Lloyd assignment evaluates it k
  * times per row (inside the centers `transform`, whose interpreted
  * lambda now calls this expression's primitive `eval` loop instead
  * of recursing into two more interpreted HOFs per center). */
case class DoubleVecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_sqdist_d expects two array<double> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_sqdist_d"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      val d = la.getDouble(i) - ra.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($l.isNullAt($i) || $r.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $l.getDouble($i) - $r.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVecSqDist =
    copy(left = newLeft, right = newRight)
}

/** SemDeDup's per-cluster drop count over one cluster's members, an
  * `array<struct<id: long, vec: array<double>>>`: the number of
  * DISTINCT ids b for which some member a with `a.id < b.id` has
  * `round(dot(a.vec, b.vec), 9) >= threshold`.
  *
  * It is the grouped, one-row-per-cluster form of the pair plan
  * `l.join(r, cid)` → `a_id < b_id` → `round(vec_dot_d(va, vb), 9) >=
  * threshold` → distinct b per cid, and matches it bit for bit:
  *  - the dot is [[DoubleVecDot]]'s sequential fold from 0.0, and is
  *    NULL (never counted) for ragged lengths or a null element;
  *  - the rounding is Spark's double `round(x, 9)`: `BigDecimal(x)`
  *    set to scale 9 HALF_UP, NaN and infinities passed through;
  *  - the compare is Spark SQL's double ordering, where NaN sorts above
  *    every number, so a NaN cosine (a NaN vector element) counts;
  *  - a null member, id or vector pairs with nothing, like the join's
  *    null keys and null dots.
  * Rounding to 9 decimals moves a value by at most 5e-10, so a dot more
  * than 1e-9 from the threshold decides the compare without the
  * BigDecimal round; that is why the threshold must lie in [-1, 1],
  * the cosine range, where 1e-9 exceeds a double's spacing.
  *
  * The work per cluster is the join's: at most one dot per (a, b) pair
  * with a.id < b.id, and b stops at its first qualifying a. */
case class ClusterNearDupCount(child: Expression, threshold: Double)
    extends UnaryExpression with CodegenFallback {
  require(threshold >= -1.0 && threshold <= 1.0,
    s"cluster_near_dup_count threshold must be a cosine, got $threshold")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "cluster_near_dup_count expects array<struct<id: long, " +
        s"vec: array<double>>>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "cluster_near_dup_count"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // members with an id and a null-free vector, sorted by id
    val members = (0 until arr.numElements()).iterator
      .filterNot(arr.isNullAt).map(arr.getStruct(_, 2))
      .filter(m => !m.isNullAt(0) && !m.isNullAt(1) && {
        val v = m.getArray(1)
        !(0 until v.numElements()).exists(v.isNullAt)
      })
      .map(m => m.getLong(0) -> m.getArray(1).toDoubleArray())
      .toArray.sortBy(_._1)
    var count = 0L
    var s = 0
    while (s < members.length) {
      // the run [s, e) shares one id b; its candidates a are [0, s)
      var e = s
      while (e < members.length && members(e)._1 == members(s)._1) e += 1
      var hit = false
      var j = s
      while (!hit && j < e) {
        var i = 0
        while (!hit && i < s) {
          hit = near(members(i)._2, members(j)._2)
          i += 1
        }
        j += 1
      }
      if (hit) count += 1
      s = e
    }
    count
  }

  private def near(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && {
      var acc = 0.0
      var i = 0
      while (i < a.length) {
        acc += a(i) * b(i)
        i += 1
      }
      if (acc.isNaN || acc >= threshold + 1e-9) true
      else if (acc < threshold - 1e-9) false
      else SQLOrderingUtil.compareDoubles(
        BigDecimal(acc).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, threshold) >= 0
    }

  override protected def withNewChildInternal(
      newChild: Expression): ClusterNearDupCount = copy(child = newChild)
}

object VectorExprs {
  /** `vec_dot(a, b)` as a Column over array<float> columns. */
  def vecDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(FloatVecDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `vec_dot_d(a, b)` as a Column over array<double> columns. */
  def vecDotD(a: Column, b: Column): Column =
    GraftSqlBridge.column(DoubleVecDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `vec_sqdist_d(a, b)` as a Column over array<double> columns. */
  def vecSqDistD(a: Column, b: Column): Column =
    GraftSqlBridge.column(DoubleVecSqDist(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `cluster_near_dup_count(members)` as a Column over an
    * array<struct<id, vec>> column; see [[ClusterNearDupCount]]. */
  def clusterNearDupCount(members: Column, threshold: Double): Column =
    GraftSqlBridge.column(ClusterNearDupCount(
      GraftSqlBridge.expression(members), threshold))
}
