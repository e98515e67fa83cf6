package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the similarity hot path: the dot product
  * of two float-array columns, accumulated left-to-right in double.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0d, _+_)` —
  * same element order, same widening, bit-identical result — but:
  *  - no intermediate 64-element array allocation per pair;
  *  - participates in whole-stage codegen via [[doGenCode]] (a tight
  *    primitive loop over the two `ArrayData`), where the higher-order
  *    fold runs through `HigherOrderFunction` lambda plumbing per element.
  *
  * On a 100 TB similarity join this expression is evaluated per candidate
  * pair, so constant-factor cost here dominates the stage.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL when lengths differ or any compared element is NULL — exactly the
  // zip_with(pads-with-null) + fold(null-propagates) behavior the
  // equivalence above promises. Reading a null slot via getFloat would
  // silently yield 0.0f and a finite WRONG product.
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product_float expects (array<float>, array<float>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  /** Schema-guaranteed non-null elements on BOTH sides → the per-element
    * null branch can be compiled out of the hot loop entirely.
    */
  private def elementsNeverNull: Boolean =
    Seq(left, right).forall(_.dataType match {
      case ArrayType(_, containsNull) => !containsNull
      case _ => false
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = !elementsNeverNull
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val nullCheck =
        if (elementsNeverNull) ""
        else s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }"
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  $nullCheck
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** [[DotProductFloat]]'s double-array sibling: left-to-right fold dot of
  * two `array<double>` columns — bit-identical to
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` (same element order, null
  * and length-mismatch propagation) but a tight codegen'd primitive loop.
  * Built for the relational-covariance path, where the 4096 column-pair
  * dots each walk two |N|-element transposed arrays: the fold form pays
  * lambda plumbing per element, and a decimal-sum detour per product row
  * costs more than the whole dot.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product_double expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  private def elementsNeverNull: Boolean =
    Seq(left, right).forall(_.dataType match {
      case ArrayType(_, containsNull) => !containsNull
      case _ => false
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = !elementsNeverNull
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val nullCheck =
        if (elementsNeverNull) ""
        else s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }"
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

/** Integer sibling of [[DotProductFloat]]: exact BIGINT dot of two
  * `array<bigint>` columns — the scoring primitive of int8
  * scalar-quantized search (`sim_sq_topk`), where every product and the
  * sum are exact small integers. Same null/length-mismatch contract as
  * the float/double forms; the codegen'd loop keeps the per-candidate
  * score inside the whole-stage span instead of an interpreted
  * `aggregate(zip_with(...))` lambda per element.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product_long expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  private def elementsNeverNull: Boolean =
    Seq(left, right).forall(_.dataType match {
      case ArrayType(_, containsNull) => !containsNull
      case _ => false
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = !elementsNeverNull
    var acc = 0L
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val nullCheck =
        if (elementsNeverNull) ""
        else s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }"
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |long $acc = 0L;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** Intersection cardinality of two SORTED distinct long arrays, via a
  * linear merge walk — no hash set, no result-array allocation (Spark's
  * `array_intersect` builds both). For blocked pairwise set-similarity the
  * per-pair cost is what dominates the stage; inputs are sorted once per
  * row upstream (`array_sort(array_distinct(...))`).
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"intersect_count_sorted expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  // NULL elements sort LAST (array_sort) and equal nothing, so reaching
  // one ends the meaningful merge region — stop there instead of reading
  // the slot as garbage 0L.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m && !x.isNullAt(i) && !y.isNullAt(j)) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m
         |       && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  val DotName = "graft_dot_f"
  val DotDName = "graft_dot_d"
  val DotLName = "graft_dot_l"
  val IntersectName = "graft_intersect_count_sorted"
  val HeavyName = "graft_heavy_hitters"
  val PairName = "graft_pair_expand"
  val QuantileName = "graft_quantile_sketch"
  val KmvName = "graft_kmv"

  /** SQL name → builder of each vector expression. */
  private[graft] val builders: Seq[(String, FunctionTable.Builder)] = Seq(
    DotName -> (exprs => DotProductFloat(exprs(0), exprs(1))),
    DotDName -> (exprs => DotProductDouble(exprs(0), exprs(1))),
    DotLName -> (exprs => DotProductLong(exprs(0), exprs(1))),
    IntersectName -> (exprs => IntersectCountSorted(exprs(0), exprs(1))),
    HeavyName -> (exprs => HeavyHitters(exprs(0),
      k = foldInt(exprs(1)), capacity = foldInt(exprs(2)))
      .toAggregateExpression()),
    PairName -> (exprs => PairExpand(exprs(0))),
    QuantileName -> (exprs => QuantileSketch(exprs(0),
      percentages = foldDoubles(exprs(1)), capacity = foldInt(exprs(2)))
      .toAggregateExpression()),
    KmvName -> (exprs => KmvSketch(exprs(0), k = foldInt(exprs(1)))
      .toAggregateExpression()))

  /** Register the vector expressions in the session's function registry
    * (idempotent). Spark 4 hides Column↔Expression conversion behind
    * `private[sql]`, so the public path to a custom Expression is the
    * registry + `expr("graft_dot_f(a, b)")` / SQL.
    */
  def register(spark: SparkSession): Unit =
    FunctionTable.registerMissing(spark, builders)

  private[graft] def foldDoubles(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Double] =
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toDoubleArray().toSeq
      case other => throw new IllegalArgumentException(
        s"expected array<double> literal, got $other")
    }

  private[graft] def foldInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.eval(null) match {
      // integral widths only (a SQL CAST(... AS SMALLINT/TINYINT)
      // arrives as Short/Byte) — a bare Number case would also match
      // Double/Decimal and silently TRUNCATE a fractional k or capacity
      case b: java.lang.Byte    => b.intValue()
      case s: java.lang.Short   => s.intValue()
      case i: java.lang.Integer => i.intValue()
      // range-checked, not intValue(): a Long/Decimal outside Int range
      // must reject loudly, not wrap (2^32+1 silently becoming 1 would
      // hand a sketch a garbage capacity)
      case l: java.lang.Long if l.longValue().isValidInt => l.intValue()
      case d: org.apache.spark.sql.types.Decimal
        if d.toBigDecimal.isWhole && d.toBigDecimal.isValidInt => d.toInt
      case other => throw new IllegalArgumentException(
        s"expected integer literal in Int range, got $other")
    }

  /** Column over the registered sorted-intersect-count expression. */
  def intersectCountSorted(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(IntersectName, a, b)

  /** Column over the registered expression — call [[register]] on the
    * session first (ops in [[graft.operators.Similarity]] do).
    */
  def dotF(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(DotName, a, b)

  /** Double-array twin of [[dotF]] ([[DotProductDouble]]). */
  def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(DotDName, a, b)

  /** Exact BIGINT twin of [[dotF]] ([[DotProductLong]]). */
  def dotL(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(DotLName, a, b)

  /** Lazy (a, b) pair generator over a sorted array column — use in a
    * `select` like `explode`; see [[PairExpand]].
    */
  def pairExpand(arr: Column): Column =
    org.apache.spark.sql.functions.call_function(PairName, arr)

  /** KMV min-k-distinct-hashes aggregate over a BIGINT hash column — the
    * sorted `array<bigint>` of the k smallest distinct values; see
    * [[KmvSketch]].
    */
  def kmvMinHashes(h: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(KmvName, h,
      org.apache.spark.sql.functions.lit(k))
}
