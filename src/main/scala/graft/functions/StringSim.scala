package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native string-similarity expressions for the entity-matching tier.
  *
  * Spark ships `levenshtein` but no Jaro-Winkler, the standard scorer for
  * short-name record linkage (Winkler 1990, the US Census Bureau string
  * comparator). A Scala UDF would leave the hot pair loop interpreted and
  * NULL-unsafe; this is a codegen'd binary [[Expression]] — one static
  * call per pair from inside WholeStageCodegen, zero boxing.
  *
  * Arithmetic contract: the score must hash-match DuckDB's
  * `jaro_winkler_similarity` (a RapidFuzz port) bit-for-bit, so the
  * formula mirrors that implementation's operation ORDER exactly —
  * `sim = m/l1; sim += m/l2; sim += (m-t)/m; sim /= 3` then, only when
  * `sim > 0.7` (the Winkler boost threshold), `sim += prefix * 0.1 *
  * (1 - sim)` with `prefix` capped at 4. Each step is a correctly-rounded
  * IEEE op, so mirroring the order makes the doubles identical across
  * engines. Matching runs over UTF-8 BYTES (exact for the ASCII fixture
  * names; documented divergence risk only for multi-byte text).
  */
object StringSim {
  val JaroWinklerName = "graft_jaro_winkler"

  /** SQL name → builder. */
  private[graft] val builders: Seq[(String, FunctionTable.Builder)] = Seq(
    JaroWinklerName -> (exprs => JaroWinkler(exprs(0), exprs(1))))

  /** Register in the session's function registry (idempotent; the same
    * registry doorway as [[VectorExprs]] — Spark 4 hides Column↔Expression
    * conversion, so SQL/`expr` is the public path to a custom Expression).
    */
  def register(spark: SparkSession): Unit =
    FunctionTable.registerMissing(spark, builders)

  /** Classic Jaro similarity + Winkler prefix boost, byte-level, in
    * DuckDB/RapidFuzz operation order. Public: called from generated code.
    */
  def score(a: UTF8String, b: UTF8String): Double = {
    val p = a.getBytes
    val t = b.getBytes
    val l1 = p.length
    val l2 = t.length
    // DuckDB scores ANY empty side 0.0 — including both-empty, where the
    // classic convention is 1.0; the oracle's contract wins
    if (l1 == 0 || l2 == 0) return 0.0
    val window = {
      val w = (if (l1 > l2) l1 else l2) / 2 - 1
      if (w < 0) 0 else w
    }
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = if (i - window > 0) i - window else 0
      val hi = if (i + window < l2 - 1) i + window else l2 - 1
      var j = lo
      var searching = true
      while (searching && j <= hi) {
        if (!m2(j) && t(j) == p(i)) {
          m1(i) = true; m2(j) = true; m += 1; searching = false
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched sequences compared in order; the mismatch
    // count is always even, so the half is exact integer arithmetic
    var trans = 0
    var j = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (p(i) != t(j)) trans += 1
        j += 1
      }
      i += 1
    }
    val half = trans / 2
    var sim = 0.0
    sim += m.toDouble / l1.toDouble
    sim += m.toDouble / l2.toDouble
    sim += (m - half).toDouble / m.toDouble
    sim /= 3.0
    if (sim > 0.7) {
      val cap = { val s = if (l1 < l2) l1 else l2; if (s < 4) s else 4 }
      var prefix = 0
      while (prefix < cap && p(prefix) == t(prefix)) prefix += 1
      sim += prefix.toDouble * 0.1 * (1.0 - sim)
    }
    sim
  }
}

/** `graft_jaro_winkler(left, right)` → DOUBLE in [0, 1]; NULL if either
  * side is NULL (nullSafe, the SQL scalar-function contract).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = StringSim.JaroWinklerName

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string), got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    StringSim.score(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.StringSim.score($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
