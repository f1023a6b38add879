package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions.{array_sort, slice}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** The persisted two-level (tree) coarse quantizer as ONE expression-
  * local matrix — the r12 fix for the literal-plan finding
  * (`TreeSearchDebugProbe` / BASELINE round-12): encoding the tree as
  * nested `when`-chains over per-leaf `typedLit` centroids puts
  * ~2 · L array literals (≫10⁵ Catalyst nodes at L = 1000) into the
  * plan, and analysis + codegen of that tree costs seconds PER CALL
  * before the first row is read — a fixed tax that dwarfs the 2√L
  * evaluation saving at query grain. Here the tree rides as a single
  * reference object (`ctx.addReferenceObj` — one plan node, constant
  * plan size in L), and the generated code is one method call whose
  * loops are tight primitive arrays.
  *
  * Choice parity: scores are `-round(dot / (norm · centNorm), 4)`
  * with the SAME double fold as [[DotProductExpression]] (sequential,
  * element-cast-then-multiply), the same `BigDecimal.valueOf` HALF_UP
  * rounding Spark's `round` performs on doubles, and first-wins
  * argmins over id-ascending candidate arrays — bitwise the
  * `array_min` over (nd, list_id) structs of the declarative form,
  * and therefore bitwise [[graft.operators.Similarity.treeDescend]]'s
  * choices (spec-asserted, incl. a randomized twin parity).
  * Unit-arithmetic callers (the PQ probe face, which scores
  * pre-normalized vectors as dot/centNorm) pass `norm = lit(1.0)`:
  * IEEE multiplication by 1.0 is exact, so dot/(1.0 · cn) is bitwise
  * dot/cn.
  *
  * This is the one coarse-quantizer list picker: a flat quantizer is
  * one subtree ([[TreeMatrix.flat]]) whose single top is stage 1's only
  * candidate, so stage 2 scores all L leaves (the flat argmax) and
  * `probe` returns all L candidates for the caller's rank + slice. A
  * zero-norm vector or centroid scores NaN: the vector lands in the
  * lowest list id, the centroid never wins a non-degenerate vector.
  */
final class TreeMatrix(
    val idType: DataType,
    val topIds: Array[Any],
    val topCents: Array[Array[Double]],
    val topNorms: Array[Double],
    val leafIds: Array[Array[Any]],
    val leafCents: Array[Array[Array[Double]]],
    val leafNorms: Array[Array[Double]]) extends Serializable {

  require(topIds.length > 0, "TreeMatrix: no non-empty subtree")

  def leafCount: Int = leafIds.map(_.length).sum

  // the DotProductExpression fold, emb element type resolved by flag
  private def dot(e: ArrayData, floatEmb: Boolean,
      c: Array[Double]): Double = {
    val n = math.min(e.numElements(), c.length)
    var s = 0.0
    var i = 0
    if (floatEmb) while (i < n) { s += e.getFloat(i).toDouble * c(i); i += 1 }
    else while (i < n) { s += e.getDouble(i) * c(i); i += 1 }
    s
  }

  private def nd(e: ArrayData, floatEmb: Boolean, c: Array[Double],
      norm: Double, cn: Double): Double =
    -TreeMatrix.round4(dot(e, floatEmb, c) / (norm * cn))

  /** Index of the best subtree (stage-1 argmin): first-wins over the
    * id-ascending top array = min by (nd, top_id).
    */
  private def bestTop(e: ArrayData, floatEmb: Boolean,
      norm: Double): Int = {
    var best = 0
    var bestNd = Double.MaxValue
    var i = 0
    while (i < topIds.length) {
      val v = nd(e, floatEmb, topCents(i), norm, topNorms(i))
      if (v < bestNd) { bestNd = v; best = i }
      i += 1
    }
    best
  }

  /** Stage-1 + stage-2 descent → the chosen leaf id (catalyst value). */
  def assign(e: ArrayData, norm: Double, floatEmb: Boolean): Any = {
    val t = bestTop(e, floatEmb, norm)
    val ids = leafIds(t); val cs = leafCents(t); val ns = leafNorms(t)
    var best = 0
    var bestNd = Double.MaxValue
    var i = 0
    while (i < ids.length) {
      val v = nd(e, floatEmb, cs(i), norm, ns(i))
      if (v < bestNd) { bestNd = v; best = i }
      i += 1
    }
    ids(best)
  }

  /** All (nd, list_id) candidate structs of the `k` best subtrees —
    * ranking/slicing stays declarative downstream (`array_sort` +
    * `slice`), so probe-list choice ordering is byte-for-byte the
    * literal form's.
    */
  def probe(e: ArrayData, norm: Double, floatEmb: Boolean,
      k: Int): ArrayData = {
    val nTop = topIds.length
    val slots = math.max(1, math.min(k, nTop))
    val tnd = new Array[Double](nTop)
    var i = 0
    while (i < nTop) {
      tnd(i) = nd(e, floatEmb, topCents(i), norm, topNorms(i)); i += 1
    }
    // selection of the `slots` best tops by (nd, top ord) — slots is
    // tiny (2-3), a repeated first-wins scan beats sorting
    val picked = new Array[Int](slots)
    val taken = new Array[Boolean](nTop)
    var s = 0
    while (s < slots) {
      var best = -1
      var bestNd = Double.MaxValue
      i = 0
      while (i < nTop) {
        if (!taken(i) && tnd(i) < bestNd) { bestNd = tnd(i); best = i }
        i += 1
      }
      if (best < 0) { // every remaining score NaN → id-ascending head
        i = 0
        while (best < 0) { if (!taken(i)) best = i else i += 1 }
      }
      taken(best) = true; picked(s) = best; s += 1
    }
    var total = 0
    s = 0
    while (s < slots) { total += leafIds(picked(s)).length; s += 1 }
    val out = new Array[Any](total)
    var o = 0
    s = 0
    while (s < slots) {
      val t = picked(s)
      val ids = leafIds(t); val cs = leafCents(t); val ns = leafNorms(t)
      i = 0
      while (i < ids.length) {
        val row = new GenericInternalRow(2)
        row.update(0, nd(e, floatEmb, cs(i), norm, ns(i)))
        row.update(1, ids(i))
        out(o) = row; o += 1; i += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

object TreeMatrix {

  /** Spark's `round(v, 4)` on a double: HALF_UP on the decimal
    * expansion. Mirrors Spark's RoundBase: NaN/Infinity pass through
    * unchanged (JBigDecimal.valueOf would throw NumberFormatException),
    * so a zero-norm embedding (dot/(0·cn) = NaN) scores NaN instead of
    * killing the task: NaN loses every `v < bestNd` comparison, and
    * first-wins falls back to the id-ascending head — the
    * array_min-over-structs tie order.
    */
  def round4(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else JBigDecimal.valueOf(v).setScale(4, RoundingMode.HALF_UP)
      .doubleValue()

  /** A flat quantizer as a one-subtree matrix: every leaf
    * (list_id, centroid, centNorm) under one top. The top's centroid
    * is empty; it is stage 1's only candidate, so its score is never
    * compared.
    */
  def flat(idType: DataType,
      leaves: Seq[(Any, Seq[Double], Double)]): TreeMatrix = {
    require(leaves.nonEmpty, "TreeMatrix.flat: empty centroid table")
    build(idType, Seq((0L, Nil, 1.0)), Map(0L -> leaves))
  }

  /** Build from driver-side JVM rows: (top_id, centroid, centNorm)
    * and per-leaf (list_id, centroid, centNorm, owning top_id). Ids
    * convert to catalyst values and sort ascending (per the type's
    * interpreted ordering) so first-wins scans reproduce the
    * (nd, id)-struct min of the declarative form. Tops with no leaf
    * are dropped by construction (callers pass only owned leaves).
    */
  def build(
      idType: DataType,
      tops: Seq[(Long, Seq[Double], Double)],
      leaves: Map[Long, Seq[(Any, Seq[Double], Double)]]): TreeMatrix = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val ts = tops.filter(t => leaves.contains(t._1)).sortBy(_._1)
    val leafArr = ts.map { case (tid, _, _) =>
      leaves(tid).map { case (id, c, n) => (conv(id), c.toArray, n) }
        .sortWith((a, b) => ord.compare(a._1, b._1) < 0)
    }
    new TreeMatrix(
      idType,
      ts.map(t => java.lang.Long.valueOf(t._1): Any).toArray,
      ts.map(_._2.toArray).toArray,
      ts.map(_._3).toArray,
      leafArr.map(_.map(_._1).toArray).toArray,
      leafArr.map(_.map(_._2).toArray).toArray,
      leafArr.map(_.map(_._3).toArray).toArray)
  }
}

private[graft] trait TreeQuantizerExpression extends BinaryExpression {
  def emb: Expression
  def norm: Expression
  def tree: TreeMatrix

  override def left: Expression = emb
  override def right: Expression = norm

  protected lazy val floatEmb: Boolean =
    emb.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = emb.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if norm.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, DOUBLE), got " +
        s"(${emb.dataType.sql}, ${norm.dataType.sql})")
  }
}

/** Tree descent → the chosen leaf id. */
case class TreeAssignExpression(
    emb: Expression, norm: Expression, tree: TreeMatrix)
    extends TreeQuantizerExpression {

  override def dataType: DataType = tree.idType
  override def prettyName: String = "graft_tree_assign"

  override def nullSafeEval(e: Any, n: Any): Any =
    tree.assign(e.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      floatEmb)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tree", tree, classOf[TreeMatrix].getName)
    nullSafeCodeGen(ctx, ev, (e, n) =>
      s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) " +
        s"$ref.assign($e, $n, $floatEmb);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TreeAssignExpression =
    copy(emb = newLeft, norm = newRight)
}

/** Tree probe → the (nd, list_id) candidate structs of the `nProbeTop`
  * best subtrees (rank + slice downstream).
  */
case class TreeProbeExpression(
    emb: Expression, norm: Expression, tree: TreeMatrix, nProbeTop: Int)
    extends TreeQuantizerExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("nd", DoubleType, nullable = false),
    StructField("list_id", tree.idType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_tree_probe"

  override def nullSafeEval(e: Any, n: Any): Any =
    tree.probe(e.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      floatEmb, nProbeTop)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tree", tree, classOf[TreeMatrix].getName)
    nullSafeCodeGen(ctx, ev, (e, n) =>
      s"${ev.value} = $ref.probe($e, $n, $floatEmb, $nProbeTop);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TreeProbeExpression =
    copy(emb = newLeft, norm = newRight)
}

object TreeQuantizerExpression {

  def treeAssign(emb: Column, norm: Column, tree: TreeMatrix): Column =
    GraftSqlBridge.column(TreeAssignExpression(
      GraftSqlBridge.expression(emb), GraftSqlBridge.expression(norm),
      tree))

  def treeProbe(
      emb: Column, norm: Column, tree: TreeMatrix,
      nProbeTop: Int): Column =
    GraftSqlBridge.column(TreeProbeExpression(
      GraftSqlBridge.expression(emb), GraftSqlBridge.expression(norm),
      tree, nProbeTop))

  /** The `nProbe` best (nd, list_id) candidates of the `nProbeTop`
    * best subtrees, best first: `array_sort` + `slice` rank by
    * (nd, list_id), the window-rank form's order.
    */
  def probeLists(
      emb: Column, norm: Column, tree: TreeMatrix,
      nProbeTop: Int, nProbe: Int): Column =
    slice(array_sort(treeProbe(emb, norm, tree, nProbeTop)), 1, nProbe)
}
