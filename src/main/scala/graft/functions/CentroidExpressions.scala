package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, QuaternaryExpression, QuinaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/**
 * Scan-local IVF coarse-quantizer kernels — the one implementation of
 * IVF assignment and probe selection. The WHOLE centroid matrix rides
 * the plan as ONE `Literal` node (the [[PqOps]] codebook pattern), is
 * parsed once at plan time, and enters generated code as a reference
 * object — so assignment and probe selection are single fused loops
 * inside the scan projection: no row expansion, no aggregation, no
 * join-back, at ANY nlist an executor can hold (nlist × dim doubles —
 * 33 MB at 65 536 × 64, shipped once per stage with the serialized
 * plan). Plans print the matrix as its shape and a content digest
 * ([[IvfOps.matrixLabel]]), never its values.
 *
 * Arithmetic is BIT-IDENTICAL to every spliced-centroid DuckDB oracle:
 * cosine = dot/(√sv·√sc) with all three sums left-folded from 0.0 in
 * one pass, 0 when the norm product is 0; argmax ties → LOWEST cid;
 * probe ties → HIGHEST cid (`ORDER BY s DESC, cid DESC`). NaN inputs
 * are impossible for finite parquet floats and finite centroids —
 * documented, not handled, as the PQ kernels.
 */
object IvfOps {
  /** Parse a foldable array<array<double>> centroid matrix once at
    * plan time (the [[PqOps.parseBooks]] contract, one level down). */
  def parseCents(e: Expression, fn: String): Array[Array[Double]] = {
    require(e.foldable, s"$fn: centroids must be a foldable literal")
    val evaled = e.eval()
    require(evaled != null, s"$fn: centroid literal is null")
    val ad = evaled.asInstanceOf[ArrayData]
    require(ad.numElements() > 0, s"$fn: no centroids")
    val cents = Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
    require(cents.forall(_.length == cents(0).length),
      s"$fn: centroids have uneven dims")
    cents
  }

  /** Cosine of the row vector against one centroid — the one fused
    * pass whose three accumulators fold in exactly the order the
    * `vec_dot`/norm composition ([[graft.operators.Similarity.cosine]])
    * folds them. */
  def cosTo(v: ArrayData, vIsFloat: Boolean, c: Array[Double]): Double = {
    val n = c.length
    if (v.numElements() != n)
      throw new IllegalArgumentException(
        s"centroid kernel: dimension mismatch ${v.numElements()} vs $n")
    var dot = 0.0; var sv = 0.0; var sc = 0.0; var i = 0
    while (i < n) {
      val x = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
      dot += x * c(i); sv += x * x; sc += c(i) * c(i); i += 1
    }
    val prod = math.sqrt(sv) * math.sqrt(sc)
    if (prod == 0.0) 0.0 else dot / prod
  }

  /** Argmax-cosine centroid id, ties → LOWEST cid (strict `>` over an
    * ascending-cid scan keeps the first of an equal run). */
  def argmaxCid(v: ArrayData, vIsFloat: Boolean, cents: Array[Array[Double]]): Int = {
    var best = 0; var bestS = cosTo(v, vIsFloat, cents(0)); var i = 1
    while (i < cents.length) {
      val s = cosTo(v, vIsFloat, cents(i))
      if (s > bestS) { best = i; bestS = s }
      i += 1
    }
    best
  }

  /** One step of the bounded (score DESC, cid DESC) insertion buffer —
    * the probe-selection rule every spliced oracle encodes (`ORDER BY s
    * DESC, cid DESC`), extracted verbatim from [[probeCids]] so the
    * flat and hierarchical selectors share ONE tie discipline. Returns
    * the new fill count. Candidate (s, i) beats slot j iff s > ss(j),
    * or s == ss(j) and i > cc(j) — i ascending means an equal-score
    * later cid slots BEFORE its equal-score predecessors. */
  private def insertTop(ss: Array[Double], cc: Array[Int], filled0: Int,
                        k: Int, s: Double, i: Int): Int = {
    var filled = filled0
    if (filled < k || s > ss(k - 1) || (s == ss(k - 1) && i > cc(k - 1))) {
      var lo = 0
      while (lo < filled && !(s > ss(lo) || (s == ss(lo) && i > cc(lo)))) lo += 1
      val upto = math.min(filled, k - 1)
      var j = upto
      while (j > lo) { ss(j) = ss(j - 1); cc(j) = cc(j - 1); j -= 1 }
      if (lo < k) { ss(lo) = s; cc(lo) = i }
      if (filled < k) filled += 1
    }
    filled
  }

  /** Top-`nprobe` centroid ids by (cosine DESC, cid DESC), in rank
    * order. Bounded insertion buffer, one pass. */
  def probeCids(v: ArrayData, vIsFloat: Boolean, cents: Array[Array[Double]],
                nprobe: Int): ArrayData = {
    val k = math.min(nprobe, cents.length)
    val ss = new Array[Double](k); val cc = new Array[Int](k)
    var filled = 0; var i = 0
    while (i < cents.length) {
      filled = insertTop(ss, cc, filled, k, cosTo(v, vIsFloat, cents(i)), i)
      i += 1
    }
    new GenericArrayData(cc.take(filled).map(Integer.valueOf))
  }

  /** A centroid-matrix literal as plans print it ([[PqOps.literalLabel]]). */
  def matrixLabel(name: String, parsed: => Array[Array[Double]], e: Expression): String =
    PqOps.literalLabel(name, e) {
      val m = parsed
      (Seq(m.length, m(0).length), m.asInstanceOf[Array[AnyRef]])
    }

  // ------------------------- hierarchical (two-level) quantizer kernels

  /** [[cosTo]] over two plain double arrays — the SAME three-accumulator
    * fold order, for PLAN-time arithmetic on parsed matrices (the
    * fine→coarse ownership map), so an oracle re-deriving that map from
    * the same spliced literals with the same cosine lands bit-equal. */
  def cosD(a: Array[Double], c: Array[Double]): Double = {
    require(a.length == c.length,
      s"centroid kernel: dimension mismatch ${a.length} vs ${c.length}")
    var dot = 0.0; var sv = 0.0; var sc = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * c(i); sv += a(i) * a(i); sc += c(i) * c(i); i += 1
    }
    val prod = math.sqrt(sv) * math.sqrt(sc)
    if (prod == 0.0) 0.0 else dot / prod
  }

  /** [[argmaxCid]] over a plain double vector (ties → LOWEST cid). */
  def argmaxCidD(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestS = cosD(v, cents(0)); var i = 1
    while (i < cents.length) {
      val s = cosD(v, cents(i))
      if (s > bestS) { best = i; bestS = s }
      i += 1
    }
    best
  }

  /** The fine→coarse OWNERSHIP map: fine centroid i belongs to its
    * argmax-cosine coarse cell (ties → low kid). Derived once at plan
    * time from the two parsed matrices — a deterministic function of
    * the spliced literals, so the oracle re-derives it in SQL
    * (`row_number() OVER (... ORDER BY s DESC, kid ASC) = 1`) rather
    * than trusting a shipped map. */
  def fineToCoarse(coarse: Array[Array[Double]],
                   fine: Array[Array[Double]]): Array[Int] =
    fine.map(f => argmaxCidD(f, coarse))

  /** Top-`cprobe` OWNED coarse cells by (cosine DESC, kid DESC). Empty
    * coarse cells (owning no fine centroid) are never probed — they
    * contain no lists, and skipping them keeps the downstream fine
    * candidate set non-empty by construction. */
  private def coarseProbes(v: ArrayData, vIsFloat: Boolean,
                           coarse: Array[Array[Double]], owned: Array[Boolean],
                           cc: Array[Int], ss: Array[Double]): Int = {
    var filled = 0; var i = 0
    while (i < coarse.length) {
      if (owned(i))
        filled = insertTop(ss, cc, filled, cc.length, cosTo(v, vIsFloat, coarse(i)), i)
      i += 1
    }
    filled
  }

  /** Per-coarse-cell fine-id lists (ascending cid within each cell) —
    * the INVERTED ownership map, derived once at plan time from [[
    * fineToCoarse]]. The hierarchical kernels walk only the probed
    * cells' lists, so per-row work is truly ncoarse + cprobe·
    * (nlist/ncoarse) operations: a flat O(nlist) membership sweep here
    * would itself become the bottleneck at 65 k lists, re-creating the
    * very scan the tier removes. */
  def coarseCells(f2c: Array[Int], ncoarse: Int): Array[Array[Int]] = {
    val buf = Array.fill(ncoarse)(scala.collection.mutable.ArrayBuilder.make[Int])
    var i = 0
    while (i < f2c.length) { buf(f2c(i)) += i; i += 1 }
    buf.map(_.result()) // ascending by construction
  }

  /** Hierarchical argmax assignment: top-`cprobe` owned coarse cells,
    * then argmax over the fine centroids those cells own. The tie rule
    * (ties → LOWEST cid) is EXPLICIT — `s == bestS && i < best` —
    * because cell-order iteration does not visit cids globally
    * ascending. Per-row cost ncoarse + cprobe·(nlist/ncoarse) cosines
    * instead of the flat nlist — the quantizer-scan lever past ~10¹⁰
    * vectors (SCALING.md r13's named next tier). Assignment is
    * APPROXIMATE exactly where the true owner lives outside the probed
    * coarse cells; cprobe trades that error against cost. */
  def hierArgmaxCid(v: ArrayData, vIsFloat: Boolean,
                    coarse: Array[Array[Double]], fine: Array[Array[Double]],
                    cells: Array[Array[Int]], owned: Array[Boolean], cprobe: Int): Int = {
    val kc = math.min(cprobe, coarse.length)
    val pcc = new Array[Int](kc); val pss = new Array[Double](kc)
    val np = coarseProbes(v, vIsFloat, coarse, owned, pcc, pss)
    var best = -1; var bestS = 0.0; var p = 0
    while (p < np) {
      val cell = cells(pcc(p)); var j = 0
      while (j < cell.length) {
        val i = cell(j)
        val s = cosTo(v, vIsFloat, fine(i))
        if (best < 0 || s > bestS || (s == bestS && i < best)) { best = i; bestS = s }
        j += 1
      }
      p += 1
    }
    best // >= 0: probed cells are owned, so they contribute ≥1 fine each
  }

  /** Hierarchical top-`nprobe` fine probes: top-`cprobe` owned coarse
    * cells, then the (cosine DESC, cid DESC) insertion pass over the
    * fine centroids those cells own — [[probeCids]]'s rule over the
    * pruned candidate set ([[insertTop]]'s comparator is total, so the
    * cell-order visit leaves the selection identical to a global
    * ascending sweep). */
  def hierProbeCids(v: ArrayData, vIsFloat: Boolean,
                    coarse: Array[Array[Double]], fine: Array[Array[Double]],
                    cells: Array[Array[Int]], owned: Array[Boolean],
                    cprobe: Int, nprobe: Int): ArrayData = {
    val kc = math.min(cprobe, coarse.length)
    val pcc = new Array[Int](kc); val pss = new Array[Double](kc)
    val np = coarseProbes(v, vIsFloat, coarse, owned, pcc, pss)
    val k = math.min(nprobe, fine.length)
    val ss = new Array[Double](k); val cc = new Array[Int](k)
    var filled = 0; var p = 0
    while (p < np) {
      val cell = cells(pcc(p)); var j = 0
      while (j < cell.length) {
        val i = cell(j)
        filled = insertTop(ss, cc, filled, k, cosTo(v, vIsFloat, fine(i)), i)
        j += 1
      }
      p += 1
    }
    new GenericArrayData(cc.take(filled).map(Integer.valueOf))
  }
}

/** `centroid_argmax(vec, cents)` → int: the owning list id. */
case class CentroidArgmax(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "centroid_argmax"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  private lazy val vIsFloat = PqOps.isFloatVec(left, "centroid_argmax")
  private lazy val cents = IvfOps.parseCents(right, "centroid_argmax")

  protected override def nullSafeEval(v: Any, c: Any): Any =
    IvfOps.argmaxCid(v.asInstanceOf[ArrayData], vIsFloat, cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    defineCodeGen(ctx, ev, (v, _) => s"graft.functions.IvfOps.argmaxCid($v, $vIsFloat, $ref)")
  }

  override def toString: String =
    s"$prettyName($left, ${IvfOps.matrixLabel("cents", cents, right)})"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CentroidArgmax =
    copy(left = newLeft, right = newRight)
}

/** `centroid_probes(vec, cents, nprobe)` → array<int>, rank order. */
case class CentroidProbes(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def prettyName: String = "centroid_probes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private lazy val vIsFloat = PqOps.isFloatVec(first, "centroid_probes")
  private lazy val cents = IvfOps.parseCents(second, "centroid_probes")
  private lazy val nprobe: Int = {
    require(third.foldable, "centroid_probes: nprobe must be a literal")
    val n = third.eval().asInstanceOf[Int]
    require(n >= 1, s"centroid_probes: nprobe must be >= 1, got $n")
    n
  }

  protected override def nullSafeEval(v: Any, c: Any, n: Any): Any =
    IvfOps.probeCids(v.asInstanceOf[ArrayData], vIsFloat, cents, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    defineCodeGen(ctx, ev, (v, _, _) =>
      s"graft.functions.IvfOps.probeCids($v, $vIsFloat, $ref, $nprobe)")
  }

  override def toString: String =
    s"$prettyName($first, ${IvfOps.matrixLabel("cents", cents, second)}, $third)"

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): CentroidProbes =
    copy(first = f, second = s, third = t)
}

/** Shared plan-time state of the hierarchical expressions: parse both
  * matrices once, derive the fine→coarse ownership map and the owned
  * mask — all deterministic functions of the two literals, so an
  * oracle re-derives them from the same spliced values. */
trait HierModel { self =>
  protected def coarseExpr: Expression
  protected def fineExpr: Expression
  protected def fnName: String
  @transient protected lazy val coarse: Array[Array[Double]] =
    IvfOps.parseCents(coarseExpr, fnName)
  @transient protected lazy val fine: Array[Array[Double]] = {
    val f = IvfOps.parseCents(fineExpr, fnName)
    require(f(0).length == coarse(0).length,
      s"$fnName: coarse dim ${coarse(0).length} != fine dim ${f(0).length}")
    f
  }
  @transient protected lazy val f2c: Array[Int] = IvfOps.fineToCoarse(coarse, fine)
  @transient protected lazy val cells: Array[Array[Int]] =
    IvfOps.coarseCells(f2c, coarse.length)
  @transient protected lazy val owned: Array[Boolean] = cells.map(_.nonEmpty)
}

/** `hier_argmax(vec, coarse, fine, cprobe)` → int: the owning fine list
  * id through the two-level quantizer (top-cprobe owned coarse cells,
  * then argmax over the fine centroids they own). */
case class HierArgmax(first: Expression, second: Expression,
                      third: Expression, fourth: Expression)
  extends QuaternaryExpression with HierModel {
  override def prettyName: String = "hier_argmax"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  protected def coarseExpr: Expression = second
  protected def fineExpr: Expression = third
  protected def fnName: String = prettyName

  private lazy val vIsFloat = PqOps.isFloatVec(first, prettyName)
  private lazy val cprobe: Int = {
    require(fourth.foldable, s"$prettyName: cprobe must be a literal")
    val n = fourth.eval().asInstanceOf[Int]
    require(n >= 1, s"$prettyName: cprobe must be >= 1, got $n")
    n
  }

  protected override def nullSafeEval(v: Any, c: Any, f: Any, n: Any): Any =
    IvfOps.hierArgmaxCid(v.asInstanceOf[ArrayData], vIsFloat, coarse, fine,
      cells, owned, cprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("hierCoarse", coarse, "double[][]")
    val fi = ctx.addReferenceObj("hierFine", fine, "double[][]")
    val ce = ctx.addReferenceObj("hierCells", cells, "int[][]")
    val ow = ctx.addReferenceObj("hierOwned", owned, "boolean[]")
    defineCodeGen(ctx, ev, (v, _, _, _) =>
      s"graft.functions.IvfOps.hierArgmaxCid($v, $vIsFloat, $co, $fi, $ce, $ow, $cprobe)")
  }

  override def toString: String =
    s"$prettyName($first, ${IvfOps.matrixLabel("coarse", coarse, second)}, " +
      s"${IvfOps.matrixLabel("fine", fine, third)}, $fourth)"

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): HierArgmax =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `hier_probes(vec, coarse, fine, cprobe, nprobe)` → array<int>, rank
  * order: the two-level probe selection (top-cprobe owned coarse cells,
  * then top-nprobe fine centroids among those cells' lists). */
case class HierProbes(first: Expression, second: Expression, third: Expression,
                      fourth: Expression, fifth: Expression)
  extends QuinaryExpression with HierModel {
  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)
  override def prettyName: String = "hier_probes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected def coarseExpr: Expression = second
  protected def fineExpr: Expression = third
  protected def fnName: String = prettyName

  private lazy val vIsFloat = PqOps.isFloatVec(first, prettyName)
  private def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"$prettyName: $what must be a literal")
    val n = e.eval().asInstanceOf[Int]
    require(n >= 1, s"$prettyName: $what must be >= 1, got $n")
    n
  }
  private lazy val cprobe: Int = intLit(fourth, "cprobe")
  private lazy val nprobe: Int = intLit(fifth, "nprobe")

  protected override def nullSafeEval(v: Any, c: Any, f: Any, cp: Any, np: Any): Any =
    IvfOps.hierProbeCids(v.asInstanceOf[ArrayData], vIsFloat, coarse, fine,
      cells, owned, cprobe, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val co = ctx.addReferenceObj("hierCoarse", coarse, "double[][]")
    val fi = ctx.addReferenceObj("hierFine", fine, "double[][]")
    val ce = ctx.addReferenceObj("hierCells", cells, "int[][]")
    val ow = ctx.addReferenceObj("hierOwned", owned, "boolean[]")
    defineCodeGen(ctx, ev, (v, _, _, _, _) =>
      s"graft.functions.IvfOps.hierProbeCids($v, $vIsFloat, $co, $fi, $ce, $ow, $cprobe, $nprobe)")
  }

  override def toString: String =
    s"$prettyName($first, ${IvfOps.matrixLabel("coarse", coarse, second)}, " +
      s"${IvfOps.matrixLabel("fine", fine, third)}, $fourth, $fifth)"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HierProbes =
    copy(first = newChildren(0), second = newChildren(1), third = newChildren(2),
      fourth = newChildren(3), fifth = newChildren(4))
}

object CentroidFunctions {
  /** One Literal node holding the whole centroid matrix (nlist × dim). */
  def centsLit(cents: Array[Array[Double]]): Column =
    Bridge.column(Literal.create(
      cents.map(_.toSeq).toSeq,
      ArrayType(ArrayType(DoubleType, false), false)))

  def centroid_argmax(vec: Column, cents: Array[Array[Double]]): Column =
    Bridge.column(CentroidArgmax(Bridge.expression(vec), Bridge.expression(centsLit(cents))))

  def centroid_probes(vec: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    Bridge.column(CentroidProbes(Bridge.expression(vec), Bridge.expression(centsLit(cents)),
      Bridge.expression(Bridge.column(Literal(nprobe)))))

  def hier_argmax(vec: Column, coarse: Array[Array[Double]],
                  fine: Array[Array[Double]], cprobe: Int): Column =
    Bridge.column(HierArgmax(Bridge.expression(vec),
      Bridge.expression(centsLit(coarse)), Bridge.expression(centsLit(fine)),
      Bridge.expression(Bridge.column(Literal(cprobe)))))

  def hier_probes(vec: Column, coarse: Array[Array[Double]],
                  fine: Array[Array[Double]], cprobe: Int, nprobe: Int): Column =
    Bridge.column(HierProbes(Bridge.expression(vec),
      Bridge.expression(centsLit(coarse)), Bridge.expression(centsLit(fine)),
      Bridge.expression(Bridge.column(Literal(cprobe))),
      Bridge.expression(Bridge.column(Literal(nprobe)))))
}
