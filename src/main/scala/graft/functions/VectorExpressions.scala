package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/**
 * Native vector kernels. `zip_with` + `aggregate` compute the same thing
 * but materialize an intermediate array per row-pair; at |corpus|²
 * pair-scans that allocation dominates. [[VecDot]] is a fused loop over
 * the two `ArrayData`s — identical arithmetic (each element widened to
 * DOUBLE, summed left-to-right from 0.0, so results stay bit-identical
 * to the fold form and to the DuckDB oracle), ~10× less overhead.
 */
object VecOps {
  /** Mismatched dimensions are upstream data corruption — fail loudly
    * (the zip_with reference form would surface them as NULL; a silent
    * shorter-prefix dot product would mask them entirely). */
  private def dim(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: dimension mismatch $n vs ${b.numElements()}")
    n
  }
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = dim(a, b)
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = dim(a, b)
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }
  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = dim(a, b)
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** `vec_dot(a, b)` → double; accepts float/double array elements. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_dot"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"vec_dot needs array<float|double>, got $t")
  }

  private lazy val method = (isFloat(left), isFloat(right)) match {
    case (true, true) => "dotFF"
    case (true, false) => "dotFD"
    case (false, true) => "dotDF"
    case (false, false) => "dotDD"
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    method match {
      case "dotFF" => VecOps.dotFF(x, y)
      case "dotFD" => VecOps.dotFD(x, y)
      case "dotDF" => VecOps.dotDF(x, y)
      case _ => VecOps.dotDD(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.$method($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/**
 * Product-quantization kernels. The pure-Column formulation (a literal
 * per codebook cell) builds ~5000-node expression trees per encode/ADC
 * call — Catalyst then pays optimizer walks, codegen splitting and JIT
 * per query on trees that size, which dominated s44/s45 wall-clock at
 * tiny data sizes. These loops compute the IDENTICAL doubles: each
 * subspace distance is Σ(v[off+i]−c[i])² accumulated left-to-right from
 * a 0.0 seed (0.0 + x == x bit-for-bit for the non-negative squares),
 * argmin ties break to the lowest code (the struct-argmax rule), and
 * the ADC sum accumulates subspaces left-to-right — so the DuckDB
 * oracles that re-derive codes/ADC from the codebook literals keep
 * hash-matching. NaN inputs (impossible for finite parquet floats and
 * finite codebooks) would differ from the struct ordering — documented,
 * not handled.
 */
object PqOps {
  /** Σ over the subspace of (v[off+i] − c[i])², left-associated. */
  def subdist(v: ArrayData, vIsFloat: Boolean, off: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) {
      val x = if (vIsFloat) v.getFloat(off + i).toDouble else v.getDouble(off + i)
      val d = x - c(i); s += d * d; i += 1
    }
    s
  }

  /** Sum of subspace dims — the vector length the codebook expects. */
  def totalDims(books: Array[Array[Array[Double]]]): Int = {
    var s = 0; var t = 0
    while (s < books.length) { t += books(s)(0).length; s += 1 }
    t
  }

  /** A wrong-length vector would read past the UnsafeArrayData bounds
    * (Platform.getFloat has no production index check) and return
    * plausible garbage — check once per row, fail loudly. */
  private def checkDims(v: ArrayData, books: Array[Array[Array[Double]]], fn: String): Unit = {
    val want = totalDims(books)
    if (v.numElements() != want)
      throw new IllegalArgumentException(
        s"$fn: vector has ${v.numElements()} dims, codebook expects $want")
  }

  /** Per-subspace argmin code (ties → lowest code), as array<int>. */
  def encode(v: ArrayData, vIsFloat: Boolean, books: Array[Array[Array[Double]]]): ArrayData = {
    checkDims(v, books, "pq_encode")
    val out = new Array[Int](books.length)
    var s = 0; var off = 0
    while (s < books.length) {
      val book = books(s)
      var best = 0.0; var bestI = -1; var i = 0
      while (i < book.length) {
        val d = subdist(v, vIsFloat, off, book(i))
        if (bestI < 0 || d < best) { best = d; bestI = i }
        i += 1
      }
      out(s) = bestI; off += book(0).length; s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC: Σ over subspaces of ‖q subvector − centroid named by the
    * candidate's code‖², subspaces accumulated left-to-right. */
  def adc(q: ArrayData, qIsFloat: Boolean, codes: ArrayData,
          books: Array[Array[Array[Double]]]): Double = {
    checkDims(q, books, "pq_adc")
    if (codes.numElements() != books.length)
      throw new IllegalArgumentException(
        s"pq_adc: ${codes.numElements()} codes for ${books.length} subspaces")
    var acc = 0.0; var s = 0; var off = 0
    while (s < books.length) {
      acc += subdist(q, qIsFloat, off, books(s)(codes.getInt(s)))
      off += books(s)(0).length; s += 1
    }
    acc
  }

  /** Parse a foldable array<array<array<double>>> codebook argument once
    * at plan time. */
  def parseBooks(e: Expression, fn: String): Array[Array[Array[Double]]] = {
    require(e.foldable, s"$fn: codebook must be a foldable literal")
    val evaled = e.eval()
    require(evaled != null, s"$fn: codebook literal is null")
    val ad = evaled.asInstanceOf[ArrayData]
    require(ad.numElements() > 0, s"$fn: codebook has no subspaces")
    val books = Array.tabulate(ad.numElements()) { s =>
      val book = ad.getArray(s)
      require(book.numElements() > 0, s"$fn: subspace $s has no centroids")
      Array.tabulate(book.numElements())(i => book.getArray(i).toDoubleArray())
    }
    books.zipWithIndex.foreach { case (book, s) =>
      require(book.forall(_.length == book(0).length),
        s"$fn: subspace $s centroids have uneven dims")
    }
    books
  }

  /** A matrix or codebook literal as plans print it:
    * `name[d1xd2… #digest]`, the digest a 32-bit hash over every
    * double's bits in 8 hex digits — enough to tell two trained models
    * apart in a plan diff without inlining their values. A child that
    * does not parse prints as is. */
  def literalLabel(name: String, e: Expression)(parsed: => (Seq[Int], Array[AnyRef])): String =
    scala.util.Try(parsed).toOption.fold(e.toString) { case (shape, m) =>
      f"$name[${shape.mkString("x")} #${java.util.Arrays.deepHashCode(m)}%08x]"
    }

  def booksLabel(books: => Array[Array[Array[Double]]], e: Expression): String =
    literalLabel("books", e) {
      val b = books
      (Seq(b.length, b(0).length, b(0)(0).length), b.asInstanceOf[Array[AnyRef]])
    }

  def isFloatVec(e: Expression, fn: String): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"$fn needs array<float|double>, got $t")
  }
}

/** `pq_encode(vec, codebook)` → array<int>: the m per-subspace codes. */
case class PqEncode(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private lazy val vIsFloat = PqOps.isFloatVec(left, "pq_encode")
  private lazy val books = PqOps.parseBooks(right, "pq_encode")

  protected override def nullSafeEval(v: Any, b: Any): Any =
    PqOps.encode(v.asInstanceOf[ArrayData], vIsFloat, books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, (v, _) => s"graft.functions.PqOps.encode($v, $vIsFloat, $ref)")
  }

  override def toString: String = s"$prettyName($left, ${PqOps.booksLabel(books, right)})"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** `pq_adc(query_vec, codes, codebook)` → double: asymmetric distance. */
case class PqAdc(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private lazy val qIsFloat = PqOps.isFloatVec(first, "pq_adc")
  private lazy val books = PqOps.parseBooks(third, "pq_adc")

  protected override def nullSafeEval(q: Any, codes: Any, b: Any): Any =
    PqOps.adc(q.asInstanceOf[ArrayData], qIsFloat, codes.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, (q, c, _) => s"graft.functions.PqOps.adc($q, $qIsFloat, $c, $ref)")
  }

  override def toString: String = s"$prettyName($first, $second, ${PqOps.booksLabel(books, third)})"

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): PqAdc =
    copy(first = f, second = s, third = t)
}

object VectorFunctions {
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  /** One Literal node holding a whole PQ codebook (m × k × dim/m). */
  def codebookLit(books: Array[Array[Array[Double]]]): Column =
    Bridge.column(Literal.create(
      books.map(_.map(_.toSeq).toSeq).toSeq,
      ArrayType(ArrayType(ArrayType(DoubleType, false), false), false)))

  def pq_encode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), Bridge.expression(codebookLit(books))))

  def pq_adc(q: Column, codes: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqAdc(Bridge.expression(q), Bridge.expression(codes),
      Bridge.expression(codebookLit(books))))
}
