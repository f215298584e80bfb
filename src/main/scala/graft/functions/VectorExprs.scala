package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd vector kernels (§2.10 custom-expression tier).
  *
  * The HOF form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is
  * semantically right but evaluates through Catalyst's interpreted
  * higher-order-function machinery — one closure dispatch per element,
  * and the surrounding operator loses its whole-stage-codegen span.
  * These expressions generate a tight primitive loop instead, keeping
  * the dot product inside the fused stage. Semantics are EXACTLY the
  * HOF fold's (and DuckDB's list math, which the oracles compare
  * against): left-to-right double accumulation, a NULL element poisons
  * the result to NULL, and mismatched lengths yield NULL (zip_with
  * pads with NULL, which poisons the sum).
  */
abstract class VectorFoldExpr extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  // ALWAYS nullable: the fold returns NULL on length mismatch or a
  // NULL element even when both input columns are non-nullable. The
  // inherited child-OR nullability lied in that case, and the lie was
  // load-bearing: for non-nullable inputs Spark allocates no isNull
  // variable (FalseLiteral), so the generated `ev.isNull = true`
  // assigned to a non-variable, janino failed, and the whole fused
  // stage silently fell back to interpreted eval — on exactly the
  // similarity hot paths this kernel exists to keep in codegen.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> inputs, got ($l, $r)")
    }

  /** Per-element contribution in generated code; `x`/`y` are double
    * terms already loaded from the arrays. */
  protected def combine(x: String, y: String): String
  protected def combineEval(x: Double, y: Double): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += combineEval(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${combine(s"$a.getDouble($i)", s"$b.getDouble($i)")};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
}

/** Σ xᵢ·yᵢ — the similarity-search hot-path kernel (q13/q30/q31/q48). */
case class DotProductExpr(left: Expression, right: Expression)
    extends VectorFoldExpr {
  override protected def combine(x: String, y: String): String = s"$x * $y"
  override protected def combineEval(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** Base of the native kernels: expressions whose per-row loop reads
  * driver-built arrays (codebooks, centroids, lookup tables).
  *
  * Each kernel writes its loop ONCE, in Scala, as a public `run` over
  * its children's non-null values that returns the boxed result, or
  * null for SQL NULL. Interpreted eval calls `run` directly; generated
  * code evaluates the children, registers the kernel itself under its
  * concrete class name and calls the same `run`. So eval and codegen
  * cannot drift, and janino compiles one cast and one virtual call —
  * never a generic type or an implicit boxing conversion, either of
  * which fails the whole generated class and silently drops the stage
  * to interpreted eval. A NULL input yields NULL unless the kernel
  * overrides [[onNullInput]]. Plans print each table's shape and one
  * content fingerprint, never the tables themselves. */
trait NativeKernel extends Expression with ExpectsInputTypes {
  /** The driver arrays `run` reads. */
  protected def tables: Seq[AnyRef]

  /** The result for a NULL input. */
  def onNullInput(): Any = null

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val tableDigest: String =
    tables.map(NativeKernel.shape).mkString(" ") +
      f" #${java.util.Arrays.deepHashCode(tables.toArray)}%08x"

  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(tableDigest)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val ins = children.map(_.genCode(ctx))
    val r = ctx.freshName("r")
    val jt = CodeGenerator.javaType(dataType)
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $r).${jt}Value()"
      else s"($jt) $r"
    ev.copy(code = ins.map(_.code).reduce(_ + _) + code"""
      final Object $r = (${ins.map(_.isNull).mkString(" || ")})
        ? $self.onNullInput()
        : $self.run(${ins.map(_.value).mkString(", ")});
      boolean ${ev.isNull} = $r == null;
      $jt ${ev.value} = ${ev.isNull}
        ? ${CodeGenerator.defaultValue(dataType)} : $unboxed;
    """)
  }
}

object NativeKernel {
  /** `long[4][8][16]`: element type and dimensions (along the first
    * row, for ragged tables). */
  def shape(table: AnyRef): String = {
    def dims(x: Any): String = x match {
      case a: Array[_] =>
        s"[${a.length}]" + (if (a.isEmpty) "" else dims(a(0)))
      case _ => ""
    }
    table.getClass.getSimpleName.takeWhile(_ != '[') + dims(table)
  }

  /** One strict-less step of the argmin kernels' (d, id) struct-min
    * in ascending id order — Catalyst's struct ordering: a NULL d
    * sorts first, doubles by SQLOrderingUtil.compareDoubles, ties keep
    * the incumbent (the smaller id). */
  def structLess(first: Boolean, d: Double, dNull: Boolean,
                 bestD: Double, bestNull: Boolean): Boolean =
    if (first) true
    else if (dNull && bestNull) false
    else if (dNull) true
    else if (bestNull) false
    else SQLOrderingUtil.compareDoubles(d, bestD) < 0
}

/** PQ codebook argmin — the encode kernel ([[graft.operators
  * .ProductQuantize.pqEncodeRaw]]'s per-row body as ONE native
  * expression): for each subspace j, the code of the squared-L2
  * nearest codebook entry to the j-th subvector, ties to the smallest
  * code. Replaces the interpreted nested-HOF form
  * (`transform(sequence, j => array_min(transform(element_at(typedlit
  * …), e => struct(vec_sqdist, code))))`) — m·k lambda dispatches per
  * row, every one interpreted (the q199 disease in the encode path) —
  * with a fused primitive loop over driver-collected codebook arrays;
  * no literal unroll, so m·k cannot blow the generated method size.
  *
  * Bit-parity with the HOF form, spelled out:
  *   - distance = left-to-right Σ(x−y)² per subvector (the
  *     [[SqDistExpr]] fold order);
  *   - argmin = lexicographic (d, code) struct-min: strict-less
  *     replacement while iterating entries in ascending code order,
  *     doubles compared by SQLOrderingUtil.compareDoubles (Catalyst's
  *     struct ordering: NaN == NaN, NaN greater than everything,
  *     −0.0 == 0.0), ties keep the smaller code;
  *   - a NULL vector element poisons the entry's distance to NULL,
  *     which sorts FIRST (Catalyst's nulls-first field ordering);
  *   - the per-row guards raise with the messages the spec pins:
  *     dimension not divisible by m, subvector length != entry length.
  * `books(j)` holds subspace j's entries and `codes(j)` their codes, in
  * ascending code order; every entry has the same length. */
case class PqEncodeCodesExpr(child: Expression,
                             books: Array[Array[Array[Double]]],
                             codes: Array[Array[Long]])
    extends UnaryExpression with NativeKernel {
  private def m = books.length

  protected def tables: Seq[AnyRef] = Seq(books, codes)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType))

  // containsNull mirrors the HOF form's transform output; the column
  // itself was non-nullable there (transform over a literal sequence)
  // and stays so here — a NULL input vector THROWS, exactly like the
  // old raise_error guard, never a silent null code row
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def nullIntolerant: Boolean = false

  override def onNullInput(): Any = throw new RuntimeException(
    s"pqEncode: null vector — dim not divisible by m=$m")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) onNullInput() else run(v.asInstanceOf[ArrayData])
  }

  def run(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val entryLen = books(0)(0).length
    if (n % m != 0) throw new RuntimeException(
      s"pqEncode: vector dim $n not divisible by m=$m")
    if (n / m != entryLen) throw new RuntimeException(
      s"pqEncode: codebook entry length $entryLen != subvector " +
        s"length ${n / m}")
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val ents = books(j)
      val off = j * entryLen
      var bestC = 0L
      var bestD = 0.0
      var bestNull = false
      var first = true
      var e = 0
      while (e < ents.length) {
        val ev = ents(e)
        var d = 0.0
        var dNull = false
        var i = 0
        while (i < entryLen && !dNull) {
          if (vec.isNullAt(off + i)) dNull = true
          else {
            val t = vec.getDouble(off + i) - ev(i)
            d += t * t
          }
          i += 1
        }
        if (NativeKernel.structLess(first, d, dNull, bestD, bestNull)) {
          bestC = codes(j)(e); bestD = d; bestNull = dNull; first = false
        }
        e += 1
      }
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeCodesExpr = copy(child = newChild)
  override def prettyName: String = "pq_encode_codes"
}

/** Cosine-distance argmin over a driver-collected centroid table —
  * the MaxSim candidate filter's cell assignment ([[graft.operators
  * .Similarity.maxSimTopKPruned]]) as ONE native expression. Replaces
  * the r19 `least((d, cid) struct…)` unroll, which embedded
  * kCells×dims literals in the expression tree — fine at q199's
  * kCells=8, but a codegen-size fallback trap at larger dials (the
  * r19 verdict's item 7). The kernel loops over reference arrays, so
  * kCells can never blow the generated method size, and it hoists
  * ‖vec‖ out of the per-centroid loop (the unroll re-evaluated it per
  * cell; same IEEE value, bit-identical d).
  *
  * Bit-parity with the unroll, spelled out: per centroid
  * d = 1.0 − dot(vec, c)/(√dot(vec, vec)·√dot(c, c)) with the
  * [[DotProductExpr]] left-to-right fold; the min is the lexicographic
  * (d, cid) struct-min — strict-less replacement iterating centroids
  * in ascending cid order, doubles by SQLOrderingUtil.compareDoubles,
  * a NULL vector element (a null token's pseudo-vec) poisons every d
  * to NULL, so the row lands in the smallest cid exactly as the
  * unroll's nulls-first struct ordering placed it; ties keep the
  * smaller cid. (A whole-NULL array cannot arise from the operator's
  * `array(…)` derivations; this expression maps it to NULL.) `cents`
  * lists (cid, centroid) in ascending cid order.
  *
  * `skipNulls` is the IVF assignment's `min_by(cid, d)` rule instead
  * ([[graft.operators.Similarity.ivfAssignCosine]]): a NULL distance
  * (a NULL vector element, a length mismatch) takes no part in the
  * min, and a row with no non-NULL distance gets a NULL cell. */
case class CosineArgminCellExpr(child: Expression,
                                cents: Seq[(Long, Seq[Double])],
                                skipNulls: Boolean = false)
    extends UnaryExpression with NativeKernel {

  @transient private lazy val centVals: Array[Array[Double]] =
    cents.map(_._2.toArray).toArray
  @transient private lazy val centIds: Array[Long] =
    cents.map(_._1).toArray
  @transient private lazy val centNorms: Array[Double] =
    centVals.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }

  protected def tables: Seq[AnyRef] = Seq(centIds, centVals)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType

  override protected def nullSafeEval(v: Any): Any =
    run(v.asInstanceOf[ArrayData])

  def run(vec: ArrayData): Any = {
    val n = vec.numElements()
    // ‖vec‖ once (the unroll computed it per centroid — same value):
    // a null element poisons every distance, handled per centroid
    var vNorm = 0.0
    var vNull = false
    var i = 0
    while (i < n && !vNull) {
      if (vec.isNullAt(i)) vNull = true
      else { val x = vec.getDouble(i); vNorm += x * x }
      i += 1
    }
    val nv = math.sqrt(vNorm)
    var bestC = 0L
    var bestD = 0.0
    var bestNull = false
    var first = true
    var e = 0
    while (e < centVals.length) {
      val c = centVals(e)
      val dNull = vNull || c.length != n
      var d = 0.0
      if (!dNull) {
        var dotv = 0.0
        var j = 0
        while (j < n) { dotv += vec.getDouble(j) * c(j); j += 1 }
        d = 1.0 - dotv / (nv * centNorms(e))
      }
      if (!(dNull && skipNulls) &&
          NativeKernel.structLess(first, d, dNull, bestD, bestNull)) {
        bestC = centIds(e); bestD = d; bestNull = dNull; first = false
      }
      e += 1
    }
    if (first) null else bestC
  }

  override protected def withNewChildInternal(
      newChild: Expression): CosineArgminCellExpr = copy(child = newChild)
  override def prettyName: String =
    if (skipNulls) "cosine_assign_cell" else "cosine_argmin_cell"
}

/** Σ (xᵢ−yᵢ)² — the IVF centroid-assignment metric (q31). */
case class SqDistExpr(left: Expression, right: Expression)
    extends VectorFoldExpr {
  override protected def combine(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def combineEval(x: Double, y: Double): Double =
    (x - y) * (x - y)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_sqdist"
}
