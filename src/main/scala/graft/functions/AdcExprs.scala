package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native ADC kernels — the scan-shaped replacement for the
  * posexplode(×m) → broadcast-LUT join → groupBy(id) pipeline every
  * ADC consumer ran (probe scoring and the PQ drift gauge): per code
  * row, the result is m integer lookups summed, so exploding the
  * corpus m× and shuffling it back by id bought nothing but an
  * exchange. Each kernel replicates the JOIN'S semantics exactly:
  *
  *   - a position is MATCHED when the (subspace, code) key exists in
  *     the lookup structure (inner-join semantics — a null code
  *     element, a position ≥ m, or a code outside the book simply
  *     drops, exactly like the unmatched exploded row);
  *   - a row with ZERO matched positions, or a key outside the
  *     tables, yields NULL (the join emitted no row for it, so it
  *     vanished from the aggregate) — callers filter nulls to keep the
  *     old row-set bit for bit;
  *   - sums are exact integer sums, order-free by construction.
  */
object AdcExprs {
  /** Dense lookup tables: `vals(i)(s)(c)` belongs to the i-th of the
    * ascending `keys`; the shared `present(s)(c)` gates every table,
    * so an absent (subspace, code) key keeps inner-join drop semantics
    * without a sentinel value. */
  final case class Luts(keys: Array[Long],
                        vals: Array[Array[Array[Long]]],
                        present: Array[Array[Boolean]]) {
    /** Index of `key` in `keys`, negative when absent. */
    def indexOf(key: Long): Int = java.util.Arrays.binarySearch(keys, key)
  }

  /** Σ `lut(pos)(code)` over the matched positions of one code row;
    * null when none matched. */
  def lutSum(lut: Array[Array[Long]], present: Array[Array[Boolean]],
             codes: ArrayData): Any = {
    val n = codes.numElements()
    var s = 0L
    var matched = false
    var pos = 0
    while (pos < n) {
      if (pos < lut.length && !codes.isNullAt(pos)) {
        val c = codes.getLong(pos)
        if (c >= 0 && c < lut(pos).length && present(pos)(c.toInt)) {
          s += lut(pos)(c.toInt)
          matched = true
        }
      }
      pos += 1
    }
    if (matched) s else null
  }
}

/** The ADC score numerator keyed by query id: `luts` holds one table
  * per qid (the join key the relational form matched on), and a qid
  * outside the tables yields NULL. A single query is the one-key case.
  * Duplicate panel rows fold into their qid's table at build time
  * exactly as the relational LUT's duplicate rows summed in the
  * aggregate. */
case class QidCodeLutSumExpr(left: Expression, right: Expression,
                             luts: AdcExprs.Luts)
    extends BinaryExpression with NativeKernel {

  protected def tables: Seq[AnyRef] =
    Seq(luts.keys, luts.vals, luts.present)
  override def inputTypes: Seq[DataType] =
    Seq(LongType, ArrayType(LongType))
  override def dataType: DataType = LongType

  override protected def nullSafeEval(qid: Any, codes: Any): Any =
    run(qid.asInstanceOf[Long], codes.asInstanceOf[ArrayData])

  def run(qid: Long, codes: ArrayData): Any = {
    val i = luts.indexOf(qid)
    if (i < 0) null else AdcExprs.lutSum(luts.vals(i), luts.present, codes)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QidCodeLutSumExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "adc_qid_lut_sum"
}

/** Per-row PQ drift displacement, fully fused ([[graft.operators
  * .ProductQuantize.ivfPqDriftStats]]'s per-(cell, id) derivation):
  * cd_fp = floor((1 − (Σip/1e7)/(√(Σnn/1e7)·‖centroid‖))·1e7 + 0.5)
  * over the row's matched (cell, subspace, code) lookups — the exact
  * Column arithmetic of the relational form, evaluated in the same
  * IEEE order, with the cell's ip table (`ip`, keyed by cell id), the
  * entry norms `nn` and the cell's norm `norms(i)` read from driver
  * arrays instead of a broadcast join. NULL when the cell is not in
  * the table or no position matched (the inner join emitted no rows
  * for that id — callers filter nulls). */
case class PqCdFpExpr(left: Expression, right: Expression,
                      ip: AdcExprs.Luts, nn: Array[Array[Long]],
                      norms: Array[Double])
    extends BinaryExpression with NativeKernel {

  protected def tables: Seq[AnyRef] =
    Seq(ip.keys, ip.vals, ip.present, nn, norms)
  override def inputTypes: Seq[DataType] =
    Seq(LongType, ArrayType(LongType))
  override def dataType: DataType = LongType

  override protected def nullSafeEval(cell: Any, codes: Any): Any =
    run(cell.asInstanceOf[Long], codes.asInstanceOf[ArrayData])

  def run(cell: Long, codes: ArrayData): Any = {
    val i = ip.indexOf(cell)
    if (i < 0) return null
    val sIp = AdcExprs.lutSum(ip.vals(i), ip.present, codes)
    if (sIp == null) return null
    // same matched positions as sIp: nn shares the presence gate
    val sNn = AdcExprs.lutSum(nn, ip.present, codes).asInstanceOf[Long]
    math.floor((1.0 - (sIp.asInstanceOf[Long] / 1e7) /
      (math.sqrt(sNn / 1e7) * norms(i))) * 1e7 + 0.5).toLong
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCdFpExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_cd_fp"
}
