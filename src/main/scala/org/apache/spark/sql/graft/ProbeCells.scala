package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: the IVF probe of ONE query row — its
  * `nProbe` nearest cells (`array<int>`, best first) against a centroid
  * model shipped as a broadcast variable, so the rank is a narrow per-row
  * pass: no cross join of queries × cells, no window exchange.
  *
  * Arithmetic and order replay the relational probe exactly: the cosine is
  * [[DotProduct]]'s left-to-right fold divided by `q_nrm · c_nrm`, and
  * cells rank by cosine desc (Spark's double order: NaN highest, -0.0 =
  * 0.0), then cell asc, cut at `nProbe`. Each row ranks its own cells, so
  * two rows sharing a query id probe independently. `q_nrm` is the
  * caller's positive norm of `q_v`; model rows have positive norms.
  */
case class ProbeCells(
    left: Expression,
    right: Expression,
    model: Broadcast[ProbeCells.Model],
    nProbe: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(q: Any, qNrm: Any): Any =
    cellsOf(q.asInstanceOf[ArrayData], qNrm.asInstanceOf[Double])

  def cellsOf(q: ArrayData, qNrm: Double): ArrayData = {
    val m = model.value
    val sims = Array.tabulate(m.cells.length) { c =>
      val cv = m.vecs(c)
      val n = math.min(q.numElements(), cv.length)
      var sum = 0.0
      var i = 0
      while (i < n) {
        sum += q.getDouble(i) * cv(i)
        i += 1
      }
      sum / (qNrm * m.nrms(c))
    }
    val ranked = m.cells.indices.sortWith { (a, b) =>
      val bySim = SQLOrderingUtil.compareDoubles(sims(b), sims(a))
      if (bySim != 0) bySim < 0 else m.cells(a) < m.cells(b)
    }
    UnsafeArrayData.fromPrimitiveArray(ranked.take(nProbe).map(m.cells(_)).toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("probeCells", this)
    nullSafeCodeGen(ctx, ev, (q, n) => s"${ev.value} = $self.cellsOf($q, $n);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ProbeCells {

  /** A centroid model in probe shape: row `i` is cell `cells(i)` with
    * vector `vecs(i)` and its L2 norm `nrms(i)`. */
  final case class Model(cells: Array[Int], vecs: Array[Array[Double]], nrms: Array[Double])

  def probe_cells(q: Column, qNrm: Column, model: Broadcast[Model], nProbe: Int): Column =
    ExpressionUtils.column(ProbeCells(
      ExpressionUtils.expression(q), ExpressionUtils.expression(qNrm), model, nProbe))
}
