package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import org.apache.spark.sql.GraftBridge

/** Fused nearest-centroid search: one pass over a model-sized centroid
  * array per input vector, returning the `n` nearest cell ids by cosine
  * similarity (descending; ties broken by lower cell id). This replaces
  * the crossJoin-with-all-centroids + window-rank-1 assignment plan in
  * k-means / IVF: that shape inflates every row k× before its filter —
  * fine at k=16, dominant at the k=4096 cells a realistic IVF uses.
  * Here the centroids ride along as one broadcast-sized reference object
  * and each row does k compiled dot products and emits ONE row — no
  * inflation, no window exchange.
  *
  * The per-centroid cosine is bit-identical to [[CosineSimilarity]]
  * (same accumulation order, same zero-denominator rule), and the
  * (sim desc, cell asc) ordering matches the window form's sort exactly,
  * so swapping the plans cannot change a single assignment —
  * VectorOpsSpec asserts equality against the relational form.
  */
case class NearestCentroids(child: Expression, cellIds: Array[Int],
    centroids: Array[Array[Float]], n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "nearest_cells needs an array<float> input")
    }

  override def nullSafeEval(input: Any): Any =
    NearestCentroids.topCells(
      input.asInstanceOf[ArrayData], cellIds, centroids, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("cellIds", cellIds, "int[]")
    val cRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestCentroids.topCells($c, $idsRef, $cRef, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

object NearestCentroids {

  /** The fused search loop (shared by interpreted eval and codegen — the
    * per-row work is one JVM call into this compiled method; the hot
    * loops live here). Selection is insertion into a size-n top list
    * with STRICT-greater comparison, so the ascending cell scan keeps
    * the lower cell id on similarity ties — exactly the window form's
    * `orderBy(sim.desc, cell.asc)`. */
  def topCells(v: ArrayData, cellIds: Array[Int],
      centroids: Array[Array[Float]], n: Int): ArrayData = {
    val k = centroids.length
    val m = math.min(n, k)
    val topIdx = new Array[Int](m)
    val topSim = new Array[Double](m)
    var filled = 0
    var c = 0
    while (c < k) {
      val cv = centroids(c)
      // fail loudly on shape mismatch (same contract as ZOrderKey):
      // a truncated dot product silently mis-ranks cells
      if (v.numElements() != cv.length)
        throw new IllegalArgumentException(
          s"nearest_cells: vector length ${v.numElements()} != centroid " +
            s"length ${cv.length}")
      val len = cv.length
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < len) {
        val xi = v.getFloat(i).toDouble
        val yi = cv(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      val sim = if (denom == 0.0) 0.0 else dot / denom
      var pos = filled
      while (pos > 0 && sim > topSim(pos - 1)) pos -= 1
      if (pos < m) {
        var j = math.min(filled, m - 1)
        while (j > pos) { topSim(j) = topSim(j - 1); topIdx(j) = topIdx(j - 1); j -= 1 }
        topSim(pos) = sim; topIdx(pos) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    val out = new Array[Int](filled)
    var j = 0
    while (j < filled) { out(j) = cellIds(topIdx(j)); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-API entry point over a trained model (cell id, centroid)
    * list; cell ids must be ascending so the tie-break order is the cell
    * id order. */
  def nearestCells(v: Column, model: Seq[(Int, Array[Float])], n: Int): Column = {
    require(model.nonEmpty, "nearest_cells needs at least one centroid")
    val ids = model.map(_._1).toArray
    require(ids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      "model cell ids must be strictly ascending")
    GraftBridge.toColumn(NearestCentroids(
      GraftBridge.toExpression(v), ids, model.map(_._2).toArray, n))
  }
}
