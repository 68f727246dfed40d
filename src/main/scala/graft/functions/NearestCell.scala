package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Nearest-centroid assignment as ONE expression over the whole centroid
  * matrix (rides along as a task-broadcast reference object): the
  * per-cell-literal alternative builds nCells × dim literal expressions
  * per row, which is pathological at real IVF sizes (4k–65k cells).
  *
  * Semantics are bit-identical to the declarative argmin it replaces:
  * sequential-fold dot products (left fold from 0.0) and ties resolved to
  * the smallest cell id (cells are iterated in ascending id order with a
  * strict comparison).
  */
case class NearestCellExpr(child: Expression, cells: Array[Int],
    flat: Array[Double], dim: Int) extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell"

  def compute(v: ArrayData): Int = {
    val n = math.min(v.numElements(), dim)
    var best = cells(0)
    var bestNeg = Double.PositiveInfinity
    var c = 0
    while (c < cells.length) {
      var acc = 0.0
      var i = 0
      val off = c * dim
      while (i < n) { acc = acc + v.getDouble(i) * flat(off + i); i += 1 }
      val neg = -1.0 * acc
      if (neg < bestNeg) { bestNeg = neg; best = cells(c) }
      c += 1
    }
    best
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCell", this,
      classOf[NearestCellExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Top-`k` nearest cells as ONE expression over the task-broadcast centroid
  * matrix — the multi-probe generalization of [[NearestCellExpr]], replacing
  * the `slice(array_sort(array(struct(negSim, cell)…)), 1, k)` construction
  * whose expression tree grows as nCells × dim literals (pathological at
  * real IVF sizes, exactly what [[NearestCellExpr]] outlaws for argmin).
  *
  * Bit-identical to the declarative form it replaces: dot products are the
  * same sequential left fold from 0.0, ranking is (negated dot ascending,
  * cell id ascending) — strict comparisons while iterating cells in
  * ascending id order resolve ties to the smaller cell, and element 0
  * equals the [[NearestCellExpr]] argmin. Returns the best
  * min(k, nCells) cell ids in probe order.
  */
case class NearestCellsTopKExpr(child: Expression, cells: Array[Int],
    flat: Array[Double], dim: Int, k: Int) extends UnaryExpression with DigestArrayArgs {

  require(k >= 1, s"nearestCellsTopK: k must be >= 1, got $k " +
    "(nProbe = 0 probes no cells)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells_topk"

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val kk = math.min(k, cells.length)
    // size-kk insertion window sorted lexicographically by
    // (neg dot asc, cell id asc) — the exact array_sort(struct(negSim, cell))
    // order, independent of the centroid iteration order
    val negs = new Array[Double](kk)
    val ids = new Array[Int](kk)
    // (a, ia) strictly before (b, ib)?
    def before(a: Double, ia: Int, b: Double, ib: Int): Boolean =
      a < b || (a == b && ia < ib)
    var filled = 0
    var c = 0
    while (c < cells.length) {
      var acc = 0.0
      var i = 0
      val off = c * dim
      while (i < n) { acc = acc + v.getDouble(i) * flat(off + i); i += 1 }
      val neg = -1.0 * acc
      val id = cells(c)
      if (filled < kk || before(neg, id, negs(kk - 1), ids(kk - 1))) {
        var pos = if (filled < kk) filled else kk - 1
        while (pos > 0 && before(neg, id, negs(pos - 1), ids(pos - 1))) {
          negs(pos) = negs(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        negs(pos) = neg; ids(pos) = id
        if (filled < kk) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ids, filled))
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCellsTopK", this,
      classOf[NearestCellsTopKExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NearestCellExpr {
  @volatile private var registered = Set.empty[String]

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      def litArr(e: Expression): ArrayData =
        e.eval(null).asInstanceOf[ArrayData] // foldable literal args
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_nearest_cell",
        exprs => {
          val cells = litArr(exprs(1)).toIntArray()
          val flat = litArr(exprs(2)).toDoubleArray()
          val dim = exprs(3).eval(null).asInstanceOf[Int]
          NearestCellExpr(exprs(0), cells, flat, dim)
        }, "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_nearest_cells_topk",
        exprs => {
          val cells = litArr(exprs(1)).toIntArray()
          val flat = litArr(exprs(2)).toDoubleArray()
          val dim = exprs(3).eval(null).asInstanceOf[Int]
          val k = exprs(4).eval(null).asInstanceOf[Int]
          NearestCellsTopKExpr(exprs(0), cells, flat, dim, k)
        }, "scala_udf")
      registered += id
    }
  }

  /** Column form: argmin cell for a double-array vector column. */
  def nearestCell(spark: SparkSession, v: Column,
      centroids: Seq[(Int, Seq[Double])]): Column = {
    register(spark)
    val dim = centroids.head._2.length
    val flat = centroids.flatMap(_._2).toArray
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_nearest_cell", v,
      typedlit(centroids.map(_._1)), typedlit(flat.toSeq), lit(dim))
  }

  /** Column form: top-`k` cells (probe order — best first) for a
    * double-array vector column. Element 0 equals [[nearestCell]]. */
  def nearestCellsTopK(spark: SparkSession, v: Column,
      centroids: Seq[(Int, Seq[Double])], k: Int): Column = {
    register(spark)
    val dim = centroids.head._2.length
    val flat = centroids.flatMap(_._2).toArray
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_nearest_cells_topk", v,
      typedlit(centroids.map(_._1)), typedlit(flat.toSeq), lit(dim), lit(k))
  }
}
