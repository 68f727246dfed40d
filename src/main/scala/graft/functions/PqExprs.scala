package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Product-quantization ADC lookup table as ONE codegen expression: for a
  * query vector split into m subvectors of `dsub` dims, the dot product of
  * each subvector with every centroid of its subspace codebook — the table
  * each corpus row then scores against with m array lookups.
  *
  * The flattened codebooks ride as a task-broadcast reference object (the
  * [[NearestCellExpr]] discipline — the declarative alternative puts
  * m × ksub × dsub literal expressions in the plan, pathological at real
  * codebook sizes like 8 × 256 × 96). Subspace codebooks may have
  * different entry counts (`sizes`); the output is the concatenation of
  * per-subspace tables in subspace order, entry (s, c) at offset
  * sum(sizes[0..s)) + c. Each dot is the sequential left fold from 0.0 —
  * the form a SQL oracle replicates exactly. Query dims beyond
  * m × dsub are ignored; missing dims contribute nothing (min-bounded
  * loops, like the other vector kernels).
  */
case class PqLutExpr(child: Expression, flat: Array[Double],
    sizes: Array[Int], dsub: Int) extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"

  private val total: Int = sizes.sum

  def compute(q: ArrayData): ArrayData = {
    val out = new Array[Double](total)
    val qn = q.numElements()
    var off = 0   // entry offset into out / flat-row index
    var base = 0  // double offset into flat
    var s = 0
    while (s < sizes.length) {
      val qStart = s * dsub
      var c = 0
      while (c < sizes(s)) {
        var acc = 0.0
        var j = 0
        val lim = math.min(dsub, math.max(0, qn - qStart))
        while (j < lim) {
          acc = acc + q.getDouble(qStart + j) * flat(base + j)
          j += 1
        }
        out(off) = acc
        off += 1
        base += dsub
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLutExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PqExprs {
  @volatile private var registered = Set.empty[String]

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_pq_lut",
        exprs => {
          def arr(e: Expression): ArrayData =
            e.eval(null).asInstanceOf[ArrayData]
          PqLutExpr(exprs(0),
            arr(exprs(1)).toDoubleArray(),
            arr(exprs(2)).toIntArray(),
            exprs(3).eval(null).asInstanceOf[Int])
        }, "scala_udf")
      registered += id
    }
  }

  /** Column form: the flattened ADC lookup table for a double-array query
    * vector against position-indexed per-subspace codebooks. */
  def pqLut(spark: SparkSession, q: Column,
      books: Seq[Seq[Seq[Double]]], dsub: Int): Column = {
    register(spark)
    val flat = books.flatten.flatten.toArray
    val sizes = books.map(_.size)
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_pq_lut", q,
      typedlit(flat.toSeq), typedlit(sizes), lit(dsub))
  }
}
