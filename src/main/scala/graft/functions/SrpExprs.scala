package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Sign-random-projection (SRP / hyperplane LSH) signature as ONE codegen
  * expression: bit k of the result is the sign (>= 0) of the dot product of
  * the vector with a deterministic pseudo-random hyperplane. Hyperplane
  * component k,j is the centered affine residue
  *
  *   h_k[j] = ((a_k * (j + 1) + b_k) mod P) - (P - 1) / 2,   P = 2^31 - 1
  *
  * with (a_k, b_k) from [[TextHashExprs.affineSeeds]] — integer arithmetic
  * both engines compute exactly (a_k < 2^31, j + 1 at embedding dims keeps
  * the product far under 2^63), and every residue is exact in a double, so
  * the signature is replicable in plain SQL for the oracle.
  *
  * The per-plane seeds ride as a task-broadcast reference object; the
  * nBits × dim hyperplane values are recomputed per row from two longs each
  * rather than shipped as literal arrays — the same discipline as
  * [[NearestCellExpr]] (no nBits × dim literal expression trees). Dot
  * products are the sequential left fold from 0.0 (SQL `list_reduce`
  * parity). An empty vector folds to 0.0 per plane, so the >= 0 sign test
  * sets every bit — identical in both engines.
  */
case class SrpBitsExpr(child: Expression, as: Array[Long], bs: Array[Long])
    extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_bits"

  private val P: Long = TextHashExprs.AffineP
  private val H: Long = (TextHashExprs.AffineP - 1L) / 2L

  def compute(v: ArrayData): Long = {
    val dim = v.numElements()
    var sig = 0L
    var k = 0
    while (k < as.length) {
      val a = as(k)
      val b = bs(k)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val h = (a * (j + 1L) + b) % P - H
        acc = acc + v.getDouble(j) * h.toDouble
        j += 1
      }
      if (acc >= 0.0) sig |= (1L << k)
      k += 1
    }
    sig
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpBits", this, classOf[SrpBitsExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SrpExprs {
  @volatile private var registered = Set.empty[String]

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_srp_bits",
        exprs => {
          def litArr(e: Expression): Array[Long] =
            e.eval(null).asInstanceOf[ArrayData].toLongArray()
          SrpBitsExpr(exprs(0), litArr(exprs(1)), litArr(exprs(2)))
        }, "scala_udf")
      registered += id
    }
  }

  /** Column form: `nBits`-bit SRP signature (bit k = sign of plane-k dot)
    * for a double-array vector column. */
  def srpBits(spark: SparkSession, v: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits")
    register(spark)
    val seeds = TextHashExprs.affineSeeds(nBits)
    import org.apache.spark.sql.functions.{call_function, typedlit}
    call_function("graft_srp_bits", v,
      typedlit(seeds.map(_._1)), typedlit(seeds.map(_._2)))
  }

  /** Probability two vectors at cosine similarity `c` agree on one SRP bit
    * (Goemans–Williamson): 1 - θ/π with θ = arccos(c). */
  def srpBitAgreeProb(cosine: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi

  /** Expected candidate recall of banded SRP at cosine `c`: bits split into
    * `bands` blocks of ~nBits/bands bits; a pair surfaces if at least one
    * block matches exactly — 1 - (1 - p^w)^bands, p = srpBitAgreeProb(c). */
  def srpRecallAt(cosine: Double, nBits: Int, bands: Int): Double = {
    val p = srpBitAgreeProb(cosine)
    val w = nBits.toDouble / bands
    1.0 - math.pow(1.0 - math.pow(p, w), bands.toDouble)
  }
}
