package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Bloom-filter kernels over 64-bit fingerprints (Bloom 1970; the
  * Kirsch–Mitzenmacher double-hashing scheme, "Less Hashing, Same
  * Performance", ESA 2006: position_i = h1 + i·h2 mod m needs only two
  * base hashes for k probes with no asymptotic loss).
  *
  * Two sides share one static position function so build and probe can
  * never drift:
  *  - [[BloomBitPositionsExpr]] (build): fingerprint → its k bit
  *    positions, an `array<bigint>` a plain groupBy-bit_or aggregation
  *    turns into the filter's 64-bit words — the filter is built
  *    DISTRIBUTED, the driver only collects `numBits/64` longs (a design
  *    parameter, never a function of data size).
  *  - [[BloomCountContainedExpr]] (probe): array of fingerprints → how
  *    many land entirely inside the task-broadcast word array. One narrow
  *    codegen call per row; no join, no shuffle, no per-element lambda.
  *
  * Base hashes are two independent splitmix64 finalizing mixes (Steele,
  * Lea, Flood — "Fast Splittable Pseudorandom Number Generators", OOPSLA
  * 2014; public-domain constants), h2 forced odd so the probe stride is
  * coprime with any power-of-two word count.
  *
  * No false negatives ever (a set member's bits are all set by
  * construction); false positives at rate ~(1-e^{-kn/m})^k are resolved
  * by the caller's exact-verify join over the sliver that passed.
  */
object BloomExprs {

  /** splitmix64 finalizer — avalanche mix of a 64-bit key. */
  def mix1(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Second independent mix (distinct odd constants from the same family). */
  def mix2(z0: Long): Long = {
    var z = z0 + 0xc2b2ae3d27d4eb4fL
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Bit position of probe `i` for fingerprint `fp` in an `numBits`-bit
    * filter. Both build and probe call exactly this. */
  def position(fp: Long, i: Int, numBits: Long): Long = {
    val h1 = mix1(fp)
    val h2 = mix2(fp) | 1L
    val combined = h1 + i * h2
    ((combined % numBits) + numBits) % numBits
  }

  /** numBits for a target false-positive rate (standard -n·ln p / ln²2),
    * rounded up to a whole number of 64-bit words, floor one word. */
  def optimalNumBits(n: Long, fpp: Double): Long = {
    require(n > 0 && fpp > 0 && fpp < 1, s"need n>0, 0<fpp<1; got n=$n fpp=$fpp")
    val bits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    ((bits + 63) / 64) * 64
  }

  /** k = m/n · ln 2, floor 1. */
  def optimalNumHashes(n: Long, numBits: Long): Int =
    math.max(1, math.round(numBits.toDouble / n * math.log(2)).toInt)

  def countContained(fps: ArrayData, words: Array[Long], numHashes: Int): Int = {
    val numBits = words.length.toLong * 64L
    val n = fps.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      val fp = fps.getLong(i)
      var hit = true
      var j = 0
      while (hit && j < numHashes) {
        val pos = position(fp, j, numBits)
        hit = (words((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) != 0L
        j += 1
      }
      if (hit) c += 1
      i += 1
    }
    c
  }

  def positions(fp: Long, numHashes: Int, numBits: Long): ArrayData = {
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { out(i) = position(fp, i, numBits); i += 1 }
    new GenericArrayData(out)
  }

  /** Build side: fingerprint → its k bit positions. */
  case class BloomBitPositionsExpr(child: Expression, numHashes: Int,
      numBits: Long) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_bloom_positions"
    override protected def nullSafeEval(a: Any): Any =
      positions(a.asInstanceOf[Long], numHashes, numBits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BloomExprs.positions($a, $numHashes, ${numBits}L)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Probe side: how many of the row's fingerprints the filter contains.
    * The word array rides task-broadcast in the expression (serialized
    * once per task with the plan, the [[LmScoreExpr]] pattern), so the
    * corpus scan stays a single narrow whole-stage-codegen projection. */
  case class BloomCountContainedExpr(child: Expression, words: Array[Long],
      numHashes: Int) extends UnaryExpression with DigestArrayArgs {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_bloom_count_contained"
    override protected def nullSafeEval(a: Any): Any =
      countContained(a.asInstanceOf[ArrayData], words, numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val w = ctx.addReferenceObj("bloomWords", words, "long[]")
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.BloomExprs.countContained($a, $w, $numHashes)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  @volatile private var registered = Set.empty[String]

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bloom_positions",
        exprs => {
          val k = exprs(1).eval(null).asInstanceOf[Int]
          val bits = exprs(2).eval(null).asInstanceOf[Long]
          BloomBitPositionsExpr(exprs(0), k, bits)
        }, "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bloom_count",
        exprs => {
          val words = exprs(1).eval(null).asInstanceOf[ArrayData].toLongArray()
          val k = exprs(2).eval(null).asInstanceOf[Int]
          BloomCountContainedExpr(exprs(0), words, k)
        }, "scala_udf")
      registered += id
    }
  }

  def bitPositions(spark: SparkSession, fp: Column, numHashes: Int,
      numBits: Long): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("graft_bloom_positions", fp.cast("long"), lit(numHashes),
      lit(numBits))
  }

  def countContained(spark: SparkSession, fps: Column, words: Array[Long],
      numHashes: Int): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_bloom_count", fps, typedlit(words.toSeq), lit(numHashes))
  }
}
