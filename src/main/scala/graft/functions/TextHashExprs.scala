package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop Catalyst expressions for the text-dedup hot core.
  *
  * The declarative forms — `transform(shingles(text, n), s => xxhash64(s))`
  * and 64 × `array_min(transform(hashes, h => xxhash64(i, h)))` — run as
  * interpreted higher-order lambdas: per-element expression-tree evaluation
  * and lambda-variable binding dominate runtime (measured ~10-100× the cost
  * of the actual hashing). These expressions evaluate the same math in a
  * single JIT-friendly loop and produce bit-identical values to the
  * built-in compositions (XXH64 is Spark's own xxhash64 kernel, seed
  * chaining replicated; verified in OpsSpec).
  */
object TextHashExprs {

  private val Seed = 42L

  /** xxhash64 of each word n-gram (tokens joined by ' '), bit-identical to
    * xxhash64(array_join(slice(tokens, i, n), ' ')). Fewer than n tokens →
    * one gram of all tokens. */
  case class NgramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_ngram_hashes"
    override protected def nullSafeEval(a: Any): Any =
      TextHashExprs.ngramHashes(a.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextHashExprs.ngramHashes($a, $n)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Affine (Carter–Wegman) MinHash minima over md5-derived base hashes:
    * mins_j of (x·a_j + b_j) mod p — the oracle-replicable hash family
    * (plain integer arithmetic any SQL engine can compute). Bit-identical
    * to the per-seed array_min(transform(...)) composition. */
  case class AffineMinHashSigExpr(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_affine_minhash_sig"
    override protected def nullSafeEval(a: Any): Any =
      TextHashExprs.affineMinhashSig(a.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.TextHashExprs.affineMinhashSig($a, $numHashes)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** md5-based word n-gram hashes: for each gram (tokens joined by ' '),
    * the first 15 hex digits of md5 parsed base-16 then mod p — exactly
    * conv(substring(md5(gram), 1, 15), 16, 10) % p over the declarative
    * shingles, which inlines to codegen too large to JIT. */
  case class Md5NgramModExpr(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_md5_ngram_mod"
    override protected def nullSafeEval(a: Any): Any =
      TextHashExprs.md5NgramMod(a.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextHashExprs.md5NgramMod($a, $n)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** LSH band keys straight from the base hashes: computes the MinHash
    * minima (xxhash64 family when `affine` is false, Carter–Wegman affine
    * otherwise) and joins each band's minima into a ','-separated key —
    * all in ONE expression, because any column alias referenced per band
    * gets inlined and re-evaluated per reference by the optimizer. The
    * string form matches CAST(sig[i] AS VARCHAR) || ',' || … in SQL. */
  case class BandKeysExpr(child: Expression, numHashes: Int, bands: Int,
      affine: Boolean) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override def prettyName: String = "graft_band_keys"
    override protected def nullSafeEval(a: Any): Any =
      TextHashExprs.bandKeys(a.asInstanceOf[ArrayData], numHashes, bands, affine)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"graft.functions.TextHashExprs.bandKeys($a, $numHashes, $bands, $affine)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** SimHash over pre-hashed tokens: one pass, `bits` bit counters —
    * bit-identical to the per-bit aggregate()/size(filter()) fold
    * compositions, which re-evaluate the token-hash subtree per bit
    * (lambda subtrees are excluded from subexpression elimination). */
  case class SimHashExpr(child: Expression, bits: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash"
    override protected def nullSafeEval(a: Any): Any =
      TextHashExprs.simhashSig(a.asInstanceOf[ArrayData], bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextHashExprs.simhashSig($a, $bits)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // ---- static kernels (shared by interpreted + generated code) ----------

  def ngramHashes(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    val sep = UTF8String.fromString(" ")
    if (cnt < n) {
      val parts = new Array[UTF8String](cnt)
      var i = 0
      while (i < cnt) { parts(i) = tokens.getUTF8String(i); i += 1 }
      val g = UTF8String.concatWs(sep, parts: _*)
      return new GenericArrayData(Array(
        XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, Seed)))
    }
    val out = new Array[Long](cnt - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= cnt - n) {
      var j = 0
      while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      val g = UTF8String.concatWs(sep, window: _*)
      out(i) = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, Seed)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Seed chain of xxhash64(lit(i): INT, h: LONG): the int literal hashes
    * first with seed 42, its result seeds the long hash. */
  private def intSeed(i: Int): Long = XXH64.hashInt(i, Seed)

  /** Mersenne prime 2^31−1: affine products stay below 2^62 (ANSI-safe). */
  val AffineP: Long = 2147483647L

  /** Deterministic affine seed pairs, identical across engines. */
  def affineSeeds(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map(i => ((1000000007L * (i + 1)) % AffineP,
      (998244353L * i + 12345L) % AffineP))

  def affineMinhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    val seeds = affineSeeds(numHashes)
    val as = seeds.map(_._1).toArray
    val bs = seeds.map(_._2).toArray
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val x = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = (x * as(j) + bs(j)) % AffineP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(mins, 0L)
    new GenericArrayData(mins)
  }

  /** MinHash minima over pre-hashed shingles: mins_i of xxhash64(i, h),
    * bit-identical to array_min(transform(hashes, h => xxhash64(lit(i), h)))
    * — the signature [[bandKeys]] bands when `affine` is false. */
  def minhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    val seeds = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) { seeds(j) = intSeed(j); j += 1 }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val x = hashes.getLong(i)
      j = 0
      while (j < numHashes) {
        val v = XXH64.hashLong(x, seeds(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(mins, 0L) // empty input: no minima
    new GenericArrayData(mins)
  }

  /** First 60 bits of md5 (15 hex digits, big-endian nibbles) mod AffineP. */
  private def md5Mod(g: UTF8String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(g.getBytes)
    var acc = 0L
    var k = 0
    while (k < 15) {
      val nibble =
        if (k % 2 == 0) (digest(k / 2) >> 4) & 0xF
        else digest(k / 2) & 0xF
      acc = acc * 16 + nibble
      k += 1
    }
    acc % AffineP
  }

  def md5NgramMod(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    val sep = UTF8String.fromString(" ")
    if (cnt < n) {
      val parts = new Array[UTF8String](cnt)
      var i = 0
      while (i < cnt) { parts(i) = tokens.getUTF8String(i); i += 1 }
      return new GenericArrayData(Array(md5Mod(UTF8String.concatWs(sep, parts: _*))))
    }
    val out = new Array[Long](cnt - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= cnt - n) {
      var j = 0
      while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      out(i) = md5Mod(UTF8String.concatWs(sep, window: _*))
      i += 1
    }
    new GenericArrayData(out)
  }

  def bandKeys(hashes: ArrayData, numHashes: Int, bands: Int,
      affine: Boolean): ArrayData = {
    val mins =
      (if (affine) affineMinhashSig(hashes, numHashes)
       else minhashSig(hashes, numHashes)).asInstanceOf[GenericArrayData]
    val rows = numHashes / bands
    val out = new Array[UTF8String](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder()
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append(',')
        sb.append(mins.getLong(b * rows + r))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[AnyRef]])
  }

  def simhashSig(hashes: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  // ---- registration + Column API ----------------------------------------

  @volatile private var registered = Set.empty[String]

  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal parameter, got $other")
  }

  private def litBool(e: Expression): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"expected a boolean literal parameter, got $other")
  }

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_simhash", exprs => SimHashExpr(exprs(0), litInt(exprs(1))), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_ngram_hashes",
        exprs => NgramHashesExpr(exprs(0), litInt(exprs(1))), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_affine_minhash_sig",
        exprs => AffineMinHashSigExpr(exprs(0), litInt(exprs(1))), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_md5_ngram_mod",
        exprs => Md5NgramModExpr(exprs(0), litInt(exprs(1))), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_band_keys",
        exprs => BandKeysExpr(exprs(0), litInt(exprs(1)), litInt(exprs(2)),
          litBool(exprs(3))), "scala_udf")
      registered += id
    }
  }

  def ngramHashes(spark: SparkSession, tokens: Column, n: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_ngram_hashes",
      tokens, org.apache.spark.sql.functions.lit(n))
  }

  def affineMinhashSig(spark: SparkSession, hashes: Column, numHashes: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_affine_minhash_sig",
      hashes, org.apache.spark.sql.functions.lit(numHashes))
  }

  def md5NgramMod(spark: SparkSession, tokens: Column, n: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_md5_ngram_mod",
      tokens, org.apache.spark.sql.functions.lit(n))
  }

  def bandKeysCol(spark: SparkSession, hashes: Column, numHashes: Int,
      bands: Int, affine: Boolean): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_band_keys", hashes,
      org.apache.spark.sql.functions.lit(numHashes),
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(affine))
  }

  def simhashCol(spark: SparkSession, hashes: Column, bits: Int = 64): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_simhash", hashes,
      org.apache.spark.sql.functions.lit(bits))
  }
}
