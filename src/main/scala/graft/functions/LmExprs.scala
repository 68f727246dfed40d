package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Add-k bigram language-model scoring as ONE expression over the
  * task-broadcast reference model — the corpus side of
  * [[graft.ops.TextAnalysis.lmScore]] with zero joins and zero shuffles.
  *
  * The declarative alternative explodes every corpus bigram (~tokens-1
  * rows per doc), broadcast-joins the reference bigram and context tables
  * onto the instance stream, and re-aggregates by doc — three wide plan
  * stages whose instance stream is corpus-sized. Here the bounded
  * reference model (sorted bigram/context arrays, the same task-broadcast
  * pattern as [[NearestCellsTopKExpr]]'s centroid matrix) rides in the
  * expression, and each doc folds to `(n_bigrams, Σ logp)` in a single
  * narrow projection over one corpus scan.
  *
  * Bit-identical to the joined form: per-bigram
  * `logp = ln((cnt2 + k) / (ctx + k·(V+1)))` with `java.lang.Math.log`
  * (what Spark's `log` uses), each term cast to DECIMAL(28,14) exactly as
  * Spark's double→decimal cast does (`BigDecimal.valueOf` — the
  * `Double.toString` shortest form — then HALF_UP at scale 14), summed
  * exactly (decimal addition is order-invariant, so the fold order the
  * joined aggregation never guaranteed cannot matter).
  *
  * Lookups binary-search sorted `(w1, w2)` byte arrays in UTF8String
  * order (unsigned byte-wise — `Arrays.compareUnsigned` driver-side and
  * `UTF8String.compareTo` executor-side agree), so per-task init only
  * wraps the arrays (no hash build) and per-bigram lookup allocates
  * nothing.
  */
case class LmScoreExpr(child: Expression,
    bgW1: Array[Array[Byte]], bgW2: Array[Array[Byte]], bgCnt: Array[Long],
    ctxW1: Array[Array[Byte]], ctxCnt: Array[Long],
    addK: Double, denomK: Double) extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("logp_sum", DecimalType(38, 14), nullable = true)))
  override def prettyName: String = "graft_lm_score"

  // wrapper views over the serialized byte arrays, built once per task
  @transient private lazy val bgW1U = bgW1.map(UTF8String.fromBytes)
  @transient private lazy val bgW2U = bgW2.map(UTF8String.fromBytes)
  @transient private lazy val ctxW1U = ctxW1.map(UTF8String.fromBytes)

  private def bigramCount(w1: UTF8String, w2: UTF8String): Long = {
    var lo = 0
    var hi = bgW1U.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      var c = w1.compareTo(bgW1U(mid))
      if (c == 0) c = w2.compareTo(bgW2U(mid))
      if (c == 0) return bgCnt(mid)
      else if (c < 0) hi = mid - 1
      else lo = mid + 1
    }
    0L
  }

  private def ctxCount(w1: UTF8String): Long = {
    var lo = 0
    var hi = ctxW1U.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = w1.compareTo(ctxW1U(mid))
      if (c == 0) return ctxCnt(mid)
      else if (c < 0) hi = mid - 1
      else lo = mid + 1
    }
    0L
  }

  def compute(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    if (n < 2) return new GenericInternalRow(Array[Any](0L, null))
    var sum = JBigDecimal.ZERO
    var w1 = toks.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val w2 = toks.getUTF8String(i + 1)
      val logp = Math.log(
        (bigramCount(w1, w2).toDouble + addK) /
          (ctxCount(w1).toDouble + denomK))
      sum = sum.add(JBigDecimal.valueOf(logp).setScale(14, RoundingMode.HALF_UP))
      w1 = w2
      i += 1
    }
    new GenericInternalRow(Array[Any]((n - 1).toLong, Decimal(sum, 38, 14)))
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmScore", this, classOf[LmScoreExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Naive-Bayes (fastText-style linear) token log-odds scoring as ONE
  * expression over a task-broadcast vocabulary — the scoring side of
  * [[graft.ops.TextAnalysis.nbQualityScore]] with zero joins and zero
  * shuffles, the same design as [[LmScoreExpr]] but simpler: the per-token
  * log-odds is a pure function of the bounded training counts, so it is
  * precomputed driver-side and pre-quantized to DECIMAL(28,14) once
  * (`BigDecimal.valueOf` shortest-form + HALF_UP at scale 14 — exactly
  * Spark's double→decimal cast), leaving the per-row work at one binary
  * search + one exact decimal add per token. Docs fold to
  * `(n_tokens, Σ log-odds)`; unseen tokens take the shared smoothed
  * constant. Decimal addition is order-invariant, so the result is
  * bit-identical to the explode+join+aggregate form at any parallelism. */
case class NbScoreExpr(child: Expression,
    words: Array[Array[Byte]], lo: Array[JBigDecimal],
    unseen: JBigDecimal) extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("lo_sum", DecimalType(38, 14), nullable = true)))
  override def prettyName: String = "graft_nb_score"

  @transient private lazy val wordsU = words.map(UTF8String.fromBytes)

  private def lookup(w: UTF8String): JBigDecimal = {
    var lo0 = 0
    var hi = wordsU.length - 1
    while (lo0 <= hi) {
      val mid = (lo0 + hi) >>> 1
      val c = w.compareTo(wordsU(mid))
      if (c == 0) return lo(mid)
      else if (c < 0) hi = mid - 1
      else lo0 = mid + 1
    }
    unseen
  }

  def compute(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    if (n == 0) return new GenericInternalRow(Array[Any](0L, null))
    var sum = JBigDecimal.ZERO
    var i = 0
    while (i < n) {
      sum = sum.add(lookup(toks.getUTF8String(i)))
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, Decimal(sum, 38, 14)))
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbScore", this, classOf[NbScoreExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Multi-class naive-Bayes char-gram ARGMAX as ONE expression over the
  * RAW TEXT — the round-15 t_lang_id rework, two generations past the
  * k-kernel form:
  *
  *  1. the k per-language [[NbScoreExpr]] kernels each binary-searched a
  *     materialized char-gram array (k·log|V| string compares per gram);
  *     the joint k×|V| matrix here searches ONCE per gram and advances
  *     all k language accumulators from the hit row;
  *  2. the materialized gram array itself measured 3.7 s of the 4.8 s
  *     classify scan at sf0.1 (one substr allocation+copy per gram), so
  *     this kernel takes the text column directly: lowercase once
  *     (`UTF8String.toLowerCase` — exactly Spark's `lower`), then slide
  *     an n-CHAR window over the byte array via a ring of char-start
  *     offsets, comparing zero-copy `UTF8String.fromBytes(b, s, len)`
  *     views against the sorted vocab — no per-gram byte copies, no
  *     array materialization.
  *
  * Bit-identical to `charGrams`+k-kernel argmax: the byte windows are the
  * same bytes `lower(text).substr(i+1, n)` produced (same char
  * boundaries, same lowercasing), every matrix cell is the same
  * DECIMAL(28,14)-quantized logp the per-language kernel would add (a
  * gram absent from language ℓ's capped vocab takes ℓ's smoothed unseen
  * constant — exactly what ℓ's own kernel did), sums are exact decimal
  * adds — accumulated as scale-14 unscaled longs, flushed into a
  * BigInteger every `flushEvery` grams so the running partial provably
  * never overflows (decimal addition is order-invariant, so chunked
  * flushing is exact) — and ties break toward the lowest language index
  * (languages pre-sorted ascending = the lexicographic tie-break the
  * struct-max form encoded via -idx). Returns
  * struct(n_tokens = numChars−n+1, lang, lo_sum); texts shorter than n
  * chars yield (0, null, null). */
case class NbArgmaxExpr(child: Expression, gramN: Int,
    words: Array[Array[Byte]], loUnscaled: Array[Array[Long]],
    unseenUnscaled: Array[Long], langs: Array[String])
    extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("lo_sum", DecimalType(38, 14), nullable = true),
    // runner-up language's sum (null when k = 1): the margin/abstain
    // surface — (lo_sum − lo_second)/n_tokens is the top-2 confidence
    StructField("lo_second", DecimalType(38, 14), nullable = true)))
  override def prettyName: String = "graft_nb_argmax"

  @transient private lazy val wordsU = words.map(UTF8String.fromBytes)
  @transient private lazy val langsU = langs.map(UTF8String.fromString)
  // per-gram |unscaled| bound → the chunk length whose running long sum
  // provably cannot overflow between flushes
  @transient private lazy val flushEvery: Long = {
    var m = 1L
    unseenUnscaled.foreach(u => m = math.max(m, math.abs(u)))
    loUnscaled.foreach(_.foreach(v => m = math.max(m, math.abs(v))))
    math.max(1L, Long.MaxValue / (m + 1L))
  }

  private def lookup(w: UTF8String): Int = {
    var lo = 0
    var hi = wordsU.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = w.compareTo(wordsU(mid))
      if (c == 0) return mid
      else if (c < 0) hi = mid - 1
      else lo = mid + 1
    }
    -1
  }

  def compute(text: UTF8String): InternalRow = {
    val lowered = text.toLowerCase
    val b = lowered.getBytes
    val nb = b.length
    val k = langs.length
    val n = gramN
    val sums = new Array[Long](k)
    var bigSums: Array[java.math.BigInteger] = null
    var sinceFlush = 0L
    def flush(): Unit = {
      if (bigSums == null)
        bigSums = Array.fill(k)(java.math.BigInteger.ZERO)
      var l = 0
      while (l < k) {
        bigSums(l) = bigSums(l).add(java.math.BigInteger.valueOf(sums(l)))
        sums(l) = 0L
        l += 1
      }
      sinceFlush = 0L
    }
    val starts = new Array[Int](n)
    var chars = 0
    var off = 0
    var grams = 0L
    while (off < nb) {
      starts(chars % n) = off
      off += UTF8String.numBytesForFirstByte(b(off))
      chars += 1
      if (chars >= n) {
        val s = starts((chars - n) % n)
        val idx = lookup(UTF8String.fromBytes(b, s, off - s))
        var l = 0
        if (idx >= 0) while (l < k) { sums(l) += loUnscaled(l)(idx); l += 1 }
        else while (l < k) { sums(l) += unseenUnscaled(l); l += 1 }
        grams += 1
        sinceFlush += 1
        if (sinceFlush >= flushEvery) flush()
      }
    }
    if (grams == 0L)
      return new GenericInternalRow(Array[Any](0L, null, null, null))
    // best = smallest index among the max, second = smallest index among
    // the rest at the second-max value — exactly row_number() OVER
    // (ORDER BY s DESC, lang ASC) rows 1 and 2 (langs are sorted asc)
    var best = 0
    var second = -1
    var l = 1
    if (bigSums == null) {
      while (l < k) {
        if (sums(l) > sums(best)) { second = best; best = l }
        else if (second < 0 || sums(l) > sums(second)) second = l
        l += 1
      }
      new GenericInternalRow(Array[Any](grams, langsU(best),
        Decimal(JBigDecimal.valueOf(sums(best), 14), 38, 14),
        if (second < 0) null
        else Decimal(JBigDecimal.valueOf(sums(second), 14), 38, 14)))
    } else {
      flush()
      while (l < k) {
        if (bigSums(l).compareTo(bigSums(best)) > 0) {
          second = best; best = l
        } else if (second < 0 ||
          bigSums(l).compareTo(bigSums(second)) > 0) second = l
        l += 1
      }
      new GenericInternalRow(Array[Any](grams, langsU(best),
        Decimal(new JBigDecimal(bigSums(best), 14), 38, 14),
        if (second < 0) null
        else Decimal(new JBigDecimal(bigSums(second), 14), 38, 14)))
    }
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbArgmax", this, classOf[NbArgmaxExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object LmExprs {
  @volatile private var registered = Set.empty[String]

  /** Build the sorted reference model from collected (bigram, count) rows.
    * Bigrams split at the first space byte (tokens are whitespace-split,
    * so the separator is unambiguous and single-byte in UTF-8); the
    * context table ctx(w1) = Σ_w c(w1 w) is derived here — the reference
    * is bounded, so this is driver-scale work. */
  private[functions] def build(child: Expression, bigrams: Array[UTF8String],
      counts: Array[Long], addK: Double, vocab: Long): LmScoreExpr = {
    val n = bigrams.length
    val w1s = new Array[Array[Byte]](n)
    val w2s = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val b = bigrams(i).getBytes
      var sp = 0
      while (sp < b.length && b(sp) != ' '.toByte) sp += 1
      w1s(i) = java.util.Arrays.copyOfRange(b, 0, sp)
      w2s(i) = java.util.Arrays.copyOfRange(b, math.min(sp + 1, b.length), b.length)
      i += 1
    }
    def cmpPair(a: Int, b: Int): Int = {
      val c = java.util.Arrays.compareUnsigned(w1s(a), w1s(b))
      if (c != 0) c else java.util.Arrays.compareUnsigned(w2s(a), w2s(b))
    }
    val order = Array.range(0, n).sortWith(cmpPair(_, _) < 0)
    val sw1 = order.map(w1s); val sw2 = order.map(w2s); val sc = order.map(counts)
    // context sums over runs of equal w1 in the already-sorted order
    val cw1 = Array.newBuilder[Array[Byte]]
    val cc = Array.newBuilder[Long]
    var s = 0
    while (s < n) {
      var e = s
      var acc = 0L
      while (e < n && java.util.Arrays.compareUnsigned(sw1(s), sw1(e)) == 0) {
        acc += sc(e); e += 1
      }
      cw1 += sw1(s); cc += acc
      s = e
    }
    LmScoreExpr(child, sw1, sw2, sc, cw1.result(), cc.result(),
      addK, addK * (vocab.toDouble + 1.0))
  }

  /** Sorted-joint-vocab NbArgmaxExpr: sorts `words` byte-wise (carrying
    * every language's aligned logp row), quantizes each cell to the
    * scale-14 unscaled long once, driver-side. `langs` must arrive
    * ascending (the tie-break order). */
  private[functions] def buildNbArgmax(child: Expression, gramN: Int,
      words: Array[UTF8String], lo: Array[Array[Double]],
      unseen: Array[Double], langs: Array[String]): NbArgmaxExpr = {
    def q(d: Double): Long = JBigDecimal.valueOf(d)
      .setScale(14, RoundingMode.HALF_UP).unscaledValue().longValueExact()
    val bytes = words.map(_.getBytes)
    val order = Array.range(0, bytes.length).sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(bytes(a), bytes(b)) < 0)
    NbArgmaxExpr(child, gramN, order.map(bytes),
      lo.map(row => order.map(i => q(row(i)))), unseen.map(q), langs)
  }

  /** Sorted-vocab NbScoreExpr from (word, log-odds) pairs; quantizes each
    * log-odds to DECIMAL(28,14) once, driver-side. */
  private[functions] def buildNb(child: Expression, words: Array[UTF8String],
      logOdds: Array[Double], unseen: Double): NbScoreExpr = {
    def q(d: Double): JBigDecimal =
      JBigDecimal.valueOf(d).setScale(14, RoundingMode.HALF_UP)
    val bytes = words.map(_.getBytes)
    val order = Array.range(0, bytes.length).sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(bytes(a), bytes(b)) < 0)
    NbScoreExpr(child, order.map(bytes), order.map(i => q(logOdds(i))),
      q(unseen))
  }

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_lm_score",
        exprs => {
          val arr = exprs(1).eval(null).asInstanceOf[ArrayData]
          val bigrams = (0 until arr.numElements())
            .map(arr.getUTF8String).toArray
          val counts = exprs(2).eval(null).asInstanceOf[ArrayData].toLongArray()
          val addK = exprs(3).eval(null).asInstanceOf[Double]
          val vocab = exprs(4).eval(null).asInstanceOf[Long]
          build(exprs(0), bigrams, counts, addK, vocab)
        }, "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_nb_argmax",
        exprs => {
          val gramN = exprs(1).eval(null).asInstanceOf[Int]
          val warr = exprs(2).eval(null).asInstanceOf[ArrayData]
          val words = (0 until warr.numElements())
            .map(warr.getUTF8String).toArray
          val marr = exprs(3).eval(null).asInstanceOf[ArrayData]
          val lo = (0 until marr.numElements())
            .map(i => marr.getArray(i).toDoubleArray()).toArray
          val unseen = exprs(4).eval(null).asInstanceOf[ArrayData].toDoubleArray()
          val larr = exprs(5).eval(null).asInstanceOf[ArrayData]
          val langs = (0 until larr.numElements())
            .map(i => larr.getUTF8String(i).toString).toArray
          buildNbArgmax(exprs(0), gramN, words, lo, unseen, langs)
        }, "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_nb_score",
        exprs => {
          val warr = exprs(1).eval(null).asInstanceOf[ArrayData]
          val words = (0 until warr.numElements())
            .map(warr.getUTF8String).toArray
          val lo = exprs(2).eval(null).asInstanceOf[ArrayData].toDoubleArray()
          val unseen = exprs(3).eval(null).asInstanceOf[Double]
          buildNb(exprs(0), words, lo, unseen)
        }, "scala_udf")
      registered += id
    }
  }

  /** Column form: `(n_bigrams, logp_sum)` struct for a token-array column
    * against the collected reference bigram counts. */
  def lmScoreCol(spark: SparkSession, toks: Column, bigrams: Seq[String],
      counts: Seq[Long], addK: Double, vocab: Long): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_lm_score", toks,
      typedlit(bigrams), typedlit(counts), lit(addK), lit(vocab))
  }

  /** Column form: `(n_tokens, lang, lo_sum)` struct over the RAW TEXT —
    * lowercase + n-char sliding window + one joint-vocab search per
    * gram, all k language sums advanced together, argmax with ties to
    * the lowest index. `langs` ascending; `loMatrix` rows align with
    * `langs`, columns with `words`. */
  def nbArgmaxCol(spark: SparkSession, text: Column, gramN: Int,
      words: Seq[String], loMatrix: Seq[Seq[Double]], unseens: Seq[Double],
      langs: Seq[String]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_nb_argmax", text, lit(gramN),
      typedlit(words), typedlit(loMatrix), typedlit(unseens), typedlit(langs))
  }

  /** Column form: `(n_tokens, lo_sum)` struct for a token-array column
    * against driver-precomputed per-word log-odds. */
  def nbScoreCol(spark: SparkSession, toks: Column, words: Seq[String],
      logOdds: Seq[Double], unseen: Double): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function, lit, typedlit}
    call_function("graft_nb_score", toks,
      typedlit(words), typedlit(logOdds), lit(unseen))
  }
}
