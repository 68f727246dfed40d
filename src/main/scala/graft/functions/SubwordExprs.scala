package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match SUBWORD segmentation as one task-broadcast codegen
  * expression — the real-tokenizer-shaped primitive an LLM data pipeline
  * needs for honest token accounting and packing (whitespace "tokens"
  * under-count; a subword vocabulary is what the trainer actually sees).
  *
  * Semantics (the WordPiece/BPE-inference greedy family, without the
  * continuation marker — documented variant): each whitespace word is
  * scanned left to right; at every position the LONGEST vocabulary entry
  * matching the remaining text is consumed; when nothing matches, the
  * single character itself is emitted (the char-fallback that keeps the
  * segmentation total — no <unk> black hole). Deterministic: a pure
  * function of (word, vocab); segment order preserves word order.
  *
  * Scale shape: the vocabulary rides in the expression (task-broadcast, a
  * HashSet probe per candidate prefix), positions advance at least one
  * character per emitted piece — O(len · maxPieceLen) worst case per
  * word, zero joins, zero shuffles, streaming-safe. Matching is by
  * Unicode code point (`String.codePointAt` stepping), the same unit SQL
  * `substr` counts, so an engine re-deriving the greedy walk lands on
  * identical pieces. */
case class SubwordTokenizeExpr(child: Expression, vocab: Array[UTF8String])
    extends UnaryExpression with DigestArrayArgs {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_subword_tokenize"

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(v => s.add(v.toString))
    s
  }
  @transient private lazy val maxPieceCp: Int =
    if (vocab.isEmpty) 1 else vocab.map(v => v.toString.codePointCount(0, v.toString.length)).max

  def compute(words: ArrayData): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < words.numElements()) {
      val w = words.getUTF8String(i).toString
      val wLen = w.length // UTF-16 units; stepping is code-point aware
      var pos = 0
      while (pos < wLen) {
        // longest vocab piece first, by CODE POINTS (the SQL substr unit)
        val remainingCp = w.codePointCount(pos, wLen)
        var take = math.min(maxPieceCp, remainingCp)
        var end = w.offsetByCodePoints(pos, take)
        var found = false
        while (!found && take >= 1) {
          val cand = w.substring(pos, end)
          if (vocabSet.contains(cand)) found = true
          else { take -= 1; if (take >= 1) end = w.offsetByCodePoints(pos, take) }
        }
        if (!found) end = w.offsetByCodePoints(pos, 1) // char fallback
        out.add(UTF8String.fromString(w.substring(pos, end)))
        pos = end
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subwordTok", this,
      classOf[SubwordTokenizeExpr].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SubwordExprs {
  @volatile private var registered = Set.empty[String]

  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_subword_tokenize",
        exprs => {
          val varr = exprs(1).eval(null).asInstanceOf[ArrayData]
          val vocab = (0 until varr.numElements())
            .map(i => varr.getUTF8String(i).clone()).toArray
          SubwordTokenizeExpr(exprs(0), vocab)
        }, "scala_udf")
      registered += id
    }
  }

  /** Column form: subword array for a words-array column against the
    * broadcast vocabulary. */
  def subwordTokenizeCol(spark: SparkSession, words: Column,
      vocab: Seq[String]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function, typedlit}
    call_function("graft_subword_tokenize", words, typedlit(vocab))
  }
}
