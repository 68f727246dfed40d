package graft.ops

import graft.SparkSpec
import graft.functions.{PackedLongs, TextHashExprs}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** The codegen'd text-hash kernels must be bit-identical to the
  * declarative compositions they replace (same xxhash64 seed chaining),
  * and the packed-set merges must agree with the array builtins. */
class TextHashExprsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox"),
      (3L, "one"),
      (4L, ""),
      (5L, "  spaced   out   tokens  "),
      (6L, "dup dup dup dup"),
      (7L, "Ünïcodé tökens reMAIN case-sensitive after LOWER")
    ).toDF("id", "text")
  }

  test("ngramHashes matches xxhash64 over array_join'd shingles") {
    val toks = TextAnalysis.tokens(col("text"))
    for (n <- Seq(1, 2, 3)) {
      val old = transform(Dedup.shingles(col("text"), n), s => xxhash64(s))
      val nw = TextHashExprs.ngramHashes(spark, toks, n)
      val bad = docs.select(old.as("o"), nw.as("n"))
        .filter(not(col("o") <=> col("n"))).count()
      assert(bad == 0, s"n=$n")
    }
  }

  /** MinHash signature from pre-hashed shingles as pure expressions:
    * numHashes seeded xxhash64(i, shingleHash) functions, the minimum of
    * each — the reference form of the `TextHashExprs.minhashSig` kernel. */
  private def minhashFromHashes(shingleHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleHashes, h => xxhash64(lit(i), h)))
    }: _*)

  /** 64-bit SimHash from pre-hashed tokens as pure expressions: per bit,
    * sum ±1 across the hashes; the sign pattern is the signature (64
    * bit-counter folds over the long array) — the reference form of the
    * `TextHashExprs.simhashCol` kernel. */
  private def simhashFromHashes(hashes: Column): Column =
    (0 until 64).map { b =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  test("minhashSig matches per-seed array_min composition") {
    val grams = transform(Dedup.shingles(col("text"), 2), s => xxhash64(s))
    val rows = docs.select(minhashFromHashes(grams, 16).as("o"),
        TextHashExprs.ngramHashes(spark, TextAnalysis.tokens(col("text")), 2)
          .as("h"))
      .collect()
    rows.foreach { r =>
      val sig = TextHashExprs.minhashSig(
        new GenericArrayData(r.getSeq[Long](1).toArray), 16)
      assert(sig.toLongArray().toSeq == r.getSeq[Long](0))
    }
  }

  test("simhash kernel matches the per-bit aggregate fold") {
    val toks = TextAnalysis.tokens(col("text"))
    val old = simhashFromHashes(transform(toks, x => xxhash64(x)))
    val nw = when(size(toks) > 0,
      TextHashExprs.simhashCol(spark, TextHashExprs.ngramHashes(spark, toks, 1)))
      .otherwise(lit(0L))
    val bad = docs.select(old.as("o"), nw.as("n"))
      .filter(not(col("o") <=> col("n"))).count()
    assert(bad == 0)
  }

  test("packed sorted-set intersect matches array_intersect size") {
    import spark.implicits._
    val pairs = Seq(
      (Seq(3L, 1L, 2L, 3L), Seq(2L, 4L, 2L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(5L, 5L), Seq(5L)),
      (Seq(Long.MinValue, -1L, Long.MaxValue), Seq(Long.MaxValue, Long.MinValue))
    ).toDF("a", "b")
    val got = pairs.select(
      PackedLongs.intersectSize(spark,
        PackedLongs.packSortedSet(spark, col("a")),
        PackedLongs.packSortedSet(spark, col("b"))).as("n"),
      size(array_intersect(col("a"), col("b"))).as("expected")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("packed eqCount counts positional agreement") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L))).toDF("a", "b")
    val n = df.select(PackedLongs.eqCount(spark,
      PackedLongs.pack(spark, col("a")), PackedLongs.pack(spark, col("b")))).collect()(0).getInt(0)
    assert(n == 2)
  }
}
