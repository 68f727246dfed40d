package graft.ops

import graft.SparkSpec
import graft.functions.{SrpExprs, TextHashExprs}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sign-random-projection LSH: kernel bit-parity with the declarative
  * per-plane fold, plan-size independence from nBits, and the operator's
  * exact-verify contract (precision exact, candidates per banding). */
class SrpLshSpec extends SparkSpec {

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Declarative reference: per plane, fold x_j * h_k[j] left-to-right and
    * take the sign — the expression form the kernel compresses. */
  private def declarativeSrp(v: Column, nBits: Int): Column = {
    val p = TextHashExprs.AffineP
    val h = (p - 1L) / 2L
    TextHashExprs.affineSeeds(nBits).zipWithIndex.map { case ((a, b), k) =>
      val planes = transform(sequence(lit(1L), size(v).cast("long")),
        j => (j * a + b) % p - h)
      val dot = aggregate(zip_with(v, planes, (x, hh) => x * hh.cast("double")),
        lit(0.0), (acc, t) => acc + t)
      when(dot >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  test("kernel signature matches the declarative per-plane fold") {
    val v = Similarity.toDouble(col("embedding"))
    for (nBits <- Seq(1, 5, 16, 63)) {
      val bad = embeddings
        .select(col("vec_id"),
          declarativeSrp(v, nBits).as("want"),
          SrpExprs.srpBits(spark, v, nBits).as("got"))
        .filter(col("want") =!= col("got"))
        .count()
      assert(bad == 0, s"nBits=$nBits")
    }
  }

  test("empty vector sets every bit (0.0 fold >= 0 per plane)") {
    import spark.implicits._
    val sig = Seq(Seq.empty[Double]).toDF("v")
      .select(SrpExprs.srpBits(spark, col("v"), 16).as("sig"))
      .head.getLong(0)
    assert(sig == (1L << 16) - 1L)
  }

  test("plan size is independent of nBits (seeds ride as reference objects)") {
    def exprNodes(nBits: Int): Int = {
      val df = embeddings.select(SrpExprs.srpBits(spark,
        Similarity.toDouble(col("embedding")), nBits).as("sig"))
      df.queryExecution.analyzed.expressions
        .map(_.collect { case e => e }.size).sum
    }
    assert(exprNodes(4) == exprNodes(63))
    assert(exprNodes(63) < 30)
  }

  test("pairs are exact-cosine verified and identical vectors always surface") {
    import spark.implicits._
    val e = embeddings.filter(col("vec_id") < 300)
    // plant an exact duplicate of every vector under a shifted id: identical
    // vectors agree on every band, so each planted pair must surface with
    // cosine 1.0 regardless of banding recall
    val planted = e.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"), col("label"))
    val pairs = Dedup.embeddingSrpLshPairs(e.unionByName(planted),
        "vec_id", "embedding", nBits = 16, bands = 4, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    // every emitted cosine really is >= threshold and matches brute force
    val vecs = e.unionByName(planted)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    pairs.foreach { case (ia, ib, c) =>
      assert(c >= 0.2)
      assert(math.abs(c - cos(vecs(ia), vecs(ib))) < 1e-9, s"($ia,$ib)")
    }
    val ids = e.select("vec_id").as[Long].collect()
    val emitted = pairs.map(p => (p._1, p._2)).toSet
    ids.foreach { id =>
      assert(emitted.contains((id, id + 100000L)), s"planted dup of $id lost")
    }
  }

  test("parquet materialization route returns identical pairs") {
    val e = embeddings.filter(col("vec_id") < 300)
    val dir = graft.queries.TempDirs.create("srp")
      .toString + "/base"
    def run(path: Option[String]) =
      Dedup.embeddingSrpLshPairs(e, "vec_id", "embedding",
          nBits = 16, bands = 4, threshold = 0.2, materializePath = path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run(None)
    val b = run(Some(dir))
    assert(a == b)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("minRecall guard fails fast when banding cannot reach it") {
    val e = embeddings
    // one band of 16 bits at cosine 0.2: p ~ 0.56, recall p^16 ~ 1e-4
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingSrpLshPairs(e, "vec_id", "embedding",
        nBits = 16, bands = 1, threshold = 0.2, minRecall = 0.5)
    }
    assert(ex.getMessage.contains("below minRecall"))
    // the same guard passes with enough bands
    Dedup.embeddingSrpLshPairs(e, "vec_id", "embedding",
      nBits = 16, bands = 8, threshold = 0.9, minRecall = 0.5)
  }

  test("srpRecallAt is monotone in cosine and exact at the endpoints") {
    val r = (c: Double) => SrpExprs.srpRecallAt(c, 16, 4)
    assert(math.abs(r(1.0) - 1.0) < 1e-12)
    val grid = (0 to 10).map(i => r(i / 10.0))
    grid.sliding(2).foreach { case Seq(a, b) => assert(b >= a - 1e-12) }
  }
}
