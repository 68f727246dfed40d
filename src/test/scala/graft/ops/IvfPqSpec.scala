package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF-PQ: ADC decomposition parity with explicit reconstruction, probe
  * pruning, partition invariance, and the broadcast-only search plan. */
class IvfPqSpec extends SparkSpec {

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def smallIndex = IvfPq.build(
    embeddings.filter(col("vec_id") < 300), "vec_id", "embedding",
    nCells = 4, m = 2, ksub = 4)

  test("score equals dot(q, cell centroid) + dot(q_sub, decoded residual)") {
    val e = embeddings.filter(col("vec_id") < 300)
    val (codes, cents, books) = smallIndex
    val queries = e.filter(col("vec_id") < 5)
    val got = IvfPq.search(codes, cents, books, queries, "vec_id", "embedding",
        k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val centMap = cents.toMap
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    val qVecs = queries
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(got.nonEmpty)
    got.foreach { case ((qId, nId), score) =>
      val (cell, code) = codeMap(nId)
      val q = qVecs(qId)
      val cent = centMap(cell)
      var want = cent.indices.map(i => q(i) * cent(i)).foldLeft(0.0)(_ + _)
      (0 until books.m).foreach { s =>
        val bc = books.books(s)(code(s))
        var acc = 0.0
        var j = 0
        while (j < books.dsub) { acc += q(s * books.dsub + j) * bc(j); j += 1 }
        want = want + acc
      }
      assert(score == want, s"q=$qId n=$nId")
    }
  }

  test("neighbors only come from the probed cells") {
    val e = embeddings.filter(col("vec_id") < 300)
    val (codes, cents, books) = smallIndex
    val queries = e.filter(col("vec_id") < 5)
    val probes = queries
      .select(col("vec_id").as("q_id"),
        graft.functions.NearestCellExpr.nearestCellsTopK(spark,
          Similarity.toDouble(col("embedding")), cents, 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val cellOf = codes.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    IvfPq.search(codes, cents, books, queries, "vec_id", "embedding",
        k = 50, nProbe = 2)
      .collect().foreach { r =>
        assert(probes(r.getLong(0)).contains(cellOf(r.getLong(2))))
      }
  }

  test("codes, centroids and codebooks are partition-invariant") {
    def run(parts: Int) = {
      val (codes, cents, books) = IvfPq.build(
        embeddings.repartition(parts), "vec_id", "embedding",
        nCells = 4, m = 2, ksub = 4)
      (codes.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap,
        cents, books)
    }
    val (ca, na, ba) = run(1)
    val (cb, nb, bb) = run(7)
    assert(na == nb && ba == bb && ca == cb && ca.nonEmpty)
  }

  test("sane recall vs exact dot on clustered data (the ANN regime)") {
    // iid-random embeddings concentrate all pairwise dots, so ANY
    // approximation scrambles a top-k there; recall is only meaningful on
    // clustered data. Build 50 clusters of 10 perturbed copies each from
    // real embedding rows (deterministic — no RNG, resume-safe).
    import spark.implicits._
    val centers = embeddings.filter(col("vec_id") < 50)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val rows = (0 until 500).map { i =>
      val c = centers(i % 50)
      val noise = centers((i * 7 + 13) % 50)
      i.toLong -> c.indices.map(j => c(j) + 0.05 * noise(j)).toSeq
    }
    val e = rows.toDF("vec_id", "embedding")
    val (codes, cents, books) = IvfPq.build(e, "vec_id", "embedding",
      nCells = 8, m = 8, ksub = 16, ivfIters = 2, pqIters = 2)
    val queries = e.filter(col("vec_id") < 20)
    val pq = IvfPq.search(codes, cents, books, queries, "vec_id", "embedding",
        k = 9, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val vecs = rows.toMap
    val brute = (0L until 20L).flatMap { q =>
      rows.filter(_._1 != q)
        .map { case (id, v) =>
          (id, vecs(q).zip(v).map { case (a, b) => a * b }.sum)
        }
        .sortBy { case (id, s) => (-s, id) }.take(9)
        .map { case (id, _) => (q, id) }
    }.toSet
    val recall = (pq intersect brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("index persists partitioned by cell and searches identically after load") {
    val (codes, cents, books) = smallIndex
    val dir = graft.queries.TempDirs.create("ivfpq").toString
    IvfPq.save(codes, cents, books, dir)
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty && cellDirs.subsetOf(
      (0 until 4).map(c => s"cell=$c").toSet))
    val (lCodes, lCents, lBooks) = IvfPq.load(spark, dir)
    assert(lCents == cents && lBooks == books)
    val queries = embeddings.filter(col("vec_id") < 5)
    def run(c: org.apache.spark.sql.DataFrame, ce: Seq[(Int, Seq[Double])],
        b: PqIndex.Codebooks) =
      IvfPq.search(c, ce, b, queries, "vec_id", "embedding", k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(run(lCodes, lCents, lBooks) == run(codes, cents, books))
  }

  test("search broadcasts the probed queries; codes never pre-shuffle") {
    val (codes, cents, books) = smallIndex
    val plan = IvfPq.search(codes, cents, books,
      embeddings.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("SortMergeJoin"))
  }
}
