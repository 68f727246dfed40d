package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The multi-probe cell-ranking kernel (NearestCellsTopKExpr): bit-parity
  * with the declarative slice(array_sort(struct(negSim, cell))) form it
  * replaced, and a plan-size pin proving the expression tree no longer
  * grows with nCells (the literal-centroid anti-pattern NearestCell.scala
  * documents). */
class NearestCellsTopKSpec extends SparkSpec {

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The replaced construction, verbatim: nCells structs each holding a
    * dim-length literal centroid, ranked by (neg dot asc, cell asc). */
  private def declarativeTopK(v: Column,
      centroids: Seq[(Int, Seq[Double])], k: Int): Column = {
    val cellScores = centroids.map { case (cell, c) =>
      struct((lit(-1.0) * Similarity.dot(v, array(c.map(lit): _*))).as("negSim"),
        lit(cell).as("cell"))
    }
    slice(array_sort(array(cellScores: _*)), 1, math.min(k, centroids.size))
      .getField("cell")
  }

  test("kernel top-k matches the declarative ranking it replaced, for every k") {
    val e = embeddings
    val (_, centroids) = IvfIndex.build(e, "vec_id", "embedding", nCells = 8)
    val v = Similarity.toDouble(col("embedding"))
    for (k <- Seq(1, 3, 8, 50)) {
      val rows = e.select(col("vec_id"),
          declarativeTopK(v, centroids, k).as("want"),
          graft.functions.NearestCellExpr
            .nearestCellsTopK(spark, v, centroids, k).as("got"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Int](1) == r.getSeq[Int](2),
          s"vec_id=${r.get(0)} k=$k")
      }
    }
  }

  test("kernel element 0 equals the argmin kernel (build assignment)") {
    val e = embeddings
    val (assigned, centroids) = IvfIndex.build(e, "vec_id", "embedding", nCells = 8)
    val mismatch = assigned
      .withColumn("probe0", graft.functions.NearestCellExpr
        .nearestCellsTopK(spark, col("v"), centroids, 3).getItem(0))
      .filter(col("cell") =!= col("probe0"))
      .count()
    assert(mismatch == 0)
  }

  test("k < 1 fails fast at construction, not deep in a task") {
    val (_, centroids) = IvfIndex.build(embeddings, "vec_id", "embedding",
      nCells = 4)
    val v = Similarity.toDouble(col("embedding"))
    for (k <- Seq(0, -1)) {
      val ex = intercept[Exception] {
        embeddings.select(graft.functions.NearestCellExpr
          .nearestCellsTopK(spark, v, centroids, k)).collect()
      }
      assert(ex.getMessage.contains("k must be >= 1") ||
        Option(ex.getCause).exists(_.getMessage.contains("k must be >= 1")))
    }
  }

  test("ties rank the smaller cell first") {
    import spark.implicits._
    // two identical centroids under different ids: both dots tie, the
    // smaller cell id must come first (the declarative array_sort order)
    val centroids = Seq(5 -> Seq(1.0, 0.0), 2 -> Seq(1.0, 0.0), 7 -> Seq(0.0, 1.0))
    val out = Seq(Seq(1.0f, 0.0f)).toDF("v")
      .select(graft.functions.NearestCellExpr.nearestCellsTopK(
        spark, Similarity.toDouble(col("v")), centroids, 3).as("cells"))
      .head.getSeq[Int](0)
    assert(out == Seq(2, 5, 7))
  }

  test("plan size is independent of nCells (no literal-centroid blowup)") {
    def exprNodes(nCells: Int): Int = {
      val dim = 64
      val centroids = (0 until nCells)
        .map(c => c -> (0 until dim).map(i => (c * dim + i) * 0.001))
      val df = embeddings.select(graft.functions.NearestCellExpr
        .nearestCellsTopK(spark, Similarity.toDouble(col("embedding")),
          centroids, 2).as("probes"))
      df.queryExecution.analyzed.expressions
        .map(_.collect { case e => e }.size).sum
    }
    val small = exprNodes(64)
    val large = exprNodes(4096)
    assert(small == large,
      s"expression count grew with nCells: $small -> $large")
    assert(large < 50)
  }

  test("multi-probe near-dup pairs match the declarative probed path on small input") {
    val e = embeddings.filter(col("vec_id") < 300)
    for (probes <- Seq(2, 4)) {
      val got = Dedup.embeddingNearDupPairsByCell(e, "vec_id", "embedding",
          nCells = 8, threshold = 0.15, probes = probes)
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("id_a"),
          r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))).toSet
      // reference semantics re-derived declaratively (the pre-kernel path)
      val (assigned, centroids) = IvfIndex.build(e, "vec_id", "embedding",
        nCells = 8)
      val v = Similarity.toDouble(col("embedding"))
      val probed = assigned.select(col("id"), col("v"),
        explode(declarativeTopK(col("v"), centroids, probes)).as("cell"))
      val want = Dedup.embeddingNearDupPairs(probed, "id", "v", "cell", 0.15)
        .groupBy("id_a", "id_b")
        .agg(min(col("bkt")).as("cell"), max(col("cosine")).as("cosine"))
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("id_a"),
          r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))).toSet
      assert(got == want, s"probes=$probes")
      assert(got.nonEmpty)
    }
  }

  test("materialized-assignment route returns identical multi-probe pairs") {
    val e = embeddings.filter(col("vec_id") < 300)
    val dir = graft.queries.TempDirs.create("cellmat")
      .toString + "/assign"
    def run(path: Option[String]) =
      Dedup.embeddingNearDupPairsByCell(e, "vec_id", "embedding",
          nCells = 8, threshold = 0.15, probes = 2, materializePath = path)
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("id_a"),
          r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))).toSet
    val a = run(None)
    val b = run(Some(dir))
    assert(a.nonEmpty && a == b)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }
}
