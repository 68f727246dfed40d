package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected components: multi-hop merging, pointer-jump convergence on
  * long chains, partition invariance, survivor selection, and the
  * deterministic non-convergence failure. */
class ClusterSpec extends SparkSpec {

  private def pairsDf(ps: Seq[(Long, Long)]) = {
    import spark.implicits._
    ps.toDF("id_a", "id_b")
  }

  test("multi-hop chains merge even when the far pair is missing") {
    // 1~2, 2~3, 3~4 but never 1~4; plus an island 10~11 and reversed 21~20
    val cc = Cluster.connectedComponents(
      pairsDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("a 200-hop path converges well inside the default round budget") {
    val chain = (0L until 200L).map(i => (i, i + 1))
    val cc = Cluster.connectedComponents(pairsDf(chain), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 201 && cc.values.forall(_ == 0L))
  }

  test("labels are partition-invariant") {
    val ps = pairsDf(Seq((5L, 3L), (3L, 9L), (100L, 7L), (7L, 5L), (40L, 41L)))
    def run(parts: Int) = Cluster.connectedComponents(
      ps.repartition(parts), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == run(7))
    assert(run(1)(100L) == 3L)
  }

  test("self-pairs are ignored; exhausting maxIters throws") {
    val cc = Cluster.connectedComponents(
      pairsDf(Seq((1L, 1L), (2L, 3L))), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(2L -> 2L, 3L -> 2L)) // pure self-loop nodes drop out
    val chain = (0L until 2000L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Cluster.connectedComponents(pairsDf(chain), "id_a", "id_b", maxIters = 3)
    }
  }

  test("dropNearDuplicates keeps the min-id member plus unpaired rows") {
    import spark.implicits._
    val corpus = Seq(1L, 2L, 3L, 4L, 10L, 11L, 50L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val kept = Cluster.dropNearDuplicates(corpus, "doc_id",
      pairsDf(Seq((1L, 2L), (2L, 3L), (10L, 11L))), "id_a", "id_b")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 10L, 50L))
  }

  test("matches a driver-side union-find on a pathological graph") {
    // deterministic adversarial mix: a star of stars (high-degree hubs
    // chained together), long paths, cliques, and cross edges
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0 until 10).foreach { hub => // stars: hub h*100 with 30 leaves
      (1 to 30).foreach(l => edges += ((hub * 100L, hub * 100L + l)))
    }
    (0 until 9).foreach(h => // chain the stars leaf-to-leaf
      edges += ((h * 100L + 30, (h + 1) * 100L + 29)))
    (2000L until 2050L).foreach(i => edges += ((i, i + 1))) // long path
    (3000L until 3005L).foreach(a => // clique
      (a + 1 to 3005L).foreach(b => edges += ((a, b))))
    edges += ((2050L, 3000L)) // path joins clique
    // reference: plain union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val got = Cluster.connectedComponents(pairsDf(edges.toSeq), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // one component spans all ten stars
    assert(got(930L) == 0L)
  }

  test("empty pair list converges to an empty result; corpus unchanged") {
    import spark.implicits._
    val none = pairsDf(Seq.empty)
    assert(Cluster.connectedComponents(none, "id_a", "id_b").count() == 0L)
    // all-self-loop pairs filter down to zero edges too
    assert(Cluster.connectedComponents(
      pairsDf(Seq((4L, 4L), (9L, 9L))), "id_a", "id_b").count() == 0L)
    val corpus = Seq(1L, 2L, 3L).toDF("doc_id")
    val kept = Cluster.dropNearDuplicates(corpus, "doc_id",
      none, "id_a", "id_b").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L))
  }

  test("giant component: one cluster holding half of all endpoints") {
    // the 100 TB adversary the skewed ScaleBench run can't reach through
    // BLOCKED pair generation (pairs never cross source blocks, so any
    // single cluster is bounded by its block): a giant star whose hub
    // label is the hot key of both the neighbor-min aggregation and the
    // pointer-jump join. 30k leaves on one hub = half of all pair
    // endpoints in ONE cluster; the other half spread over 15k islands.
    val n = 30000L
    val giant = (1L to n).map(l => (0L, l))
    val islands = (0L until n / 2).map(i => (100000L + 2 * i, 100001L + 2 * i))
    val cc = Cluster.connectedComponents(pairsDf(giant ++ islands), "id_a", "id_b")
    val sizes = cc.groupBy("cluster").count()
    val giantRow = sizes.filter(col("cluster") === 0L).head
    assert(giantRow.getLong(1) == n + 1)
    assert(cc.count() == 2 * n + 1)
    // star diameter 2: the fixpoint must close in the first rounds, not
    // crawl — 4 rounds of budget is enough (1 to fix + jump, 1 to confirm)
    Cluster.connectedComponents(pairsDf(giant ++ islands), "id_a", "id_b",
      maxIters = 4)
  }

  test("semDedup keeps one min-id survivor per semantic cluster, CC-chained") {
    import spark.implicits._
    // unit vectors at known angles, all forced into one k-means cell:
    // 0°/10°/20° chain at threshold cos(15°) — 1~2 and 2~3 pair, 1~3 does
    // NOT (20° apart), yet CC collapses all three; 80°/90° pair; 45° alone
    def v(deg: Double) = Seq(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq(1L -> v(0), 2L -> v(10), 3L -> v(20), 4L -> v(80),
      5L -> v(90), 6L -> v(45)).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", nCells = 1,
        threshold = math.cos(math.toRadians(15)), iters = 1,
        initCell = Some(lit(0)))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L, 6L))
    // clean corpus: no pair clears the threshold — everything survives
    val clean = Dedup.semDedup(df, "vec_id", "embedding", nCells = 1,
        threshold = 0.9999, iters = 1, initCell = Some(lit(0)))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("parquet materialization path yields identical clusters") {
    val dir = graft.queries.TempDirs.create("cc").toString
    val ps = pairsDf(Seq((1L, 2L), (2L, 3L), (7L, 9L)))
    val a = Cluster.connectedComponents(ps, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Cluster.connectedComponents(ps, "id_a", "id_b",
      materializePath = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("hybrid clusters merge chains that cross signals, with audit counts") {
    import spark.implicits._
    // text finds 1~2; semantic finds 2~3 and 5~6; 4 pairs with nobody
    val textPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val semPairs = Seq((2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Cluster.hybridDupClusters(textPairs, semPairs)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // {1,2,3} one cluster (neither signal alone finds it), {5,6} another
    assert(out(1L) == ((1L, 3L, 1L, 0L)))
    assert(out(2L) == ((1L, 3L, 1L, 1L))) // 2 touches both signals
    assert(out(3L) == ((1L, 3L, 0L, 1L)))
    assert(out(5L) == ((5L, 2L, 0L, 1L)))
    assert(out(6L) == ((5L, 2L, 0L, 1L)))
    assert(out.size == 5)
    // the same edge reported by BOTH detectors counts once per signal
    val dup = Cluster.hybridDupClusters(
      Seq((7L, 8L)).toDF("id_a", "id_b"), Seq((7L, 8L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(dup(7L) == ((1L, 1L)) && dup(8L) == ((1L, 1L)))
  }
}
