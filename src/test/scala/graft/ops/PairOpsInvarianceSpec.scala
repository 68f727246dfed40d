package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dedup pair pipelines must emit the SAME pairs regardless of input
  * partitioning — the property that makes their results trustworthy on a
  * cluster. All bucketing/salting is deterministic (hash of ids, never
  * rand()), so repartitioning the input must not change any output. */
class PairOpsInvarianceSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LSH candidate pairs are partition-invariant") {
    val base = pairSet(Dedup.minhashLshPairsMd5(docs.repartition(1),
      "doc_id", "text", 2, 32, 8, 0.5, 200))
    val multi = pairSet(Dedup.minhashLshPairsMd5(docs.repartition(7),
      "doc_id", "text", 2, 32, 8, 0.5, 200))
    assert(base == multi)
    assert(base.nonEmpty)
  }

  test("SimHash pairs are partition-invariant") {
    val base = pairSet(Dedup.simhashPairsMd5(docs.repartition(1),
      "doc_id", "text", 10, 200))
    val multi = pairSet(Dedup.simhashPairsMd5(docs.repartition(7),
      "doc_id", "text", 10, 200))
    assert(base == multi)
    assert(base.nonEmpty)
  }

  test("cell-bucketed embedding near-dup is partition-invariant (exact k-means)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDupPairsByCell(df, "vec_id", "embedding",
        nCells = 8, threshold = 0.15, probes = 2)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = run(e.repartition(1))
    assert(base == run(e.repartition(7)))
    assert(base.nonEmpty)
  }

  test("SRP hyperplane-LSH pairs are partition-invariant") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: DataFrame) = pairSet(
      Dedup.embeddingSrpLshPairs(df, "vec_id", "embedding",
        nBits = 16, bands = 4, threshold = 0.2))
    val base = run(e.repartition(1))
    assert(base == run(e.repartition(7)))
    assert(base.nonEmpty)
  }

  test("winnow overlap pairs are partition-invariant") {
    def run(df: DataFrame) = pairSet(
      TextAnalysis.winnowOverlapPairs(df, "doc_id", "text"))
    val base = run(docs.repartition(1))
    assert(base == run(docs.repartition(7)))
    assert(base.nonEmpty)
  }

  test("decontamination survivor set is partition-invariant") {
    def run(df: DataFrame) = {
      val evalSet = df.filter(col("doc_id") % 10 === 0)
      TextAnalysis.decontaminate(df, "doc_id", "text",
          evalSet, "doc_id", "text", minShared = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val base = run(docs.repartition(1))
    assert(base == run(docs.repartition(7)))
    assert(base.nonEmpty)
  }

  test("simhashPairsMd5 is pigeonhole-EXACT up to Hamming 3") {
    // brute-force truth: all pairs with bit_count(xor) <= h over the same
    // 31-bit signatures the operator computes
    val sigs = docs.select(col("doc_id").as("id"),
      Dedup.simhash31Md5(col("text")).as("sig"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val all = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
    // four disjoint 8-bit blocks: a pair within h <= 3 agrees on one of
    // them. A bucket cap above the corpus size leaves only the block
    // layout to decide the pair set.
    val cap = docs.count().toInt + 1
    for (h <- 0 to 3) {
      val brute = all.filter(col("hamming") <= h)
      val op = Dedup.simhashPairsMd5(docs, "doc_id", "text", maxHamming = h,
        maxBucketSize = cap)
      assert(op.exceptAll(brute).count() == 0, s"h=$h emitted a false pair")
      assert(brute.exceptAll(op).count() == 0, s"h=$h lost a true pair")
      assert(brute.count() > 0, s"h=$h: no pair to check")
    }
  }

  test("candidate-verify Jaccard agrees with the block self-join pair for pair") {
    // same gram domain (xxhash64 ngram hashes) on both paths: every pair
    // the block join emits must verify to the IDENTICAL jaccard value
    val block = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 2, 0.05)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val grams = graft.functions.TextHashExprs.ngramHashes(
      spark, TextAnalysis.tokens(col("text")), 2)
    val verified = Dedup.verifyJaccardCandidates(docs, "doc_id", grams,
      block.select("id_a", "id_b"), threshold = 0.0)
    assert(block.count() > 0)
    assert(block.exceptAll(verified).count() == 0)
    assert(verified.exceptAll(block).count() == 0)
    // and it is partition-invariant like every other pair pipeline
    val v7 = Dedup.verifyJaccardCandidates(docs.repartition(7), "doc_id", grams,
      block.select("id_a", "id_b"), threshold = 0.0)
    assert(pairSet(verified) == pairSet(v7))
  }

  test("oversized block fails the job with the linear-path prescription") {
    // sf0.001 has 5 sources × ~10 docs; cap 3 forces the guard
    val e = intercept[Exception] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 2, 0.05,
        maxBlockSize = 3).count()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("maxBlockSize=3") &&
      m.contains("quadratic")))
  }

  test("bounded Jaccard: under the cap equals the exact path; over the cap " +
      "routes through LSH+verify with exact values and bounded work") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 2, 0.05)
      .select("blk", "id_a", "id_b", "jaccard")
    // cap above every block: identical output, cell for cell
    val under = Dedup.ngramJaccardPairsBounded(docs, "doc_id", "text",
      "source", 2, 0.05, maxBlockSize = 1000)
      .select("blk", "id_a", "id_b", "jaccard")
    assert(exact.count() > 0)
    assert(exact.exceptAll(under).count() == 0)
    assert(under.exceptAll(exact).count() == 0)
    // cap below every block: all blocks route; every emitted pair is a
    // TRUE pair with the identical exact jaccard (recall may drop, never
    // precision), and high-similarity pairs survive the banding
    val routed = Dedup.ngramJaccardPairsBounded(docs, "doc_id", "text",
      "source", 2, 0.05, maxBlockSize = 1, numHashes = 32, bands = 8)
      .select("blk", "id_a", "id_b", "jaccard")
    assert(routed.exceptAll(exact).count() == 0)
    val strong = exact.filter(col("jaccard") >= 0.5)
    if (strong.count() > 0)
      assert(strong.exceptAll(routed).count() == 0)
    // and the routed path is partition-invariant like every pair pipeline
    val r7 = Dedup.ngramJaccardPairsBounded(docs.repartition(7), "doc_id",
      "text", "source", 2, 0.05, maxBlockSize = 1, numHashes = 32, bands = 8)
    assert(pairSet(routed) == pairSet(r7))
  }

  test("LSH parameter auto-selection lands the midpoint at or below the threshold") {
    // caller's params already qualify → kept verbatim
    assert(Dedup.lshParamsFor(0.7, 32, 8) == ((32, 8)))
    // midpoint (1/8)^(8/32) ≈ 0.59 > 0.5 → rebanded at the same numHashes
    val (h1, b1) = Dedup.lshParamsFor(0.5, 32, 8)
    assert(h1 == 32 && Dedup.lshCollisionMidpoint(h1, b1) <= 0.5)
    // 0.05 needs single-row bands: midpoint 1/32 ≈ 0.031
    assert(Dedup.lshParamsFor(0.05, 32, 8) == ((32, 32)))
    // below every reachable midpoint → fail fast at plan-build time
    val e = intercept[IllegalArgumentException] {
      Dedup.lshParamsFor(0.0005, 32, 8, maxNumHashes = 1024)
    }
    assert(e.getMessage.contains("collision midpoint"))
    // sweep: every selected configuration meets the midpoint contract,
    // bands divide numHashes, and the caller's params are never made worse
    for (t <- Seq(0.999, 0.9, 0.75, 0.6, 0.45, 0.3, 0.2, 0.12, 0.07, 0.04,
        0.02, 0.005, 0.001)) {
      val (h, b) = Dedup.lshParamsFor(t, 32, 8)
      assert(h % b == 0, s"t=$t gave ($h, $b)")
      assert(Dedup.lshCollisionMidpoint(h, b) <= t, s"t=$t gave ($h, $b)")
    }
  }

  // near-dup corpus with a wide similarity gap (dup pairs J≈0.9, cross
  // pairs J≈0): the shape where banded recall must be indistinguishable
  // from exact
  private lazy val nearDupDocs = {
    val s = spark
    import s.implicits._
    val words = "the quick brown fox jumps over a lazy dog near the riverbank".split(" ")
    (0 until 12).flatMap { i =>
      val base = (0 until 20).map(j => words((i * 7 + j * 3) % words.length) + i).mkString(" ")
      val variant = base.split(" ").updated(10, "changed" + i).mkString(" ")
      Seq((i.toLong * 2, base, "blk0"), (i.toLong * 2 + 1, variant, "blk0"))
    }.toDF("doc_id", "text", "source")
  }

  test("routed path at a sane threshold returns the same pairs as the exact path " +
      "on oversized blocks (auto-tuned banding)") {
    val exact = Dedup.ngramJaccardPairs(nearDupDocs, "doc_id", "text",
      "source", 2, 0.5, maxBlockSize = 1000)
      .select("blk", "id_a", "id_b", "jaccard")
    // cap below the block size: everything routes through LSH + verify
    val routed = Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id", "text",
      "source", 2, 0.5, maxBlockSize = 5)
      .select("blk", "id_a", "id_b", "jaccard")
    assert(exact.count() == 12) // one pair per (base, variant)
    assert(exact.exceptAll(routed).count() == 0)
    assert(routed.exceptAll(exact).count() == 0)
  }

  test("autoTune=false with a threshold below the banding midpoint fails the " +
      "routed path in-plan with the recall prescription") {
    // under the cap the banding params are irrelevant — exact path, no error
    val under = Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id", "text",
      "source", 2, 0.05, maxBlockSize = 1000, numHashes = 32, bands = 8,
      autoTune = false)
    assert(under.count() > 0)
    // over the cap: (1/8)^(8/32) ≈ 0.59 midpoint vs threshold 0.05 → raise
    val e = intercept[Exception] {
      Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id", "text",
        "source", 2, 0.05, maxBlockSize = 5, numHashes = 32, bands = 8,
        autoTune = false).count()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("collision midpoint") &&
      m.contains("autoTune=true")))
  }

  test("lshVerifiedPairsMd5 parquet materialization equals localCheckpoint") {
    val dir = graft.queries.TempDirs.create("lshmat").toString + "/base"
    def run(path: Option[String]) =
      Dedup.lshVerifiedPairsMd5(nearDupDocs, "doc_id", "text",
        n = 2, numHashes = 16, bands = 8, materializePath = path)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run(None)
    val b = run(Some(dir))
    assert(a.nonEmpty && a == b)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("parquet materialization route returns pairs identical to localCheckpoint") {
    val dir = graft.queries.TempDirs.create("mat").toString + "/base"
    val viaCheckpoint = Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id",
      "text", "source", 2, 0.5, maxBlockSize = 5)
      .select("blk", "id_a", "id_b", "jaccard")
    val viaParquet = Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id",
      "text", "source", 2, 0.5, maxBlockSize = 5,
      materializePath = Some(dir))
      .select("blk", "id_a", "id_b", "jaccard")
    assert(viaCheckpoint.count() > 0)
    assert(viaCheckpoint.exceptAll(viaParquet).count() == 0)
    assert(viaParquet.exceptAll(viaCheckpoint).count() == 0)
    // the base scan actually landed on disk (the cluster-safe route)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("unreachable auto-tune threshold is deferred to the routed branch: " +
      "exact-path-only jobs succeed, routing blocks fail in-plan") {
    // 0.0005 < 1/1024: lshParamsFor cannot reach it — but with every block
    // under the cap the banding is never used, so the job must succeed
    val under = Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id", "text",
      "source", 2, 0.0005, maxBlockSize = 1000)
    assert(under.count() > 0)
    // a block that actually routes surfaces the auto-tune failure in-plan
    val e = intercept[Exception] {
      Dedup.ngramJaccardPairsBounded(nearDupDocs, "doc_id", "text",
        "source", 2, 0.0005, maxBlockSize = 5).count()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("auto-tuning found no reachable") &&
      m.contains("lshParamsFor")))
  }

  test("triangle-join Jaccard pairs are partition-invariant and chunk-invariant") {
    val base = pairSet(Dedup.ngramJaccardPairs(docs.repartition(1),
      "doc_id", "text", "source", 2, 0.05))
    val multi = pairSet(Dedup.ngramJaccardPairs(docs.repartition(7),
      "doc_id", "text", "source", 2, 0.05))
    assert(base == multi)
    // chunk count changes task layout, never the result
    val chunks3 = pairSet(Dedup.ngramJaccardPairs(docs,
      "doc_id", "text", "source", 2, 0.05, chunks = 3))
    assert(base == chunks3)
    assert(base.nonEmpty)
  }
}
