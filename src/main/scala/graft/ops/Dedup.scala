package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape of the problem:
  *
  *  - exact: one hash-groupBy shuffle on a 16-byte key (not the text)
  *  - MinHash+LSH: signatures are a linear scan; candidate generation is a
  *    band-bucket self-join (shuffle on small band keys, never all-pairs)
  *  - SimHash: 31-bit signature scan + same-bucket join on 8-bit blocks
  *  - n-gram Jaccard: exact verification on candidate pairs only
  *
  * The MinHash and SimHash pair engines (`*Md5`) hash md5-derived base
  * values, so any SQL engine with md5 replays them; gram sets, chunk keys
  * and the bounded Jaccard path's LSH routing use xxhash64 (Spark
  * built-in, codegen'd, deterministic).
  */
object Dedup {

  // ---- exact ------------------------------------------------------------

  /** Exact duplicate groups by canonical fingerprint. Returns one row per
    * duplicated fingerprint with the kept (min) id and the group size. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Materialize a shared base projection consumed by several plan
    * branches: parquet at `path` when given — the cluster-safe form (any
    * reachable filesystem, survives executor loss under dynamic
    * allocation; caller owns cleanup) — else `localCheckpoint()`
    * (executor-local blocks; fine single-node). Output identical. */
  private[ops] def materializeBase(df: DataFrame, path: Option[String]): DataFrame =
    path match {
      case Some(p) =>
        df.write.mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p)
      case None => df.localCheckpoint()
    }

  // ---- shingles + MinHash ------------------------------------------------

  /** Word n-gram shingles of the lowercased text. */
  def shingles(text: Column, n: Int): Column = {
    val t = TextAnalysis.tokens(text)
    val cnt = size(t)
    when(cnt >= n,
      transform(sequence(lit(0), cnt - n),
        i => array_join(slice(t, i + 1, lit(n)), " ")))
      .otherwise(array(array_join(t, " ")))
  }

  /** LSH candidate pairs: affine MinHash over md5-derived base hashes
    * (minhashSignatureMd5's family), signatures split into bands,
    * bucket-join on (band index, band key), distinct candidate id pairs
    * (a < b), then the estimated similarity (= fraction of equal minhashes)
    * verified against `threshold`. The band keys are plain text, so the
    * complete candidate pipeline (banding, bucket cap, pair dedup,
    * signature-agreement estimate) is reproducible in any SQL engine with
    * md5: candidate EMISSION itself is hash-checkable against the DuckDB
    * oracle, not just the signature math.
    *
    * Parameter selection: recall at `threshold` is governed by the banding
    * S-curve midpoint (1/bands)^(bands/numHashes) — see lshCollisionMidpoint;
    * for low thresholds pick parameters with lshParamsFor(threshold,
    * numHashes, bands) or pairs far below the midpoint are rarely emitted.
    * (Unlike ngramJaccardPairsBounded — whose contract is "approximate the
    * exact path" and which auto-tunes — the contract HERE is banded
    * candidate generation at the given parameters, which the oracle
    * replicates band for band.)
    *
    * Scale discipline: the bucket join and pair-dedup run on skinny
    * (band, key, id) rows — signatures are joined back only for the
    * deduped candidates; degenerate buckets larger than `maxBucketSize`
    * (near-universal shingles, quadratic blowup) are dropped, the standard
    * web-dedup practice. */
  def minhashLshPairsMd5(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 500,
      materializePath: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    // The (id, packed sig, band keys) projection is MATERIALIZED once:
    // every lazy formulation re-evaluates the signature expression at each
    // consuming operator (generators and windows re-evaluate inlined
    // aliases; the columnar cache is pathological on arrays). It is tiny
    // (numHashes longs + bands short strings per doc); `materializePath`
    // lands it in parquet — the cluster form — instead of localCheckpoint.
    val base = materializeBase(df.select(col(idCol).as("id"),
        md5BaseHashes(col(textCol), n).as("__h"))
      .select(col("id"),
        graft.functions.PackedLongs.pack(spark,
          graft.functions.TextHashExprs.affineMinhashSig(spark, col("__h"),
            numHashes)).as("sig"),
        graft.functions.TextHashExprs.bandKeysCol(spark, col("__h"),
          numHashes, bands, affine = true).as("bk")), materializePath)
    val sig = base.select(col("id"), col("sig"))
    val banded = base.select(col("id"), posexplode(col("bk")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    lshCandidatePairs(sig, banded, numHashes, threshold, maxBucketSize)
  }

  /** One-pass LSH → exact-verify composition (md5-affine family): the
    * shingle-hash scan — the dominant cost of any MinHash pipeline — runs
    * ONCE, and the base projection derives the signature, the band keys
    * AND the packed gram set from it. Candidates then verify by joining
    * back to the same checkpointed base, so the composed dedup costs one
    * corpus scan plus O(|candidates|) instead of two scans. */
  def lshVerifiedPairsMd5(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, numHashes: Int = 16, bands: Int = 8,
      estThreshold: Double = 0.5, maxBucketSize: Int = 500,
      threshold: Double = 0.5,
      materializePath: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    val base = materializeBase(df.select(col(idCol).as("id"),
        md5BaseHashes(col(textCol), n).as("__h"))
      .select(col("id"),
        graft.functions.PackedLongs.pack(spark,
          graft.functions.TextHashExprs.affineMinhashSig(spark, col("__h"),
            numHashes)).as("sig"),
        graft.functions.TextHashExprs.bandKeysCol(spark, col("__h"),
          numHashes, bands, affine = true).as("bk"),
        graft.functions.PackedLongs.packSortedSet(spark, col("__h")).as("g"))
      .withColumn("nc", (length(col("g")) / 8).cast("int")), materializePath)
    val sig = base.select(col("id"), col("sig"))
    val banded = base.select(col("id"), posexplode(col("bk")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val cands = lshCandidatePairs(sig, banded, numHashes, estThreshold, maxBucketSize)
    verifyTail(cands.select("id_a", "id_b"),
      base.select(col("id"), col("g"), col("nc")), threshold)
  }

  /** Join candidate pairs to their packed gram sets and keep exact
    * Jaccard ≥ threshold. `grams` is (id, g: binary, nc: int); any extra
    * columns on `pairs` (e.g. a blocking key) pass through.
    *
    * Width discipline (round-12 verdict item 3, input-keyed round 14,
    * small-regime-skipped round 15): the intersection kernel is
    * CPU-DENSE per shuffled byte, so AQE's byte-targeted coalescing
    * under-parallelizes the verify stage (measured at 100×: 25 uniform
    * ~40 s tasks — balanced, but each task held 40 s of work). In the
    * wide regime ([[Pipeline.widen]]) both join sides are pre-partitioned
    * on the join key at [[Pipeline.cpuWidth]]: the joins REUSE that
    * partitioning (same exchange count and bytes as the plain plan —
    * these are the shuffles the joins needed anyway), and user-numbered
    * repartitions are exempt from AQE coalescing, so the kernel runs
    * wider and max task drops volume/W; below it the joins' own
    * AQE-coalescible exchanges win (round-14 near-empty-task tax). */
  private def verifyTail(pairs: DataFrame, grams: DataFrame,
      threshold: Double): DataFrame = {
    val spark = grams.sparkSession
    val w = Pipeline.cpuWidth(grams)
    Pipeline.widen(Pipeline.widen(pairs, w, col("id_a"))
      .join(Pipeline.widen(grams.select(col("id").as("id_a"), col("g").as("g_a"),
        col("nc").as("n_a")), w, col("id_a"))
        .hint("SHUFFLE_HASH"), "id_a"), w, col("id_b"))
      .join(Pipeline.widen(grams.select(col("id").as("id_b"), col("g").as("g_b"),
        col("nc").as("n_b")), w, col("id_b"))
        .hint("SHUFFLE_HASH"), "id_b")
      .withColumn("inter", graft.functions.PackedLongs
        .intersectSize(spark, col("g_a"), col("g_b")).cast("double"))
      .withColumn("uni",
        col("n_a").cast("double") + col("n_b").cast("double") - col("inter"))
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(pairs.columns.map(col) :+ col("jaccard"): _*)
  }

  /** Shared LSH candidate machinery: skinny band-bucket self-join with a
    * degenerate-bucket cap, pair dedup on ids, then one packed-signature
    * join-back for the agreement estimate. `sig` is (id, sig: binary),
    * `banded` is (id, band, band_hash). */
  private def lshCandidatePairs(sig: DataFrame, banded: DataFrame,
      numHashes: Int, threshold: Double, maxBucketSize: Int): DataFrame = {
    val spark = sig.sparkSession
    val bucketSize = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val ok = banded.withColumn("__bsz", count(lit(1)).over(bucketSize))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val cand = ok.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(ok.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("SHUFFLE_HASH"), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("SHUFFLE_HASH"), "id_b")
      .withColumn("est_jaccard",
        graft.functions.PackedLongs.eqCount(spark, col("sig_a"), col("sig_b"))
          .cast("double") / lit(numHashes).cast("double"))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Oracle-checkable MinHash variant: shingle base hash = 60-bit md5
    * prefix mod p (p = 2^31-1), permutations h_i(x) = (a_i·x + b_i) mod p
    * with products bounded below 2^62 (ANSI-safe, replicable in any SQL
    * engine with md5 — used to pin the MinHash math itself against the
    * DuckDB oracle). */
  val md5MinhashP: Long = graft.functions.TextHashExprs.AffineP
  def md5MinhashSeeds(numHashes: Int): Seq[(Long, Long)] =
    graft.functions.TextHashExprs.affineSeeds(numHashes)

  /** Per-shingle 60-bit md5-prefix base hash mod p (SQL-replicable),
    * computed by a codegen'd kernel bit-identical to
    * conv(substring(md5(shingle), 1, 15), 16, 10) % p. */
  def md5BaseHashes(text: Column, n: Int): Column =
    graft.functions.TextHashExprs.md5NgramMod(
      org.apache.spark.sql.SparkSession.active, TextAnalysis.tokens(text), n)

  def minhashSignatureMd5(text: Column, n: Int, numHashes: Int): Seq[Column] = {
    val base = md5BaseHashes(text, n)
    md5MinhashSeeds(numHashes).map { case (a, b) =>
      array_min(transform(base, x => (x * a + b) % md5MinhashP))
    }
  }

  // ---- SimHash ----------------------------------------------------------

  /** Oracle-checkable 31-bit SimHash over md5-derived token hashes (same
    * base-hash construction as minhashSignatureMd5) — pins the SimHash
    * bit-vote math against a SQL oracle. */
  def simhash31Md5(text: Column): Column = {
    // single-pass kernels; per-bit size(filter(...)) terms would each
    // re-evaluate the md5 transform (lambdas are excluded from
    // subexpression elimination). Empty token list → signature 0.
    graft.functions.TextHashExprs.simhashCol(
      org.apache.spark.sql.SparkSession.active,
      md5BaseHashes(text, 1), bits = 31)
  }

  /** Oracle-replicable SimHash pairs over the 31-bit md5-based signature:
    * four disjoint 8-bit blocks (pigeonhole: a pair within Hamming ≤ 3
    * agrees exactly on at least one block, so below the bucket cap the
    * pair set is exact for budgets up to 3; a wider budget verifies the
    * same candidates at the wider distance, so its recall is partial —
    * the 4-block layout is part of the oracle-pinned contract),
    * exact-Hamming verify. Every step (signature, bucketing, pair dedup, bit_count of
    * xor) is plain integer SQL, so pair emission is hash-checkable against
    * the DuckDB oracle. */
  def simhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 200): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      simhash31Md5(col(textCol)).as("sig"))
    val keyed = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("sig"), q * 8).bitwiseAND(0xFFL)): _*)))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qkey")
    // 8-bit quarters are coarse; on self-similar corpora identical
    // signatures pile into degenerate buckets whose pair count explodes
    // quadratically — cap them like the LSH path (exact-duplicate pairs
    // they'd contribute are already caught by exact dedup)
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q"), col("qkey"))
    val capped = keyed.withColumn("__bsz", count(lit(1)).over(bucket))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val a = capped.select(col("q"), col("qkey"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("q"), col("qkey"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("q", "qkey")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- n-gram Jaccard ---------------------------------------------------

  /** Exact Jaccard over distinct word n-grams for pairs sharing a blocking
    * key (e.g. source, length bucket) — verification-stage dedup. Grams are
    * compared as xxhash64 longs: set sizes (and hence Jaccard) are identical
    * to string comparison absent a 64-bit collision, at a fraction of the
    * shuffle width and equality cost.
    *
    * Scale shape: a low-cardinality blocking key would collapse the
    * pairwise work onto one task per block. Each block is therefore split
    * into `chunks` deterministic chunks (hash of id — never rand(), safe
    * under speculative retry) and the self-join runs as a balanced
    * "triangle" join over unordered chunk pairs: block parallelism becomes
    * chunks·(chunks+1)/2 tasks with (n/chunks)² work each, same result
    * exactly. Two lossless prunes cut pair work before any array op:
    * gram-count ratio (J ≤ min/max counts) must reach `threshold`, and
    * intersection size is bounded by min count. Block sizes still bound the
    * quadratic term — at petabyte scale run LSH candidates first and verify
    * pairs instead. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 2, threshold: Double = 0.5,
      chunks: Int = 8, maxBlockSize: Int = 10000): DataFrame = {
    val (guarded, grams) = packedGuardedGrams(df, idCol, textCol, blockCol,
      n, chunks, maxBlockSize, "ngramJaccardPairs")
    triangleJaccard(guarded, grams, threshold, chunks)
  }

  /** Packed per-doc gram frame + in-block oversize guard — the shared
    * front end of the triangle family. Returns (guarded lo side, plain
    * hi side); both are (blk, id, g: packed binary, nc, ck).
    *
    * Gram sets ride as ONE binary blob per doc (sorted packed longs):
    * array<bigint> columns pay per-element costs at every copy boundary
    * (exchange, generate, join output), a binary column is one memcpy.
    * Not persisted — columnar caching of array/binary columns costs far
    * more than recomputing this narrow projection per join side (the
    * two sides share the ReusedExchange in the triangle and recompute
    * only the pack kernel). Rebalanced BEFORE the gram kernel at the
    * input-keyed width ([[Pipeline.cpuWidth]]), at every scale: no later
    * exchange would spread the pack, which is CPU-dense per byte and
    * otherwise runs in the input's few parquet splits (sf0.1 documents
    * is ONE split).
    *
    * Oversize guard: chunking spreads the in-block quadratic work but
    * cannot reduce it (measured 16× time at 10× data on a fixed
    * low-cardinality key), so a block above maxBlockSize FAILS the job,
    * naming the linear alternative, instead of silently burning a
    * cluster. The check is a broadcast join of a tiny per-block count
    * onto the lo side only (every doc appears there) — no driver job,
    * the plan stays lazy. when() keeps raise_error out of reorderable
    * predicate position. */
  private def packedGuardedGrams(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, n: Int, chunks: Int,
      maxBlockSize: Int, opName: String): (DataFrame, DataFrame) = {
    val grams = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(textCol).as("__txt")).repartition(Pipeline.cpuWidth(df), col("id"))
      .select(col("blk"), col("id"),
        graft.functions.PackedLongs.packSortedSet(df.sparkSession,
          graft.functions.TextHashExprs.ngramHashes(df.sparkSession,
            TextAnalysis.tokens(col("__txt")), n)).as("g"))
      .withColumn("nc", (length(col("g")) / 8).cast("int"))
      .withColumn("ck", pmod(xxhash64(col("id")), lit(chunks)))
    val counts = df.groupBy(col(blockCol).as("blk")).agg(count(lit(1)).as("__bn"))
    val guarded = grams.join(broadcast(counts), Seq("blk"))
      .filter(when(col("__bn") > maxBlockSize,
        raise_error(concat(
          lit(s"$opName: block '"), col("blk").cast("string"),
          lit("' holds "), col("__bn").cast("string"),
          lit(s" docs > maxBlockSize=$maxBlockSize; in-block pair work is" +
            " quadratic — use ngramJaccardPairsBounded / lshVerifiedPairs*" +
            " / verifyJaccardCandidates (LSH candidates + exact verify)," +
            " or raise maxBlockSize"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bn")
    (guarded, grams)
  }

  /** Shared exploded gram frame for the blocked exact-similarity family:
    * one row per (blk, id, nset, g) distinct gram occurrence. Rebalances
    * raw docs to `w` BEFORE the gram kernel (CPU-dense per byte — at
    * audit scale the scan otherwise runs in the input's few parquet
    * splits) and materializes ONCE (`materializePath` → parquet, the
    * cluster form; else a local checkpoint) so both sides of the
    * inverted-index self-join read it without recomputing the gram
    * scan. explode_outer + post-filter, not explode — see
    * [[prefixFilterJaccardPairs]] on the InferFiltersFromGenerate
    * trap. */
  private def blockedTokFrame(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, n: Int, w: Int,
      materializePath: Option[String]): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(textCol).as("__txt")).repartition(w, col("id"))
      .select(col("blk"), col("id"), array_distinct(
        graft.functions.TextHashExprs.ngramHashes(spark,
          TextAnalysis.tokens(col("__txt")), n)).as("gs"))
    materializeBase(
      base.select(col("blk"), col("id"),
          size(col("gs")).cast("long").as("nset"),
          explode_outer(col("gs")).as("g"))
        .filter(col("g").isNotNull), materializePath)
  }

  /** Core of the blocked exact pair measures: the INVERTED-INDEX COUNT
    * join (S. Sarawagi & A. Kirpal's per-token join / the "group-count"
    * exact set-similarity plan): explode every doc's distinct gram set,
    * self-join per (block, gram), and COUNT rows per pair — the count
    * IS the exact intersection size, so no packed sets, no candidate
    * distinct, and no verify join-backs ever materialize; the only
    * per-pair state that moves is (blk, id_a, id_b, n_a, n_b, 1).
    *
    * Why this plan for this family: the round-14 100× audit measured
    * the prefix-filter + packed-verify form spending its runtime
    * shuffling ~400-byte packed blobs attached to a 560:1
    * false-candidate stream (42 M candidates for 75 k true pairs —
    * short gram sets make every prefix bound loose). The count join
    * moves 24-byte rows instead and its aggregation is the filter. The
    * regime tradeoff is explicit: join traffic is Σ_(blk,g) df², so a
    * gram whose in-block df exceeds `maxGramDf` fails IN-PLAN naming
    * the banded fallback — for corpora with huge per-doc sets and hot
    * grams, [[prefixFilterJaccardPairs]] (prefixes exclude hot grams)
    * or [[lshVerifiedPairsMd5]] are the right shapes instead. The df
    * guard is a tiny hash-agg over the materialized tok frame kept only
    * where df > maxGramDf, limit(1), broadcast-left-joined onto the a
    * side — a healthy corpus broadcasts an EMPTY frame (the round-14
    * window form instead sorted the full gram stream inside the join
    * exchange: full sf0.1 sort every run, guarding a condition that
    * almost never fires). `keepPair` orders the pair (containment keeps
    * the MIN-set side as a, Jaccard keeps id order); output is
    * (blk, id_a, id_b, inter: int, n_a: long, n_b: long).
    *
    * Width discipline: all three exchanges go through
    * [[Pipeline.widen]] — pinned AQE-exempt at [[Pipeline.cpuWidth]]
    * only when the input-keyed width
    * exceeds the session width (the 100×-audit straggler regime); below
    * it the join/agg exchanges stay AQE-coalescible (the round-14 sf0.1
    * regression was exactly these pinned near-empty stages). */
  private def blockedPairCounts(toks: DataFrame, w: Int, maxGramDf: Int,
      opName: String, keepPair: (Column, Column, Column, Column) => Column)
      : DataFrame = {
    val hot = toks.groupBy(col("blk"), col("g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxGramDf)
      .limit(1)
    val aSide = Pipeline.widen(toks.select(col("blk"), col("g"), col("id").as("id_a"),
        col("nset").as("n_a")), w, col("blk"), col("g"))
      .join(broadcast(hot), Seq("blk", "g"), "left")
      .filter(when(col("__df").isNotNull, raise_error(concat(
          lit(s"$opName: gram df "), col("__df").cast("string"),
          lit(s" > maxGramDf=$maxGramDf — inverted-index join traffic is" +
            " df² per gram; use lshVerifiedPairs* (banded candidates +" +
            " exact verify) for this corpus shape, or raise maxGramDf")))
          .cast("boolean"))
        .otherwise(lit(true)))
      .drop("__df")
    val bSide = Pipeline.widen(toks.select(col("blk"), col("g"), col("id").as("id_b"),
        col("nset").as("n_b")), w, col("blk"), col("g"))
    // pair-key exchange pre-partitioned at w ONLY in the wide regime: the
    // pair count aggregates tens of millions of DISTINCT keys (partial
    // combine only folds same-pair rows, ~1.7×), and at the session
    // width the final agg held 32 tasks at ~12 s median in the 100×
    // audit; the complete agg reuses this exchange
    Pipeline.widen(aSide.join(bSide.hint("SHUFFLE_HASH"), Seq("blk", "g"))
        .filter(keepPair(col("id_a"), col("n_a"), col("id_b"), col("n_b"))),
        w, col("blk"), col("id_a"), col("id_b"))
      .groupBy("blk", "id_a", "id_b")
      .agg(count(lit(1)).cast("int").as("inter"),
        min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"))
  }

  /** BLOCKED exact set-similarity join: ALL pairs sharing `blockCol`
    * whose distinct word-n-gram sets have Jaccard ≥ `threshold` — the
    * same result set as [[ngramJaccardPairs]] at the same threshold
    * (recall 1.0, exact arithmetic). THE canonical pair engine (the
    * round-15 convergence target): the physical plan is picked by
    * [[PairEngine]] — the inverted-index COUNT join
    * ([[blockedPairCounts]]; work tracks gram-occurrence volume, not
    * block occupancy²) above the measured crossover, the in-block
    * chunked triangle below it — same rows bit-for-bit either way.
    * jaccard = inter / (n_a + n_b − inter), exact integers into one
    * correctly rounded division. Output schema matches
    * ngramJaccardPairs: (blk, id_a, id_b, jaccard), id_a < id_b. */
  def blockedJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, n: Int = 2,
      threshold: Double = 0.5, maxGramDf: Int = 5000,
      materializePath: Option[String] = None,
      engine: PairEngine = PairEngine.Auto): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    if (pickTriangle(df, engine, materializePath))
      ngramJaccardPairs(df, idCol, textCol, blockCol, n, threshold)
    else {
      val w = Pipeline.cpuWidth(df)
      val toks = blockedTokFrame(df, idCol, textCol, blockCol, n, w,
        materializePath)
      blockedPairCounts(toks, w, maxGramDf, "blockedJaccardPairs",
        (idA, _, idB, _) => idA < idB)
        .withColumn("jaccard", col("inter").cast("double") /
          (col("n_a").cast("double") + col("n_b").cast("double") -
            col("inter").cast("double")))
        .filter(col("jaccard") >= threshold)
        .select("blk", "id_a", "id_b", "jaccard")
    }
  }

  /** Physical engine selector for the blocked exact pair family — the
    * [[blockedJaccardPairs]]/[[containmentPairs]] analogue of Catalyst's
    * cost-based join selection. Both engines produce bit-identical rows
    * (exact integer intersections into one correctly rounded division;
    * every family gate passes against the same DuckDB oracle on either),
    * so the choice is purely physical:
    *
    *  - [[PairEngine.Triangle]] — the in-block chunked packed-set
    *    triangle. Work is Σ_blk n_blk²/2 intersections; measured FASTER
    *    below [[Dedup.trianglePairBytes]] estimated input bytes (sf0.1
    *    interleaved: 0.8 s vs the count join's 1.1–1.5 s — the count
    *    join's tok materialization + hot-gram guard are fixed costs),
    *    and guarded by maxBlockSize (occupancy) above which it fails
    *    naming the alternatives.
    *  - [[PairEngine.CountJoin]] — the inverted-index count join
    *    ([[blockedPairCounts]]). Work tracks gram-occurrence volume, not
    *    occupancy²; the round-14 100× audit measured it at 0.08–0.18 of
    *    linear where the triangle grew superlinearly with replicated
    *    block occupancy. Guarded by maxGramDf (per-gram df).
    *
    *  [[PairEngine.Auto]] dispatches on Catalyst's estimated input bytes
    *  at plan build (no job runs); unknown estimates (≤ 0) pick the
    *  count join — the shape that cannot go quadratic. */
  sealed trait PairEngine
  object PairEngine {
    case object Auto extends PairEngine
    case object CountJoin extends PairEngine
    case object Triangle extends PairEngine
  }

  /** Measured small/wide crossover for [[PairEngine.Auto]]: sf0.1
    * (~0.8 MB estimated) sits well below, the 10× ScaleBench replication
    * (~8 MB) well above — the 10×/100× audits always exercise the count
    * join. */
  private val trianglePairBytes: Long = 4L << 20

  private def pickTriangle(df: DataFrame, engine: PairEngine,
      materializePath: Option[String]): Boolean = engine match {
    case PairEngine.Triangle => true
    case PairEngine.CountJoin => false
    case PairEngine.Auto =>
      // an explicit materialization path signals a cluster-scale run —
      // the triangle neither needs nor honors it, so route wide
      val est = Pipeline.planBytes(df)
      materializePath.isEmpty && est > 0 && est <= trianglePairBytes
  }

  /** ASYMMETRIC containment pairs — the partial-inclusion detector
    * Jaccard structurally misses: a short document swallowed whole by a
    * long one (wire-copy inside a roundup, a quoted post inside a
    * thread) has containment(A⊂B) = |S_A ∩ S_B| / |S_A| ≈ 1 while its
    * Jaccard stays arbitrarily low, so no symmetric threshold finds it.
    * Reports both directed containments per candidate pair, keeping
    * pairs where either direction clears `threshold`.
    *
    * Physical plan picked by [[PairEngine]] (round-15 dispatch). Wide
    * regime: the inverted-index COUNT join ([[blockedPairCounts]],
    * regime tradeoffs documented there) — the pair orientation keeps the
    * MIN-set side as a ((nset, id) order), the grouped count is the
    * exact intersection, and both directed containments are divisions
    * of exact integers; the round-13 blocked triangle did Σ_blk n_blk²/2
    * packed intersections — measured 1.31× of linear at 10× and rising
    * with block occupancy, while the count join tracks gram volume with
    * the in-plan df guard naming the fallback. Small regime:
    * [[triangleContainment]] — same rows bit-for-bit, measured faster
    * below the crossover where the count join's fixed costs dominate. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 2, threshold: Double = 0.6,
      maxGramDf: Int = 5000,
      materializePath: Option[String] = None,
      engine: PairEngine = PairEngine.Auto,
      maxBlockSize: Int = 10000): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    if (pickTriangle(df, engine, materializePath)) {
      // small regime: in-block chunked triangle over packed gram sets.
      // Containment admits NO count-ratio prune (cont(A⊂B) = inter/n_a
      // with n_a the min side is bounded by 1 regardless of the size
      // ratio), so every in-block pair pays one packed intersection —
      // exactly the Σ n² shape [[pickTriangle]] only permits below the
      // measured crossover, occupancy-guarded by maxBlockSize.
      val (guarded, grams) = packedGuardedGrams(df, idCol, textCol,
        blockCol, n, 8, maxBlockSize, "containmentPairs")
      triangleContainment(guarded, grams, threshold, 8)
    } else {
      val w = Pipeline.cpuWidth(df)
      val toks = blockedTokFrame(df, idCol, textCol, blockCol, n, w,
        materializePath)
      blockedPairCounts(toks, w, maxGramDf, "containmentPairs",
        (idA, nA, idB, nB) => nB > nA || (nB === nA && idB > idA))
        .withColumn("n_a", col("n_a").cast("int"))
        .withColumn("n_b", col("n_b").cast("int"))
        .withColumn("cont_a_in_b", when(col("n_a") > 0,
          col("inter").cast("double") / col("n_a").cast("double"))
          .otherwise(lit(0.0)))
        .withColumn("cont_b_in_a", when(col("n_b") > 0,
          col("inter").cast("double") / col("n_b").cast("double"))
          .otherwise(lit(0.0)))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
        // the count-join orientation is (min-set side, other) — canonicalize
        // to id_a < id_b, swapping the directed columns along with the ids
        .withColumn("__swap", col("id_a") > col("id_b"))
        .select(col("blk"),
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          when(col("__swap"), col("n_b")).otherwise(col("n_a")).as("n_a"),
          when(col("__swap"), col("n_a")).otherwise(col("n_b")).as("n_b"),
          col("inter"),
          when(col("__swap"), col("cont_b_in_a")).otherwise(col("cont_a_in_b"))
            .as("cont_a_in_b"),
          when(col("__swap"), col("cont_a_in_b")).otherwise(col("cont_b_in_a"))
            .as("cont_b_in_a"))
    }
  }

  /** Measured LSH DEDUP RECALL/PRECISION — the s_ann_recall story for the
    * dedup side: the banded scale path ([[lshVerifiedPairsMd5]]: LSH
    * candidates + exact verify, linear in data) measured against exact
    * all-pairs ground truth ([[ngramJaccardPairs]]) at the same Jaccard
    * threshold, per block. The number a deployment publishes before
    * trusting banding parameters: a threshold below the LSH collision
    * midpoint silently loses pairs while every job "succeeds" — this
    * operator makes that loss a measured, per-block artifact.
    *
    * recall = hits / exact, precision = hits / lsh — divisions of exact
    * integers (correctly rounded, engine-exact); blocks with no ground
    * truth / no candidates surface null rather than a fake 1.0. Scale:
    * the ground-truth side stays quadratic-in-block (that is what makes
    * it ground truth — run it at audit scale, not corpus scale); the
    * LSH side is the linear path being measured. */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 2, threshold: Double = 0.4,
      numHashes: Int = 32, bands: Int = 8, estThreshold: Double = 0.5,
      maxBucketSize: Int = 200, maxBlockSize: Int = 10000): DataFrame = {
    val exact = ngramJaccardPairs(df, idCol, textCol, blockCol, n, threshold,
        maxBlockSize = maxBlockSize)
      .select(col("blk"), col("id_a"), col("id_b"))
    val verified = lshVerifiedPairsMd5(df, idCol, textCol, n, numHashes,
      bands, estThreshold, maxBucketSize, threshold)
    // the ground truth is blocked — keep candidate pairs within one block
    val vb = verified
      .join(df.select(col(idCol).as("id_a"), col(blockCol).as("blk")),
        Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(blockCol).as("__blk_b")),
        Seq("id_b"))
      .filter(col("blk") === col("__blk_b"))
      .select(col("blk"), col("id_a"), col("id_b"))
    val e = exact.groupBy("blk").agg(count(lit(1)).as("n_exact"))
    val c = vb.groupBy("blk").agg(count(lit(1)).as("n_lsh"))
    val h = vb.join(exact, Seq("blk", "id_a", "id_b"))
      .groupBy("blk").agg(count(lit(1)).as("n_hit"))
    e.join(c, Seq("blk"), "full_outer")
      .join(h, Seq("blk"), "full_outer")
      .select(col("blk"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", when(col("n_exact") > 0,
        col("n_hit").cast("double") / col("n_exact").cast("double")))
      .withColumn("precision", when(col("n_lsh") > 0,
        col("n_hit").cast("double") / col("n_lsh").cast("double")))
  }

  /** The exact all-pairs core: balanced triangle self-join of the gram
    * projections (blk, id, g, nc, ck), count-ratio prune, packed-set
    * Jaccard. `loSrc`/`hiSrc` are the two join sides (usually the same
    * frame; ngramJaccardPairs hangs its oversize guard on lo only since
    * every doc appears there). */
  /** Shared triangle join base: every unordered in-block pair exactly
    * once, columns (blk, id_a, g_a, n_a, id_b, g_b, n_b) in arbitrary
    * orientation (callers canonicalize on output). */
  private def trianglePairBase(loSrc: DataFrame, hiSrc: DataFrame,
      chunks: Int): DataFrame = {
    // triangle replication: the lower-chunk side carries (ck, p) for
    // p ≥ ck, the higher-chunk side (p, ck) for p ≤ ck — every unordered
    // chunk pair lands in exactly one join task, so a low-cardinality
    // blocking key still spreads across chunks·(chunks+1)/2 tasks
    val lo = loSrc.select(col("blk"),
        explode(sequence(col("ck"), lit(chunks - 1))).as("hi"), col("ck").as("lo"),
        col("id").as("id_a"), col("g").as("g_a"), col("nc").as("n_a"))
    val hi = hiSrc.select(col("blk"),
        explode(sequence(lit(0), col("ck"))).as("lo"), col("ck").as("hi"),
        col("id").as("id_b"), col("g").as("g_b"), col("nc").as("n_b"))
    // SHUFFLE_HASH: a broadcast build of wide rows measured ~2.5× slower
    // than a shuffled hash join here, and SMJ adds a useless sort.
    // Both sides pre-partitioned on the join key at the input-keyed CPU
    // width IN THE WIDE REGIME ([[Pipeline.widen]]): the probe is
    // intersect-CPU-dense per shuffled byte, and AQE's byte-targeted
    // coalescing otherwise folds the whole triangle into a handful of
    // tasks (measured 14.4 s single probe task at 10× while the packed
    // grams totalled a few MB). User-numbered repartitions are
    // AQE-exempt; the joins reuse these exchanges.
    val w = Pipeline.cpuWidth(loSrc)
    Pipeline.widen(lo, w, col("blk"), col("lo"), col("hi"))
      .join(Pipeline.widen(hi, w, col("blk"), col("lo"), col("hi"))
        .hint("SHUFFLE_HASH"), Seq("blk", "lo", "hi"))
      // same-chunk tasks see both orientations — keep one; cross-chunk
      // tasks see exactly one — keep it and reorient on output
      .filter(col("lo") =!= col("hi") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
  }

  private def triangleJaccard(loSrc: DataFrame, hiSrc: DataFrame,
      threshold: Double, chunks: Int): DataFrame = {
    val spark = loSrc.sparkSession
    trianglePairBase(loSrc, hiSrc, chunks)
      // count-ratio prune: jaccard ≤ min(n_a,n_b)/max(n_a,n_b)
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")).cast("double") * lit(threshold))
      .withColumn("inter", graft.functions.PackedLongs
        .intersectSize(spark, col("g_a"), col("g_b")).cast("double"))
      .withColumn("uni", col("n_a").cast("double") + col("n_b").cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col("blk"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /** Triangle twin of the count-join containment tail: same exact
    * arithmetic (integer intersection into one correctly rounded
    * division per direction), same output schema and id_a < id_b
    * canonicalization — [[containmentPairs]] dispatches here below the
    * [[trianglePairBytes]] crossover. No count-ratio prune exists for
    * containment (see the caller), so every in-block pair pays one
    * packed intersection. */
  private def triangleContainment(loSrc: DataFrame, hiSrc: DataFrame,
      threshold: Double, chunks: Int): DataFrame = {
    val spark = loSrc.sparkSession
    trianglePairBase(loSrc, hiSrc, chunks)
      .withColumn("inter", graft.functions.PackedLongs
        .intersectSize(spark, col("g_a"), col("g_b")).cast("int"))
      .withColumn("cont_a_in_b", when(col("n_a") > 0,
        col("inter").cast("double") / col("n_a").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("cont_b_in_a", when(col("n_b") > 0,
        col("inter").cast("double") / col("n_b").cast("double"))
        .otherwise(lit(0.0)))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .withColumn("__swap", col("id_a") > col("id_b"))
      .select(col("blk"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        when(col("__swap"), col("n_b")).otherwise(col("n_a")).as("n_a"),
        when(col("__swap"), col("n_a")).otherwise(col("n_b")).as("n_b"),
        col("inter"),
        when(col("__swap"), col("cont_b_in_a")).otherwise(col("cont_a_in_b"))
          .as("cont_a_in_b"),
        when(col("__swap"), col("cont_a_in_b")).otherwise(col("cont_b_in_a"))
          .as("cont_b_in_a"))
  }

  /** Banding S-curve midpoint (1/bands)^(bands/numHashes): the Jaccard at
    * which a pair survives at least one of `bands` bands with probability
    * ~1-1/e (per-band collision ≈ J^(numHashes/bands)). Pairs far below the
    * midpoint are almost always lost; far above, almost always kept. */
  def lshCollisionMidpoint(numHashes: Int, bands: Int): Double =
    math.pow(1.0 / bands, bands.toDouble / numHashes)

  /** Standard LSH parameter selection: the cheapest (numHashes, bands) whose
    * S-curve midpoint sits at or below `threshold`, so banded candidate
    * generation keeps recall at the threshold instead of silently collapsing.
    * Keeps the caller's (numHashes, bands) when they already qualify; else
    * tries wider banding at the same numHashes (fewest bands that qualify
    * costs the least shuffle); else grows numHashes to ceil(1/threshold)
    * single-row bands (midpoint = 1/bands). Fails fast — at plan-build time,
    * before any cluster work — when no configuration under `maxNumHashes`
    * can reach the threshold. */
  def lshParamsFor(threshold: Double, numHashes: Int, bands: Int,
      maxNumHashes: Int = 1024): (Int, Int) = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    if (lshCollisionMidpoint(numHashes, bands) <= threshold) (numHashes, bands)
    else {
      val rowsFit = (numHashes to 1 by -1).filter(numHashes % _ == 0)
        .find(r => lshCollisionMidpoint(numHashes, numHashes / r) <= threshold)
      rowsFit match {
        case Some(r) => (numHashes, numHashes / r)
        case None =>
          val need = math.ceil(1.0 / threshold).toInt
          if (need > maxNumHashes) throw new IllegalArgumentException(
            s"lshParamsFor: threshold=$threshold is below the lowest banding " +
              s"collision midpoint reachable with maxNumHashes=$maxNumHashes " +
              s"(1/$maxNumHashes = ${1.0 / maxNumHashes}); banded candidate " +
              "generation would drop nearly all true pairs. Raise the " +
              "threshold, raise maxNumHashes, or use the exact path " +
              "(ngramJaccardPairs with a larger maxBlockSize)")
          (need, need)
      }
    }
  }

  /** Scale-bounded blocked Jaccard: blocks at or under `maxBlockSize` take
    * the exact all-pairs triangle path (output identical to
    * ngramJaccardPairs); OVERSIZED blocks route through in-block
    * MinHash-banded candidate generation plus EXACT Jaccard verification —
    * linear in block size instead of quadratic, at banding recall (a pair
    * missed by all `bands` bands is lost; same-band collision probability
    * is ~J^(numHashes/bands) per band). The split is decided inside the
    * plan from a broadcast per-block count — no driver job — and one
    * shingle-hash scan feeds both paths (gram set + band keys from the
    * same checkpointed projection, the lshVerifiedPairs pattern).
    *
    * Recall discipline (the time-guard's mirror image): by default the
    * banding parameters are AUTO-TUNED via lshParamsFor so the S-curve
    * midpoint (1/bands)^(bands/numHashes) lands at or below `threshold` —
    * a threshold below the midpoint would silently return a sliver of the
    * true pairs (per-band collision ≈ J^rows) while the job "succeeds".
    * With `autoTune = false` the caller's (numHashes, bands) are used
    * verbatim; if their midpoint sits above `threshold`, any block that
    * actually routes fails the job in-plan (same lazy broadcast-count
    * raise_error shape as the maxBlockSize guard) instead of quietly
    * dropping recall. An auto-tune that cannot reach the threshold under
    * `maxNumHashes` is deferred the same way: blocks under the cap take
    * the exact path regardless of banding, so the job only fails if a
    * block actually routes. Blocks under the cap are never affected.
    *
    * `materializePath`: the shared base scan (gram set + band keys) is
    * consumed by both paths and must be materialized once — every lazy
    * formulation re-evaluates the signature expressions per consumer. By
    * default it lands in `localCheckpoint()` (executor-local blocks: fine
    * single-node, but on a cluster with dynamic allocation the blocks die
    * with their executors). Passing a path writes it to parquet there
    * instead — the reliable cluster form (any filesystem the session can
    * reach; the caller owns cleanup). Output is identical either way. */
  def ngramJaccardPairsBounded(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 2, threshold: Double = 0.5,
      chunks: Int = 8, maxBlockSize: Int = 10000,
      numHashes: Int = 32, bands: Int = 8, maxBucketSize: Int = 500,
      autoTune: Boolean = true, maxNumHashes: Int = 1024,
      materializePath: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // unreachable-threshold auto-tune failures are deferred to the in-plan
    // routed-branch guard (blocks under the cap never need the banding);
    // malformed thresholds still fail eagerly via the require above/inside
    val tuned: Either[String, (Int, Int)] =
      if (!autoTune) Right((numHashes, bands))
      else try Right(lshParamsFor(threshold, numHashes, bands, maxNumHashes))
      catch {
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.startsWith("lshParamsFor")) =>
          Left(e.getMessage)
      }
    val (nh, nb) = tuned.getOrElse((numHashes, bands))
    val midpoint = lshCollisionMidpoint(nh, nb)
    val spark = df.sparkSession
    val counts = df.groupBy(col(blockCol).as("blk")).agg(count(lit(1)).as("__bn"))
    // one hash scan serves both paths; materialized because every lazy
    // formulation re-evaluates the signature expressions per consumer
    // (see minhashLshPairsMd5)
    val baseRaw = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        graft.functions.TextHashExprs.ngramHashes(spark,
          TextAnalysis.tokens(col(textCol)), n).as("__h"))
      .select(col("blk"), col("id"),
        graft.functions.PackedLongs.packSortedSet(spark, col("__h")).as("g"),
        graft.functions.TextHashExprs.bandKeysCol(spark, col("__h"),
          nh, nb, affine = false).as("bk"))
      .withColumn("nc", (length(col("g")) / 8).cast("int"))
      .join(broadcast(counts), Seq("blk"))
    val base = materializeBase(baseRaw, materializePath)
    val small = base.filter(col("__bn") <= maxBlockSize)
      .withColumn("ck", pmod(xxhash64(col("id")), lit(chunks)))
    val exact = triangleJaccard(small, small, threshold, chunks)

    // recall guard: a block that routes while the effective banding
    // midpoint sits above the threshold (autoTune=false with bad params,
    // or an auto-tune that could not reach the threshold) would silently
    // lose nearly all true pairs — fail the job in-plan instead, the same
    // lazy shape as the maxBlockSize guard (when() keeps raise_error out
    // of reorderable predicate position; no driver job, no effect while
    // every block stays under the cap)
    val bigAll = base.filter(col("__bn") > maxBlockSize)
    val guardTail = tuned match {
      case Left(msg) => Some(" docs > maxBlockSize=" + maxBlockSize +
        " and would route through LSH banding, but auto-tuning found no " +
        "reachable configuration: " + msg)
      case Right(_) if midpoint > threshold => Some(
        s" docs > maxBlockSize=$maxBlockSize and would route through" +
          f" LSH banding, but threshold=$threshold%s sits below the banding" +
          f" collision midpoint $midpoint%.4f = (1/$nb)^($nb/$nh) — nearly" +
          " all true pairs would be dropped silently. Use autoTune=true" +
          " (the default) or pick bands/numHashes whose midpoint is at or" +
          " below the threshold")
      case _ => None
    }
    val big = guardTail match {
      case None => bigAll
      case Some(tail) => bigAll
        .filter(when(col("__bn") > maxBlockSize,
          raise_error(concat(
            lit("ngramJaccardPairsBounded: block '"), col("blk").cast("string"),
            lit("' holds "), col("__bn").cast("string"),
            lit(tail))).cast("boolean"))
          .otherwise(lit(true)))
    }
    val banded = big.select(col("blk"), col("id"), posexplode(col("bk")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    // in-block banding: bucket on (blk, band, band_hash) so candidates
    // respect the blocking key; degenerate buckets capped like the LSH path
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk"), col("band"), col("band_hash"))
    val capped = banded.withColumn("__bsz", count(lit(1)).over(bucket))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val cand = capped.select(col("blk"), col("band"), col("band_hash"),
        col("id").as("id_a"))
      .join(capped.select(col("blk"), col("band"), col("band_hash"),
        col("id").as("id_b")), Seq("blk", "band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("blk", "id_a", "id_b").distinct()
    val routed = verifyTail(cand,
      big.select(col("id"), col("g"), col("nc")), threshold)
    exact.unionByName(routed)
  }

  /** Exact Jaccard verification over an arbitrary CANDIDATE pair set — the
    * petabyte-scale composition the block-join Scaladoc prescribes: LSH
    * emits candidates (~linear in data via banding + bucket caps), then
    * verification joins each pair to its two packed gram-hash sets —
    * O(|candidates|) work, never all-pairs, never quadratic in any block.
    *
    * `gramHashes` supplies the per-doc gram-hash array (xxhash64
    * `TextHashExprs.ngramHashes` in production; `md5BaseHashes` for the
    * oracle-checkable variant). Jaccard over hashed gram SETS equals
    * string-set Jaccard absent a 64-bit collision. */
  def verifyJaccardCandidates(df: DataFrame, idCol: String,
      gramHashes: Column, pairs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    // rebalance the doc side BEFORE the gram-hash/pack kernel: the packed
    // set build is gram-explode CPU bound to the parquet split count
    // otherwise (100×: 25 uniform ~57 s scan tasks while 256 verify tasks
    // idled); one narrow doc shuffle bounds it at volume/width
    val grams = df.repartition(Pipeline.cpuWidth(df), col(idCol))
      .select(col(idCol).as("id"),
        graft.functions.PackedLongs.packSortedSet(spark, gramHashes).as("g"))
      .withColumn("nc", (length(col("g")) / 8).cast("int"))
    verifyTail(pairs.select(col("id_a"), col("id_b")), grams, threshold)
  }

  /** Prefix-filtered set-similarity join (the SSJoin/PPJoin family —
    * Chaudhuri et al. ICDE 2006, Xiao et al. WWW 2008): ALL pairs of
    * documents whose distinct word-n-gram sets have Jaccard ≥ `threshold`,
    * with GUARANTEED recall 1.0 — the lossless alternative to LSH
    * banding (which trades recall for cost) and to blocked all-pairs
    * (which needs a blocking key and is quadratic in the block).
    *
    * Why it works: order every gram by (global df, gram) — rarest first.
    * For J(A,B) ≥ t, |A∩B| ≥ ⌈t·max(|A|,|B|)⌉; the globally-SMALLEST
    * shared gram w is followed, within each document's ordered set, by
    * ≥ |A∩B|−1 other shared grams, so w sits within the first
    * |S| − ⌈t·|S|⌉ + 1 grams of BOTH sets. Joining only on those PREFIX
    * grams therefore finds every qualifying pair; exact verification
    * ([[verifyJaccardCandidates]]) removes the false candidates. The
    * prefix length uses floor (≥ the ⌈⌉-derived sound length), and the
    * count-ratio prune keeps a 1e-9 slack, so float jitter can only
    * ADMIT extra candidates — the verify stage is exact either way.
    *
    * Scale shape: join traffic is Σ_w df_prefix(w)² over PREFIX grams
    * only — prefixes hold each document's RAREST grams, so hot grams
    * (stopword shingles) never enter the join. One df-count shuffle, one
    * per-doc sort (in-row, after a collect_list), one skinny gram
    * self-join, pair distinct, then the packed-set verify joins. A
    * prefix gram whose df still exceeds `maxPrefixDf` fails IN-PLAN with
    * the remediation named (that corpus shape wants LSH+verify). */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxPrefixDf: Int = 5000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // rebalance raw docs BEFORE the shingle transform + explode: the
    // gram build is CPU bound to the parquet split count otherwise
    // (100×: two 25-task scan stages at ~55 s/task owned the runtime);
    // the narrow doc shuffle is kilobytes-per-row against gram CPU
    val base = df.select(col(idCol).as("id"), col(textCol).as("__txt"))
      .repartition(Pipeline.cpuWidth(df), col("id"))
      .select(col("id"), array_distinct(shingles(col("__txt"), n)).as("gs"))
    // explode_OUTER + post-filter, NOT explode: an inner explode makes
    // InferFiltersFromGenerate add `size(gs) > 0 AND isnotnull(gs)`,
    // and predicate pushdown drags that — with the whole shingle
    // expression inlined — below the rebalance to the scan side,
    // recomputing every doc's grams in the 25-split stage the rebalance
    // exists to relieve (measured: 2× ~600 task-seconds at 100×).
    // Outer explode infers nothing; shingles() never yields an empty
    // array (the short-text branch emits one joined-tokens gram), so
    // the null-row filter is the only semantic difference and drops
    // nothing real.
    val toks = base.select(col("id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    val dfc = toks.groupBy("g").agg(count(lit(1)).as("gdf"))
    val ranked = toks.join(dfc.hint("SHUFFLE_HASH"), Seq("g"))
    // same width discipline for the per-doc prefix sort: the final
    // collect+sort_array is CPU-dense per byte, so pre-partition by id at
    // verify width (replaces the aggregation's own exchange, exempt from
    // AQE byte-coalescing) — measured 15.6 s max task at 32-wide, 100×
    val perDoc = Pipeline.widen(ranked, Pipeline.cpuWidth(df), col("id"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("gdf"), col("g")))).as("st"),
        count(lit(1)).as("nset"))
    val plen = (col("nset") -
      floor(lit(threshold) * col("nset")).cast("long") + 1L).cast("int")
    val prefixes = perDoc
      .select(col("id"), col("nset"),
        explode(slice(col("st"), lit(1), plen)).as("p"))
      .select(col("id"), col("nset"), col("p.g").as("g"),
        col("p.gdf").as("gdf"))
    val guarded = prefixes.withColumn("g",
      when(col("gdf") <= maxPrefixDf, col("g"))
        .otherwise(raise_error(concat(
          lit("prefixFilterJaccardPairs: prefix gram df "),
          col("gdf").cast("string"),
          lit(s" > maxPrefixDf=$maxPrefixDf — candidate join traffic is" +
            " df² per gram; use lshVerifiedPairs* (banded candidates +" +
            " exact verify) for this corpus shape, or raise maxPrefixDf")))))
    val cands = guarded
      .select(col("g"), col("id").as("id_a"), col("nset").as("n_a"))
      .join(prefixes.select(col("g"), col("id").as("id_b"),
        col("nset").as("n_b")).hint("SHUFFLE_HASH"), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")).cast("double") * lit(threshold) -
          lit(1e-9))
      .select("id_a", "id_b").distinct()
    verifyJaccardCandidates(df, idCol,
      graft.functions.TextHashExprs.ngramHashes(df.sparkSession,
        TextAnalysis.tokens(col(textCol)), n), cands, threshold)
  }

  // ---- embedding near-dup -----------------------------------------------

  /** Embedding-cosine near-duplicates among pairs sharing a coarse bucket
    * (label column as the inverted-file cell). Vectors ride packed as
    * binary with per-row precomputed norms; the per-pair dot runs in a
    * kernel bit-identical to the declarative sequential fold — the
    * interpreted zip_with/aggregate pair fold dominated otherwise. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double = 0.95): DataFrame = {
    val spark = df.sparkSession
    val vd = Similarity.toDouble(col(vecCol))
    // NOT materialized, deliberately (round-16 measured): the two self-
    // join sides differ only in aliases, so their exchanges canonicalize
    // identically and ReuseExchange already evaluates the pack+norm
    // (+any upstream assignment kernel) subtree ONCE — an explicit
    // checkpoint here A/B-measured as pure added latency on the
    // sub-second embed gates (1.04–1.25×), the round-14/15 small-input
    // tax pattern.
    val v = df.select(col(bucketCol).as("bkt"), col(idCol).as("id"),
      graft.functions.PackedDoubles.packCol(spark, vd).as("v"),
      Similarity.norm(vd).as("nrm"))
    val a = v.select(col("bkt"), col("id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"))
    val b = v.select(col("bkt"), col("id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("bkt")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.PackedDoubles.dotCol(spark, col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("bkt", "id_a", "id_b", "cosine")
  }

  /** Label-free embedding near-dup: quantize to IVF cells (deterministic
    * DECIMAL-exact k-means, IvfIndex.build) and run the bucketed pairwise
    * comparison within cells — the composition to reach for when no
    * natural bucket column exists. Identical vectors ALWAYS land in the
    * same cell (one deterministic argmin kernel), so exact duplicates are
    * never missed; near-dup pairs split across a cell boundary are lost at
    * banding-style recall — `probes` > 1 widens it by assigning each
    * vector to its top-`probes` cells (the search-side nProbe ranking:
    * dot-product order, ties to the smaller cell; the top-1 equals the
    * build assignment), at `probes`× the pairwise work. probes = nCells
    * degenerates to exact all-pairs. Emitted pairs are deduped to their
    * smallest shared cell. */
  def embeddingNearDupPairsByCell(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double = 0.95, iters: Int = 2,
      trainFraction: Double = 1.0,
      initCell: Option[Column] = None, probes: Int = 1,
      materializePath: Option[String] = None): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val (assigned, centroids) = IvfIndex.build(df, idCol, vecCol, nCells, iters,
      initCell = initCell, trainFraction = trainFraction)
    // top-`probes` cells via the codegen kernel (one task-broadcast matrix,
    // expression-tree size independent of nCells) — bit-identical ranking to
    // the declarative slice(array_sort(struct(negSim, cell))) form: same dot
    // fold, descending similarity, ties to the smaller cell, element 0 equal
    // to the build-time argmin assignment
    val probedLazy =
      if (probes <= 1) assigned
      else assigned.select(col("id"), col("v"),
        explode(graft.functions.NearestCellExpr.nearestCellsTopK(
          df.sparkSession, col("v"), centroids,
          math.min(probes, centroids.size))).as("cell"))
    // the within-cell pairwise is a SELF-join: without materialization both
    // sides re-run the scan + assignment kernel (nCells × dim work per row).
    // A parquet path lands the (cell, id, v) assignment once — the same
    // table IvfIndex.save partitions by cell at index-build time.
    val probed =
      if (materializePath.isDefined) materializeBase(probedLazy, materializePath)
      else probedLazy
    val pairs = embeddingNearDupPairs(probed, "id", "v", "cell", threshold)
    if (probes <= 1) pairs.withColumnRenamed("bkt", "cell")
    else pairs.groupBy("id_a", "id_b")
      .agg(min(col("bkt")).as("cell"), max(col("cosine")).as("cosine"))
      .select("cell", "id_a", "id_b", "cosine")
  }

  /** Training-free embedding near-dup via sign-random-projection (hyperplane)
    * LSH: an `nBits`-bit signature (bit k = sign of the dot with a
    * deterministic pseudo-random hyperplane — [[graft.functions.SrpBitsExpr]])
    * is split into `bands` nearly-equal bit blocks; vectors agreeing exactly
    * on any block become candidates, verified with EXACT cosine >= `threshold`
    * — precision is exact, recall follows the banding S-curve
    * 1-(1-p^w)^bands with p = 1-θ/π (SrpExprs.srpRecallAt). Complements the
    * k-means-cell route (embeddingNearDupPairsByCell): no quantizer to train
    * and recall is angle-governed rather than cell-boundary-governed, at the
    * cost of `bands` bucket joins instead of one.
    *
    * Scale shape: the bucket join and pair dedup run on skinny
    * (band, key, id) rows; packed vectors + precomputed norms join back only
    * for deduped candidates (SHUFFLE_HASH, no broadcast of the corpus);
    * degenerate buckets above `maxBucketSize` are dropped like every LSH
    * path here (their exact-duplicate pairs are exact-dedup's job). One
    * signature scan feeds banding and verification via `materializeBase` —
    * `materializePath` lands it in parquet for cluster reliability,
    * `None` keeps single-node localCheckpoint.
    *
    * Recall discipline: a `minRecall` > 0 fails fast at plan-build time when
    * the banding S-curve at `threshold` cannot reach it — the mirror of
    * lshParamsFor's midpoint rule for the Jaccard family (by default the
    * parameters are taken verbatim, matching the minhashLshPairsMd5 contract
    * that the oracle replicates band for band).
    *
    * Sizing: band-key width w = nBits/bands caps useful corpus size — the
    * mean bucket is n/2^w per band, so once n approaches
    * maxBucketSize · 2^w the caps start dropping everything (at w=8 that
    * is ~50k vectors). Grow nBits with the corpus (w=12 → ~800k, w=16 →
    * ~13M at the default cap); more bits cost one kernel pass, not plan
    * size. */
  def embeddingSrpLshPairs(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 16, bands: Int = 4, threshold: Double = 0.8,
      maxBucketSize: Int = 200, minRecall: Double = 0.0,
      materializePath: Option[String] = None): DataFrame = {
    require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits")
    require(bands >= 1 && bands <= nBits,
      s"bands must be in [1, nBits], got $bands")
    if (minRecall > 0.0) {
      val r = graft.functions.SrpExprs.srpRecallAt(threshold, nBits, bands)
      require(r >= minRecall,
        f"embeddingSrpLshPairs: banded recall at cosine >= $threshold%.3f is " +
          f"$r%.3f with nBits=$nBits bands=$bands, below minRecall=" +
          f"$minRecall%.3f — add bands (wider S-curve) or lower nBits/bands " +
          "width, or verify candidates from a coarser route")
    }
    val spark = df.sparkSession
    val vd = Similarity.toDouble(col(vecCol))
    val base = materializeBase(
      df.select(col(idCol).as("id"),
        graft.functions.PackedDoubles.packCol(spark, vd).as("v"),
        Similarity.norm(vd).as("nrm"),
        graft.functions.SrpExprs.srpBits(spark, vd, nBits).as("sig")),
      materializePath)
    // nearly-equal bit blocks over the nBits (first `rem` one bit wider);
    // a pair agreeing on every bit of a block shares its bucket
    val nBlocks = bands
    val blockBase = nBits / nBlocks
    val rem = nBits % nBlocks
    val blocks = (0 until nBlocks).map { q =>
      val width = if (q < rem) blockBase + 1 else blockBase
      val offset = q * blockBase + math.min(q, rem)
      val mask = (1L << width) - 1L
      shiftrightunsigned(col("sig"), offset).bitwiseAND(mask)
    }
    val keyed = base.select(col("id"), posexplode(array(blocks: _*)))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qkey")
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q"), col("qkey"))
    val capped = keyed.withColumn("__bsz", count(lit(1)).over(bucket))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val a = capped.select(col("q"), col("qkey"), col("id").as("id_a"))
    val b = capped.select(col("q"), col("qkey"), col("id").as("id_b"))
    val cands = a.join(b.hint("SHUFFLE_HASH"), Seq("q", "qkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a")).hint("SHUFFLE_HASH"), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("n_b")).hint("SHUFFLE_HASH"), "id_b")
      .withColumn("cosine",
        graft.functions.PackedDoubles.dotCol(spark, col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): quantize embeddings to k-means cells, find
    * within-cell pairs above the cosine threshold
    * ([[embeddingNearDupPairsByCell]]), resolve pairs into clusters, and
    * keep ONE representative per semantic cluster — the minimum-id member
    * (plus every vector in no pair). The cluster resolution is
    * [[Cluster.dropNearDuplicates]]'s connected components, so chains
    * a~b~c collapse to one survivor even when a and c never pair
    * directly.
    *
    * Scale shape: inherits the cell route's linearity (pairwise work is
    * quadratic only WITHIN a cell — size cells via nCells; `probes` > 1
    * widens cross-boundary recall), and CC runs on the tiny pair list,
    * never the corpus; survivors come back as one broadcast left_anti.
    * `materializePath` lands the cell assignment and CC labels in parquet
    * for cluster-durable reuse. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double = 0.95, iters: Int = 2,
      trainFraction: Double = 1.0, initCell: Option[Column] = None,
      probes: Int = 1, maxIters: Int = 25,
      materializePath: Option[String] = None): DataFrame = {
    val pairs = embeddingNearDupPairsByCell(df, idCol, vecCol, nCells,
      threshold, iters, trainFraction, initCell, probes,
      materializePath.map(_ + "/pairs"))
    Cluster.dropNearDuplicates(df, idCol, pairs, "id_a", "id_b",
      maxIters, materializePath.map(_ + "/cc"))
  }

  /** ExactSubstr-style repeated-span removal (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): every
    * `n`-token window whose exact token sequence occurs `minOccurrences`+
    * times in the corpus (across docs or within one) is removed from every
    * doc EXCEPT the globally-first occurrence — the (doc_id, position)
    * minimum — so one copy of each repeated passage survives. Output = one
    * row per input doc: the surviving text (`text_dedup`), original and
    * kept token counts. The reference algorithm builds a suffix array; this
    * fixed-window n-gram formulation is the distributable, oracle-exact
    * equivalent at span length exactly n (a repeat of length L ≥ n is
    * removed as its covering n-windows, which over-eat up to n-1 trailing
    * tokens per flank relative to suffix-array spans — deterministic and
    * documented, the standard windowed approximation).
    *
    * Scale shape: window generation is a narrow posexplode (linear, ~1 row
    * per corpus token); duplicate detection is ONE shuffle on the n-gram
    * key with a map-side-combinable min/count aggregate; the only other
    * shuffles key on doc id (removed-position collection + reassembly
    * join — same key, exchange reused). Per-doc reassembly work is
    * O(tokens × removed-spans-in-doc) in a single codegen projection —
    * no UDFs, no driver collection, output rows = input rows. For corpora
    * where the n-gram STRING shuffle payload dominates, pre-hash the gram
    * (xxhash64) at the standard collision-rate cost; this exact form is
    * the oracle-pinnable default. */
  /** Shared tail of the span-dedup family: per doc, the sorted window
    * positions of every occurrence of a gram seen `minOccurrences`+
    * times corpus-wide, EXCEPT each gram's globally-first (doc, pos)
    * keeper (min of the (id, pos) struct is lexicographic — "first doc,
    * then first position").
    *
    * COUNT-FIRST shape (round 13): the occurrence count is a plain
    * map-combinable HASH aggregation. Folding the keeper into that same
    * aggregate — min(struct) — has an immutable buffer, which forced the
    * whole partial aggregation sort-based: a map-side SORT of EVERY
    * exploded gram window (measured at 100×: the training-mix
    * flagship's costliest stage, ~254 task-seconds, was exactly this
    * SortAggregate over the scan). Now the keeper is a window-min over
    * only the DUPLICATED occurrences, evaluated on the count-join
    * output's existing gram partitioning — no extra exchange, and the
    * sort shrinks from every window to the duplicated tail. */
  private def removedOccurrences(wins: DataFrame,
      minOccurrences: Int): DataFrame = {
    val occCnt = wins.groupBy("__g").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minOccurrences)
    val keep = min(struct(col("__id").as("kid"), col("__pos").as("kpos")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__g")))
    wins.join(occCnt.hint("SHUFFLE_HASH"), "__g")
      .withColumn("__keep", keep)
      .filter(col("__id") =!= col("__keep.kid") ||
        col("__pos") =!= col("__keep.kpos"))
      .groupBy("__id")
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
  }

  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Int = 2): DataFrame = {
    require(n >= 2, s"span length n must be >= 2, got $n")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2, got $minOccurrences")
    // tokenize + gram explode are CPU-dense off a one-row-group scan,
    // and base feeds BOTH the window explode and the reassembly join —
    // spread it first (no-op at scale; round-16 audit: two single-task
    // ~2 s Generate stages under q_training_mix)
    val base = Pipeline.cpuRebalance(df, col(idCol))
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
    // one row per n-token window: (id, start, gram string)
    val wins = base
      .filter(size(col("__t")) >= n)
      .select(col("__id"), posexplode(
        transform(sequence(lit(0), size(col("__t")) - n), i =>
          array_join(slice(col("__t"), i + 1, lit(n)), " "))))
      .toDF("__id", "__pos", "__g")
    val removed = removedOccurrences(wins, minOccurrences)
    // reassembly: token i survives unless some removed span [s, s+n)
    // covers it; one narrow projection, spans stay a per-doc array
    base.join(removed, Seq("__id"), "left")
      .withColumn("__kept", when(col("__starts").isNull, col("__t"))
        .otherwise(transform(
          filter(transform(col("__t"),
            (t, i) => struct(t.as("t"), i.as("i"))),
            s => !exists(col("__starts"), st =>
              s.getField("i") >= st && s.getField("i") < st + n)),
          s => s.getField("t"))))
      .select(col("__id").as(idCol),
        size(col("__t")).as("n_tokens"),
        size(col("__kept")).as("n_tokens_kept"),
        // fully-eaten docs surface as NULL text (not ''): SQL engines
        // disagree on joining an empty list, NULL render-matches everywhere
        nullif(array_join(col("__kept"), " "), lit("")).as("text_dedup"))
  }

  /** ANY-LENGTH repeated-span removal — closes [[removeRepeatedSpans]]'s
    * one semantic gap vs the cited ExactSubstr paper (Lee et al.,
    * arXiv:2107.06499): that op cuts fixed-n windows; the paper removes
    * ARBITRARY-LENGTH repeats ≥ a threshold. This computes the paper's
    * removal set exactly (token-level) via the window-union identity:
    *
    *   a position lies inside SOME corpus-repeat of length ≥ L
    *   ⟺ some duplicated L-window covers it
    *
    * (⇐ a duplicated L-window is itself a repeat of length L;
    * ⇒ every L-window inside a string occurring m+ times occurs m+
    * times). So the union of duplicated-L-window extents IS the union
    * of all maximal repeats ≥ L — no suffix array, no iterated
    * doubling, one extra in-plan fold over the fixed-n machinery. Each
    * gram's globally-first (doc, pos) occurrence is exempt (the corpus
    * keeps one copy of every repeated content — the [[removeRepeatedSpans]]
    * keeper contract). Covered positions merge into MAXIMAL per-doc
    * intervals, reported as `spans` ("start-endIncl", comma-joined,
    * token indices) beside the reassembled text — the span set is the
    * gate-pinned artifact (nested/overlapping/adjacent repeats merge:
    * windows [0,L) and [L,2L) are ONE maximal span).
    *
    * Scale shape = [[removeRepeatedSpans]]: one gram-key shuffle
    * (map-combinable count/min), doc-key collection, and the interval
    * merge is ONE in-plan `aggregate` fold over each doc's sorted
    * removed-start array — O(spans) state, no extra shuffle. */
  def removeRepeatedSpansAnyLength(df: DataFrame, idCol: String,
      textCol: String, minLen: Int, minOccurrences: Int = 2): DataFrame = {
    require(minLen >= 2, s"minimum span length must be >= 2, got $minLen")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2, got $minOccurrences")
    val n = minLen
    // same scan spread as removeRepeatedSpans (base feeds the window
    // explode and the reassembly join)
    val base = Pipeline.cpuRebalance(df, col(idCol))
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
    val wins = base
      .filter(size(col("__t")) >= n)
      .select(col("__id"), posexplode(
        transform(sequence(lit(0), size(col("__t")) - n), i =>
          array_join(slice(col("__t"), i + 1, lit(n)), " "))))
      .toDF("__id", "__pos", "__g")
    val removed = removedOccurrences(wins, minOccurrences)
    // maximal intervals: fold the sorted starts; window [s, s+n) merges
    // into the open interval whenever s ≤ ce (s == ce is ADJACENCY —
    // contiguous coverage, one maximal repeat). Spans render inclusive.
    def spanStr(cs: Column, ce: Column): Column =
      concat(cs.cast("string"), lit("-"), (ce - 1).cast("string"))
    val zero = struct(lit(-1).as("cs"), lit(-1).as("ce"),
      array().cast("array<string>").as("acc"))
    val mergedSpans = aggregate(
      col("__starts"), zero,
      (st, s) => {
        val cs = st.getField("cs")
        val ce = st.getField("ce")
        val acc = st.getField("acc")
        when(cs < 0, struct(s.as("cs"), (s + n).as("ce"), acc.as("acc")))
          .when(s <= ce, struct(cs.as("cs"),
            greatest(ce, s + n).as("ce"), acc.as("acc")))
          .otherwise(struct(s.as("cs"), (s + n).as("ce"),
            concat(acc, array(spanStr(cs, ce))).as("acc")))
      },
      st => when(st.getField("cs") < 0, st.getField("acc"))
        .otherwise(concat(st.getField("acc"),
          array(spanStr(st.getField("cs"), st.getField("ce"))))))
    base.join(removed, Seq("__id"), "left")
      .withColumn("__sp",
        when(col("__starts").isNull, array().cast("array<string>"))
          .otherwise(mergedSpans))
      .withColumn("__kept", when(col("__starts").isNull, col("__t"))
        .otherwise(transform(
          filter(transform(col("__t"),
            (t, i) => struct(t.as("t"), i.as("i"))),
            s => !exists(col("__starts"), st =>
              s.getField("i") >= st && s.getField("i") < st + n)),
          s => s.getField("t"))))
      .select(col("__id").as(idCol),
        size(col("__t")).as("n_tokens"),
        size(col("__kept")).as("n_tokens_kept"),
        size(col("__sp")).as("n_spans"),
        nullif(array_join(col("__sp"), ","), lit("")).as("spans"),
        nullif(array_join(col("__kept"), " "), lit("")).as("text_dedup"))
  }

  /** C4/Dolma-style PARAGRAPH-level exact dedup, generalized to a
    * delimiter-free segmentation: the corpus is cut into DISJOINT
    * `segTokens`-token blocks (the unit newline-delimited corpora get from
    * splitting on "\n"; block boundaries at token positions 0, segTokens,
    * 2·segTokens, … — last block may be short), and every block whose text
    * occurs `minOccurrences`+ times corpus-wide survives ONLY at its
    * globally-first (doc, block) occurrence — later occurrences are cut
    * and each doc is reassembled from its surviving blocks in order.
    *
    * vs [[removeRepeatedSpans]] (ExactSubstr): spans there are OVERLAPPING
    * n-gram windows and every duplicated occurrence is cut wherever it
    * appears inside a doc; here the unit is a disjoint segment and the
    * decision is first-occurrence-wins per distinct segment text — the
    * cheaper (one row per token/segTokens, not per token) corpus-hygiene
    * pass pipelines run before the n-gram machinery.
    *
    * Scale shape: one shuffle keys on segment TEXT with map-side-combinable
    * count/min aggregates; the survivor join reuses that exchange; the
    * reassembly aggregation keys on doc id. Per-doc state is the doc's own
    * segment list — never a corpus-wide structure. */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int, minOccurrences: Int = 2): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2, got $minOccurrences")
    val base = df.select(col(idCol).as("__id"),
      TextAnalysis.tokens(col(textCol)).as("__t"))
    // one row per disjoint block: (id, block index, block text)
    val segs = base
      .filter(size(col("__t")) > 0)
      .select(col("__id"), posexplode(
        transform(
          sequence(lit(0),
            floor((size(col("__t")) - 1) / lit(segTokens)).cast("int")),
          j => array_join(slice(col("__t"), j * segTokens + 1, lit(segTokens)), " "))))
      .toDF("__id", "__seg", "__g")
    // per distinct block text: occurrence count + globally-first (doc,
    // block) occurrence. min of an (id, seg) struct is lexicographic —
    // "first doc, then first position"; both aggregates combine map-side.
    val occ = segs.groupBy("__g").agg(
      count(lit(1)).as("__cnt"),
      min(struct(col("__id").as("kid"), col("__seg").as("kseg"))).as("__keep"))
    // survivors: all occurrences of unique blocks + the keeper occurrence
    // of duplicated blocks; reassembly sorts the doc's survivors by
    // position (array_sort on the (seg, text) struct is that order)
    val kept = segs.join(occ, "__g")
      .filter(col("__cnt") < minOccurrences ||
        (col("__id") === col("__keep.kid") && col("__seg") === col("__keep.kseg")))
      .groupBy("__id")
      .agg(count(lit(1)).cast("int").as("__nkept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__seg"), col("__g")))),
          s => s.getField("__g")), " ").as("__text"))
    base.join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        floor((size(col("__t")) + segTokens - 1) / lit(segTokens)).cast("int")
          .as("n_segs"),
        coalesce(col("__nkept"), lit(0)).as("n_segs_kept"),
        // fully-eaten docs surface as NULL text, as removeRepeatedSpans
        col("__text").as("text_dedup"))
  }
}
