package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy record linkage — near-identical STRING matching under
  * edit distance (catalog entry reconciliation, entity dedup across
  * feeds), the record-linkage sibling of the n-gram document dedup
  * family (SURVEY.md §2.11 L95).
  *
  * Contract (standard record-linkage practice): candidate pairs are
  * generated WITHIN caller-supplied blocks only — a pair spanning two
  * blocks is out of scope by definition, and the blocking column is the
  * recall/cost dial the caller owns. Within a block, matching is exact:
  * every pair at Levenshtein distance ≤ maxDist is found (plus a
  * lossless length prune — |len(a) − len(b)| > maxDist bounds the
  * distance above maxDist, so nothing true is cut).
  *
  * Scale shape = the [[Dedup.ngramJaccardPairs]] architecture: each
  * block splits into `chunks` deterministic id-hash chunks and the
  * self-join runs as the balanced triangle over unordered chunk pairs —
  * a low-cardinality blocking key spreads across chunks·(chunks+1)/2
  * tasks instead of serializing one executor. In-block pair work is
  * quadratic BY DESIGN; the in-plan oversize guard fails blocks above
  * `maxBlockSize` with the remediation named, instead of silently
  * burning a cluster.
  */
object Linkage {

  /** All within-block pairs with levenshtein(s_a, s_b) ≤ maxDist,
    * id_a < id_b, exact integer distance in the output. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, maxDist: Int, chunks: Int = 8,
      maxBlockSize: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))
      .withColumn("ck", pmod(xxhash64(col("id")), lit(chunks)))
    val counts = base.groupBy(col("blk")).agg(count(lit(1)).as("__bn"))
    val guarded = base.join(broadcast(counts), Seq("blk"))
      .filter(when(col("__bn") > maxBlockSize,
        raise_error(concat(
          lit("fuzzyPairs: block '"), col("blk").cast("string"),
          lit("' holds "), col("__bn").cast("string"),
          lit(s" rows > maxBlockSize=$maxBlockSize; in-block pair work is" +
            " quadratic — refine the blocking key or raise maxBlockSize")))
          .cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bn")
    val lo = guarded.select(col("blk"),
      explode(sequence(col("ck"), lit(chunks - 1))).as("hi"),
      col("ck").as("lo"), col("id").as("id_a"), col("s").as("s_a"),
      col("len").as("len_a"))
    val hi = base.select(col("blk"),
      explode(sequence(lit(0), col("ck"))).as("lo"), col("ck").as("hi"),
      col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"))
    // pin the pair join's width (AQE-exempt): the join's OUTPUT is the
    // quadratic in-block expansion feeding the DP kernel, but AQE sizes
    // the exchange by its (small) input bytes — round-16 audit measured
    // the JW sibling's kernel coalesced onto 4 tasks. Width is
    // input-keyed (session floor at gate scale, grows with bytes).
    val pairWidth = Pipeline.cpuWidthLeaf(df)
    lo.repartition(pairWidth, col("blk"), col("lo"), col("hi"))
      .join(hi.repartition(pairWidth, col("blk"), col("lo"), col("hi"))
        .hint("SHUFFLE_HASH"), Seq("blk", "lo", "hi"))
      // same-chunk tasks see both orientations — keep one; cross-chunk
      // tasks see exactly one — keep it and reorient on output
      .filter(col("lo") =!= col("hi") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      // lossless prune: |len_a − len_b| ≤ levenshtein(a, b), so a length
      // gap beyond maxDist can never be a match — cuts the DP
      // before it runs
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      // THRESHOLD (banded) kernel: the 3-arg levenshtein computes only
      // the ±maxDist diagonal band and returns -1 the moment the
      // distance provably exceeds maxDist — O(maxDist·len) per pair
      // instead of O(len²), exact for every kept pair (kept pairs carry
      // their true distance, so the gate oracle is unchanged). At 100×
      // the full-DP kernel owned ~1.8k CPU-seconds of q_entity_resolution.
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("blk"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("dist"))
  }

  /** All within-block pairs with Jaro–Winkler similarity ≥ `threshold`
    * (id_a < id_b) — the prefix-weighted cousin of [[fuzzyPairs]] for the
    * name/typo regime where a shared stem matters more than raw edit
    * count. Same scale architecture: balanced triangle over deterministic
    * id-hash chunks, in-plan oversize-block guard, and a LOSSLESS length
    * prune before the O(len·window) kernel runs — m ≤ min(|a|,|b|) bounds
    * jaro ≤ (2 + lmin/lmax)/3 and the Winkler boost is monotone in jaro,
    * so ub_jw = ub + 0.4·(1−ub) < threshold can never cut a true match.
    * The similarity itself is the codegen
    * [[graft.functions.JaroWinklerExpr]] (Spark has no built-in JW). */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, threshold: Double, chunks: Int = 8,
      maxBlockSize: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))
      .withColumn("ck", pmod(xxhash64(col("id")), lit(chunks)))
    val counts = base.groupBy(col("blk")).agg(count(lit(1)).as("__bn"))
    val guarded = base.join(broadcast(counts), Seq("blk"))
      .filter(when(col("__bn") > maxBlockSize,
        raise_error(concat(
          lit("jaroWinklerPairs: block '"), col("blk").cast("string"),
          lit("' holds "), col("__bn").cast("string"),
          lit(s" rows > maxBlockSize=$maxBlockSize; in-block pair work is" +
            " quadratic — refine the blocking key or raise maxBlockSize")))
          .cast("boolean"))
        .otherwise(lit(true)))
      .drop("__bn")
    val lo = guarded.select(col("blk"),
      explode(sequence(col("ck"), lit(chunks - 1))).as("hi"),
      col("ck").as("lo"), col("id").as("id_a"), col("s").as("s_a"),
      col("len").as("len_a"))
    val hi = base.select(col("blk"),
      explode(sequence(lit(0), col("ck"))).as("lo"), col("ck").as("hi"),
      col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"))
    val lmin = least(col("len_a"), col("len_b")).cast("double")
    val lmax = greatest(col("len_a"), col("len_b")).cast("double")
    val jaroUb = (lit(2.0) + lmin / lmax) / lit(3.0)
    val jwUb = jaroUb + lit(0.4) * (lit(1.0) - jaroUb)
    val jw = graft.functions.JaroWinklerExpr.jaroWinkler(df.sparkSession,
      col("s_a"), col("s_b"))
    // width pin: see fuzzyPairs — the JW kernel ran on 4 AQE-coalesced
    // tasks (round-16 audit: 2 stages × 4 tasks, ~9 task-sec)
    val pairWidth = Pipeline.cpuWidthLeaf(df)
    lo.repartition(pairWidth, col("blk"), col("lo"), col("hi"))
      .join(hi.repartition(pairWidth, col("blk"), col("lo"), col("hi"))
        .hint("SHUFFLE_HASH"), Seq("blk", "lo", "hi"))
      .filter(col("lo") =!= col("hi") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(jwUb >= threshold)
      .withColumn("jw", jw)
      .filter(col("jw") >= threshold)
      .select(col("blk"),
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("jw"), 6).as("jw_sim"))
  }

  /** COMPOSED entity resolution: [[fuzzyPairs]] match graph → connected-
    * components transitive closure ([[Cluster.connectedComponents]]) →
    * every record mapped to its entity (cluster min id), with the
    * canonical flag and entity size — "these 3 catalog rows are one
    * product" as one call. Transitivity is the point and the trap: A≈B
    * and B≈C chain into one entity even when lev(A, C) > maxDist — the
    * conservative-threshold contract of record linkage, and why the gate
    * pins a chained oracle (pair-level tests can't see closure bugs).
    *
    * Scale shape — EXACT-DUPLICATE COLLAPSE first (round 12): records
    * sharing an identical (block, string) are one fuzzy-match NODE whose
    * id is the group's min record id (identical strings are pairwise
    * distance 0 ≤ maxDist, so they are one record-level component by
    * construction — collapsing them BEFORE the quadratic kernel changes
    * nothing semantically and everything economically: real catalogs
    * repeat exact strings heavily; the gate's part table holds 20k rows
    * but only 1.6k distinct (brand, name) nodes, so the record-level
    * graph carried 220k pairs where the node graph needs 600, and at
    * 100× the CC fixpoint iterated over 22M record pairs where 60k node
    * pairs suffice — measured 147 s → single-digit seconds). The
    * cluster label (min reachable node id = min reachable record id) is
    * bit-identical to the record-level formulation — for every input
    * BOTH formulations admit. Note the collapse also moves what
    * `maxBlockSize` bounds: since round 12 it caps DISTINCT (block,
    * string) nodes per block, not records — a block of 50k records
    * with 900 distinct strings now runs (and is exactly the shape the
    * collapse exists for), where the record-level formulation failed
    * loudly. Size the guard to distinct-string cardinality. Then: node-pairs
    * fuzzy kernel, pairs-sized CC (pointer jumping, O(log d) rounds),
    * one (block, string) mapping join back onto records, one
    * entity-sized size aggregation. Records with a null block/string —
    * or whose node is in no pair — stay their own singleton entity
    * (null-keyed records never grouped: two null-block records with
    * equal strings are NOT a pair in the record-level contract, and
    * stay separate entities here too). */
  def resolveEntities(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, maxDist: Int, chunks: Int = 8,
      maxBlockSize: Int = 10000,
      materializePath: Option[String] = None): DataFrame = {
    val nodes = df
      .filter(col(blockCol).isNotNull && col(strCol).isNotNull)
      .select(col(blockCol).as("__blk"), col(strCol).as("__s"),
        col(idCol).as("__rid"))
      .groupBy("__blk", "__s").agg(min(col("__rid")).as("__nid"))
    val pairs = fuzzyPairs(nodes, "__nid", "__s", "__blk", maxDist, chunks,
      maxBlockSize)
    val cc = Cluster.connectedComponents(pairs, "id_a", "id_b",
      materializePath = materializePath.map(_ + "/cc"))
    val mapped = df
      .select(col(idCol), col(blockCol).as("__blk"), col(strCol).as("__s"))
      .join(nodes, Seq("__blk", "__s"), "left")
      .join(cc.select(col("id").as("__nid"), col("cluster")), Seq("__nid"),
        "left")
      .select(col(idCol),
        coalesce(col("cluster"), col("__nid"), col(idCol)).as("entity_id"))
    val sizes = mapped.groupBy("entity_id")
      .agg(count(lit(1)).as("entity_size"))
    mapped.join(sizes, Seq("entity_id"))
      .select(col(idCol), col("entity_id"),
        (col(idCol) === col("entity_id")).as("is_canonical"),
        col("entity_size"))
  }

  /** Field-level SURVIVORSHIP ("golden record"): one merged row per
    * entity where EACH field independently takes the value from the
    * first row that HAS it, visited in (priorityCols…, id) order — the
    * MDM merge rule ([[resolveEntities]] decides which rows are one
    * entity; this decides what the merged entity looks like, and a
    * lower-priority row's field survives whenever every higher-priority
    * row left it null).
    *
    * Implementation: per field, `min(when(notNull, struct(priority…,
    * id, field)))` — a map-combinable lexicographic arg-min whose null
    * inputs drop out of the aggregation, so the whole record merges in
    * ONE groupBy on the entity key, O(#fields) aggregation state,
    * partition-invariant. Exact struct comparisons — no floats.
    *
    * Null PRIORITY values rank LAST, explicitly: each priority column
    * orders as (isNull, value), so a row with unknown priority never
    * beats a known-priority row. Relying on the engine default would
    * diverge silently — Spark's min(struct) sorts null fields first
    * while a SQL ORDER BY defaults to nulls last in DuckDB. */
  def goldenRecord(df: DataFrame, entityCol: String,
      priorityCols: Seq[String], idCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "goldenRecord: need at least one field")
    val ord = priorityCols.flatMap(p =>
      Seq(col(p).isNull.as(s"__null_$p"), col(p))) :+ col(idCol)
    val aggs = fields.map { f =>
      min(when(col(f).isNotNull,
        struct(ord :+ col(f).as("__v"): _*))).as(s"__m_$f")
    } :+ count(lit(1)).as("n_members")
    df.groupBy(col(entityCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(entityCol) +: col("n_members") +:
        fields.map(f => col(s"__m_$f.__v").as(f)): _*)
  }
}
