package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composed corpus-preparation pipeline: the shape a pretraining data run
  * takes — quality gate, then exact dedup among survivors (keep lowest id
  * per canonical fingerprint), with hooks for the near-dup stages.
  *
  * Single scan + one window shuffle on the 16-byte fingerprint; near-dup
  * stages (MinHash/SimHash/embedding) chain on the output as candidate-pair
  * removals.
  */
object Pipeline {

  /** 60-bit integer drawn uniformly from md5("salt:id") — the
    * deterministic pseudo-randomness every sampling/ordering decision in
    * this pipeline uses instead of rand(): stable under re-runs, task
    * retries, cluster size, and data order, and replicable by any engine
    * with md5 (the md5-affine oracle discipline). */
  private[ops] def md5Long60(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))),
      1, 15), 16, 10).cast("long")

  /** Source bytes one CPU-dense task is budgeted: the unit of the
    * [[cpuWidth]] rule, the width of [[cpuRebalance]], and the size at or
    * below which a scan is one split that no rebalance can usefully
    * spread. 256 KB budgets single-digit-second tasks for gram-explode
    * kernels measured at ~15–20 task-seconds per source MB. */
  private[graft] val BytesPerTask: Long = 256L << 10

  /** The session's configured shuffle width — [[cpuWidth]]'s clamp floor
    * and the threshold above which an explicit AQE-exempt exchange is
    * worth pinning (see [[widen]]). */
  private[graft] def sessionWidth(spark: org.apache.spark.sql.SparkSession): Int =
    try spark.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: Throwable => spark.sparkContext.defaultParallelism }

  /** Apply the explicit (AQE-exempt) CPU-dense exchange ONLY when the
    * input-keyed width exceeds the session shuffle width — i.e. when the
    * frame is big enough that the 100×-audit straggler protection is worth
    * pinning. At or below the session width the explicit exchange buys
    * nothing the consuming join/agg's own (AQE-coalescible) exchange
    * doesn't, and it taxes small inputs: user-numbered repartitions are
    * exempt from AQE coalescing, so every downstream stage holds `w`
    * near-empty tasks — measured round 14 as the correlated 1.2–2.2×
    * dedup-family sf0.1 A/B regression.
    *
    * Not for a CPU-dense kernel that runs BEFORE the frame's first
    * exchange (gram/pack/shingle builds straight off the scan): no later
    * exchange parallelizes that stage, so a no-op here leaves it bound to
    * the parquet split count (measured as the d_prefix_jaccard 1.53× A/B
    * regression). Those sites repartition at [[cpuWidth]] always; the
    * narrow doc shuffle is kilobytes-per-row against gram CPU. */
  private[graft] def widen(df: DataFrame, w: Int, cols: Column*): DataFrame =
    if (w > sessionWidth(df.sparkSession)) df.repartition(w, cols: _*)
    else df

  /** Catalyst's estimated plan bytes — file bytes for scans, propagated
    * estimates above them; no job runs. ≤ 0 when unavailable. */
  private[graft] def planBytes(frame: DataFrame): BigInt =
    try frame.queryExecution.optimizedPlan.stats.sizeInBytes
    catch { case scala.util.control.NonFatal(_) => BigInt(0) }

  /** INPUT-KEYED width for CPU-dense stages (packed-set intersections,
    * gram explodes, per-value md5 unpivots): these stages cost compute
    * per input byte far above what the byte-targeted defaults budget, so
    * they need explicit (AQE-coalescing-exempt) repartitions — but a
    * CONSTANT over-width (the round-13 form, session parts × 8/16) taxes
    * small inputs with hundreds of near-empty tasks per stage, measured
    * as correlated 1.3–1.8× A/B regressions across the dedup family at
    * sf0.1 while only the 100× runs needed the width.
    *
    * Width = estimated plan bytes / `bytesPerTask`, clamped to
    * [session shuffle width, session width × `maxFactor`]. The estimate
    * is [[planBytes]], `bytesPerTask` defaults to [[BytesPerTask]]; the
    * clamp floor keeps small inputs at the session's natural width (the
    * pre-round-13 plan, bit-identical results either way) and the
    * ceiling reproduces the round-13 wide plan exactly where the 100×
    * audit needed it. An unavailable estimate (≤ 0) falls back to the
    * conservative wide form. */
  private[graft] def cpuWidth(frame: DataFrame,
      bytesPerTask: Long = BytesPerTask, maxFactor: Int = 8): Int = {
    val parts = sessionWidth(frame.sparkSession)
    val cap = math.max(parts, parts * maxFactor)
    val est = planBytes(frame)
    if (est <= 0) cap
    else ((est + bytesPerTask - 1) / bytesPerTask)
      .min(BigInt(cap)).max(BigInt(parts)).toInt
  }

  /** Summed LEAF scan bytes of the frame's optimized plan — the honest
    * input-volume proxy where the whole-plan estimate is poisoned by a
    * join's multiplied cardinalities. 0 when unavailable. (A
    * localCheckpoint leaf DOES carry stats — the materialized block
    * size.) */
  private[graft] def leafBytes(df: DataFrame): BigInt =
    try df.queryExecution.optimizedPlan.collectLeaves()
      .map(l => l.stats.sizeInBytes).filter(_ > 0).sum
    catch { case scala.util.control.NonFatal(_) => BigInt(0) }

  /** [[cpuWidth]] keyed on [[leafBytes]] — for widths computed above a
    * join, where the whole-plan estimate is inflated by multiplied
    * cardinalities (round-15 measured: 256/512-task near-empty stages
    * in pageRank — the round-14 trap reappearing through a join
    * estimate). Clamps like cpuWidth; an unavailable estimate returns
    * the session width (the conservative small side, NOT the wide cap —
    * callers here size exchanges that exist at every scale). */
  private[graft] def cpuWidthLeaf(df: DataFrame,
      bytesPerTask: Long = BytesPerTask, maxFactor: Int = 8): Int = {
    val parts = sessionWidth(df.sparkSession)
    val est = leafBytes(df)
    if (est <= 0) parts
    else ((est + bytesPerTask - 1) / bytesPerTask)
      .min(BigInt(math.max(parts, parts * maxFactor))).max(BigInt(parts)).toInt
  }

  /** Scan-parallelism rebalance ahead of a CPU-dense projection fed
    * straight off a scan (gram explodes, date-parse chains, per-row
    * kernel scans). Small parquet inputs carry a single row group, so
    * the kernel otherwise runs on the FILE-SPLIT count — measured round
    * 15 as one 4–13 s task while the session's other cores idle (guide
    * §2.5 input skew: "repartition immediately after the read").
    *
    * Scale-adaptive, not a local[32] constant: the exchange is added
    * ONLY while the frame's estimated natural split count
    * ([[leafBytes]] / `spark.sql.files.maxPartitionBytes`) is below the
    * session width — a 100 TB scan already carries thousands of splits
    * and skips the exchange entirely, paying nothing. Width is
    * [[cpuWidthLeaf]] (256 KB of source bytes per task, clamped to
    * [session width, 8×]). An unavailable estimate
    * (≤ 0: no stats, e.g. an RDD-backed frame) leaves the frame alone —
    * the conservative choice at scale; a localCheckpoint leaf DOES
    * carry stats (its block size) and the rebalance may fire on it.
    * Streaming frames are returned untouched. */
  private[graft] def cpuRebalance(df: DataFrame, cols: Column*): DataFrame = {
    val spark = df.sparkSession
    if (df.isStreaming) return df
    // scan parallelism comes from the LEAF scans, so size the decision
    // (and the width) on their summed bytes — a whole-plan estimate
    // above a join multiplies cardinalities and would mask a 3-split
    // scan behind a petabyte-scale guess (measured: the apply-dates
    // join input skipped the rebalance and kept its 5 s one-task parse)
    // a caller that already placed an explicit SHUFFLE exchange on this
    // frame's root-side spine (e.g. a gate-input rebalance ahead of its
    // projections) owns the layout — a second exchange here would be
    // pure cost. Only the unary spine counts: a repartition buried in
    // one branch of a join, or a coalesce (shuffle=false — the one-task
    // pathology this primitive targets), must NOT suppress the
    // rebalance (round-15 advice).
    val alreadyBalanced = try {
      import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionOperation}
      @annotation.tailrec
      def spine(p: LogicalPlan): Boolean = p match {
        case r: RepartitionOperation =>
          if (r.shuffle) true else spine(r.child)
        case u if u.children.size == 1 => spine(u.children.head)
        case _ => false
      }
      spine(df.queryExecution.optimizedPlan)
    } catch { case scala.util.control.NonFatal(_) => false }
    val est = leafBytes(df)
    if (alreadyBalanced || est <= 0) df
    else {
      val maxSplit =
        try spark.sessionState.conf.filesMaxPartitionBytes
        catch { case _: Throwable => 128L << 20 }
      val naturalSplits = (est + (maxSplit - 1)) / maxSplit
      val parts = sessionWidth(spark)
      if (naturalSplits >= BigInt(parts)) df
      else if (cols.isEmpty) df.repartition(cpuWidthLeaf(df))
      else df.repartition(cpuWidthLeaf(df), cols: _*)
    }
  }

  /** Distributed running sum — the primitive under [[packSequences]],
    * [[sampleToTokenBudget]] and [[shuffleShards]]. Adds `outCol` =
    * inclusive prefix sum of `value` over rows in ascending
    * (`orderCol`, tieCols) order, independently per `partCols` group.
    *
    * The naive form — `sum over (partition by part order by ord)` — is
    * ONE task per group holding the group's entire history; with few or
    * no groups that is the whole corpus on one core. This runs in three
    * bounded steps instead:
    *
    *  1. `buckets − 1` range boundaries over `orderCol` are baked into
    *     the plan as LITERALS (either caller-supplied `cuts` — the right
    *     move when `orderCol` is a uniform hash with known range — or a
    *     plan-build-time quantile/sample sketch). Bucket membership is a
    *     pure function of the row, so retries and both plan branches
    *     always agree;
    *  2. per-(group, bucket) running sums via a window — the one
    *     corpus-wide shuffle, parallel across groups × buckets;
    *  3. per-(group, bucket) totals prefix-scan in a tiny window over
    *     groups × buckets rows and broadcast back.
    *
    * (`orderCol`, tieCols) must be unique within each group — it defines
    * the order, so with duplicates the sum is ambiguous. */
  private[ops] def runningSum(df: DataFrame, orderCol: String, value: Column,
      outCol: String, buckets: Int, partCols: Seq[String] = Nil,
      tieCols: Seq[String] = Nil, cuts: Option[Array[Any]] = None)
      : DataFrame =
    runningSumN(df, orderCol, Seq(value -> outCol), buckets, partCols,
      tieCols, cuts)

  /** [[runningSum]] over SEVERAL value columns in ONE pass: same bucketed
    * prefix-sum shape (one corpus-wide window shuffle, one tiny offsets
    * window, one broadcast join back), with every (value, outCol) pair
    * sharing the bucket assignment, the window sort and the offsets
    * frame — a caller needing k prefix sums pays one pass, not k.
    *
    * The offsets frame has |groups| × `buckets` rows (group key, bucket
    * and k longs each) and is BROADCAST by hint — the driver collects it
    * and ships it to every executor, whatever
    * `spark.sql.autoBroadcastJoinThreshold` says. That is cheap for the
    * few-groups case this primitive exists for; do not use it once
    * |groups| × `buckets` passes ~10^6 rows (~10^5 groups at the usual
    * 8–32 buckets). With that many groups the plain per-group window
    * `sum over (partition by part order by ord)` already spreads across
    * tasks and needs no broadcast. */
  private[ops] def runningSumN(df: DataFrame, orderCol: String,
      values: Seq[(Column, String)], buckets: Int,
      partCols: Seq[String] = Nil, tieCols: Seq[String] = Nil,
      cuts: Option[Array[Any]] = None): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(values.nonEmpty, "runningSumN: need at least one value column")
    val bounds: Array[Any] = cuts.getOrElse {
      if (buckets == 1) Array.empty[Any]
      else df.schema(orderCol).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          df.filter(col(orderCol).isNotNull).stat.approxQuantile(orderCol,
            (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
            .distinct.sorted.map(v => v: Any)
        case _ =>
          implicit val ord: Ordering[Any] = new Ordering[Any] {
            def compare(a: Any, b: Any): Int =
              a.asInstanceOf[Comparable[Any]].compareTo(b)
          }
          val ids = df.select(col(orderCol)).sample(withReplacement = false,
            fraction = 0.02, seed = 42).limit(buckets * 4096)
            .collect().map(_.get(0)).sorted
          if (ids.isEmpty) Array.empty[Any]
          else (1 until buckets).map { i =>
            ids((i.toLong * ids.length / buckets).toInt.min(ids.length - 1))
          }.distinct.toArray
      }
    }
    // bucket = #{bounds <= ord}: a literal when-chain, codegen'd. foldLeft
    // puts the HIGHEST cut outermost — the first matching `when` must be
    // the largest boundary the row clears.
    val bucket = bounds.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (cut, i)) => when(col(orderCol) >= lit(cut), lit(i + 1))
        .otherwise(acc)
    }
    val partB = partCols :+ "__rs_b"
    val wRun = Window.partitionBy(partB.map(col): _*)
      .orderBy((orderCol +: tieCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(partCols.map(col): _*).orderBy(col("__rs_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val idx = values.indices
    val withB = idx.foldLeft(df.withColumn("__rs_b", bucket)) { (d, i) =>
      d.withColumn(s"__rs_v$i", values(i)._1.cast("long"))
    }
    val offsets = withB.groupBy(partB.map(col): _*)
      .agg(sum(col("__rs_v0")).as("__rs_bsum0"),
        idx.tail.map(i => sum(col(s"__rs_v$i")).as(s"__rs_bsum$i")): _*)
    val offsetsW = idx.foldLeft(offsets) { (d, i) =>
      d.withColumn(s"__rs_off$i",
        coalesce(sum(col(s"__rs_bsum$i")).over(wOff), lit(0L)))
        .drop(s"__rs_bsum$i")
    }
    val run = idx.foldLeft(withB) { (d, i) =>
      d.withColumn(s"__rs_run$i", sum(col(s"__rs_v$i")).over(wRun))
    }
    val joined = run.join(broadcast(offsetsW), partB)
    idx.foldLeft(joined) { (d, i) =>
      d.withColumn(values(i)._2, col(s"__rs_off$i") + col(s"__rs_run$i"))
        .drop(s"__rs_v$i", s"__rs_run$i", s"__rs_off$i")
    }.drop("__rs_b")
  }

  def cleanCorpus(df: DataFrame, idCol: String, textCol: String,
      minQuality: Double): DataFrame = {
    val quality = TextAnalysis.qualityScore(col(textCol))
    val fp = TextAnalysis.fingerprint(col(textCol))
    // the quality+fingerprint kernels hash every text byte — spread a
    // one-row-group input across the session (round-16 audit: one
    // 850 ms task under q_corpus_pipeline; no-op at scale)
    val survivors = cpuRebalance(df)
      .withColumn("quality_score", quality)
      .filter(col("quality_score") >= minQuality)
      .withColumn("__fp", fp)
    val keeper = min(col(idCol)).over(Window.partitionBy(col("__fp")))
    survivors
      .withColumn("__keep", keeper === col(idCol))
      .filter(col("__keep"))
      .drop("__fp", "__keep")
  }

  /** Deterministic train/validation/test assignment: bucket = (first 60
    * bits of md5("salt:id")) mod 10000, compared against cumulative
    * per-ten-thousandth weight thresholds. Pure expressions and NEVER
    * rand() — the split of a given id is stable under re-runs, task
    * retries, cluster size, and data order, and any engine with md5 can
    * reproduce it (the md5-affine discipline of the dedup oracles).
    * Weights must sum to 1; every row gets exactly one split name. */
  def splitAssign(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "validation" -> 0.01, "test" -> 0.01),
      salt: String = "graft"): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val bucket = pmod(
      conv(substring(md5(concat(lit(salt), lit(":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(10000L))
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * 10000).toInt)
    val assign = splits.zip(thresholds).dropRight(1)
      .foldRight(lit(splits.last._1): org.apache.spark.sql.Column) {
        case (((name, _), t), acc) => when(bucket < t, lit(name)).otherwise(acc)
      }
    df.withColumn("split_bucket", bucket).withColumn("split", assign)
  }

  /** Per-key row CAP in deterministic md5-shuffled order — the
    * per-domain / per-source cap web-corpus curation applies so no
    * single crawl host dominates the mix (the DOWN-capping complement of
    * [[sampleByStratum]]'s rate sampling): each key keeps its `cap`
    * smallest-hash rows, a rand()-free uniform choice that re-runs,
    * retries, and the SQL oracle reproduce bit-for-bit.
    *
    * Shape: the [[graft.functions.TopKStructAgg]] O(cap)-state
    * aggregation (map-side partial merge, one key shuffle, never a
    * per-key sort of raw rows — a hot domain costs a wider buffer, not a
    * one-task sort), then one equi-join of the winners (≤ keys·cap rows)
    * back onto the corpus. The hash masks to 52 bits so its double form
    * in the agg struct is EXACT (2⁵³ is where doubles lose integers).
    * Output adds `cap_rank` (1-based position in (hash, id) order). */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val h = pmod(md5Long60(col(idCol), "cap"), lit(1L << 52))
      .cast("double")
    val winners = Similarity.topKPerGroup(
        df.select(col(keyCol), col(idCol)).withColumn("__s", -h),
        keyCol, idCol, "__s", cap)
      .select(col(keyCol), col(idCol), col("rank").as("cap_rank"))
    df.join(winners, Seq(keyCol, idCol))
  }

  /** WEIGHTED sampling without replacement, k per stratum — the
    * Efraimidis–Spirakis exponential-key scheme ("keep the k smallest
    * −ln(uᵢ)/wᵢ"), which yields EXACTLY the distribution of sequential
    * weighted draws without replacement, as one bounded top-k. Where
    * [[sampleByStratum]] keeps a fixed RATE and [[sampleToTokenBudget]]
    * fills a budget in hash order, this over/under-samples rows
    * PROPORTIONALLY to a per-row weight (quality score, token count,
    * dedup cluster size) — the corpus-mixing knob between them.
    *
    * Determinism: uᵢ = (md5Long60(id) + 1)/2⁶⁰ — never rand(); stable
    * under re-runs, retries, partitioning, and replicable by the DuckDB
    * oracle (the md5-Horner discipline). Keys quantize to 12 dp with an
    * id tiebreak so a last-ulp ln() divergence across engines cannot
    * reorder the cut. Rows with null/non-positive weights are excluded
    * (a zero-weight row can never be drawn). Ids MUST be unique per
    * stratum (the [[capPerKey]] contract): duplicate ids share one
    * uniform draw, which skews their joint inclusion odds — dedupe or
    * synthesize a row id first.
    *
    * Shape: one [[graft.functions.TopKStructAgg]] O(k)-state
    * aggregation per stratum (map-side merge, one key shuffle — never a
    * per-stratum sort of raw rows), winners join weights back. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      strataCol: String, k: Int, salt: String = "ws"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val w = col(weightCol).cast("double")
    val base = df
      .select(col(strataCol).as("g"), col(idCol).cast("long").as("id"),
        w.as("__w"))
      .filter(col("id").isNotNull && col("__w") > 0.0)
    val u = (md5Long60(col("id"), salt) + 1L).cast("double") /
      lit(math.pow(2.0, 60))
    val key = round(-log(u) / col("__w"), 12)
    val item = struct(key.as("negScore"), col("id"))
    base
      .groupBy("g")
      .agg(graft.functions.TopKStructAgg.topK(spark, item, k).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1L).cast("long").as("rank"),
        col("col.id").as("id"), col("col.negScore").as("key"))
      .join(base.select(col("g"), col("id"), col("__w").as("weight")),
        Seq("g", "id"))
      .select("g", "rank", "id", "weight", "key")
  }

  /** The full composed corpus-preparation run — the chain a pretraining
    * data pipeline actually executes, as ONE plan:
    *
    *  1. [[cleanCorpus]] — quality gate + exact dedup (keep min id per
    *     canonical fingerprint);
    *  2. near-dup pairs over the CLEANED corpus
    *     ([[Dedup.ngramJaccardPairsBounded]]: exact in-block Jaccard while
    *     blocks fit `maxBlockSize`, auto-tuned LSH banding above it — the
    *     linear-at-scale route);
    *  3. [[Cluster.dropNearDuplicates]] — pairs → connected components →
    *     drop all but each cluster's min-id survivor (broadcast anti-join;
    *     the corpus never shuffles);
    *  4. [[TextAnalysis.decontaminate]] — drop docs sharing >= `minShared`
    *     winnowed fingerprints with the eval set (eval fps broadcast in,
    *     contaminated ids broadcast back);
    *  5. [[splitAssign]] — md5-bucket train/validation/test, never rand();
    *  6. [[sampleByStratum]] — per-source mixing rates, a pure pushed-down
    *     filter. `sampleSalt` MUST differ from the split salt: with the
    *     same salt the sample bucket and the split bucket are the same
    *     number, so e.g. rate 0.5 would silently keep only 'train' rows;
    *  7. [[TextAnalysis.chunkDocuments]] — stride windows carrying
    *     (stratum, split) through, the pre-embedding step.
    *
    * Output: one row per chunk — (id, chunk_id, chunk_text,
    * n_chunk_tokens, stratum, split).
    *
    * Scale shape: the corpus flows through as narrow scans; the only
    * shuffles are the clean-stage fingerprint window, the bounded
    * pair-generation, and the CC fixpoint over the (tiny) pair list —
    * stages 4–7 are broadcasts and pure projections. The cleaned corpus
    * is materialized once ([[Dedup.materializeBase]]) because pair
    * generation, the anti-join, and the downstream chain all consume it;
    * pass `materializePath` for the cluster-durable parquet form. */
  def corpusPrep(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, evalSet: DataFrame,
      minQuality: Double = 0.5,
      ngramN: Int = 2, jaccardThreshold: Double = 0.05,
      maxBlockSize: Int = 1000,
      winnowK: Int = 16, winnowW: Int = 16, minShared: Int = 3,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "validation" -> 0.01, "test" -> 0.01),
      sampleRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0, sampleSalt: String = "mix",
      chunkTokens: Int = 32, strideTokens: Int = 24,
      materializePath: Option[String] = None): DataFrame = {
    val cleaned = Dedup.materializeBase(
      cleanCorpus(docs, idCol, textCol, minQuality),
      materializePath.map(_ + "/cleaned"))
    val pairs = Dedup.ngramJaccardPairsBounded(cleaned, idCol, textCol,
      blockCol = stratumCol, n = ngramN, threshold = jaccardThreshold,
      maxBlockSize = maxBlockSize,
      materializePath = materializePath.map(_ + "/pairs"))
    val deduped = Cluster.dropNearDuplicates(cleaned, idCol,
      pairs, "id_a", "id_b",
      materializePath = materializePath.map(_ + "/cc"))
    val decont = TextAnalysis.decontaminate(deduped, idCol, textCol,
      evalSet, idCol, textCol, k = winnowK, w = winnowW,
      minShared = minShared)
    val sampled = sampleByStratum(splitAssign(decont, idCol, splits),
      idCol, stratumCol, sampleRates, defaultRate, salt = sampleSalt)
    TextAnalysis.chunkDocuments(sampled, idCol, textCol,
      chunkTokens, strideTokens, carryCols = Seq(stratumCol, "split"))
  }

  /** Deterministic stratified sampling — the source-mixing knob of a
    * pretraining data run (sample web at 0.3, books at 1.0, …). Per
    * stratum, a row survives iff its [[splitAssign]]-style md5 bucket
    * falls under rate·10000; strata missing from `rates` get
    * `defaultRate`. Same guarantees as splitAssign: NEVER rand(), stable
    * under re-runs, retries, partitioning, and data order; a pure
    * filter expression — no shuffle, pushes past column pruning into the
    * scan. Rates are exact at 1/10000 granularity (a rate's survivors
    * are a strict superset of any smaller rate's). */
  def sampleByStratum(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      salt: String = "graft"): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    val bucket = pmod(
      conv(substring(md5(concat(lit(salt), lit(":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(10000L))
    val threshold = rates.toSeq.sortBy(_._1)
      .foldRight(lit(math.round(defaultRate * 10000).toInt)
          : org.apache.spark.sql.Column) {
        case ((name, r), acc) =>
          when(col(stratumCol) === name,
            lit(math.round(r * 10000).toInt)).otherwise(acc)
      }
    df.filter(bucket < threshold)
  }

  /** Fractional-epoch source upsampling — the repeat-factor knob of a
    * training mixture (LLaMA's "books ×2.3": high-value sources repeat,
    * the fractional remainder is a deterministic subsample; DoReMi-style
    * reweighting materialized as data). Each row of stratum `s` with
    * factor e emits ⌊e⌋ full copies (epoch 0..⌊e⌋−1) plus one more
    * (epoch ⌊e⌋) iff its [[sampleByStratum]]-style md5 bucket falls under
    * the fractional remainder ×10000 — so epoch k's membership is a
    * strict superset of epoch k+1's source subsample semantics, stable
    * under re-runs/retries/partitioning, and the SAME rows get the extra
    * epoch at any cluster size. Factors quantize at 1/10000 like the
    * sampler's rates.
    *
    * Scale shape: one narrow projection + generate — no shuffle, no
    * rand(); e < 1 strata degrade to exactly [[sampleByStratum]] (empty
    * sequence rows drop in the explode). Downstream training order comes
    * from [[shuffleShards]] over (id, epoch). */
  def epochUpsample(df: DataFrame, idCol: String, stratumCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0,
      salt: String = "graft"): DataFrame = {
    (epochs.values.toSeq :+ defaultEpochs).foreach(e =>
      require(e >= 0.0, s"epoch factors must be >= 0, got $e"))
    def parts(e: Double): (Int, Int) = {
      val bp = math.round(e * 10000)
      ((bp / 10000).toInt, (bp % 10000).toInt)
    }
    val zero: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
      val (f, b) = parts(defaultEpochs)
      (lit(f), lit(b))
    }
    val (nFull, fracBp) = epochs.toSeq.sortBy(_._1).foldRight(zero) {
      case ((name, e), (accF, accB)) =>
        val (f, b) = parts(e)
        (when(col(stratumCol) === name, lit(f)).otherwise(accF),
          when(col(stratumCol) === name, lit(b)).otherwise(accB))
    }
    val bucket = pmod(
      conv(substring(md5(concat(lit(salt), lit(":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(10000L))
    val nCopies = (nFull + when(bucket < fracBp, 1).otherwise(0)).cast("int")
    df.withColumn("__n", nCopies)
      .withColumn("epoch",
        explode(when(col("__n") > 0, sequence(lit(0), col("__n") - 1))
          .otherwise(array().cast("array<int>"))))
      .drop("__n")
  }

  /** Sequence packing — the final pre-training step: concatenate every
    * document's token stream in ascending-`idCol` order and cut the
    * stream every `capacity` tokens, so each training sequence is exactly
    * full (documents straddle sequence boundaries, GPT-style). Output is
    * one row per (document, sequence) PIECE:
    *
    *   (idCol, seq_id, seq_offset, doc_offset, piece_tokens, piece_text)
    *
    * where the piece is the document's tokens [doc_offset, doc_offset +
    * piece_tokens) placed at [seq_offset, …) of sequence seq_id. Zero-token
    * documents emit nothing; `idCol` must be a unique key (it defines the
    * global concatenation order — with duplicates the order is ambiguous).
    *
    * Scale shape: the global running-token-count is the trap here — a
    * bare `sum over (order by id)` window is ONE task holding the whole
    * corpus. Instead this is a distributed prefix-sum:
    *
    *  1. at plan-build time a seeded sample of ids picks `buckets − 1`
    *     range boundaries, baked into the plan as LITERALS — bucket
    *     membership is a pure function of the id, so recomputation,
    *     retries and both plan branches always agree (no reliance on
    *     exchange reuse or on `spark_partition_id`);
    *  2. per-bucket running sums via a window partitioned BY BUCKET — the
    *     one corpus-wide shuffle, `capacity`-independent and parallel
    *     across buckets;
    *  3. bucket token totals (a map-side-combined aggregate over the same
    *     scan) prefix-scan in a single tiny window over `buckets` rows and
    *     broadcast-join back — each row's global end-offset is its bucket
    *     offset plus its in-bucket running sum;
    *  4. each row then derives its straddled sequence range with exact
    *     integer arithmetic (`DIV` — no double rounding at petabyte token
    *     counts) and explodes into pieces: a narrow projection.
    *
    * Every output value is a pure integer function of (token counts,
    * order), so a SQL engine's global-window cumsum reproduces it exactly
    * — the oracle at gate scale IS the one-task form this plan avoids. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, buckets: Int = 32): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val base = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
    val cum = runningSum(base, idCol, col("__n"), "__ce", buckets)
      .withColumn("__cs", col("__ce") - col("__n"))
    val c = capacity.toLong
    cum
      .withColumn("seq_id", explode(sequence(
        expr(s"__cs DIV ${c}L"), expr(s"(__ce - 1) DIV ${c}L"))))
      .withColumn("__ps", greatest(col("__cs"), col("seq_id") * c))
      .withColumn("__pe", least(col("__ce"), (col("seq_id") + 1) * c))
      .select(col(idCol), col("seq_id"),
        (col("__ps") - col("seq_id") * c).cast("int").as("seq_offset"),
        (col("__ps") - col("__cs")).cast("int").as("doc_offset"),
        (col("__pe") - col("__ps")).cast("int").as("piece_tokens"),
        array_join(slice(col("__t"),
          (col("__ps") - col("__cs")).cast("int") + 1,
          (col("__pe") - col("__ps")).cast("int")), " ").as("piece_text"))
  }

  /** Token-budget mixture sampling — "take 30B tokens of web, 5B of
    * books": per stratum, documents are visited in deterministic
    * md5-shuffled order and kept while the stratum's INCLUSIVE running
    * token count stays within its budget (whole documents only; the
    * budget is never exceeded). Output = surviving rows + `n_tokens` +
    * `cum_tokens` (the stratum's running total through this doc).
    *
    * The visit order is the [[md5Long60]] hash of (salt, id) — never
    * rand(), stable under re-runs/retries/partitioning, and a DIFFERENT
    * salt gives an independent resample. The running count is the
    * distributed [[runningSum]] with equal-width literal cuts over the
    * hash's full 2^60 range (md5 is uniform by construction — no
    * quantile pass needed), so no stratum ever serializes through one
    * task no matter how few strata there are. */
  def sampleToTokenBudget(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue, salt: String = "budget",
      buckets: Int = 32): DataFrame = {
    (budgets.values.toSeq :+ defaultBudget).foreach(b =>
      require(b >= 0L, s"budgets must be >= 0, got $b"))
    val withH = df
      .withColumn("n_tokens", size(TextAnalysis.tokens(col(textCol))))
      .withColumn("__h", md5Long60(col(idCol), salt))
    val width = (1L << 60) / buckets
    val cuts = (1 until buckets).map(i => (i * width): Any).toArray
    val cum = runningSum(withH, "__h", col("n_tokens"), "cum_tokens",
      buckets, partCols = Seq(stratumCol), tieCols = Seq(idCol),
      cuts = Some(cuts))
    val budget = budgets.toSeq.sortBy(_._1)
      .foldRight(lit(defaultBudget): org.apache.spark.sql.Column) {
        case ((name, b), acc) =>
          when(col(stratumCol) === name, lit(b)).otherwise(acc)
      }
    cum.filter(col("cum_tokens") <= budget).drop("__h")
  }

  /** Deterministic corpus shuffle + fixed shard assignment — the
    * training-order step: every row gets a `shard` in [0, numShards) and
    * a dense 0-based `shard_pos` giving its position within the shard,
    * both pure functions of (salt, id). Writing `partitionBy("shard")`
    * sorted by `shard_pos` yields the shuffled training shards; a
    * different salt is an independent reshuffle (epoch re-orders without
    * rewriting data: new salt, same corpus).
    *
    * shard = [[md5Long60]] mod numShards; position = the distributed
    * [[runningSum]] of 1 per shard in hash order (equal-width literal
    * cuts over the uniform hash range) — dense and collision-free even
    * when numShards is small, because no shard's numbering ever
    * serializes through one task. Size numShards to the training-file
    * unit, not the cluster (tens of thousands at 100 TB). */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
      salt: String = "shuffle", buckets: Int = 32): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val withH = df.withColumn("__h", md5Long60(col(idCol), salt))
      .withColumn("shard", pmod(col("__h"), lit(numShards.toLong)).cast("int"))
    val width = (1L << 60) / buckets
    val cuts = (1 until buckets).map(i => (i * width): Any).toArray
    runningSum(withH, "__h", lit(1L), "shard_pos", buckets,
        partCols = Seq("shard"), tieCols = Seq(idCol), cuts = Some(cuts))
      .withColumn("shard_pos", (col("shard_pos") - 1L).cast("int"))
      .drop("__h")
  }

  /** SEQUENCE-PACKING audit for a fixed context length — the
    * concatenate-then-cut packing every autoregressive pretraining run
    * applies (docs joined in a deterministic shuffled order, the token
    * stream cut every `seqLen`): each doc gets the pack (training
    * example) its FIRST token lands in, plus whether it straddles a cut
    * — the fraction of docs split across examples and the tokens-per-
    * pack distribution are the knobs (context length, corpus order)
    * this audits before anyone burns GPU-hours on a bad packing.
    *
    * Semantics are exactly integer: visit order is the [[md5Long60]]
    * hash of (salt, id) with the id as tiebreak (never rand() — re-runs
    * and the SQL oracle reproduce it bit-for-bit); `start_offset` =
    * running token total BEFORE this doc; `pack_id` = start_offset DIV
    * seqLen (integral division, no IEEE); `crosses` ⇔ the doc's last
    * token lands in a later pack. Empty docs occupy no tokens: they
    * inherit the pack at their offset and never cross.
    *
    * Scale shape: ONE narrow token-count scan + the distributed
    * [[runningSum]] with equal-width literal cuts over the uniform
    * 2^60 hash range — no global sort, no single-task prefix, nothing
    * serializes however large the corpus. Output = input rows +
    * (n_tokens, start_offset, pack_id, crosses): writing
    * `partitionBy("pack_id")` sorted by start_offset yields the packed
    * examples themselves. */
  def sequencePack(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, salt: String = "pack", buckets: Int = 32): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val withH = df
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .withColumn("__h", md5Long60(col(idCol), salt))
    val width = (1L << 60) / buckets
    val cuts = (1 until buckets).map(i => (i * width): Any).toArray
    runningSum(withH, "__h", col("n_tokens"), "__cum", buckets,
        tieCols = Seq(idCol), cuts = Some(cuts))
      .withColumn("start_offset", col("__cum") - col("n_tokens"))
      .withColumn("pack_id",
        expr(s"CAST(start_offset DIV ${seqLen}L AS BIGINT)"))
      .withColumn("crosses", col("n_tokens") >= 1L &&
        expr(s"(__cum - 1L) DIV ${seqLen}L") > col("pack_id"))
      .drop("__h", "__cum")
  }

  /** Per-source budgets under temperature-scaled (α-smoothed) mixing
    * (Conneau et al. 2020, arXiv:1911.02116 §5.1 — the multilingual
    * rebalance): source s receives budget_s = ⌊T · n_s^α / Σ_t n_t^α⌋
    * tokens of the total budget T, where n_s is s's corpus token count.
    * α = 1 reproduces the natural distribution, α → 0 approaches uniform;
    * α ∈ (0,1) upweights tail sources at the expense of the head. One
    * bounded agg collect (rows = #sources).
    *
    * Engine-exactness: the α = 0.5 default runs on IEEE sqrt (correctly
    * rounded in every conforming engine, unlike ln/pow) and the weight
    * sum is folded in ascending source order, so an oracle re-deriving
    * the budgets from the same table lands on bit-identical doubles all
    * the way through the ⌊·⌋. Other α route through pow(), which is NOT
    * correctly rounded — a 1-ulp cross-engine difference can flip a floor
    * landing exactly on an integer. */
  def temperatureBudgets(df: DataFrame, textCol: String, sourceCol: String,
      totalBudget: Long, alpha: Double = 0.5): Map[String, Long] = {
    require(totalBudget >= 0L, s"totalBudget must be >= 0, got $totalBudget")
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val counts = df
      .groupBy(col(sourceCol).cast("string").as("s"))
      .agg(sum(size(TextAnalysis.tokens(col(textCol))).cast("long")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val weights = counts.map { case (s, n) =>
      s -> (if (alpha == 0.5) math.sqrt(n.toDouble)
            else math.pow(n.toDouble, alpha))
    }
    val den = weights.foldLeft(0.0)(_ + _._2)
    if (den == 0.0) weights.map { case (s, _) => s -> 0L }.toMap
    else weights.map { case (s, wt) =>
      s -> math.floor(totalBudget.toDouble * (wt / den)).toLong
    }.toMap
  }

  /** [[sampleToTokenBudget]] with the budgets derived by
    * [[temperatureBudgets]]: "mix T tokens at temperature α" as one call.
    * Same determinism contract as the underlying budget sampler (md5
    * visit order, per-stratum distributed prefix sum); sources outside
    * the observed set — impossible here, the budgets cover every source —
    * would fall to defaultBudget 0. */
  def sampleByTemperature(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, totalBudget: Long, alpha: Double = 0.5,
      salt: String = "budget", buckets: Int = 32): DataFrame =
    sampleToTokenBudget(df, idCol, textCol, sourceCol,
      temperatureBudgets(df, textCol, sourceCol, totalBudget, alpha),
      defaultBudget = 0L, salt = salt, buckets = buckets)

  /** Diversity-preserving (cluster-balanced) subsample: assign every
    * vector its deterministic k-means cell ([[IvfIndex.build]]) and keep
    * at most `perCellCap` members per cell, visited in md5 hash order of
    * (salt, id) — dense regions (redundant content) are thinned hard
    * while sparse regions survive intact, the cluster-balancing step of
    * SemDeDup-style curation (Abbas et al. 2023, arXiv:2303.09540 §4)
    * when a hard per-cluster quota, not a similarity threshold, is the
    * contract. Pure function of (salt, id, centroids): re-runs, retries
    * and partitioning cannot change the sample; a different salt redraws
    * within every cell. Output: (idCol, cell, cell_pos) with cell_pos the
    * 1-based within-cell visit rank.
    *
    * Scale shape: cell assignment is the task-broadcast nearest-centroid
    * kernel (no join, no shuffle), and the within-cell rank is the
    * distributed [[runningSum]] of 1s in hash order with equal-width
    * literal cuts over the uniform 2^60 hash range — no cell ever
    * serializes through one window task, however hot a cluster is. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, perCellCap: Long, iters: Int = 1,
      initCell: Option[Column] = None, salt: String = "cluster",
      buckets: Int = 32): DataFrame = {
    require(perCellCap >= 0L, s"perCellCap must be >= 0, got $perCellCap")
    val (assigned, _) = IvfIndex.build(
      df.select(col(idCol), col(vecCol)), idCol, vecCol, nCells, iters,
      initCell)
    val withH = assigned.withColumn("__h", md5Long60(col("id"), salt))
    val width = (1L << 60) / buckets
    val cuts = (1 until buckets).map(i => (i * width): Any).toArray
    runningSum(withH, "__h", lit(1L), "cell_pos", buckets,
        partCols = Seq("cell"), tieCols = Seq("id"), cuts = Some(cuts))
      .filter(col("cell_pos") <= perCellCap)
      .select(col("id").as(idCol), col("cell"), col("cell_pos"))
  }

  /** The round-8 composition gate: assemble a training mix by chaining the
    * four newest pipeline stages over one corpus —
    *
    *  1. [[Dedup.removeRepeatedSpans]] (ExactSubstr window dedup; docs the
    *     dedup fully eats drop out),
    *  2. [[TextAnalysis.nbLogOddsStruct]] quality filter on the DEDUPED
    *     text against positive/negative source slices drawn from the
    *     deduped corpus itself (mean token log-odds ≥ `minLogOdds`),
    *  3. [[sampleToTokenBudget]] per-source token-budget mixing on the
    *     surviving docs,
    *  4. [[packSequences]] into fixed-capacity training sequences.
    *
    * Each stage is individually oracle-pinned; this operator exists for
    * the composition bugs per-stage gates cannot see (fingerprint/column
    * collisions across stages, order sensitivity between the filter and
    * the budget's running sum, re-tokenization drift between the joined
    * `text_dedup` string and the original token stream). One id-keyed
    * join carries `sourceCol` back onto the dedup output; everything else
    * is the stages' own shuffle discipline (gram key, per-stratum prefix
    * sum, pack prefix sum — the NB filter adds zero).
    *
    * Scale shape: the ExactSubstr subtree is by far the heaviest stage
    * (the corpus-wide gram shuffle), and FOUR downstream consumers would
    * otherwise re-execute it — the two bounded NB class-count collects,
    * the pack stage's order-statistics pass, and the final job. So the
    * dedup output is materialized ONCE ([[Dedup.materializeBase]]; pass
    * `materializePath` for the cluster-durable parquet form, else
    * localCheckpoint) and every consumer reads the materialized form. The
    * budget-mixed survivors are materialized the same way: at real scale
    * they ARE the training corpus about to be packed and written, and the
    * pack stage reads them three times (bucket cuts, bucket totals, final
    * explode). Net job shape: ONE heavy job (the span dedup), two bounded
    * NB collects, one bounded mix job, and the cheap pack passes over the
    * materialized mix — pinned by the job-count test in OpsSpec. */
  def assembleTrainingMix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, spanN: Int, posSource: String, negSource: String,
      minLogOdds: Double, budgets: Map[String, Long], defaultBudget: Long,
      capacity: Int, addK: Double = 0.5,
      materializePath: Option[String] = None): DataFrame =
    assembleTrainingMixStaged(df, idCol, textCol, sourceCol, spanN,
      posSource, negSource, minLogOdds, budgets, defaultBudget, capacity,
      addK, materializePath).packed

  /** The intermediate frames of one [[assembleTrainingMix]] run.
    * `spanDedup` and `mixed` are the MATERIALIZED stages (checkpoint or
    * parquet — scanning them never re-executes the pipeline); `kept` is a
    * cheap filter view over `spanDedup`; `packed` is the final output.
    * [[report]] turns them into the per-stage accounting a data run logs:
    * docs and tokens surviving each stage, priced as one cheap scan per
    * stage — possible only BECAUSE the stages are materialized. */
  case class TrainingMixStages(spanDedup: DataFrame, kept: DataFrame,
      mixed: DataFrame, packed: DataFrame, sourceCol: String) {
    /** (stage, source) → docs + tokens after that stage, one row each for
      * stages span_dedup / quality_filter / token_budget. Token counts
      * use the stages' own `text_dedup` tokenization. */
    def report: DataFrame = {
      def stage(df: DataFrame, name: String) = df
        .groupBy(col(sourceCol).as("source"))
        .agg(count(lit(1)).as("docs"),
          sum(size(TextAnalysis.tokens(col("text_dedup"))).cast("long"))
            .as("tokens"))
        .withColumn("stage", lit(name))
      stage(spanDedup, "span_dedup")
        .unionByName(stage(kept, "quality_filter"))
        .unionByName(stage(mixed, "token_budget"))
        .select("stage", "source", "docs", "tokens")
    }
  }

  /** [[assembleTrainingMix]] with the per-stage frames exposed — see
    * [[TrainingMixStages]]. Same plan, same materialization discipline. */
  def assembleTrainingMixStaged(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, spanN: Int, posSource: String,
      negSource: String, minLogOdds: Double, budgets: Map[String, Long],
      defaultBudget: Long, capacity: Int, addK: Double = 0.5,
      materializePath: Option[String] = None): TrainingMixStages = {
    val des = Dedup.materializeBase(
      Dedup.removeRepeatedSpans(df, idCol, textCol, spanN)
        .filter(col("n_tokens_kept") > 0)
        .join(df.select(col(idCol), col(sourceCol)), Seq(idCol)),
      materializePath.map(_ + "/span_dedup"))
    val s = TextAnalysis.nbLogOddsStruct(df.sparkSession,
      TextAnalysis.tokens(col("text_dedup")),
      des.filter(col(sourceCol) === posSource), "text_dedup",
      des.filter(col(sourceCol) === negSource), "text_dedup", addK)
    val kept = des.withColumn("__nb", s)
      .withColumn("__nbs", col("__nb").getField("lo_sum").cast("double") /
        col("__nb").getField("n_tokens").cast("double"))
      .filter(col("__nbs") >= minLogOdds)
      .drop("__nb", "__nbs", "n_tokens", "n_tokens_kept")
    val mixed = Dedup.materializeBase(
      sampleToTokenBudget(kept, idCol, "text_dedup", sourceCol,
        budgets, defaultBudget),
      materializePath.map(_ + "/mixed"))
    TrainingMixStages(des, kept, mixed,
      packSequences(mixed, idCol, "text_dedup", capacity), sourceCol)
  }

  /** DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
    * select `sampleSize` docs from the corpus so the sample's distribution
    * tilts toward a target domain. Each doc's importance weight is its
    * SUMMED token log-odds between the target and raw reference slices
    * (the [[TextAnalysis.nbLogOddsStruct]] bag-of-tokens model — DSIR's
    * hashed-n-gram ratio without the hashing, so the weight is exact and
    * oracle-replicable); sampling-without-replacement with probability
    * ∝ exp(weight) is drawn via the Gumbel-top-k trick made deterministic:
    * `key = weight + (−ln(−ln(u)))` with `u = (md5(salt,id)+1) / (2^60+1)`
    * — never rand(), so re-runs, retries and partitioning cannot change
    * the sample, and a different salt is an independent redraw. Empty docs
    * carry weight 0 (no evidence), staying eligible at the prior.
    *
    * Scale shape: the weight model rides task-broadcast in the NbScoreExpr
    * codegen kernel (zero joins/shuffles), and the global top-k compiles
    * to TakeOrderedAndProject — per-partition k-heaps merged on the
    * driver, never a full sort shuffle. Driver memory is O(sampleSize);
    * for samples too large for one driver, take per-shard top-ks with
    * [[splitAssign]]-style md5 shards and union. */
  def importanceResample(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      raw: DataFrame, rawTextCol: String,
      sampleSize: Int, addK: Double = 0.5,
      salt: String = "dsir"): DataFrame = {
    require(sampleSize >= 1, s"sampleSize must be >= 1, got $sampleSize")
    val s = TextAnalysis.nbLogOddsStruct(corpus.sparkSession,
      TextAnalysis.tokens(col(textCol)), target, targetTextCol,
      raw, rawTextCol, addK)
    // u in (0,1): (h+1)/(2^60+1) — h spans [0, 2^60), so u never hits 0
    // (ln(0)) or 1 (ln(-0.0) after the inner ln)
    val u = (md5Long60(col(idCol), salt).cast("double") + lit(1.0)) /
      lit(1.152921504606846977e18)
    corpus.select(col(idCol), s.as("__nb"))
      .select(col(idCol),
        col("__nb").getField("n_tokens").as("n_tokens"),
        coalesce(col("__nb").getField("lo_sum").cast("double"), lit(0.0))
          .as("logratio"))
      .withColumn("gumbel_key", col("logratio") - log(-log(u)))
      // SELECTION key quantized to 9 dp: ln() is not correctly-rounded,
      // and Spark's Math.log vs another engine's libm can differ by 1 ulp
      // — on the raw double key that could flip which doc sits at the
      // sampleSize boundary even when every RENDERED value matches. After
      // HALF_UP rounding at 9 dp both engines agree unless the true value
      // sits within an ulp of a 5e-10 boundary (never observed for
      // transcendental keys; documented tolerance). Ties on the rounded
      // key break by id, so membership is engine-exact.
      .orderBy(round(col("gumbel_key"), 9).desc, col(idCol))
      .limit(sampleSize)
  }

  /** Incremental corpus ingestion: exact-dedup a NEW batch (today's crawl)
    * against an EXISTING already-deduped corpus WITHOUT re-deduping the
    * corpus — the daily-merge operation; re-running full-corpus dedup per
    * batch is quadratic cluster time over a corpus's life.
    *
    * Survivors = batch rows that are (a) the lowest-id occurrence of their
    * canonical fingerprint within the batch, and (b) absent from the
    * corpus's fingerprint set. Append the survivors to the corpus and the
    * invariant "one row per fingerprint" holds.
    *
    * Scale shape: both sides collapse to their 16-byte fingerprint before
    * anything wide; the within-batch keep is one fingerprint-keyed window
    * over the (small) batch; the batch-vs-corpus check is a left_anti
    * join co-partitioned on the fingerprint — at 100 TB the corpus side
    * is a 16-byte-key projection, never the text, and a corpus-side
    * fingerprint table maintained as its own parquet makes this a
    * batch-sized shuffle against a sorted key store. */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusTextCol: String): DataFrame = {
    val corpusFps = corpus
      .select(TextAnalysis.fingerprint(col(corpusTextCol)).as("__fp"))
      .distinct()
    batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__keep",
        min(col(idCol)).over(Window.partitionBy(col("__fp"))) === col(idCol))
      .filter(col("__keep"))
      .join(corpusFps, Seq("__fp"), "left_anti")
      .drop("__fp", "__keep")
  }

  /** Leakage-safe train/validation/test assignment: near-duplicates MUST
    * land in the same split — [[splitAssign]] on raw ids puts one member
    * of a near-dup pair in train and its twin in test, and the eval score
    * is contaminated. Every doc's split is decided by its near-dup
    * CLUSTER representative (the connected-component min id over
    * `pairs`), so an entire dup family moves between splits as one unit;
    * docs in no pair use their own id (their cluster of one).
    *
    * `pairs` is any near-dup pair list (n-gram Jaccard, MinHash+LSH,
    * SimHash, embedding-cosine). Output adds `split_key` (the deciding
    * id), `split_bucket`, `split`.
    *
    * Scale shape: the CC fixpoint runs over the pair list (pairs-sized,
    * pointer jumping, O(log diameter) rounds — [[Cluster]]); the corpus
    * itself never shuffles: cluster membership is pairs-sized and joins
    * back by id, and the split decision is a pure md5 expression on the
    * resolved key. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "validation" -> 0.01, "test" -> 0.01),
      salt: String = "graft"): DataFrame = {
    val clusters = Cluster.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cid"), col("cluster").as("__cluster"))
    val keyed = df
      .join(clusters, col(idCol) === col("__cid"), "left")
      .withColumn("split_key", coalesce(col("__cluster"), col(idCol)))
      .drop("__cid", "__cluster")
    splitAssign(keyed, "split_key", splits, salt)
  }

  /** Snapshot DELTA report — the daily question "what changed between
    * yesterday's corpus and today's": full-outer join on id comparing
    * canonical text fingerprints, each doc labeled added / removed /
    * changed / unchanged. The input to incremental reprocessing (only
    * `added`+`changed` need re-embedding, re-scoring, re-chunking) and
    * the audit artifact for corpus versioning.
    *
    * Scale shape: ONE co-partitioned shuffle join on id (with id-bucketed
    * tables, zero-shuffle); fingerprints are narrow per-row md5s. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp_old"))
    val n = newDf.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
  }

  /** CANONICAL-SOURCE selection among near-duplicates: when the same
    * content reaches the corpus through several feeds (raw crawl, cleaned
    * re-release, partner dump), keep ONE copy — from the most trusted
    * source. Each near-dup cluster (connected components over any pair
    * list) elects min-by (source priority, id); unpaired docs form
    * singleton clusters and always survive. Unlisted sources take
    * `defaultPriority` (worst unless told otherwise).
    *
    * Determinism: the winner is `min(struct(prio, id))` — an exact
    * integer lexicographic min, order- and partition-invariant. Scale
    * shape: the CC fixpoint is pairs-sized ([[Cluster.connectedComponents]]);
    * the corpus touches only two id-keyed joins (cluster membership,
    * winner broadcast-back) and the priority map rides as a literal. */
  def canonicalBySource(docs: DataFrame, idCol: String, sourceCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      priority: Map[String, Int], defaultPriority: Int = 1000000)
      : DataFrame = {
    require(priority.nonEmpty, "priority map must not be empty")
    val cc = Cluster.connectedComponents(pairs, aCol, bCol)
    val keyed = docs.select(col(idCol).cast("long").as("id"),
        col(sourceCol).cast("string").as("source"))
      .join(cc, Seq("id"), "left")
      .withColumn("cluster_key", coalesce(col("cluster"), col("id")))
      .withColumn("prio", coalesce(
        element_at(typedlit(priority), col("source")), lit(defaultPriority)))
    val winners = keyed.groupBy("cluster_key")
      .agg(min(struct(col("prio"), col("id"))).as("w"))
      .select(col("cluster_key"), col("w").getField("id").as("keep_id"))
    keyed.join(winners, Seq("cluster_key"))
      .select(col("id"), col("source"), col("cluster_key"), col("keep_id"),
        (col("id") === col("keep_id")).as("keep"))
  }

  /** QUALITY-MAX dedup election — [[canonicalBySource]]'s per-document
    * sibling: each near-dup cluster keeps its HIGHEST-`scoreCol` member
    * (ties to the smaller id) — "keep the longest / cleanest copy", the
    * standard near-dup resolution when feeds aren't ranked but documents
    * are. The winner is `max(struct(score, -id))` — exact lexicographic
    * max, order- and partition-invariant (use an exact-typed score:
    * integer counts, or a 9-dp-rounded double per the house boundary
    * discipline). Same scale shape as canonicalBySource: pairs-sized CC
    * fixpoint + two id-keyed joins. */
  def canonicalByQuality(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = Cluster.connectedComponents(pairs, aCol, bCol)
    val keyed = docs.select(col(idCol).cast("long").as("id"),
        col(scoreCol).as("score"))
      .join(cc, Seq("id"), "left")
      .withColumn("cluster_key", coalesce(col("cluster"), col("id")))
    val winners = keyed.groupBy("cluster_key")
      .agg(max(struct(col("score").as("s"), (lit(-1L) * col("id")).as("ni")))
        .as("w"))
      .select(col("cluster_key"),
        (lit(-1L) * col("w").getField("ni")).as("keep_id"))
    keyed.join(winners, Seq("cluster_key"))
      .select(col("id"), col("score"), col("cluster_key"), col("keep_id"),
        (col("id") === col("keep_id")).as("keep"))
  }

  /** Per-source DEDUP-RATE report — the data-card numbers a corpus
    * release publishes ("src3 is 14% exact-duplicate, 31% near-dup"):
    * per source, document count, documents whose canonical fingerprint
    * collides corpus-wide (exact dups), documents appearing in any
    * near-dup pair, and the two rates. Rates are divisions of exact
    * integers — correctly rounded, engine-exact doubles.
    *
    * Scale shape: one fingerprint groupBy (map-side combined), one
    * distinct over the pairs' endpoints (pairs-sized), two id-keyed
    * semi-join-shaped marks, one source aggregation. The fingerprint
    * kernel is rebalanced to [[cpuWidth]] first — it hashes every text
    * byte, and at audit scale the raw scan otherwise runs in the
    * input's few parquet splits (measured: the 12.5 s max task of the
    * round-13 10× audit). */
  def dedupReport(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, pairs: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    // CHECKPOINTED, for two reasons measured at the 100× audit: (1) fps
    // has two consumers (the collision groupBy and the final mark join),
    // and (2) the join on fp infers isnotnull(fp) on the groupBy side —
    // predicate pushdown INLINES the whole fingerprint expression into a
    // scan-side Filter, re-hashing every text at the input's split width
    // (50 uniform ~17 s tasks). The checkpoint is a pushdown barrier:
    // the kernel runs once, wide, above the rebalance.
    val fps = widen(docs.select(col(idCol).as("id"),
        col(sourceCol).as("source"), col(textCol).as("__txt")),
        cpuWidth(docs), col("id"))
      .select(col("id"), col("source"),
        TextAnalysis.fingerprint(col("__txt")).as("fp"))
      .localCheckpoint()
    val dupFps = fps.groupBy("fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("fp")
    // endpoints checkpointed too: the a/b union otherwise duplicates the
    // ENTIRE pair-generation subtree (one copy per endpoint side); the
    // frame is pairs-sized — tiny next to the work it pins
    val ends = pairs.select(col(aCol).cast("long").as("__ea"),
      col(bCol).cast("long").as("__eb")).localCheckpoint()
    val nearIds = ends.select(col("__ea").as("id"))
      .unionByName(ends.select(col("__eb").as("id"))).distinct()
    fps.join(dupFps.withColumn("__ex", lit(1)), Seq("fp"), "left")
      .join(nearIds.withColumn("__nr", lit(1)), Seq("id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__ex").isNotNull, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("__nr").isNotNull, 1L).otherwise(0L)).as("n_near_dup"))
      .withColumn("exact_dup_rate",
        col("n_exact_dup").cast("double") / col("n_docs").cast("double"))
      .withColumn("near_dup_rate",
        col("n_near_dup").cast("double") / col("n_docs").cast("double"))
  }
}
