package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency/cardinality sketches over token streams — the
  * corpus-profiling passes a training-data pipeline runs before deciding
  * filters (which tokens dominate, how diverse is each source). Both
  * operators follow the md5-affine oracle discipline: every hash is a
  * Horner fold over md5 hex digits, so DuckDB re-derives sketch contents
  * bit-for-bit and the gates pin estimate AND exact side by side.
  *
  * Scale stance: a sketch's value at 100 TB is that its state is O(1) and
  * MERGEABLE — per-executor partial sketches combine by cell-wise `+`
  * (CMS) / `max` (HLL), which is exactly what the `groupBy.agg(sum/max)`
  * forms below compile to (partial aggregation map-side, merge on the
  * reduce side). Nothing here collects unbounded data: the CMS grid is a
  * fixed `depth x width` array, the HLL is `m = 64` registers per group,
  * and the heavy-hitter candidate pass is vocabulary-sized (a token
  * `groupBy`), never corpus-sized.
  */
object Sketch {

  /** 60-bit salted md5 hash of a token — same Horner-over-hex-digits
    * family as [[Pipeline.md5Long60]], SQL-replicable. */
  private def md5Long60(tok: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), tok)), 1, 15), 16, 10)
      .cast("long")

  /** Count-Min sketch over the corpus token stream + heavy-hitter query
    * (Cormode & Muthukrishnan 2005): `depth` hash rows of `width` counter
    * buckets, `est(w) = min_r cell(r, h_r(w))`, every token whose
    * estimate clears the `phiNum/phiDen` frequency threshold reported
    * with its estimate AND its exact count (CMS never underestimates —
    * the gate checks `est >= exact` row by row; the threshold compare is
    * integer cross-multiplication, no division). Top `k` by
    * (est desc, token asc): a bounded TakeOrderedAndProject.
    *
    * Shape: ONE corpus scan builds the vocabulary-sized token-count
    * frame (map-side combined; materialized because both the grid build
    * and the scoring pass read it); the grid is `depth x width` counters
    * — O(1) state, mergeable by cell-wise sum — collected to the driver
    * and folded back as literal arrays, so the estimate is pure
    * per-token arithmetic: zero joins, zero extra shuffles. */
  def cmsHeavyHitters(corpus: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 512,
      phiNum: Int = 1, phiDen: Int = 200, k: Int = 50,
      materializePath: Option[String] = None): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad sketch dims $depth x $width")
    require(phiNum >= 1 && phiDen >= phiNum, s"bad phi $phiNum/$phiDen")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = Dedup.materializeBase(
      corpus.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")),
      materializePath)
    // grid build: one job over the vocab frame; collect is <= depth*width
    // longs (the sketch IS this grid — per-partition partials merged by
    // the groupBy's cell-wise sum, the mergeable-sketch combine)
    val cellRows = toks.select(
        posexplode(array((0 until depth).map(r =>
          md5Long60(col("w"), s"cms$r") % width): _*)).as(Seq("row", "bucket")),
        col("cnt"))
      .groupBy("row", "bucket").agg(sum(col("cnt")).as("cell"))
      .collect()
    val grid = Array.fill(depth, width)(0L)
    cellRows.foreach(r => grid(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    val total = grid(0).sum // row 0 holds every token instance exactly once
    // estimate: min over the depth literal-array lookups — pure arithmetic
    val lookups = (0 until depth).map(r =>
      element_at(typedlit(grid(r).toSeq),
        (md5Long60(col("w"), s"cms$r") % width).cast("int") + 1))
    val est = if (lookups.sizeIs == 1) lookups.head else least(lookups: _*)
    toks.select(col("w").as("token"), est.as("est_count"),
        col("cnt").as("exact_count"))
      .filter(col("est_count") * phiDen >= lit(total) * phiNum)
      .orderBy(col("est_count").desc, col("token")).limit(k)
  }

  /** HyperLogLog registers + estimate of the distinct-token count per
    * group (Flajolet et al. 2007, m = 64 registers): token hash h (60
    * bits) splits into register index `h mod 64` and a 54-bit suffix
    * whose leading-zero run sets rho in [1, 55]; a group's register j
    * keeps max rho — the mergeable state (cell-wise max). Estimate =
    * alpha_64 * m^2 / sum_j 2^{-M_j}, with the standard small-range
    * linear-counting correction `m * ln(m / V)` when V registers are
    * untouched and the raw estimate is under 2.5m.
    *
    * Engine-exact everywhere up to the final formula: rho derives from
    * `length(bin(suffix))` (pure integer/string work, suffix via bit
    * shift — never a double division), the harmonic sum runs in INTEGER
    * arithmetic as sum of 2^{55 - M_j} (every term exact, order-free,
    * <= 64 * 2^55 so no overflow), and only the last division/ln is
    * floating point — rendered at 6 dp per the house ln-ulp discipline.
    * The exact distinct count rides alongside so the gate pins the
    * estimate's error honestly. */
  def hllDistinct(corpus: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val m = 64
    val alpha = 0.709 // alpha_64, Flajolet et al. 2007 Fig. 3
    val toks = corpus.select(col(groupCol).as("grp"),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val h = md5Long60(col("w"), "hll")
    val suffix = shiftright(h, 6) // h >= 0: arithmetic shift == logical
    val rho = when(suffix === 0, lit(55))
      .otherwise(lit(55) - length(bin(suffix)))
    val regs = toks
      .select(col("grp"), (h % m).as("reg"), rho.as("rho"))
      .groupBy("grp", "reg").agg(max(col("rho")).as("mrho"))
    // integer harmonic sum: present registers contribute 2^(55 - M_j);
    // the (m - present) untouched registers (M_j = 0) add 2^55 each and
    // are the V of the linear-counting correction (present => rho >= 1)
    val p55 = 1L << 55
    val agg0 = regs.groupBy("grp").agg(
      count(lit(1)).as("present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mrho AS INT))"))
        .as("s_present"))
    val exact = toks.groupBy("grp")
      .agg(count_distinct(col("w")).as("exact_distinct"))
    val zeroRegs = (lit(m) - col("present")).cast("long")
    val s = col("s_present") + zeroRegs * p55
    val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
      lit(p55.toDouble) / s.cast("double")
    val estCol = when(zeroRegs > 0 && raw <= lit(2.5 * m),
        lit(m.toDouble) * log(lit(m.toDouble) / zeroRegs.cast("double")))
      .otherwise(raw)
    agg0.join(exact, Seq("grp"))
      .select(col("grp"), col("exact_distinct"),
        round(estCol, 6).as("hll_est"), zeroRegs.as("zero_registers"))
  }

  /** The property that makes HLL the 100 TB distinct-count: MERGEABILITY.
    * Each shard (`partCol` value) builds its own m=64 register sketch;
    * the global sketch is the REGISTER-WISE MAX of the shard sketches —
    * an associative, commutative re-aggregation, so shard sketches can
    * be persisted once and merged across any grouping later without
    * touching raw data (the pre-aggregated-rollup contract exact
    * distinct cannot offer: exact shard distincts do NOT sum). Returns
    * one row: (n_shards, exact_distinct, hll_est, zero_registers), with
    * the exact global distinct alongside as the honesty column; the
    * merged estimate is bit-identical to sketching the union directly
    * (max is associative — pinned by a test).
    *
    * Same register/rho derivation as [[hllDistinct]]: md5-based 60-bit
    * hash, 6-bit register index, rho from the bin() string length —
    * pure integer work an SQL oracle replays exactly. */
  def hllMerge(corpus: DataFrame, partCol: String, textCol: String)
      : DataFrame = {
    val m = 64
    val alpha = 0.709
    val toks = corpus.select(col(partCol).as("grp"),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val h = md5Long60(col("w"), "hll")
    val suffix = shiftright(h, 6)
    val rho = when(suffix === 0, lit(55))
      .otherwise(lit(55) - length(bin(suffix)))
    // shard sketches: one row per (shard, register)
    val shardRegs = toks
      .select(col("grp"), (h % m).as("reg"), rho.as("rho"))
      .groupBy("grp", "reg").agg(max(col("rho")).as("mrho"))
    // merge = register-wise max across shards
    val merged = shardRegs.groupBy("reg").agg(max(col("mrho")).as("mrho"))
    val p55 = 1L << 55
    val agg0 = merged.agg(
      count(lit(1)).as("present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mrho AS INT))"))
        .as("s_present"))
    val zeroRegs = (lit(m) - col("present")).cast("long")
    val s = col("s_present") + zeroRegs * p55
    val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
      lit(p55.toDouble) / s.cast("double")
    val estCol = when(zeroRegs > 0 && raw <= lit(2.5 * m),
        lit(m.toDouble) * log(lit(m.toDouble) / zeroRegs.cast("double")))
      .otherwise(raw)
    agg0
      .crossJoin(corpus.agg(count_distinct(col(partCol)).as("n_shards")))
      .crossJoin(toks.agg(count_distinct(col("w")).as("exact_distinct")))
      .select(col("n_shards"), col("exact_distinct"),
        round(estCol, 6).as("hll_est"), zeroRegs.as("zero_registers"))
  }

  /** Pairwise AUDIENCE/VOCABULARY OVERLAP between groups by
    * inclusion–exclusion over HLL sketches — |A∩B| ≈ est(A) + est(B) −
    * est(A∪B), where est(A∪B) is the register-wise max merge
    * ([[hllMerge]]'s contract): the "how much do these two sources /
    * cohorts / shards share?" readout that exact distinct cannot
    * pre-aggregate (exact shard sets don't compose; register maxes do).
    * The exact intersection rides along as the honesty column, and the
    * estimate may go slightly NEGATIVE for near-disjoint pairs — that
    * is the known inclusion–exclusion error shape, reported raw rather
    * than clamped.
    *
    * Scale shape: raw tokens reduce ONCE to ≤ m registers per group;
    * everything pairwise runs on the (groups × 64)-row register frame
    * (work ∝ G²·m — meant for G = sources/cohorts, not unbounded keys;
    * the exact-intersection honesty join is the only token-domain
    * pairwise work). Same md5/register/rho derivation as
    * [[hllDistinct]] — pure integer work the oracle replays. */
  def hllOverlap(corpus: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val m = 64
    val alpha = 0.709
    val toks = corpus.select(col(groupCol).as("grp"),
      explode(TextAnalysis.tokens(col(textCol))).as("w")).distinct()
    val h = md5Long60(col("w"), "hll")
    val suffix = shiftright(h, 6)
    val rho = when(suffix === 0, lit(55))
      .otherwise(lit(55) - length(bin(suffix)))
    val regs = toks
      .select(col("grp"), (h % m).as("reg"), rho.as("rho"))
      .groupBy("grp", "reg").agg(max(col("rho")).as("mrho"))
    val p55 = 1L << 55
    def estOf(aggd: DataFrame): DataFrame = {
      val zeroRegs = (lit(m) - col("present")).cast("long")
      val s = col("s_present") + zeroRegs * p55
      val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
        lit(p55.toDouble) / s.cast("double")
      aggd.withColumn("est",
        when(zeroRegs > 0 && raw <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / zeroRegs.cast("double")))
          .otherwise(raw))
    }
    val single = estOf(regs.groupBy("grp").agg(
      count(lit(1)).as("present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mrho AS INT))"))
        .as("s_present")))
      .select(col("grp"), col("est"))
    val pairs = single.select(col("grp").as("g_a"))
      .crossJoin(single.select(col("grp").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val mergedRegs = pairs
      .join(regs, col("grp") === col("g_a") || col("grp") === col("g_b"))
      .groupBy("g_a", "g_b", "reg").agg(max(col("mrho")).as("mrho"))
    val unionEst = estOf(mergedRegs.groupBy("g_a", "g_b").agg(
      count(lit(1)).as("present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mrho AS INT))"))
        .as("s_present")))
      .select(col("g_a"), col("g_b"), col("est").as("__u"))
    val exact = toks.select(col("grp").as("g_a"), col("w"))
      .join(toks.select(col("grp").as("g_b"), col("w")), Seq("w"))
      .filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b").agg(count(lit(1)).as("exact_overlap"))
    unionEst
      .join(single.select(col("grp").as("g_a"), col("est").as("__ea")),
        Seq("g_a"))
      .join(single.select(col("grp").as("g_b"), col("est").as("__eb")),
        Seq("g_b"))
      .join(exact, Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"),
        round(col("__ea"), 6).as("est_a"),
        round(col("__eb"), 6).as("est_b"),
        round(col("__u"), 6).as("est_union"),
        round(col("__ea") + col("__eb") - col("__u"), 6)
          .as("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
  }

  /** MERGEABLE deterministic quantile sketch, per group: the k rows with
    * the smallest salted md5 hash of their UNIQUE id are a uniform
    * sample of the group (KMV / bottom-k sampling, Bar-Yossef 2002 —
    * rand()-free, so re-runs, retries and the SQL oracle all see the
    * SAME sample), and bottom-k of a union equals bottom-k over the
    * shards' bottom-k's, so shard sketches persist once and re-merge
    * across any later grouping without the raw data — the quantile
    * sibling of [[hllMerge]]'s register-max contract. Values ride in
    * the sketch, so quantiles are answerable FROM the sketch alone.
    *
    * Shape: ONE map-combinable groupBy whose state is the O(k)
    * [[graft.functions.BottomKStructAgg]] buffer — per-task memory is k
    * triples per group, one shuffle, never a per-group sort of raw rows.
    * Output: (group, sketch: array&lt;struct&lt;h, id, v&gt;&gt;, n_total). */
  def bottomKSketch(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val h = Pipeline.md5Long60(col(idCol), "bkq")
    df.select(col(groupCol).as("grp"),
        struct(h.as("h"), col(idCol).cast("long").as("id"),
          col(valueCol).cast("double").as("v")).as("__item"))
      .groupBy("grp")
      .agg(graft.functions.BottomKStructAgg
          .bottomK(spark, col("__item"), k).as("sketch"),
        count(lit(1)).as("n_total"))
  }

  /** Quantile ESTIMATES from a sketch frame ((grp, sketch, n_total) rows
    * of [[bottomKSketch]]): for each q, the sample value at rank
    * max(1, ⌈q·m⌉) in (v, id) order, m = sample size. Deterministic pick-an-existing-value semantics (no
    * interpolation — engines' interpolated quantiles diverge); the only
    * window runs over the ≤k-row exploded sample per group (bounded by
    * the sketch size, never the data). */
  def quantilesFromSketch(sketches: DataFrame,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("__v"), col("__id"))
    val sample = sketches
      .select(col("grp"), col("n_total"), explode(col("sketch")).as("__s"))
      .select(col("grp"), col("n_total"), col("__s.v").as("__v"),
        col("__s.id").as("__id"))
      .withColumn("__vr", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
    val qFrame = sketches.sparkSession
      .createDataFrame(qs.map(Tuple1(_))).toDF("q")
    sample.join(broadcast(qFrame),
        col("__vr") === greatest(lit(1L),
          ceil(col("q") * col("__m")).cast("long")))
      .select(col("grp"), col("q"), col("__v").as("est_v"),
        col("__m").as("n_sample"), col("n_total"))
  }

  /** One-call form: sketch + quantile estimates + the EXACT lower
    * quantile alongside as the honesty column (value at rank ⌈q·n⌉ over
    * the FULL group in value order — computed from per-(group, value)
    * count summaries and a cumulative window over the value domain,
    * never a per-group sort of raw rows). */
  def bottomKQuantiles(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int = 256,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val est = quantilesFromSketch(
      bottomKSketch(df, groupCol, idCol, valueCol, k), qs)
    // exact: cum counts over the value domain (summary-window
    // discipline); null values are dropped so both branches rank the
    // SAME population — BottomKStructAgg.update skips null-field rows,
    // and without this filter nulls sort first in the value order and
    // shift every exact rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("__v"))
    val cum = df
      .select(col(groupCol).as("grp"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("grp", "__v").agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", max(col("__cum")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
    val qFrame = df.sparkSession
      .createDataFrame(qs.map(Tuple1(_))).toDF("q")
    val exact = cum.join(broadcast(qFrame),
        col("__cum") >= greatest(lit(1L),
          ceil(col("q") * col("__n")).cast("long")))
      .groupBy(col("grp"), col("q"))
      .agg(min(col("__v")).as("exact_v"))
    est.join(exact, Seq("grp", "q"))
      .select(col("grp"), col("q"), col("est_v"), col("exact_v"),
        col("n_sample"), col("n_total"))
  }
}
