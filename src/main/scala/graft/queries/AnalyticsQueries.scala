package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Gate queries + DuckDB oracles for the round-9 analytics wave
  * (SURVEY.md §2.11 L93–L101): grouped normalization/outliers, SCD2
  * history, time-series gap fill, decay scoring, lexical
  * diversity/readability, boolean search, and blocked fuzzy linkage.
  */
object AnalyticsQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Kaplan–Meier survival per event type: duration = value, event
    // observed iff user_id % 3 != 0 (the rest censored) — risk-set
    // depletion and the log-survival cumsum ride the time-domain
    // summary frame, never raw rows
    "q_kaplan_meier" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("observed", col("user_id") % 3L =!= 0L)
      graft.ops.Stats.kaplanMeier(ev, "value", "observed", "event_type")
        .orderBy("g", "t")
    },
    // Spearman rank correlation per return flag between quantity and
    // extended price — doubled average ranks are exact integers, so
    // every moment is an exact DECIMAL sum; no window touches raw rows
    "q_spearman" -> { (s, d) =>
      graft.ops.Stats.spearmanCorr(Tables.lineitem(s, d), "l_quantity",
          "l_extendedprice", "l_returnflag")
        .orderBy("g")
    },
    // Jensen–Shannon divergence of the event-type mix per user cohort
    // between the month's halves — the categorical companion of
    // q_psi_drift (handles one-sided categories natively)
    "q_jsd_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("cohort", col("user_id") % 4L)
        .withColumn("snap",
          when(unix_timestamp(col("ts")) < 1705363200L, lit("base"))
            .otherwise(lit("cur")))
      graft.ops.Stats.jsDivergence(ev, "event_type", "snap", "base",
          "cur", "cohort")
        .orderBy("g")
    },
    // Cramér's V association between part type and part size per brand
    // — one cell shuffle, dense-grid χ² over marginal frames
    "q_cramers_v" -> { (s, d) =>
      graft.ops.Stats.cramersV(Tables.part(s, d), "p_type", "p_size",
          "p_brand")
        .orderBy("g")
    },
    // chi-square independence test on the same label pair as
    // q_cramers_v — strength (V) beside significance (Wilson-Hilferty
    // cube-root normal p off the A&S tail)
    "q_chi2_test" -> { (s, d) =>
      graft.ops.Stats.chiSquareTest(Tables.part(s, d), "p_type",
          "p_size", "p_brand")
        .orderBy("g")
    },
    // Kish effective sample size of the value-weighted events per type
    // — the honesty metric of every weighted pipeline
    "q_ess" -> { (s, d) =>
      graft.ops.Stats.effectiveSampleSize(Tables.events(s, d), "value",
          "event_type")
        .orderBy("g")
    },
    // lag-k autocorrelation of the daily value series per event type —
    // Pearson over dense zero-filled pairs; the lag-7 spike IS the
    // weekly cycle q_seasonal_profile quantifies
    "q_autocorr" -> { (s, d) =>
      graft.ops.Behavior.autocorr(Tables.events(s, d), "event_type",
          "ts", "value", stepSeconds = 86400L, lags = Seq(1, 2, 3, 7))
        .orderBy("g", "lag")
    },
    // day-of-week seasonal profile + STL-style seasonal strength per
    // event type over the same dense series
    "q_seasonal_profile" -> { (s, d) =>
      graft.ops.Behavior.seasonalProfile(Tables.events(s, d),
          "event_type", "ts", "value", stepSeconds = 86400L, period = 7)
        .orderBy("g", "phase")
    },
    // item-item cosine from order co-occurrence — the bounded-geometry
    // CF ranking beside q_assoc_rules' lift
    "q_item_cosine" -> { (s, d) =>
      graft.ops.Behavior.itemCosine(Tables.lineitem(s, d), "l_orderkey",
          "l_partkey", minPairBaskets = 2L)
        .orderBy("item_a", "item_b")
    },
    // l-diversity of users within each (event_type, day) cell — the
    // homogeneity-attack audit k-anonymity alone cannot provide
    "q_l_diversity" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("day",
        floor(unix_timestamp(col("ts")).cast("double") / 86400d)
          .cast("long"))
      graft.ops.Stats.lDiversity(ev, Seq("event_type", "day"),
          "user_id", l = 5L)
        .orderBy("event_type", "day")
    },
    // PII scrub over documents with injected synthetic PII (the corpus
    // itself is clean — the injection exercises counts AND redaction)
    "t_pii_scrub" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example.com or 10.0."),
          (col("doc_id") % 256L).cast("string"),
          lit(".7 call 555-123-4242 ok")))
      graft.ops.TextAnalysis.piiScrub(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // DAU/WAU/MAU + stickiness over the dense day grid
    "q_active_users" -> { (s, d) =>
      graft.ops.Behavior.activeUsers(Tables.events(s, d), "user_id",
          "ts", stepSeconds = 86400L, shortWindow = 7, longWindow = 28)
        .orderBy("d")
    },
    // seasonality-aware outliers: phase-mean residual + robust MAD z —
    // "unusual for a Friday", not "Friday is unusual"
    "q_seasonal_outliers" -> { (s, d) =>
      graft.ops.Behavior.seasonalOutliers(Tables.events(s, d),
          "event_type", "ts", "value", stepSeconds = 86400L, period = 7,
          zThresh = 2.0)
        .orderBy("g", "b")
    },
    // robust median/IQR scaling of document lengths per source — the
    // heavy-tail-proof companion of q_anomaly_zscore's mean/sigma
    "q_robust_scale" -> { (s, d) =>
      graft.ops.Stats.robustScale(Tables.documents(s, d), "doc_id",
          "n_chars", "source")
        .orderBy("doc_id")
    },
    // Efraimidis-Spirakis weighted sampling: 50 orders per priority,
    // drawn proportionally to total price, md5-deterministic (orders:
    // the synthetic lineitem carries duplicate (orderkey, linenumber)
    // rows, and E-S needs one uniform draw per unique id)
    "q_weighted_sample" -> { (s, d) =>
      graft.ops.Pipeline.weightedSample(Tables.orders(s, d), "o_orderkey",
          "o_totalprice", "o_orderpriority", k = 50)
        .orderBy("g", "rank")
    },
    // joint quantity x price distribution per return flag — the heatmap
    // a pair of marginal histograms can't reconstruct
    "q_histogram_2d" -> { (s, d) =>
      graft.ops.Stats.histogram2d(Tables.lineitem(s, d), "l_quantity",
          "l_extendedprice", "l_returnflag", xLo = 0.0, xHi = 50.0,
          xBins = 10, yLo = 0.0, yHi = 120000.0, yBins = 12)
        .orderBy("g", "bx", "by")
    },
    // per-event-type OLS trend of daily value on the day index —
    // slope/intercept/R² off exact DECIMAL moments
    "q_group_regression" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("day",
        floor(unix_timestamp(col("ts")).cast("double") / 86400d)
          .cast("long") % 100000L)
      graft.ops.Stats.linearFit(ev, "day", "value", "event_type")
        .orderBy("g")
    },
    // Theil-Sen robust slope over the same dense daily series — the
    // breakdown-resistant trend beside the OLS line
    "q_theil_sen" -> { (s, d) =>
      graft.ops.Behavior.theilSen(Tables.events(s, d), "event_type",
          "ts", "value", stepSeconds = 86400L)
        .orderBy("g")
    },
    // 5-95% trimmed mean of document lengths per source — drops the
    // tails winsorize would clamp
    "q_trimmed_mean" -> { (s, d) =>
      graft.ops.Stats.trimmedMean(Tables.documents(s, d), "n_chars",
          "source")
        .orderBy("g")
    },
    // invisible-character audit over documents with injected zero-width
    // and control bytes — counts, flag, and the stripped text
    "t_invisible_chars" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 3L === 0L,
          concat(col("text"), lit("\u200b x\ufeff"), lit("\u0007")))
          .otherwise(col("text")))
      graft.ops.TextAnalysis.invisibleChars(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // join-key skew profile of lineitem's part key — the pre-join
    // broadcast/salt/AQE-hint decision input
    "q_skew_profile" -> { (s, d) =>
      graft.ops.Stats.skewProfile(Tables.lineitem(s, d), "l_partkey")
        .orderBy("key_col")
    },
    // epsilon-DP Laplace counts per event type, md5-deterministic noise
    "q_dp_counts" -> { (s, d) =>
      graft.ops.Stats.dpCounts(Tables.events(s, d), "event_type",
          epsilon = 0.5)
        .orderBy("g")
    },
    // c-TF-IDF class-characteristic terms per source — the BERTopic
    // topic-labeling readout over the corpus's own classes
    "t_ctfidf_terms" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ops.Retrieval.ctfidfTerms(docs, "source",
          graft.ops.TextAnalysis.tokens(col("text")), k = 15)
        .orderBy("cls", "rank")
    },
    // Benjamini–Hochberg FDR over the per-(event_type, cohort) family
    // of Mann–Whitney tests between the month's halves — 4 tests per
    // event-type family, p via the A&S 26.2.17 normal tail at 9 dp
    "q_bh_fdr" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("gg", concat(col("event_type"), lit("|"),
          (col("user_id") % 4L).cast("string")))
        .withColumn("snap",
          when(unix_timestamp(col("ts")) < 1705363200L, lit("base"))
            .otherwise(lit("cur")))
      val tests = graft.ops.Stats.mannWhitney(ev, "value", "snap",
          "base", "cur", "gg")
        .select(substring_index(col("g"), "|", 1).as("fam"),
          substring_index(col("g"), "|", -1).as("tid"),
          graft.ops.Stats.normalTwoSidedP(col("z")).as("p"))
      graft.ops.Stats.bhFdr(tests, "tid", "p", "fam", alpha = 0.10)
        .orderBy("fam", "test_id")
    },
    // Wald SPRT per event type: is the value>50 rate p1=0.40 or
    // p0=0.35? Early-stopping replay in (ts, event_id) order off the
    // distributed prefix-sum primitive
    "q_sprt" -> { (s, d) =>
      graft.ops.Behavior.sprt(Tables.events(s, d), "event_type", "ts",
          "event_id", col("value") > 50.0, p0 = 0.35, p1 = 0.40)
        .orderBy("g")
    },
    // md5-deterministic randomization test of an 80/20-allocated value
    // difference per event type — the distribution-free p beside the
    // Welch t; 40 relabeled replicates, map-combined to (g, rep) cells.
    // The DELIBERATELY unequal arms exercise the allocation-matched
    // coin (a fair P=1/2 relabel would be anti-conservative here)
    "q_perm_test" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("arm",
        when(col("user_id") % 10L < 8L, lit("a")).otherwise(lit("b")))
      graft.ops.Stats.permutationTest(ev, "event_id", "value", "arm",
          "a", "b", "event_type", b = 40)
        .orderBy("g")
    },
    // G2 log-likelihood keyness of every term: src0 vs the rest of the
    // corpus — the corpus-linguistics "what characterizes this source"
    // readout; zero-count sides score via the 0·ln0 = 0 limit
    "t_keyness_g2" -> { (s, d) =>
      graft.ops.Retrieval.keynessG2(Tables.documents(s, d), "source",
          graft.ops.TextAnalysis.tokens(col("text")), "src0",
          minCount = 20L)
        .orderBy("term")
    },
    // single change-point per event type over the daily value series:
    // binary segmentation's one-split argmax on 9-dp-quantized gains,
    // ties to the smallest split
    "q_change_point" -> { (s, d) =>
      graft.ops.Behavior.changePoint(Tables.events(s, d), "event_type",
          "ts", "value", stepSeconds = 86400L, minSegment = 2)
        .orderBy("g")
    },
    // multi-touch attribution: view/click/signup touches inside 3 days
    // before each purchase, credited under the four standard models
    "q_attribution" -> { (s, d) =>
      graft.ops.Behavior.attributionCredit(Tables.events(s, d),
          "user_id", "ts", "event_type", "event_id",
          Seq("view", "click", "signup"), "purchase",
          windowSeconds = 3L * 86400L)
        .orderBy("channel")
    },
    // Unicode script composition over documents with injected
    // Cyrillic/CJK/Greek tails — the mixed-script spoofing audit
    "t_script_mix" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 7L === 1L,
          concat(col("text"), lit(" Привет мир")))
          .when(col("doc_id") % 7L === 2L,
            concat(col("text"), lit(" 你好世界")))
          .when(col("doc_id") % 7L === 3L,
            concat(col("text"), lit(" αβγ")))
          .otherwise(col("text")))
      graft.ops.TextAnalysis.scriptMix(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // Zipf rank-frequency fit per source over the top-500 terms — the
    // "is this natural language?" power-law readout
    "t_zipf_fit" -> { (s, d) =>
      graft.ops.Retrieval.zipfFit(Tables.documents(s, d), "source",
          graft.ops.TextAnalysis.tokens(col("text")), maxRank = 500)
        .orderBy("cls")
    },
    // term burstiness (zeros-included variance-to-mean) for terms in
    // >= 20 docs — the listless stopword/topicality separator
    "t_term_burstiness" -> { (s, d) =>
      graft.ops.Retrieval.termBurstiness(Tables.documents(s, d),
          "doc_id", graft.ops.TextAnalysis.tokens(col("text")),
          minDf = 20L)
        .orderBy("term")
    },
    // EWMA trend line over the daily value series per event type —
    // the per-step-rounded DECIMAL recursion the oracle replays as a
    // recursive CTE
    "q_ewma" -> { (s, d) =>
      graft.ops.Behavior.ewma(Tables.events(s, d), "event_type", "ts",
          "value", stepSeconds = 86400L, alpha = 0.3)
        .orderBy("g", "b")
    },
    // Adamic-Adar / Jaccard link-prediction features over the adjacent-
    // line part graph (the q_triangle_count edge set)
    "q_adamic_adar" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val e = li.select(col("ok"), col("ln"), col("pk").as("p1"))
        .join(li.select(col("ok"), (col("ln") - 1).as("ln"),
          col("pk").as("p2")), Seq("ok", "ln"))
        .filter(col("p1") =!= col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      graft.ops.Graph.adamicAdar(e, "src", "dst", minCommon = 2L)
        .orderBy("node_a", "node_b")
    },
    // referential-integrity audit of lineitem->orders with injected
    // orphans (every 97th order dropped from the parent side)
    "q_fk_audit" -> { (s, d) =>
      val parent = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97L =!= 0L)
      graft.ops.Stats.integrityAudit(Tables.lineitem(s, d),
          "l_orderkey", parent, "o_orderkey")
    },
    // funnel step latency: seconds between step completions for the
    // view->click->purchase funnel — the time-to-convert readout the
    // q_event_funnel counts can't show
    "q_funnel_latency" -> { (s, d) =>
      graft.ops.Behavior.funnelLatency(Tables.events(s, d), "user_id",
          "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("step")
    },
    // zero-converter tail step: no 'refund' events exist, so step 3 has
    // NO converters — it must still surface (n = 0, null latencies)
    // instead of vanishing from the report
    "q_funnel_latency_sparse" -> { (s, d) =>
      graft.ops.Behavior.funnelLatency(Tables.events(s, d), "user_id",
          "ts", "event_type", Seq("view", "purchase", "refund"))
        .orderBy("step")
    },
    // Poisson-bootstrap CI for the mean value per event type — the
    // at-scale bootstrap (independent Poisson(1) weights, one scan per
    // replicate set), md5-deterministic
    "q_bootstrap_ci" -> { (s, d) =>
      graft.ops.Stats.bootstrapCI(Tables.events(s, d), "event_id",
          "value", "event_type", b = 100)
        .orderBy("g")
    },
    // token-weighted quartiles of document length per source — "the doc
    // the middle TOKEN lives in", the data-card stat unweighted
    // percentile misstates; rational-q integer cross-multiplication
    // picks an existing value, cells-not-rows window
    "q_weighted_quantile" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("n_tokens",
        graft.ops.TextAnalysis.tokenCount(col("text")))
      graft.ops.Stats.weightedQuantiles(docs, "source", "n_chars",
          "n_tokens")
        .orderBy("grp", "q")
    },
    // Holt level+trend smoothing over the daily value series — the
    // forecast line beside q_ewma's lagging average
    "q_holt" -> { (s, d) =>
      graft.ops.Behavior.holtLinear(Tables.events(s, d), "event_type",
          "ts", "value", stepSeconds = 86400L, alpha = 0.3, beta = 0.1)
        .orderBy("g", "b")
    },
    // pairwise source vocabulary overlap via HLL inclusion-exclusion,
    // exact intersection as the honesty column
    "t_hll_overlap" -> { (s, d) =>
      graft.ops.Sketch.hllOverlap(Tables.documents(s, d), "source",
          "text")
        .orderBy("g_a", "g_b")
    },
    // decision-stump screening: which lineitem column best separates
    // returned lines? One melt scan, value-domain candidate windows
    "q_best_split" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .withColumn("y", col("l_returnflag") === "R")
      graft.ops.Stats.bestSplit(li,
          Seq("l_quantity", "l_extendedprice", "l_discount"), "y")
        .orderBy("feature")
    },
    // CUPED variance reduction: per-user first-half value sum as the
    // pre-period covariate for the second-half metric, per cohort
    "q_cuped" -> { (s, d) =>
      val cutoff = 1705363200L
      val unit = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(unix_timestamp(col("ts")) < cutoff,
          col("value").cast("decimal(14,2)")))
          .cast("decimal(18,2)").cast("double").as("x"),
          sum(when(unix_timestamp(col("ts")) >= cutoff,
            col("value").cast("decimal(14,2)")))
            .cast("decimal(18,2)").cast("double").as("y"))
        .withColumn("g",
          concat(lit("c"), (col("user_id") % 4L).cast("string")))
      graft.ops.Stats.cupedAdjust(unit, "user_id", "y", "x", "g")
        .orderBy("g", "id")
    },
    // top-25 event-path trigrams within (user, day) — funnel discovery
    "q_path_trigrams" -> { (s, d) =>
      graft.ops.Behavior.pathTrigrams(Tables.events(s, d), "user_id",
          "ts", "event_type", "event_id", k = 25)
        .orderBy("rank")
    },
    // grouped ROC-AUC: does the char-length proxy ORDER token-rich docs
    // above token-poor ones per source? Exact rank-sum identity on
    // doubled integer ranks — no threshold grid
    "q_auc_roc" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("y",
        graft.ops.TextAnalysis.tokenCount(col("text")) > 250)
      graft.ops.Stats.aucRoc(docs, "n_chars", "y", "source")
        .orderBy("g")
    },
    // Mann–Whitney U between the month's halves per event type — the
    // nonparametric location companion of q_ks_test/q_ab_ttest; exact
    // half-integer U, tie-corrected z
    "q_mann_whitney" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("snap",
        when(unix_timestamp(col("ts")) < 1705363200L, lit("base"))
          .otherwise(lit("cur")))
      graft.ops.Stats.mannWhitney(ev, "value", "snap", "base", "cur",
          "event_type")
        .orderBy("g")
    },
    // mutual information between part type and size per brand — the
    // bits-measured companion of q_cramers_v on the same label pair
    "q_mutual_info" -> { (s, d) =>
      graft.ops.Stats.mutualInfo(Tables.part(s, d), "p_type", "p_size",
          "p_brand")
        .orderBy("g")
    },
    // equal-frequency binning of document lengths per source (k=8):
    // pure integer ECDF arithmetic — deterministic under ties where
    // ntile() is not
    "q_equal_freq_bins" -> { (s, d) =>
      graft.ops.Stats.equalFreqBins(Tables.documents(s, d), "doc_id",
          "n_chars", "source", k = 8)
        .orderBy("doc_id")
    },
    // leave-one-out target encoding of order priority against total
    // price — exact DECIMAL numerators, one division per row
    "q_target_encode" -> { (s, d) =>
      graft.ops.Stats.targetEncodeLoo(Tables.orders(s, d), "o_orderkey",
          "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    },
    // decile lift/gain table per language for the char-length proxy —
    // the operational form of q_auc_roc's ranking summary
    "q_lift_table" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("y",
        graft.ops.TextAnalysis.tokenCount(col("text")) > 250)
      graft.ops.Stats.liftTable(docs, "n_chars", "y", "lang", k = 10)
        .orderBy("g", "bucket")
    },
    // per-source z-scores over document lengths, |z| > 2 anomaly flags:
    // DECIMAL-exact moments (one group shuffle), broadcast back onto a
    // zero-shuffle scoring scan; decisions on the 6-dp-rounded z
    "q_anomaly_zscore" -> { (s, d) =>
      graft.ops.Stats.zscoreFlags(Tables.documents(s, d), "doc_id",
          "n_chars", "source", zThresh = 2.0)
        .orderBy("doc_id")
    },
    // per-source percent-rank normalization of document lengths — the
    // distribution-free score calibration; one per-group window
    "q_quantile_normalize" -> { (s, d) =>
      graft.ops.Stats.percentRankNormalize(Tables.documents(s, d),
          "doc_id", "n_chars", "source")
        .orderBy("source", "n_chars", "doc_id")
    },
    // SCD Type-2 history from the event change log: per-user event_type
    // versions with [valid_from, valid_to) event-id spans, consecutive
    // same-value deliveries compacted; everything shuffles once on the key
    "q_scd2_history" -> { (s, d) =>
      graft.ops.Cdc.scd2History(Tables.events(s, d), "user_id",
          "event_id", Seq("event_type"))
        .orderBy("user_id", "valid_from")
    },
    // daily gap-filled per-user value series with forward fill: in-plan
    // grid generate between each user's first/last day, DECIMAL-exact
    // per-bucket sums, last(ignoreNulls) carry-forward
    "q_gap_fill" -> { (s, d) =>
      graft.ops.Behavior.gapFill(Tables.events(s, d), "user_id", "ts",
          "value", stepSeconds = 86400L)
        .orderBy("u", "b")
    },
    // half-life-bucketed exponential decay engagement score as of
    // 2024-02-01, half-life 7 days: integer exponents make 0.5^n exact,
    // terms quantize to DECIMAL(18,6) so the sum is order-invariant
    "q_decay_score" -> { (s, d) =>
      graft.ops.Behavior.decayScore(Tables.events(s, d), "user_id", "ts",
          "value", asOfEpoch = 1706745600L, halfLifeDays = 7L)
        .orderBy("u")
    },
    // per-document type-token ratio + hapax share via the zero-shuffle
    // sorted-run fold — provably equal to the oracle's explode→groupBy
    "t_lexical_diversity" -> { (s, d) =>
      graft.ops.TextAnalysis.lexicalDiversity(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // Flesch-style readability with the regex syllable proxy (vowel-group
    // runs) — one narrow scan, sentence floor at 1
    "t_readability" -> { (s, d) =>
      graft.ops.TextAnalysis.readability(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // conjunctive AND search + exact-phrase predicate as ONE codegen
    // narrow projection (no explode, no posting shuffle)
    "t_boolean_search" -> { (s, d) =>
      graft.ops.Retrieval.conjunctiveSearch(Tables.documents(s, d),
          "doc_id", "text", Seq("query", "table"), Some("the line"))
        .orderBy("doc_id")
    },
    // blocked fuzzy linkage: within-brand part-name pairs at edit
    // distance ≤ 2 — balanced triangle self-join chunks, lossless length
    // prune before the DP, in-plan oversize-block guard
    "q_fuzzy_match" -> { (s, d) =>
      graft.ops.Linkage.fuzzyPairs(Tables.part(s, d), "p_partkey",
          "p_name", "p_brand", maxDist = 2)
        .orderBy("blk", "id_a", "id_b")
    },
    // prefix-filtered set-similarity join: LOSSLESS recall (the oracle is
    // brute force) — rarest-gram prefixes generate candidates, packed-set
    // exact verify; no blocking key, no banding recall loss
    "d_prefix_jaccard" -> { (s, d) =>
      graft.ops.Dedup.prefixFilterJaccardPairs(Tables.documents(s, d),
          "doc_id", "text", n = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")
    },
    // table profiling data card over lineitem: one aggregation job for
    // every column's row/null/exact-distinct counts + min/max renders
    "q_profile_table" -> { (s, d) =>
      graft.ops.Profile.profileTable(Tables.lineitem(s, d))
        .orderBy("column")
    },
    // the RECURRING-profile twin: n_distinct via the md5 64-register HLL
    // (oracle replays the estimate bit-exactly) — no Expand, the per-
    // column register shuffle collapses map-side to ≤ #cols×64 rows
    "q_profile_table_approx" -> { (s, d) =>
      graft.ops.Profile.profileTableApprox(Tables.lineitem(s, d))
        .orderBy("column")
    },
    // grouped top-k WITHOUT a per-group sort: O(k)-state map-combinable
    // top-k aggregation (TopKStructAgg) — top-3 orders per customer
    "q_group_topk" -> { (s, d) =>
      graft.ops.Similarity.topKPerGroup(Tables.orders(s, d), "o_custkey",
          "o_orderkey", "o_totalprice", k = 3)
        .orderBy("o_custkey", "rank")
    },
    // time-weighted average per user over irregular event samples:
    // exact microsecond durations, DECIMAL-exact weighted sums
    "q_time_weighted_avg" -> { (s, d) =>
      graft.ops.Behavior.timeWeightedAvg(Tables.events(s, d), "user_id",
          "ts", "value")
        .orderBy("u")
    },
    // composed entity resolution: fuzzy pairs -> CC transitive closure ->
    // canonical election + entity sizes; the chained oracle is the
    // composition-bug net (pair-level gates can't see closure bugs)
    "q_entity_resolution" -> { (s, d) =>
      graft.ops.Linkage.resolveEntities(Tables.part(s, d), "p_partkey",
          "p_name", "p_brand", maxDist = 2)
        .orderBy("p_partkey")
    },
    // semi-supervised label propagation over the co-purchase graph:
    // 25%-seeded p_type labels spread 2 synchronized rounds, majority
    // vote with ties to the smallest label, seeds pinned
    "q_label_prop" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val e = li.select(col("ok"), col("ln"), col("pk").as("p1"))
        .join(li.select(col("ok"), (col("ln") - 1).as("ln"),
          col("pk").as("p2")), Seq("ok", "ln"))
        .filter(col("p1") =!= col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      val seeds = Tables.part(s, d)
        .filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey"), col("p_type"))
      graft.ops.Graph.labelPropagation(e, "src", "dst", seeds,
          "p_partkey", "p_type", iterations = 2)
        .orderBy("node")
    },
    // fixed-width per-source histogram of document lengths with the
    // dense (group, bin) grid — empty bins emit 0
    "q_histogram" -> { (s, d) =>
      graft.ops.Stats.histogram(Tables.documents(s, d), "n_chars",
          "source", lo = 0.0, hi = 2000.0, bins = 20)
        .orderBy("g", "bin")
    },
    // per-user modal event type, ties to the smallest label —
    // summary-windowed argmax, never a window over raw rows
    "q_group_mode" -> { (s, d) =>
      graft.ops.Stats.modePerGroup(Tables.events(s, d), "event_type",
          "user_id")
        .orderBy("g")
    },
    // Pearson correlation matrix over the lineitem metrics from ONE
    // aggregation job: DECIMAL-exact moments, textbook fixed-
    // parenthesization r, 6-dp render
    "q_corr_matrix" -> { (s, d) =>
      graft.ops.Stats.corrMatrix(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    },
    // Benford first-digit audit of prices per return flag: string-based
    // digit extraction, compiled 9-dp expected constants, quantized
    // chi-square terms
    "q_benford" -> { (s, d) =>
      graft.ops.Stats.benfordAudit(Tables.lineitem(s, d),
          "l_extendedprice", "l_returnflag")
        .orderBy("g", "digit")
    },
    // URL domain report over planted URLs (the corpus has none — the
    // gate appends deterministic ones): extract scan + domain shuffle,
    // blocklist flags
    "t_url_extract" -> { (s, d) =>
      val planted = Tables.documents(s, d).withColumn("text",
        concat(col("text"), lit(" see http://site"),
          (col("doc_id") % 37).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and https://Mirror"), (col("doc_id") % 11).cast("string"),
          lit(".example.org/x")))
      graft.ops.TextAnalysis.urlDomains(planted, "doc_id", "text",
          Seq("site3.example.com", "mirror5.example.org"))
        .orderBy("domain")
    },
    // k-anonymity audit over customer quasi-identifiers: group sizes
    // per (nation, market segment), under-k combinations flagged
    "q_k_anonymity" -> { (s, d) =>
      graft.ops.Stats.kAnonymity(Tables.customer(s, d),
          Seq("c_nationkey", "c_mktsegment"), k = 5)
        .orderBy("c_nationkey", "c_mktsegment")
    },
    // t-closeness: per-segment nation distribution vs the whole table's
    // over the ordered nation domain — exact integer cumulative gaps,
    // one division at the render edge; completes the k-anon/l-div triad
    "q_t_closeness" -> { (s, d) =>
      graft.ops.Stats.tCloseness(Tables.customer(s, d),
          Seq("c_mktsegment"), "c_nationkey", t = 0.05)
        .orderBy("c_mktsegment")
    },
    // centroid (simplified) silhouette per embedding label: 9-dp
    // centroid means, sequential-fold distances, per-label exact mean
    "s_silhouette" -> { (s, d) =>
      graft.ops.Similarity.centroidSilhouette(Tables.embeddings(s, d),
          "vec_id", "embedding", "label")
        .withColumnRenamed("grp", "label")
        .orderBy("label")
    },
    // the NATIVE session_window twin of q_session_stats: same rows minus
    // the session id (Spark's overlap-or-touch merge == the strictly-
    // greater split rule, spec-pinned), same one-task window oracle
    "q_session_native" -> { (s, d) =>
      graft.ops.Behavior.sessionizeNative(Tables.events(s, d), "user_id",
          "ts", gapSeconds = 1800L)
        .orderBy("user_id", "session_start_us")
    },
    // reciprocal-rank fusion of a lexical (term-hit) and a prior
    // (length) ranking per query — the hybrid-search combiner; rank-
    // based, so the sides' incomparable score scales never matter
    "q_rrf_fusion" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val qs = Seq(1L -> Seq("query", "table"), 2L -> Seq("spark", "fast"),
        3L -> Seq("merge", "batch"))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), graft.ops.TextAnalysis.tokens(col("text"))
          .as("t"), col("n_chars"))
      val scored = qs.map { case (qid, terms) =>
        base.select(lit(qid).as("q_id"), col("doc_id"),
          size(filter(col("t"), x =>
            terms.map(q => x === q).reduce(_ || _))).as("hits"),
          col("n_chars"))
      }.reduce(_ unionByName _).filter(col("hits") > 0)
      def rankBy(ord: Seq[org.apache.spark.sql.Column]) = {
        val w = Window.partitionBy(col("q_id")).orderBy(ord: _*)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10).select("q_id", "doc_id", "rank")
      }
      val lexical = rankBy(Seq(col("hits").desc, col("doc_id").asc))
      val prior = rankBy(Seq(col("n_chars").desc, col("doc_id").asc))
      graft.ops.Retrieval.rrfFuse(lexical, prior, k = 60, topK = 10)
        .orderBy("q_id", "rank")
    },
    // field-level survivorship (golden record): per exact-name entity,
    // each field takes the first non-null value in (p_size, key) order —
    // the gate plants nulls so lower-priority rows must win fields
    "q_golden_record" -> { (s, d) =>
      val planted = Tables.part(s, d)
        .withColumn("p_type", when(col("p_partkey") % 3 === 0,
          lit(null)).otherwise(col("p_type")))
        .withColumn("p_brand", when(col("p_partkey") % 5 === 0,
          lit(null)).otherwise(col("p_brand")))
      graft.ops.Linkage.goldenRecord(planted, "p_name", Seq("p_size"),
          "p_partkey", Seq("p_type", "p_brand"))
        .orderBy("p_name")
    },
    // weekly churn labels with censoring: distinct (user, week), one
    // lead window over week summaries, undecidable tail labeled null
    "q_churn_labels" -> { (s, d) =>
      graft.ops.Behavior.churnLabels(Tables.events(s, d), "user_id",
          "ts", horizonWeeks = 1)
        .orderBy("u", "week")
    },
    // cumulative-distinct adoption curve: first-seen collapse + running
    // sum over week summaries — never a per-row distinct-so-far set
    "q_cumulative_distinct" -> { (s, d) =>
      graft.ops.Behavior.cumulativeDistinct(Tables.events(s, d),
          "user_id", "ts", "event_type")
        .orderBy("u", "week")
    },
    // contribution concentration + exact Gini over per-user activity:
    // everything runs on the count-VALUE distribution (summary windows),
    // boundary keys inside tied levels contribute fractionally, exact
    "q_concentration" -> { (s, d) =>
      graft.ops.Stats.concentrationReport(Tables.events(s, d), "user_id",
          Seq(0.01, 0.1, 0.5))
        .orderBy("top_fraction")
    },
    // COMPOSED user feature mart: decay + TWA + mode + breadth + latest
    // churn label off ONE materialized base — the chained oracle is the
    // composition-bug net
    "q_user_feature_mart" -> { (s, d) =>
      graft.ops.Behavior.userFeatureMart(Tables.events(s, d), "user_id",
          "ts", "value", "event_type", asOfEpoch = 1706745600L,
          halfLifeDays = 7L, horizonWeeks = 1)
        .orderBy("u")
    },
    // ROBUST per-source outliers via median/MAD (50% breakdown point —
    // the anomaly flags zscoreFlags' moments can't give once the
    // outliers inflate the std): two summary-window median passes,
    // broadcast joins, 6-dp-rounded robust z decides
    "q_mad_outliers" -> { (s, d) =>
      graft.ops.Stats.madOutliers(Tables.documents(s, d), "doc_id",
          "n_chars", "source", zThresh = 2.0)
        .orderBy("doc_id")
    },
    // per-user CUSUM level-shift monitor over daily value sums (dense
    // grid, silence counts as zero): the recursion as prefix-sum minus
    // running-min — three frames of one per-key window, DECIMAL-exact
    "q_cusum_drift" -> { (s, d) =>
      graft.ops.Behavior.cusumDrift(Tables.events(s, d), "user_id", "ts",
          "value", stepSeconds = 86400L, allowance = 150.0,
          threshold = 400.0)
        .orderBy("u", "b")
    },
    // per-source document cap in deterministic md5-shuffled order:
    // O(cap)-state top-k agg + one winners join — no per-key sort
    "q_domain_cap" -> { (s, d) =>
      graft.ops.Pipeline.capPerKey(Tables.documents(s, d), "source",
          "doc_id", cap = 40)
        .select("doc_id", "source", "cap_rank")
        .orderBy("doc_id")
    },
    // Heaps-law vocabulary growth in doc-id order: first-seen type
    // collapse + the distributed prefix-sum primitive (never a global
    // one-partition window)
    "t_vocab_growth" -> { (s, d) =>
      graft.ops.TextAnalysis.vocabularyGrowth(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // Good–Turing unseen mass + Chao1 richness per source: exact integer
    // frequency spectrum, two IEEE divisions at the render edge
    "t_vocab_coverage" -> { (s, d) =>
      graft.ops.TextAnalysis.vocabularyCoverage(Tables.documents(s, d),
          "source", "text")
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    },
    // gap-based sessionization (30-min timeout): bucket-stitched flags +
    // distributed per-user prefix sum; exact epoch-micros arithmetic
    "q_session_stats" -> { (s, d) =>
      graft.ops.Behavior.sessionize(Tables.events(s, d), "user_id", "ts",
          "event_id", gapSeconds = 1800L)
        .orderBy("user_id", "session_id")
    },
    // STREAMING twin of q_session_stats replayed end-to-end: normalized
    // events staged to parquet, the per-session-row stream run to
    // completion under Trigger.AvailableNow, closed sessions returned.
    // The oracle is the batch one-task window form MINUS each user's
    // final (still-open) session — the documented append-mode contract,
    // so the stream's emit-on-close rows are hash-pinned against DuckDB,
    // not just spec-pinned against the batch twin.
    "q_session_rows_stream" -> { (s, d) =>
      val src = TempDirs.create("sessrows").toString
      val ev = Tables.events(s, d).select("user_id", "ts", "event_id")
      ev.write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val qn = "sess_rows_gate_" +
        java.util.UUID.randomUUID().toString.take(8)
      val q = graft.ops.Streaming.sessionRowsStream(s, src, schema,
        "user_id", "ts", gapSeconds = 1800L, queryName = qn)
      q.processAllAvailable()
      q.stop()
      // copy the result OUT of the memory sink, then release the sink
      // table and the staged source: left in place they outlive the
      // gate and tax every later query in a bench run (measured: a
      // correlated ~1.4× drift on all alphabetically-later queries)
      val out = s.table(qn).orderBy("user_id", "session_id")
        .localCheckpoint()
      s.catalog.dropTempView(qn)
      val root = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(root).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      out
    },
    // PSI distribution drift per event type between the month's first
    // and second half: dense bins, ε-floored shares, quantized terms
    "q_psi_drift" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("snap",
        when(unix_timestamp(col("ts")) < 1705363200L, lit("base"))
          .otherwise(lit("cur")))
      graft.ops.Stats.psiDrift(ev, "value", "event_type", "snap",
          "base", "cur", lo = 0.0, hi = 200.0, bins = 20)
        .orderBy("g", "bin")
    },
    // rank-biased overlap between length-ranked and token-ranked top-10
    // per source: compiled p^(d-1) constants, depth-grid cumulative
    // intersections — the windows never touch the corpus
    "q_rank_overlap" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = graft.ops.Similarity.topKPerGroup(docs, "source", "doc_id",
        "n_chars", k = 10)
      val b = graft.ops.Similarity.topKPerGroup(
        docs.withColumn("__ntok",
          graft.ops.TextAnalysis.tokenCount(col("text"))),
        "source", "doc_id", "__ntok", k = 10)
      graft.ops.Retrieval.rankBiasedOverlap(a, b, "source", "doc_id",
          "rank", k = 10, p = 0.9)
        .orderBy("q")
    },
    // Jaro–Winkler blocked linkage: within-brand part-name pairs at
    // jw >= 0.92 via the native codegen expression (Spark has no
    // built-in JW) — triangle chunks + lossless length upper-bound prune
    "q_jw_linkage" -> { (s, d) =>
      graft.ops.Linkage.jaroWinklerPairs(Tables.part(s, d), "p_partkey",
          "p_name", "p_brand", threshold = 0.92)
        .orderBy("blk", "id_a", "id_b")
    },
    // per-user union of overlapping activity intervals (ts + value
    // minutes): gaps-and-islands merge, exact integer microseconds
    "q_interval_union" -> { (s, d) =>
      graft.ops.Behavior.intervalUnion(Tables.events(s, d), "user_id",
          "ts", "value")
        .orderBy("u")
    },
    // Wilson 95% interval for the daily per-type share of high-value
    // events — fixed-parenthesization doubles, mirrored in the oracle
    "q_wilson_ci" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("day",
        floor(unix_timestamp(col("ts")).cast("double") / 86400d))
      graft.ops.Stats.wilsonIntervals(ev, Seq("event_type", "day"),
          col("value") > 100.0, z = 1.96)
        .orderBy("event_type", "day")
    },
    // market-basket association rules over order line items: support /
    // confidence / lift for part pairs co-ordered >= 2 times — basket-
    // keyed self-join (per-basket quadratic, bounded by order width)
    "q_assoc_rules" -> { (s, d) =>
      graft.ops.Behavior.associationRules(Tables.lineitem(s, d),
          "l_orderkey", "l_partkey", minPairBaskets = 2L)
        .orderBy("antecedent", "consequent")
    },
    // two-sample KS drift per event type between the month's halves —
    // full-ECDF max gap, engine-identical double steps, 6-dp decision
    "q_ks_test" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("snap",
        when(unix_timestamp(col("ts")) < 1705363200L, lit("base"))
          .otherwise(lit("cur")))
      graft.ops.Stats.ksTwoSample(ev, "value", "event_type", "snap",
          "base", "cur")
        .orderBy("g")
    },
    // 1-D Wasserstein drift per event type between the month's halves —
    // the magnitude companion of q_ks_test off the same ECDF machinery
    "q_emd_drift" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("snap",
        when(unix_timestamp(col("ts")) < 1705363200L, lit("base"))
          .otherwise(lit("cur")))
      graft.ops.Stats.emdDrift(ev, "value", "event_type", "snap",
          "base", "cur")
        .orderBy("g")
    },
    // chance-corrected agreement per source between two cheap quality
    // raters (char-length buckets vs token-count buckets) — would the
    // char heuristic substitute for the token one?
    "q_cohen_kappa" -> { (s, d) =>
      val ntok = graft.ops.TextAnalysis.tokenCount(col("text"))
      val rated = Tables.documents(s, d)
        .withColumn("rater_len",
          when(col("n_chars") < 200L, lit("short"))
            .when(col("n_chars") < 1000L, lit("mid"))
            .otherwise(lit("long")))
        .withColumn("rater_tok",
          when(ntok < 40, lit("short"))
            .when(ntok < 200, lit("mid"))
            .otherwise(lit("long")))
      graft.ops.Stats.cohenKappa(rated, "source", "rater_len",
          "rater_tok")
        .orderBy("g")
    },
    // reliability diagram: is the cheap char-length proxy score
    // calibrated against the real token-threshold keep decision?
    "q_reliability_bins" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(
        least(lit(1.0), col("n_chars").cast("double") / lit(2000.0))
          .as("p"),
        (graft.ops.TextAnalysis.tokenCount(col("text")) > 250).as("y"))
      graft.ops.Stats.calibrationBins(scored, "p", "y", bins = 10)
        .orderBy("bin")
    },
    // one-row ECE + Brier data-card summary for the same proxy score
    "q_calibration" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(
        least(lit(1.0), col("n_chars").cast("double") / lit(2000.0))
          .as("p"),
        (graft.ops.TextAnalysis.tokenCount(col("text")) > 250).as("y"))
      graft.ops.Stats.calibrationSummary(scored, "p", "y", bins = 10)
    },
    // TREC-style scorecard: two md5-ranked systems over order-part
    // judgments — nDCG@10 / MRR@10 / recall@10 per system, compiled
    // log2 discounts, exact shift gains
    "q_search_eval" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, d)
        .groupBy((col("l_orderkey") % 50L).as("q"),
          col("l_partkey").as("doc"))
        .agg((min(col("l_quantity")).cast("long") % 4L).as("rel"))
      def run(sys: String): DataFrame = {
        val w = Window.partitionBy(col("q"))
          .orderBy(col("__h"), col("doc"))
        base.select(col("q"), col("doc"),
            conv(substring(md5(concat(lit(sys), lit(":"),
              col("q").cast("string"), lit(":"),
              col("doc").cast("string"))), 1, 15), 16, 10)
              .cast("long").as("__h"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(lit(sys).as("system"), col("q"), col("doc"),
            col("rank"))
      }
      val runs = run("lex").unionByName(run("sem"))
      graft.ops.Retrieval.searchEval(runs, base, "system", "q", "doc",
          "rank", "rel", k = 10)
        .orderBy("system")
    })

  private val tokensSql =
    "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  def oracles: Map[String, String] = Map(
    // AUC re-derived: doubled average ranks off the cumulative count
    // frame, exact DECIMAL(38,0) rank-sum, one fixed-parenthesization
    // division
    "q_auc_roc" ->
      s"""WITH base AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v,
        |    (len($tokensSql) > 250) AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT g, v,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM base GROUP BY 1, 2),
        |r AS (SELECT g, v, na, nb, na + nb AS cnt,
        |    CAST(sum(na + nb) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c),
        |a AS (SELECT g, CAST(sum(na) AS BIGINT) AS n_pos,
        |    CAST(sum(nb) AS BIGINT) AS n_neg,
        |    CAST(sum(CAST(na AS DECIMAL(19,0))
        |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS s2
        |  FROM r GROUP BY g)
        |SELECT g, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round((CAST(s2 AS DOUBLE)
        |        - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE))
        |      / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
        |  END AS auc
        |FROM a ORDER BY g""".stripMargin,
    // U re-derived: same doubled rank-sums, exact tie-cube sum, the
    // identical fixed-parenthesization z; decisions on the rounded z
    "q_mann_whitney" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |    (floor(epoch(ts)) < 1705363200) AS ina
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT g, v,
        |    CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM f GROUP BY 1, 2),
        |r AS (SELECT g, v, na, nb, na + nb AS cnt,
        |    CAST(sum(na + nb) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c),
        |a AS (SELECT g, CAST(sum(na) AS BIGINT) AS n_a,
        |    CAST(sum(nb) AS BIGINT) AS n_b,
        |    CAST(sum(CAST(na AS DECIMAL(19,0))
        |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS s2a,
        |    CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
        |      - CAST(cnt AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ties
        |  FROM r GROUP BY g),
        |m AS (SELECT g, n_a, n_b,
        |    (CAST(s2a AS DOUBLE)
        |      - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE)) / 2.0 AS u,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0 AS mu,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
        |          * (CAST(n_a + n_b AS DOUBLE) - 1.0))) AS var
        |  FROM a)
        |SELECT g, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(u, 6) END AS u,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND var > 0.0 THEN
        |    round((u - mu) / sqrt(var), 6) END AS z,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND var > 0.0 THEN
        |    abs(round((u - mu) / sqrt(var), 6)) > 1.96 END AS significant
        |FROM m ORDER BY g""".stripMargin,
    // BH-FDR re-derived: the full MWU chain per (event_type, cohort),
    // the A&S 26.2.17 normal tail at 9 dp, then the step-up q off the
    // p-domain running min — ranks are cumulative counts, ties share
    // the block's highest index
    "q_bh_fdr" ->
      """WITH f AS (SELECT event_type AS fam,
        |    CAST(user_id % 4 AS VARCHAR) AS tid,
        |    CAST(value AS DOUBLE) AS v,
        |    (floor(epoch(ts)) < 1705363200) AS ina
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT fam, tid, v,
        |    CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM f GROUP BY 1, 2, 3),
        |r AS (SELECT fam, tid, na, nb, na + nb AS cnt,
        |    CAST(sum(na + nb) OVER (PARTITION BY fam, tid ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c),
        |a AS (SELECT fam, tid, CAST(sum(na) AS BIGINT) AS n_a,
        |    CAST(sum(nb) AS BIGINT) AS n_b,
        |    CAST(sum(CAST(na AS DECIMAL(19,0))
        |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS s2a,
        |    CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
        |      - CAST(cnt AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ties
        |  FROM r GROUP BY 1, 2),
        |m AS (SELECT fam, tid,
        |    (CAST(s2a AS DOUBLE)
        |      - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE)) / 2.0 AS u,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0 AS mu,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
        |          * (CAST(n_a + n_b AS DOUBLE) - 1.0))) AS var,
        |    n_a, n_b
        |  FROM a),
        |z AS (SELECT fam, tid,
        |    CASE WHEN n_a > 0 AND n_b > 0 AND var > 0.0 THEN
        |      round((u - mu) / sqrt(var), 6) END AS z
        |  FROM m),
        |tt AS (SELECT fam, tid, z,
        |    1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM z),
        |tests AS (SELECT fam, tid,
        |    least(1.0, round(2.0 * (0.3989422804014327
        |      * exp(abs(z) * abs(z) / (-2.0))
        |      * (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        |        + t * (-1.821255978 + t * 1.330274429)))))), 9)) AS p
        |  FROM tt WHERE z IS NOT NULL),
        |dom AS (SELECT fam, p, CAST(count(*) AS BIGINT) AS c
        |  FROM tests GROUP BY 1, 2),
        |rk AS (SELECT fam, p, c,
        |    CAST(sum(c) OVER (PARTITION BY fam ORDER BY p
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rank,
        |    CAST(sum(c) OVER (PARTITION BY fam) AS BIGINT) AS m
        |  FROM dom),
        |qv AS (SELECT fam, p, rank, m,
        |    least(1.0, min(p * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
        |      OVER (PARTITION BY fam ORDER BY p DESC
        |        ROWS UNBOUNDED PRECEDING)) AS q
        |  FROM rk)
        |SELECT t2.fam AS fam, t2.tid AS test_id, t2.p AS p, qv.m AS m,
        |  qv.rank AS rank, round(qv.q, 6) AS q_value,
        |  qv.q <= 0.10 AS discovery
        |FROM tests t2 JOIN qv ON t2.fam = qv.fam AND t2.p = qv.p
        |ORDER BY fam, test_id""".stripMargin,
    // SPRT re-derived: the identical 12-dp compiled constants, the same
    // (ts, id) total order, crossing argmin + final-row argmax
    "q_sprt" -> {
      val (c1, c0, thrA, thrB) =
        graft.ops.Behavior.sprtConstants(0.35, 0.40, 0.05, 0.05)
      s"""WITH b AS (SELECT event_type AS g, ts, event_id AS id,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |r AS (SELECT g, s,
        |    row_number() OVER (PARTITION BY g ORDER BY ts, id) AS t,
        |    sum(s) OVER (PARTITION BY g ORDER BY ts, id
        |      ROWS UNBOUNDED PRECEDING) AS k
        |  FROM b),
        |l AS (SELECT g, t, s, round(CAST(k AS DOUBLE) * ${f"$c1%.12f"}
        |    + CAST(t - k AS DOUBLE) * (${f"$c0%.12f"}), 9) AS llr
        |  FROM r),
        |c AS (SELECT g, t, s, llr,
        |    CASE WHEN llr >= ${f"$thrA%.12f"} THEN 1
        |      WHEN llr <= ${f"$thrB%.12f"} THEN 0 END AS code
        |  FROM l),
        |fin AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(s) AS BIGINT) AS successes,
        |    arg_max(llr, t) AS llr_final
        |  FROM c GROUP BY g),
        |cr AS (SELECT g, CAST(min(t) AS BIGINT) AS n_decision,
        |    arg_min(code, t) AS dcode, arg_min(llr, t) AS llr_dec
        |  FROM c WHERE code IS NOT NULL GROUP BY g)
        |SELECT fin.g AS g, n, successes,
        |  round(llr_final, 6) AS llr_final,
        |  CASE WHEN dcode = 1 THEN 'accept_h1' WHEN dcode = 0
        |    THEN 'accept_h0' ELSE 'continue' END AS decision,
        |  n_decision, round(llr_dec, 6) AS llr_decision
        |FROM fin LEFT JOIN cr ON fin.g = cr.g ORDER BY g""".stripMargin
    },
    // funnel latency re-derived: the q_event_funnel gating CTEs with
    // carried completion times, exact long epoch diffs, latency-domain
    // ECDF picks and a DECIMAL-exact mean
    "q_funnel_latency" ->
      """WITH base AS (SELECT user_id AS u, ts AS t, event_type AS e
        |  FROM events),
        |s1 AS (SELECT u, min(t) AS ct FROM base WHERE e = 'view'
        |  GROUP BY u),
        |s2 AS (SELECT b.u AS u, min(b.t) AS ct FROM base b
        |  JOIN s1 ON b.u = s1.u AND b.t > s1.ct
        |  WHERE b.e = 'click' GROUP BY b.u),
        |s3 AS (SELECT b.u AS u, min(b.t) AS ct FROM base b
        |  JOIN s2 ON b.u = s2.u AND b.t > s2.ct
        |  WHERE b.e = 'purchase' GROUP BY b.u),
        |lats AS (
        |  SELECT 2 AS step, 'click' AS event_type,
        |    CAST(floor(epoch(s2.ct)) AS BIGINT)
        |      - CAST(floor(epoch(s1.ct)) AS BIGINT) AS lat
        |  FROM s2 JOIN s1 ON s2.u = s1.u
        |  UNION ALL
        |  SELECT 3, 'purchase',
        |    CAST(floor(epoch(s3.ct)) AS BIGINT)
        |      - CAST(floor(epoch(s2.ct)) AS BIGINT)
        |  FROM s3 JOIN s2 ON s3.u = s2.u),
        |cells AS (SELECT step, event_type, lat,
        |    CAST(count(*) AS BIGINT) AS c FROM lats GROUP BY 1, 2, 3),
        |cc AS (SELECT step, lat, c,
        |    sum(c) OVER (PARTITION BY step ORDER BY lat
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY step) AS n FROM cells),
        |p50 AS (SELECT step, min(lat) AS p50_sec FROM cc
        |  WHERE cum >= greatest(1, ceil(0.5 * n)) GROUP BY 1),
        |p90 AS (SELECT step, min(lat) AS p90_sec FROM cc
        |  WHERE cum >= greatest(1, ceil(0.9 * n)) GROUP BY 1),
        |ag AS (SELECT step, event_type, CAST(sum(c) AS BIGINT) AS n,
        |    round(CAST(CAST(sum(CAST(CAST(lat AS DECIMAL(19,0)) * c
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE), 6) AS mean_sec
        |  FROM cells GROUP BY 1, 2),
        |sd AS (SELECT * FROM (VALUES (2, 'click'), (3, 'purchase'))
        |  AS t(step, event_type))
        |SELECT sd.step AS step, sd.event_type AS event_type,
        |  coalesce(n, 0) AS n, mean_sec, p50_sec, p90_sec
        |FROM sd LEFT JOIN ag ON sd.step = ag.step
        |  AND sd.event_type = ag.event_type
        |LEFT JOIN p50 ON sd.step = p50.step
        |LEFT JOIN p90 ON sd.step = p90.step ORDER BY step""".stripMargin,
    // sparse funnel re-derived: same gating CTEs for view->purchase,
    // an empty refund stage, the steps dimension LEFT-joined so step 3
    // reports n = 0 with null latencies
    "q_funnel_latency_sparse" ->
      """WITH base AS (SELECT user_id AS u, ts AS t, event_type AS e
        |  FROM events),
        |s1 AS (SELECT u, min(t) AS ct FROM base WHERE e = 'view'
        |  GROUP BY u),
        |s2 AS (SELECT b.u AS u, min(b.t) AS ct FROM base b
        |  JOIN s1 ON b.u = s1.u AND b.t > s1.ct
        |  WHERE b.e = 'purchase' GROUP BY b.u),
        |s3 AS (SELECT b.u AS u, min(b.t) AS ct FROM base b
        |  JOIN s2 ON b.u = s2.u AND b.t > s2.ct
        |  WHERE b.e = 'refund' GROUP BY b.u),
        |lats AS (
        |  SELECT 2 AS step, 'purchase' AS event_type,
        |    CAST(floor(epoch(s2.ct)) AS BIGINT)
        |      - CAST(floor(epoch(s1.ct)) AS BIGINT) AS lat
        |  FROM s2 JOIN s1 ON s2.u = s1.u
        |  UNION ALL
        |  SELECT 3, 'refund',
        |    CAST(floor(epoch(s3.ct)) AS BIGINT)
        |      - CAST(floor(epoch(s2.ct)) AS BIGINT)
        |  FROM s3 JOIN s2 ON s3.u = s2.u),
        |cells AS (SELECT step, event_type, lat,
        |    CAST(count(*) AS BIGINT) AS c FROM lats GROUP BY 1, 2, 3),
        |cc AS (SELECT step, lat, c,
        |    sum(c) OVER (PARTITION BY step ORDER BY lat
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY step) AS n FROM cells),
        |p50 AS (SELECT step, min(lat) AS p50_sec FROM cc
        |  WHERE cum >= greatest(1, ceil(0.5 * n)) GROUP BY 1),
        |p90 AS (SELECT step, min(lat) AS p90_sec FROM cc
        |  WHERE cum >= greatest(1, ceil(0.9 * n)) GROUP BY 1),
        |ag AS (SELECT step, event_type, CAST(sum(c) AS BIGINT) AS n,
        |    round(CAST(CAST(sum(CAST(CAST(lat AS DECIMAL(19,0)) * c
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE), 6) AS mean_sec
        |  FROM cells GROUP BY 1, 2),
        |sd AS (SELECT * FROM (VALUES (2, 'purchase'), (3, 'refund'))
        |  AS t(step, event_type))
        |SELECT sd.step AS step, sd.event_type AS event_type,
        |  coalesce(n, 0) AS n, mean_sec, p50_sec, p90_sec
        |FROM sd LEFT JOIN ag ON sd.step = ag.step
        |  AND sd.event_type = ag.event_type
        |LEFT JOIN p50 ON sd.step = p50.step
        |LEFT JOIN p90 ON sd.step = p90.step ORDER BY step""".stripMargin,
    // bootstrap re-derived: one md5-Horner hash per (id, ceil(rep/6))
    // sliced into six 10-bit uniforms (the operator's hash-economics
    // weighted quartiles re-derived: same decimal(14,2) value cast, long
    // token weights, per-(grp,value) cells, cumulative-weight window,
    // cum*den >= num*tw integer pick of the min existing value
    "q_weighted_quantile" ->
      s"""WITH base AS (SELECT source AS grp,
        |    CAST(n_chars AS DECIMAL(14,2)) AS v,
        |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS w
        |  FROM documents WHERE n_chars IS NOT NULL),
        |f AS (SELECT * FROM base WHERE w > 0),
        |cells AS (SELECT grp, v, CAST(sum(w) AS BIGINT) AS cw
        |  FROM f GROUP BY grp, v),
        |cum AS (SELECT grp, v, cw,
        |    CAST(sum(cw) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(cw) OVER (PARTITION BY grp) AS BIGINT) AS tw
        |  FROM cells)
        |SELECT grp, '1/4' AS q, CAST(min(v) AS DOUBLE) AS wq, min(tw) AS total_w
        |  FROM cum WHERE cum * 4 >= tw * 1 GROUP BY grp
        |UNION ALL
        |SELECT grp, '1/2' AS q, CAST(min(v) AS DOUBLE) AS wq, min(tw) AS total_w
        |  FROM cum WHERE cum * 2 >= tw * 1 GROUP BY grp
        |UNION ALL
        |SELECT grp, '3/4' AS q, CAST(min(v) AS DOUBLE) AS wq, min(tw) AS total_w
        |  FROM cum WHERE cum * 4 >= tw * 3 GROUP BY grp
        |ORDER BY grp, q""".stripMargin,
    // trick, same // and % arithmetic), the compiled Poisson(1) CDF
    // threshold chain, exact weighted DECIMAL sums, 9-dp replicate
    // means into ECDF picks + SE moments
    "q_bootstrap_ci" -> {
      val t = graft.ops.Stats.Poisson1Cdf.map(x => f"$x%.12f")
      s"""WITH base AS (SELECT event_type AS g,
        |    CAST(event_id AS VARCHAR) AS id,
        |    CAST(value AS DECIMAL(14,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |f AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 6) AS mean
        |  FROM base GROUP BY 1),
        |hh AS (SELECT g, id, v, unnest(range(17)) AS h FROM base),
        |hv AS (SELECT g, v, h, ${md5HornerSql(
             "'boot:' || id || '#' || CAST(h AS VARCHAR)")} AS hval
        |  FROM hh),
        |jj AS (SELECT g, v, h, hval, unnest(range(6)) AS j FROM hv),
        |rr AS (SELECT g, v, h * 6 + j AS r,
        |    CASE WHEN j = 0 THEN hval % 1024
        |      WHEN j = 1 THEN (hval // 1024) % 1024
        |      WHEN j = 2 THEN (hval // 1048576) % 1024
        |      WHEN j = 3 THEN (hval // 1073741824) % 1024
        |      WHEN j = 4 THEN (hval // 1099511627776) % 1024
        |      WHEN j = 5 THEN (hval // 1125899906842624) % 1024
        |      END AS s
        |  FROM jj WHERE h * 6 + j < 100),
        |uu AS (SELECT g, r, v,
        |    (CAST(s AS DOUBLE) + 0.5) / 1024.0 AS u
        |  FROM rr),
        |kk AS (SELECT g, r, v,
        |    CASE WHEN u < ${t(0)} THEN 0 WHEN u < ${t(1)} THEN 1
        |      WHEN u < ${t(2)} THEN 2 WHEN u < ${t(3)} THEN 3
        |      WHEN u < ${t(4)} THEN 4 WHEN u < ${t(5)} THEN 5
        |      ELSE 6 END AS k
        |  FROM uu),
        |cells AS (SELECT g, r, CAST(sum(k) AS BIGINT) AS sw,
        |    CAST(sum(CAST(k AS DECIMAL(19,0)) * v) AS DECIMAL(38,2))
        |      AS swv
        |  FROM kk GROUP BY 1, 2),
        |means AS (SELECT g,
        |    round(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE), 9) AS m
        |  FROM cells WHERE sw > 0),
        |cnt AS (SELECT g, m, CAST(count(*) AS BIGINT) AS c FROM means
        |  GROUP BY 1, 2),
        |cc AS (SELECT g, m, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY m
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS bu FROM cnt),
        |lo AS (SELECT g, min(m) AS boot_lo FROM cc
        |  WHERE cum >= greatest(1, ceil(0.025 * bu)) GROUP BY 1),
        |hi AS (SELECT g, min(m) AS boot_hi FROM cc
        |  WHERE cum >= greatest(1, ceil(0.975 * bu)) GROUP BY 1),
        |se AS (SELECT g, CAST(count(*) AS BIGINT) AS b_used,
        |    CAST(CAST(sum(CAST(m AS DECIMAL(18,9))) AS DECIMAL(38,9))
        |      AS DOUBLE) AS sm,
        |    CAST(CAST(sum(CAST(CAST(m AS DECIMAL(18,9))
        |      * CAST(m AS DECIMAL(18,9)) AS DECIMAL(38,18)))
        |      AS DECIMAL(38,18)) AS DOUBLE) AS sm2
        |  FROM means GROUP BY 1)
        |SELECT f.g AS g, n, mean, coalesce(b_used, 0) AS b_used,
        |  boot_lo, boot_hi,
        |  CASE WHEN b_used >= 2 AND (sm2 - sm * sm
        |      / CAST(b_used AS DOUBLE))
        |      / (CAST(b_used AS DOUBLE) - 1.0) >= 0.0 THEN
        |    round(sqrt((sm2 - sm * sm / CAST(b_used AS DOUBLE))
        |      / (CAST(b_used AS DOUBLE) - 1.0)), 6) END AS boot_se
        |FROM f LEFT JOIN se ON f.g = se.g LEFT JOIN lo ON f.g = lo.g
        |LEFT JOIN hi ON f.g = hi.g ORDER BY g""".stripMargin
    },
    // Holt re-derived: same dense series, both state recursions with
    // the identical per-step 6-dp DECIMAL rounds (the new level term
    // recomputed textually inside the trend update, as the operator's
    // lambda does — exact decimal arithmetic makes duplication safe)
    "q_holt" ->
      """WITH RECURSIVE obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b AS b, grid.b // 86400 AS i,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |r AS (SELECT s.g AS g, s.b AS b, s.i AS i, s.x AS x,
        |    CAST(s.x AS DECIMAL(18,6)) AS l,
        |    CAST(0 AS DECIMAL(18,6)) AS t
        |  FROM ser s JOIN span ON s.g = span.g AND s.b = span.lo
        |  UNION ALL
        |  SELECT s.g, s.b, s.i, s.x,
        |    CAST(round(CAST(0.300 AS DECIMAL(4,3)) * s.x
        |      + CAST(0.700 AS DECIMAL(4,3)) * (r.l + r.t), 6)
        |      AS DECIMAL(18,6)),
        |    CAST(round(CAST(0.100 AS DECIMAL(4,3))
        |      * (CAST(round(CAST(0.300 AS DECIMAL(4,3)) * s.x
        |        + CAST(0.700 AS DECIMAL(4,3)) * (r.l + r.t), 6)
        |        AS DECIMAL(18,6)) - r.l)
        |      + CAST(0.900 AS DECIMAL(4,3)) * r.t, 6) AS DECIMAL(18,6))
        |  FROM ser s JOIN r ON s.g = r.g AND s.i = r.i + 1)
        |SELECT g, b, CAST(x AS DOUBLE) AS x, CAST(l AS DOUBLE) AS level,
        |  CAST(t AS DOUBLE) AS trend, CAST(l + t AS DOUBLE) AS forecast
        |FROM r ORDER BY g, b""".stripMargin,
    // HLL overlap re-derived: the t_hll_distinct register machinery,
    // pairwise register-max merges, the same unrounded estimates inside
    // the inclusion-exclusion before the 6-dp render
    "t_hll_overlap" ->
      s"""WITH ti AS (SELECT source, unnest($tokensSql) AS w
        |  FROM documents),
        |tw AS (SELECT DISTINCT source, w FROM ti),
        |h AS (SELECT source, w, ${md5HornerSql("'hll:' || w")} AS hv
        |  FROM tw),
        |regs AS (SELECT source, hv % 64 AS reg,
        |    max(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - len(bin(hv // 64)) END) AS mrho
        |  FROM h GROUP BY source, hv % 64),
        |ag AS (SELECT source, count(*) AS present,
        |    sum((CAST(1 AS BIGINT) << CAST(55 - mrho AS INT))) AS sp
        |  FROM regs GROUP BY source),
        |est1 AS (SELECT source,
        |    CASE WHEN (64 - present) > 0
        |        AND 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |          CAST(sp + (64 - present) * 36028797018963968 AS DOUBLE)
        |          <= 160e0
        |      THEN 64e0 * ln(64e0 / CAST(64 - present AS DOUBLE))
        |      ELSE 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |        CAST(sp + (64 - present) * 36028797018963968 AS DOUBLE)
        |      END AS est
        |  FROM ag),
        |prs AS (SELECT a.source AS g_a, b.source AS g_b
        |  FROM est1 a JOIN est1 b ON a.source < b.source),
        |mreg AS (SELECT g_a, g_b, reg, max(mrho) AS mrho
        |  FROM prs JOIN regs ON regs.source = g_a OR regs.source = g_b
        |  GROUP BY 1, 2, 3),
        |uag AS (SELECT g_a, g_b, count(*) AS present,
        |    sum((CAST(1 AS BIGINT) << CAST(55 - mrho AS INT))) AS sp
        |  FROM mreg GROUP BY 1, 2),
        |uest AS (SELECT g_a, g_b,
        |    CASE WHEN (64 - present) > 0
        |        AND 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |          CAST(sp + (64 - present) * 36028797018963968 AS DOUBLE)
        |          <= 160e0
        |      THEN 64e0 * ln(64e0 / CAST(64 - present AS DOUBLE))
        |      ELSE 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |        CAST(sp + (64 - present) * 36028797018963968 AS DOUBLE)
        |      END AS u
        |  FROM uag),
        |exact AS (SELECT a.source AS g_a, b.source AS g_b,
        |    CAST(count(*) AS BIGINT) AS exact_overlap
        |  FROM tw a JOIN tw b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT uest.g_a AS g_a, uest.g_b AS g_b,
        |  round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
        |  round(u, 6) AS est_union,
        |  round(ea.est + eb.est - u, 6) AS est_overlap,
        |  coalesce(exact_overlap, 0) AS exact_overlap
        |FROM uest
        |JOIN est1 ea ON uest.g_a = ea.source
        |JOIN est1 eb ON uest.g_b = eb.source
        |LEFT JOIN exact ON uest.g_a = exact.g_a AND uest.g_b = exact.g_b
        |ORDER BY g_a, g_b""".stripMargin,
    // stump screening re-derived: UNION-ALL melt, same cumulative
    // candidate frame, the identical fixed-parenthesization weighted-
    // Gini chain 9-dp-rounded before the argmin, min-threshold ties
    "q_best_split" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v,
        |    (l_returnflag = 'R') AS y FROM lineitem
        |    WHERE l_returnflag IS NOT NULL
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE),
        |    (l_returnflag = 'R') FROM lineitem WHERE l_returnflag IS NOT NULL
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE),
        |    (l_returnflag = 'R') FROM lineitem WHERE l_returnflag IS NOT NULL),
        |m2 AS (SELECT * FROM m WHERE v IS NOT NULL),
        |cells AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM m2 GROUP BY 1, 2),
        |cum AS (SELECT feature, v, c, p,
        |    CAST(sum(c) OVER (PARTITION BY feature ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
        |    CAST(sum(p) OVER (PARTITION BY feature ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
        |    CAST(sum(c) OVER (PARTITION BY feature) AS BIGINT) AS n,
        |    CAST(sum(p) OVER (PARTITION BY feature) AS BIGINT) AS np
        |  FROM cells),
        |cand AS (SELECT feature, v,
        |    CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE) AS plv,
        |    CAST(np - cp AS DOUBLE) / CAST(n - cn AS DOUBLE) AS prv,
        |    CAST(cn AS DOUBLE) / CAST(n AS DOUBLE) AS wl,
        |    CAST(n - cn AS DOUBLE) / CAST(n AS DOUBLE) AS wr
        |  FROM cum WHERE cn < n),
        |g AS (SELECT feature, v, round(
        |    wl * (1.0 - (plv * plv + (1.0 - plv) * (1.0 - plv)))
        |    + wr * (1.0 - (prv * prv + (1.0 - prv) * (1.0 - prv))), 9)
        |    AS g9 FROM cand),
        |best AS (SELECT feature, min(g9) AS bg FROM g GROUP BY 1),
        |bt AS (SELECT g.feature AS feature, min(v) AS best_threshold,
        |    min(bg) AS bg
        |  FROM g JOIN best ON g.feature = best.feature AND g.g9 = best.bg
        |  GROUP BY 1),
        |par AS (SELECT feature, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    round(1.0 - (CAST(sum(p) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |      * (CAST(sum(p) AS DOUBLE) / CAST(sum(c) AS DOUBLE))
        |      + (1.0 - CAST(sum(p) AS DOUBLE) / CAST(sum(c) AS DOUBLE))
        |      * (1.0 - CAST(sum(p) AS DOUBLE) / CAST(sum(c) AS DOUBLE))),
        |      9) AS gp FROM cells GROUP BY 1)
        |SELECT par.feature AS feature, n, n_pos, best_threshold,
        |  round(gp, 6) AS gini_parent, round(bg, 6) AS gini_split,
        |  round(gp - bg, 6) AS gain
        |FROM par LEFT JOIN bt ON par.feature = bt.feature
        |ORDER BY feature""".stripMargin,
    // CUPED re-derived: same per-user pre/post DECIMAL sums, the OLS
    // slope chain for theta, one double adjustment per row
    "q_cuped" ->
      """WITH unit AS (SELECT user_id,
        |    CAST(CAST(sum(CASE WHEN floor(epoch(ts)) < 1705363200 THEN
        |      CAST(value AS DECIMAL(14,2)) END) AS DECIMAL(18,2))
        |      AS DOUBLE) AS x0,
        |    CAST(CAST(sum(CASE WHEN floor(epoch(ts)) >= 1705363200 THEN
        |      CAST(value AS DECIMAL(14,2)) END) AS DECIMAL(18,2))
        |      AS DOUBLE) AS y0,
        |    'c' || CAST(user_id % 4 AS VARCHAR) AS g
        |  FROM events GROUP BY user_id),
        |b AS (SELECT g, user_id AS id,
        |    CAST(y0 AS DECIMAL(14,2)) AS y, CAST(x0 AS DECIMAL(14,2)) AS x
        |  FROM unit WHERE x0 IS NOT NULL AND y0 IS NOT NULL),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1),
        |t AS (SELECT g, n, sx,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS denx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS deny
        |  FROM m),
        |pr AS (SELECT g,
        |    CASE WHEN n >= 2 AND denx > 0.0 THEN num / denx END AS theta,
        |    sx / CAST(n AS DOUBLE) AS xbar,
        |    CASE WHEN n >= 2 AND denx > 0.0 AND deny > 0.0 THEN
        |      round(num * num / (denx * deny), 6) END AS rho2
        |  FROM t)
        |SELECT b.g AS g, id, CAST(y AS DOUBLE) AS y,
        |  CAST(x AS DOUBLE) AS x, round(theta, 6) AS theta, rho2,
        |  CASE WHEN theta IS NOT NULL THEN
        |    round(CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar),
        |      6) ELSE CAST(y AS DOUBLE) END AS y_adj
        |FROM b JOIN pr ON b.g = pr.g ORDER BY g, id""".stripMargin,
    // path trigrams re-derived: same (user, day) bucketed lead windows,
    // global count, (n desc, path asc) rank
    "q_path_trigrams" ->
      """WITH b AS (SELECT user_id AS u, ts, event_id AS tie,
        |    event_type AS e,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS bk
        |  FROM events),
        |p AS (SELECT e, lead(e, 1) OVER w AS e2, lead(e, 2) OVER w AS e3
        |  FROM b WINDOW w AS (PARTITION BY u, bk ORDER BY ts, tie)),
        |c AS (SELECT e || '>' || e2 || '>' || e3 AS path,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE e IS NOT NULL AND e2 IS NOT NULL
        |    AND e3 IS NOT NULL GROUP BY 1),
        |r AS (SELECT path, n,
        |    row_number() OVER (ORDER BY n DESC, path) AS rank FROM c)
        |SELECT CAST(rank AS INTEGER) AS rank, path, n FROM r
        |WHERE rank <= 25 ORDER BY rank""".stripMargin,
    // EWMA re-derived: the same dense zero-filled series, the SAME
    // per-step 6-dp DECIMAL rounding replayed as a recursive CTE —
    // per-step quantization is what makes a sequential recursion
    // bit-replicable across engines
    "q_ewma" ->
      """WITH RECURSIVE obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b AS b, grid.b // 86400 AS i,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |r AS (SELECT s.g AS g, s.b AS b, s.i AS i, s.x AS x,
        |    CAST(s.x AS DECIMAL(18,6)) AS e
        |  FROM ser s JOIN span ON s.g = span.g AND s.b = span.lo
        |  UNION ALL
        |  SELECT s.g, s.b, s.i, s.x,
        |    CAST(round(CAST(0.300 AS DECIMAL(4,3)) * s.x
        |      + CAST(0.700 AS DECIMAL(4,3)) * r.e, 6) AS DECIMAL(18,6))
        |  FROM ser s JOIN r ON s.g = r.g AND s.i = r.i + 1)
        |SELECT g, b, CAST(x AS DOUBLE) AS x, CAST(e AS DOUBLE) AS ewma,
        |  CAST(x - e AS DOUBLE) AS residual
        |FROM r ORDER BY g, b""".stripMargin,
    // Adamic-Adar re-derived: same adjacent-line edges, same 10-dp
    // quantized 1/ln(deg) terms, wedge self-join, exact-integer Jaccard
    "q_adamic_adar" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS p1, b.pk AS p2 FROM li a JOIN li b
        |  ON a.ok = b.ok AND b.ln = a.ln + 1 WHERE a.pk <> b.pk),
        |und AS (SELECT DISTINCT least(p1, p2) AS u,
        |    greatest(p1, p2) AS v FROM e0),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM und
        |    UNION ALL SELECT v AS node FROM und) GROUP BY 1),
        |nb AS (SELECT n.node AS node, n.nbr AS nbr, deg.deg AS deg
        |  FROM (SELECT u AS node, v AS nbr FROM und
        |    UNION ALL SELECT v AS node, u AS nbr FROM und) n
        |  JOIN deg ON n.node = deg.node),
        |tm AS (SELECT node, nbr,
        |    CASE WHEN deg >= 2 THEN CAST(round(1.0
        |      / ln(CAST(deg AS DOUBLE)), 10) AS DECIMAL(28,14)) END AS t
        |  FROM nb),
        |pairs AS (SELECT l.nbr AS node_a, r.nbr AS node_b,
        |    CAST(count(*) AS BIGINT) AS common_neighbors,
        |    sum(l.t) AS aa
        |  FROM tm l JOIN tm r ON l.node = r.node AND l.nbr < r.nbr
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT node_a, node_b, common_neighbors,
        |  round(CAST(aa AS DOUBLE), 6) AS aa_score,
        |  round(CAST(common_neighbors AS DOUBLE)
        |    / CAST(da.deg + db.deg - common_neighbors AS DOUBLE), 6)
        |    AS jaccard,
        |  coalesce(ue.u IS NOT NULL, FALSE) AS is_edge
        |FROM pairs
        |JOIN deg da ON pairs.node_a = da.node
        |JOIN deg db ON pairs.node_b = db.node
        |LEFT JOIN und ue ON pairs.node_a = ue.u AND pairs.node_b = ue.v
        |ORDER BY node_a, node_b""".stripMargin,
    // FK audit re-derived: same string-cast keys, anti-join orphans,
    // sorted top-5 exemplars (empty -> NULL both engines), parent
    // key-uniqueness profile
    "q_fk_audit" ->
      """WITH ck AS (SELECT CAST(l_orderkey AS VARCHAR) AS k
        |  FROM lineitem),
        |ca AS (SELECT CAST(count(*) AS BIGINT) AS n_child_rows,
        |    CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_child_null_keys FROM ck),
        |ckeys AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM ck
        |  WHERE k IS NOT NULL GROUP BY 1),
        |pkr AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders
        |  WHERE o_orderkey % 97 <> 0),
        |pkeys AS (SELECT k, CAST(count(*) AS BIGINT) AS pc FROM pkr
        |  WHERE k IS NOT NULL GROUP BY 1),
        |orph AS (SELECT ckeys.k AS k, c FROM ckeys
        |  LEFT JOIN pkeys ON ckeys.k = pkeys.k WHERE pkeys.k IS NULL),
        |oa AS (SELECT coalesce(CAST(sum(c) AS BIGINT), 0)
        |      AS n_orphan_rows,
        |    CAST(count(*) AS BIGINT) AS n_orphan_keys FROM orph),
        |ex AS (SELECT nullif(string_agg(k, ',' ORDER BY k), '')
        |    AS example_orphans
        |  FROM (SELECT k FROM orph ORDER BY k LIMIT 5)),
        |pa AS (SELECT coalesce(CAST(sum(pc) AS BIGINT), 0)
        |      AS n_parent_rows,
        |    CAST(count(*) AS BIGINT) AS n_parent_keys,
        |    CAST(sum(CASE WHEN pc > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_parent_keys,
        |    coalesce(CAST(max(pc) AS BIGINT), 0)
        |      AS max_parent_multiplicity FROM pkeys)
        |SELECT n_child_rows, n_child_null_keys, n_orphan_rows,
        |  n_orphan_keys,
        |  CASE WHEN n_child_rows > 0 THEN
        |    round(CAST(n_orphan_rows AS DOUBLE)
        |      / CAST(n_child_rows AS DOUBLE), 6) END AS orphan_share,
        |  example_orphans, n_parent_rows, n_parent_keys,
        |  n_dup_parent_keys, max_parent_multiplicity
        |FROM ca, oa, ex, pa""".stripMargin,
    // script mix re-derived: the SAME portable \x{...} range classes
    // (shared via TextAnalysis.ScriptRes), same injected tails, same
    // priority-ordered dominant CASE
    "t_script_mix" -> {
      val res = graft.ops.TextAnalysis.ScriptRes
      val cnts = res.map { case (n, re) =>
        s"CAST(len(regexp_extract_all(text, '$re')) AS INTEGER) AS n_$n"
      }.mkString(",\n    ")
      val mx = "greatest(" + res.map { case (n, _) => s"n_$n" }
        .mkString(", ") + ")"
      val dom = res.map { case (n, _) =>
        s"WHEN n_$n = mx AND mx > 0 THEN '$n'"
      }.mkString(" ")
      s"""WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 1 THEN text || ' Привет мир'
        |      WHEN doc_id % 7 = 2 THEN text || ' 你好世界'
        |      WHEN doc_id % 7 = 3 THEN text || ' αβγ'
        |      ELSE text END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(len(text) AS INTEGER) AS n_chars,
        |    $cnts
        |  FROM d2),
        |m AS (SELECT *, $mx AS mx FROM c)
        |SELECT doc_id, n_chars, ${res.map(r => "n_" + r._1)
          .mkString(", ")},
        |  CASE $dom ELSE 'none' END AS dominant,
        |  CASE WHEN n_chars > 0 THEN
        |    round(CAST(mx AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) END
        |    AS dominant_share
        |FROM m ORDER BY doc_id""".stripMargin
    },
    // Zipf fit re-derived: same tf counts, tf-domain prune, (tf desc,
    // term asc) ranks, 6-dp quantized lns, exact DECIMAL moments, the
    // q_group_regression slope/intercept/R² chains
    "t_zipf_fit" ->
      s"""WITH toks AS (SELECT source AS cls, unnest($tokensSql) AS term
        |  FROM documents),
        |tf AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_terms
        |  FROM tf GROUP BY 1),
        |dom AS (SELECT cls, tf, count(*) AS m FROM tf GROUP BY 1, 2),
        |keep AS (SELECT cls, tf FROM (SELECT cls, tf,
        |    sum(m) OVER (PARTITION BY cls ORDER BY tf DESC
        |      ROWS UNBOUNDED PRECEDING) - m AS cumhi FROM dom)
        |  WHERE cumhi < 500),
        |head AS (SELECT t.cls AS cls, t.tf AS tf,
        |    row_number() OVER (PARTITION BY t.cls
        |      ORDER BY t.tf DESC, t.term) AS rank
        |  FROM tf t JOIN keep k ON t.cls = k.cls AND t.tf = k.tf),
        |pts AS (SELECT cls,
        |    CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(CAST(tf AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM head WHERE rank <= 500),
        |mo AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_fit,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        |  FROM pts GROUP BY 1),
        |t2 AS (SELECT cls, n_fit, sx, sy,
        |    CAST(n_fit AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n_fit AS DOUBLE) * sxx - sx * sx AS denx,
        |    CAST(n_fit AS DOUBLE) * syy - sy * sy AS deny
        |  FROM mo)
        |SELECT vocab.cls AS cls, n_terms, n_fit,
        |  CASE WHEN n_fit >= 2 AND denx > 0.0 THEN round(num / denx, 6)
        |    END AS slope,
        |  CASE WHEN n_fit >= 2 AND denx > 0.0 THEN
        |    round((sy - (num / denx) * sx) / CAST(n_fit AS DOUBLE), 6)
        |    END AS intercept,
        |  CASE WHEN n_fit >= 2 AND denx > 0.0 AND deny > 0.0 THEN
        |    round(num * num / (denx * deny), 6) END AS r2
        |FROM vocab JOIN t2 ON vocab.cls = t2.cls
        |ORDER BY cls""".stripMargin,
    // burstiness re-derived: same (term, doc) counts, the zeros-free
    // VMR identity off exact integer sums, same minDf gate
    "t_term_burstiness" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS term
        |  FROM documents),
        |pc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ag AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
        |    CAST(sum(c) AS BIGINT) AS total_freq,
        |    CAST(sum(CAST(CAST(c AS DECIMAL(19,0))
        |      * CAST(c AS DECIMAL(19,0)) AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2
        |  FROM pc GROUP BY 1 HAVING count(*) >= 20)
        |SELECT term, doc_freq, total_freq,
        |  round(CAST(total_freq AS DOUBLE) / CAST(doc_freq AS DOUBLE), 6)
        |    AS mean_in_docs,
        |  round(CAST(s2 AS DOUBLE) / CAST(total_freq AS DOUBLE)
        |    - CAST(total_freq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS vmr
        |FROM ag, nd ORDER BY term""".stripMargin,
    // randomization test re-derived: the same md5-Horner
    // allocation-matched coin per (id, replicate) — side A iff
    // md5·n < n_a·2^60 in exact HUGEINT arithmetic — exact DECIMAL arm
    // sums, 9-dp diffs before the comparison, the add-one p
    "q_perm_test" ->
      s"""WITH base AS (SELECT event_type AS g,
        |    CAST(event_id AS VARCHAR) AS id,
        |    CAST(value AS DECIMAL(14,2)) AS v,
        |    (user_id % 10 < 8) AS ina
        |  FROM events WHERE value IS NOT NULL),
        |obs AS (SELECT g,
        |    CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN ina THEN v END) AS DECIMAL(38,2)) AS sa,
        |    CAST(sum(CASE WHEN NOT ina THEN v END) AS DECIMAL(38,2)) AS sb
        |  FROM base GROUP BY g),
        |ob AS (SELECT g, n_a, n_b,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN
        |      round(CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE), 9) END AS obs9
        |  FROM obs),
        |reps AS (SELECT g, id, v, unnest(range(40)) AS r FROM base),
        |sided AS (SELECT reps.g AS g, r, v,
        |    CASE WHEN CAST(${md5HornerSql(
             "'perm:' || id || '#' || CAST(r AS VARCHAR)")} AS HUGEINT)
        |        * CAST(n_a + n_b AS HUGEINT)
        |      < CAST(n_a AS HUGEINT)
        |        * CAST(1152921504606846976 AS HUGEINT)
        |      THEN 0 ELSE 1 END AS sd
        |  FROM reps JOIN obs ON reps.g = obs.g),
        |cells AS (SELECT g, r,
        |    CAST(sum(CASE WHEN sd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN sd <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN sd = 0 THEN v END) AS DECIMAL(38,2)) AS s0,
        |    CAST(sum(CASE WHEN sd <> 0 THEN v END) AS DECIMAL(38,2)) AS s1
        |  FROM sided GROUP BY 1, 2),
        |diffs AS (SELECT g, r,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      round(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) END AS d
        |  FROM cells),
        |ex AS (SELECT diffs.g AS g,
        |    CAST(sum(CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_used,
        |    CAST(sum(CASE WHEN d IS NOT NULL AND obs9 IS NOT NULL
        |      AND abs(d) >= abs(obs9) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ge
        |  FROM diffs JOIN ob ON diffs.g = ob.g GROUP BY 1)
        |SELECT ob.g AS g, n_a, n_b, round(obs9, 6) AS obs_diff,
        |  coalesce(b_used, 0) AS b_used, coalesce(n_ge, 0) AS n_ge,
        |  CASE WHEN obs9 IS NOT NULL AND b_used > 0 THEN
        |    round(CAST(1 + n_ge AS DOUBLE)
        |      / CAST(b_used + 1 AS DOUBLE), 6) END AS p_perm
        |FROM ob LEFT JOIN ex ON ob.g = ex.g ORDER BY g""".stripMargin,
    // G2 keyness re-derived: same exact term counts, the expected-count
    // and a·ln(a/E) chains spelled with the operator's parenthesization,
    // 10-dp addends before the one addition, HUGEINT cross-product for
    // the overuse direction
    "t_keyness_g2" ->
      s"""WITH toks AS (SELECT (source = 'src0') AS tgt,
        |    unnest($tokensSql) AS term FROM documents),
        |c AS (SELECT term,
        |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_target,
        |    CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rest
        |  FROM toks GROUP BY 1),
        |t AS (SELECT CAST(sum(n_target) AS BIGINT) AS ct,
        |    CAST(sum(n_rest) AS BIGINT) AS dt FROM c)
        |SELECT term, n_target, n_rest,
        |  round(2.0 * (
        |    (CASE WHEN n_target > 0 THEN round(CAST(n_target AS DOUBLE)
        |      * ln(CAST(n_target AS DOUBLE) / (CAST(ct AS DOUBLE)
        |        * (CAST(n_target AS DOUBLE) + CAST(n_rest AS DOUBLE))
        |        / (CAST(ct AS DOUBLE) + CAST(dt AS DOUBLE)))), 10)
        |      ELSE 0.0 END)
        |    + (CASE WHEN n_rest > 0 THEN round(CAST(n_rest AS DOUBLE)
        |      * ln(CAST(n_rest AS DOUBLE) / (CAST(dt AS DOUBLE)
        |        * (CAST(n_target AS DOUBLE) + CAST(n_rest AS DOUBLE))
        |        / (CAST(ct AS DOUBLE) + CAST(dt AS DOUBLE)))), 10)
        |      ELSE 0.0 END)), 6) AS g2,
        |  CAST(n_target AS HUGEINT) * CAST(dt AS HUGEINT)
        |    > CAST(n_rest AS HUGEINT) * CAST(ct AS HUGEINT) AS overused,
        |  CASE WHEN n_target > 0 AND n_rest > 0 THEN
        |    round(ln((CAST(n_target AS DOUBLE) / CAST(ct AS DOUBLE))
        |      / (CAST(n_rest AS DOUBLE) / CAST(dt AS DOUBLE))), 6)
        |    END AS log_ratio
        |FROM c, t WHERE n_target + n_rest >= 20
        |ORDER BY term""".stripMargin,
    // change point re-derived: the q_holt dense grid, exact DECIMAL
    // prefix sums, the operator's gain chain rounded at 9 dp before the
    // (gain desc, i asc) pick, 6-dp renders
    "q_change_point" ->
      """WITH obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b AS b,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |idx AS (SELECT g, b, x,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY b) AS BIGINT)
        |      AS i,
        |    CAST(sum(x) OVER (PARTITION BY g ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,2)) AS sk
        |  FROM ser),
        |tot AS (SELECT g, CAST(max(i) AS BIGINT) AS n_buckets,
        |    CAST(sum(x) AS DECIMAL(38,2)) AS stot,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS ss
        |  FROM idx GROUP BY 1),
        |cand AS (SELECT idx.g AS g, i, b, sk, n_buckets, stot,
        |    round(CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)
        |        / CAST(i AS DOUBLE)
        |      + (CAST(stot AS DOUBLE) - CAST(sk AS DOUBLE))
        |        * (CAST(stot AS DOUBLE) - CAST(sk AS DOUBLE))
        |        / (CAST(n_buckets AS DOUBLE) - CAST(i AS DOUBLE))
        |      - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
        |        / CAST(n_buckets AS DOUBLE), 9) AS g9
        |  FROM idx JOIN tot ON idx.g = tot.g
        |  WHERE i >= 2 AND i <= n_buckets - 2),
        |best AS (SELECT * FROM (SELECT g, i, b, sk, g9,
        |    row_number() OVER (PARTITION BY g ORDER BY g9 DESC, i ASC)
        |      AS rn FROM cand) WHERE rn = 1)
        |SELECT tot.g AS g, n_buckets,
        |  best.b + 86400 AS split_b,
        |  round(CAST(sk AS DOUBLE) / CAST(i AS DOUBLE), 6) AS mean_before,
        |  round((CAST(stot AS DOUBLE) - CAST(sk AS DOUBLE))
        |    / (CAST(n_buckets AS DOUBLE) - CAST(i AS DOUBLE)), 6)
        |    AS mean_after,
        |  round(g9, 6) AS gain,
        |  CASE WHEN best.g IS NOT NULL AND CAST(ss AS DOUBLE)
        |      - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
        |        / CAST(n_buckets AS DOUBLE) > 0.0 THEN
        |    round(g9 / (CAST(ss AS DOUBLE)
        |      - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
        |        / CAST(n_buckets AS DOUBLE)), 6) END AS score
        |FROM tot LEFT JOIN best ON tot.g = best.g
        |ORDER BY g""".stripMargin,
    // attribution re-derived: same user-keyed path join and
    // (user, conversion) window family, credits rounded at 9 dp and
    // summed as exact DECIMAL(18,9) per channel
    "q_attribution" ->
      """WITH conv AS (SELECT user_id AS u,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id AS u, event_type AS channel,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tts, event_id AS tid
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |p AS (SELECT tch.u AS u, channel, tts, tid, cid
        |  FROM tch JOIN conv ON tch.u = conv.u
        |  WHERE tts < cts AND tts >= cts - 259200),
        |r AS (SELECT u, channel, cid,
        |    CAST(row_number() OVER (PARTITION BY u, cid
        |      ORDER BY tts, tid) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY u, cid) AS BIGINT) AS k
        |  FROM p)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(count(DISTINCT (u, cid)) AS BIGINT) AS n_conversions,
        |  round(CAST(sum(CAST(round(CASE WHEN rk = 1 THEN 1.0 ELSE 0.0
        |    END, 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS credit_first,
        |  round(CAST(sum(CAST(round(CASE WHEN rk = k THEN 1.0 ELSE 0.0
        |    END, 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS credit_last,
        |  round(CAST(sum(CAST(round(1.0 / CAST(k AS DOUBLE), 9)
        |    AS DECIMAL(18,9))) AS DOUBLE), 6) AS credit_linear,
        |  round(CAST(sum(CAST(round(CASE WHEN k = 1 THEN 1.0
        |    WHEN k = 2 THEN 0.5
        |    WHEN rk = 1 OR rk = k THEN 0.4
        |    ELSE 0.2 / (CAST(k AS DOUBLE) - 2.0) END, 9)
        |    AS DECIMAL(18,9))) AS DOUBLE), 6) AS credit_position
        |FROM r GROUP BY 1 ORDER BY channel""".stripMargin,
    // MI re-derived: round-9 shares, the p(a)p(b) product inside the ln
    // as one double expression, round-10 quantized terms, entropies off
    // the marginal frames, the compiled ln 2
    "q_mutual_info" ->
      """WITH cells AS (SELECT p_brand AS g,
        |    CAST(p_type AS VARCHAR) AS la, CAST(p_size AS VARCHAR) AS lb,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM part WHERE p_type IS NOT NULL AND p_size IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |ma AS (SELECT g, la, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |mb AS (SELECT g, lb, CAST(sum(o) AS BIGINT) AS cb
        |  FROM cells GROUP BY 1, 2),
        |pg AS (SELECT g, CAST(sum(o) AS BIGINT) AS n
        |  FROM cells GROUP BY 1),
        |j AS (SELECT cells.g AS g,
        |    round(CAST(o AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pab,
        |    round(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pa,
        |    round(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pb, n
        |  FROM cells
        |    JOIN ma ON cells.g = ma.g AND cells.la = ma.la
        |    JOIN mb ON cells.g = mb.g AND cells.lb = mb.lb
        |    JOIN pg ON cells.g = pg.g),
        |mi AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(CASE WHEN pab > 0.0 THEN
        |      pab * ln(pab / (pa * pb)) ELSE 0.0 END, 10)
        |      AS DECIMAL(28,14))) AS DOUBLE) AS miu
        |  FROM j GROUP BY g),
        |ha AS (SELECT g,
        |    CAST(sum(CAST(round(CASE WHEN p > 0.0 THEN -p * ln(p)
        |      ELSE 0.0 END, 10) AS DECIMAL(28,14))) AS DOUBLE) AS hau
        |  FROM (SELECT ma.g AS g,
        |      round(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p
        |    FROM ma JOIN pg ON ma.g = pg.g)
        |  GROUP BY g),
        |hb AS (SELECT g,
        |    CAST(sum(CAST(round(CASE WHEN p > 0.0 THEN -p * ln(p)
        |      ELSE 0.0 END, 10) AS DECIMAL(28,14))) AS DOUBLE) AS hbu
        |  FROM (SELECT mb.g AS g,
        |      round(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p
        |    FROM mb JOIN pg ON mb.g = pg.g)
        |  GROUP BY g)
        |SELECT mi.g AS g, n,
        |  round(miu / 0.6931471805599453, 6) AS mi,
        |  round(hau / 0.6931471805599453, 6) AS h_a,
        |  round(hbu / 0.6931471805599453, 6) AS h_b,
        |  CASE WHEN hau > 0.0 AND hbu > 0.0 THEN
        |    round(miu / (sqrt(hau) * sqrt(hbu)), 6) END AS nmi
        |FROM mi JOIN ha ON mi.g = ha.g JOIN hb ON mi.g = hb.g
        |ORDER BY g""".stripMargin,
    // bins re-derived: the identical integer ECDF arithmetic
    // (countBelow·k div n), joined back on (group, value)
    "q_equal_freq_bins" ->
      """WITH c AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT g, v, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM c),
        |b AS (SELECT g, v, ((cum - cnt) * 8) // n AS bin FROM r)
        |SELECT doc_id, d.source AS source, CAST(d.n_chars AS DOUBLE) AS v,
        |  bin
        |FROM documents d JOIN b ON d.source = b.g
        |  AND CAST(d.n_chars AS DOUBLE) = b.v
        |WHERE d.n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // LOO encoding re-derived: exact DECIMAL sums, one division of
    // exact numerators, singleton fallback to the global LOO prior
    "q_target_encode" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority AS cat,
        |    CAST(o_totalprice AS DECIMAL(14,2)) AS y
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |cs AS (SELECT cat, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(y) AS DECIMAL(28,2)) AS s FROM base GROUP BY cat),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS gn,
        |    CAST(sum(y) AS DECIMAL(28,2)) AS gs FROM base)
        |SELECT o_orderkey, base.cat AS cat, CAST(y AS DOUBLE) AS y,
        |  CASE WHEN cn > 1 THEN
        |      round((CAST(s AS DOUBLE) - CAST(y AS DOUBLE))
        |        / CAST(cn - 1 AS DOUBLE), 6)
        |    WHEN gn > 1 THEN
        |      round((CAST(gs AS DOUBLE) - CAST(y AS DOUBLE))
        |        / CAST(gn - 1 AS DOUBLE), 6)
        |  END AS enc
        |FROM base JOIN cs ON base.cat = cs.cat CROSS JOIN g
        |ORDER BY o_orderkey""".stripMargin,
    // lift table re-derived: descending integer ECDF buckets, exact
    // count divisions with the same parenthesization
    "q_lift_table" ->
      s"""WITH base AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v,
        |    (len($tokensSql) > 250) AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM base GROUP BY 1, 2),
        |r AS (SELECT g, v, cnt, p,
        |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM c),
        |bk AS (SELECT g, ((cum - cnt) * 10) // n AS bucket, cnt, p
        |  FROM r),
        |agg AS (SELECT g, bucket, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS n_pos
        |  FROM bk GROUP BY 1, 2),
        |w AS (SELECT g, bucket, n, n_pos,
        |    CAST(sum(n) OVER (PARTITION BY g) AS BIGINT) AS tn,
        |    CAST(sum(n_pos) OVER (PARTITION BY g) AS BIGINT) AS tp,
        |    CAST(sum(n_pos) OVER (PARTITION BY g ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
        |  FROM agg)
        |SELECT g, bucket, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        |  CASE WHEN tp > 0 THEN
        |    round(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE), 6)
        |  END AS cum_capture,
        |  CASE WHEN tp > 0 THEN
        |    round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
        |  END AS lift
        |FROM w ORDER BY g, bucket""".stripMargin,
    // KM re-derived: same per-(group, time) event/censor counts, risk
    // set by total-minus-consumed, round-9 factor before the ln,
    // DECIMAL-quantized log terms, exp on the round-10 cumsum
    "q_kaplan_meier" ->
      """WITH f AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS t,
        |    (user_id % 3 <> 0) AS e
        |  FROM events WHERE value IS NOT NULL),
        |cnt AS (SELECT g, t,
        |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS cc
        |  FROM f GROUP BY 1, 2),
        |w AS (SELECT g, t, d, cc,
        |    CAST(sum(d + cc) OVER (PARTITION BY g) AS BIGINT)
        |      - CAST(coalesce(sum(d + cc) OVER (PARTITION BY g ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n_risk
        |  FROM cnt),
        |l AS (SELECT *,
        |    CASE WHEN d > 0 AND d < n_risk THEN
        |      CAST(round(ln(1.0 - round(CAST(d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE), 9)), 10) AS DECIMAL(28,14))
        |      ELSE CAST(0 AS DECIMAL(28,14)) END AS lf,
        |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS dead
        |  FROM w),
        |srv AS (SELECT g, t, n_risk, d, cc,
        |    CASE WHEN dead = 1 THEN 0.0 ELSE
        |      round(exp(round(CAST(sum(lf) OVER (PARTITION BY g
        |        ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE), 10)), 6)
        |      END AS survival
        |  FROM l)
        |SELECT g, t, n_risk, d, cc AS c, survival
        |FROM srv WHERE d > 0 ORDER BY g, t""".stripMargin,
    // Spearman re-derived: doubled average ranks off the per-(group,
    // value) cumulative counts, exact DECIMAL(38,0) moments, the same
    // fixed-parenthesization Pearson on the moment doubles
    "q_spearman" ->
      """WITH base AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS DOUBLE) AS a,
        |    CAST(l_extendedprice AS DOUBLE) AS b
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |ca AS (SELECT g, a, CAST(count(*) AS BIGINT) AS cnt
        |  FROM base GROUP BY 1, 2),
        |ra AS (SELECT g, a,
        |    2 * CAST(sum(cnt) OVER (PARTITION BY g ORDER BY a
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt + 1 AS sa
        |  FROM ca),
        |cb AS (SELECT g, b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM base GROUP BY 1, 2),
        |rb AS (SELECT g, b,
        |    2 * CAST(sum(cnt) OVER (PARTITION BY g ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt + 1 AS sb
        |  FROM cb),
        |j AS (SELECT base.g AS g, sa, sb FROM base
        |  JOIN ra ON base.g = ra.g AND base.a = ra.a
        |  JOIN rb ON base.g = rb.g AND base.b = rb.b),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(sa AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ta,
        |    CAST(sum(CAST(sb AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS tb,
        |    CAST(sum(CAST(sa AS DECIMAL(19,0)) * CAST(sa AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS taa,
        |    CAST(sum(CAST(sb AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS tbb,
        |    CAST(sum(CAST(sa AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS tab
        |  FROM j GROUP BY g)
        |SELECT g, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(taa AS DOUBLE)
        |        - CAST(ta AS DOUBLE) * CAST(ta AS DOUBLE)) > 0.0
        |      AND (CAST(n AS DOUBLE) * CAST(tbb AS DOUBLE)
        |        - CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE)) > 0.0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(tab AS DOUBLE)
        |        - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(taa AS DOUBLE)
        |          - CAST(ta AS DOUBLE) * CAST(ta AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE) * CAST(tbb AS DOUBLE)
        |          - CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE))), 6)
        |  END AS rho
        |FROM m ORDER BY g""".stripMargin,
    // JSD re-derived: round-9 shares and midpoint, round-10 quantized
    // p·ln(p/m) terms, the two KL halves summed separately, the same
    // compiled ln 2 constant
    "q_jsd_drift" ->
      """WITH f AS (SELECT user_id % 4 AS g, event_type AS cat,
        |    CASE WHEN floor(epoch(ts)) < 1705363200 THEN 'base' ELSE 'cur'
        |      END AS s
        |  FROM events WHERE event_type IS NOT NULL),
        |c AS (SELECT g, cat,
        |    CAST(sum(CASE WHEN s = 'base' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN s = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc
        |  FROM f GROUP BY 1, 2),
        |w AS (SELECT g, cat, nb, nc,
        |    CAST(sum(nb) OVER (PARTITION BY g) AS BIGINT) AS tb,
        |    CAST(sum(nc) OVER (PARTITION BY g) AS BIGINT) AS tc
        |  FROM c),
        |sh AS (SELECT g, tb, tc,
        |    CASE WHEN tb > 0 THEN
        |      round(CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE), 9)
        |      ELSE 0.0 END AS p,
        |    CASE WHEN tc > 0 THEN
        |      round(CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE), 9)
        |      ELSE 0.0 END AS q
        |  FROM w),
        |t AS (SELECT g, tb, tc, p, q, round((p + q) * 0.5, 9) AS m
        |  FROM sh)
        |SELECT g, CAST(max(tb) AS BIGINT) AS n_base,
        |  CAST(max(tc) AS BIGINT) AS n_cur,
        |  CAST(count(*) AS BIGINT) AS n_categories,
        |  CASE WHEN max(tb) > 0 AND max(tc) > 0 THEN
        |    round((CAST(sum(CASE WHEN p > 0.0 THEN
        |        CAST(round(p * ln(p / m), 10) AS DECIMAL(28,14))
        |        ELSE CAST(0 AS DECIMAL(28,14)) END) AS DOUBLE)
        |      + CAST(sum(CASE WHEN q > 0.0 THEN
        |        CAST(round(q * ln(q / m), 10) AS DECIMAL(28,14))
        |        ELSE CAST(0 AS DECIMAL(28,14)) END) AS DOUBLE))
        |      * 0.5 / 0.6931471805599453, 6) END AS jsd
        |FROM t GROUP BY g ORDER BY g""".stripMargin,
    // ACF re-derived: the same dense zero-filled DECIMAL(18,2) bucket
    // series (gap-fill grid CTE), exact DECIMAL pair moments, the
    // corrMatrix fixed-parenthesization Pearson, and the dense
    // (key, lag) grid so zero-pair lags still emit n_pairs = 0 rows
    "q_autocorr" ->
      """WITH obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b AS b,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |lags(lag) AS (VALUES (1), (2), (3), (7)),
        |pr AS (SELECT s.g AS g, l.lag AS lag, s.x AS x, t.x AS y
        |  FROM ser s CROSS JOIN lags l
        |  JOIN ser t ON t.g = s.g
        |    AND t.b = s.b + CAST(l.lag AS BIGINT) * 86400),
        |mom AS (SELECT g, lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM pr GROUP BY 1, 2),
        |lg AS (SELECT o.g AS g, l.lag AS lag
        |  FROM (SELECT DISTINCT g FROM obs) o CROSS JOIN lags l)
        |SELECT lg.g AS g, CAST(lg.lag AS INT) AS lag,
        |  CAST(coalesce(m.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CASE WHEN m.n_pairs >= 2
        |      AND CAST(m.n_pairs AS DOUBLE) * sxx - sx * sx > 0.0
        |      AND CAST(m.n_pairs AS DOUBLE) * syy - sy * sy > 0.0 THEN
        |    round((CAST(m.n_pairs AS DOUBLE) * sxy - sx * sy)
        |      / (sqrt(CAST(m.n_pairs AS DOUBLE) * sxx - sx * sx)
        |        * sqrt(CAST(m.n_pairs AS DOUBLE) * syy - sy * sy)), 6)
        |  END AS acf
        |FROM lg LEFT JOIN mom m ON lg.g = m.g AND lg.lag = m.lag
        |ORDER BY g, lag""".stripMargin,
    // seasonal profile re-derived: same dense series, integer phase
    // (b // step) % period, quantized per-phase S_p²/n_p fit terms over
    // the phase frame, strength off unrounded SSE doubles
    "q_seasonal_profile" ->
      """WITH obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b AS b,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |ph AS (SELECT g, (b // 86400) % 7 AS phase,
        |    CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(sum(x) AS DECIMAL(28,2)) AS sp,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS ssp
        |  FROM ser GROUP BY 1, 2),
        |w AS (SELECT g, phase, n_buckets, sp,
        |    CAST(sum(n_buckets) OVER (PARTITION BY g) AS BIGINT) AS nn,
        |    CAST(sum(sp) OVER (PARTITION BY g) AS DECIMAL(38,2)) AS s,
        |    CAST(sum(ssp) OVER (PARTITION BY g) AS DECIMAL(38,4)) AS ss,
        |    sum(CAST(round(CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
        |        / CAST(n_buckets AS DOUBLE), 6) AS DECIMAL(30,6)))
        |      OVER (PARTITION BY g) AS fit
        |  FROM ph)
        |SELECT g, phase, n_buckets,
        |  round(CAST(sp AS DOUBLE) / CAST(n_buckets AS DOUBLE), 6)
        |    AS mean_v,
        |  CASE WHEN CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(nn AS DOUBLE) > 0.0 THEN
        |    round(greatest(1.0
        |      - (CAST(ss AS DOUBLE) - CAST(fit AS DOUBLE))
        |        / (CAST(ss AS DOUBLE)
        |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |            / CAST(nn AS DOUBLE)), 0.0), 6)
        |  END AS seasonal_strength
        |FROM w ORDER BY g, phase""".stripMargin,
    // item-item cosine re-derived: the q_assoc_rules basket self-join
    // with the bounded-geometry cosine term pn / (√a·√b)
    "q_item_cosine" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |it AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items
        |  GROUP BY 1),
        |pr AS (SELECT a.i AS x, c.i AS y, CAST(count(*) AS BIGINT) AS pn
        |  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT x AS item_a, y AS item_b, pn AS pair_baskets,
        |  ia.cnt AS a_baskets, ic.cnt AS b_baskets,
        |  round(CAST(pn AS DOUBLE)
        |    / (sqrt(CAST(ia.cnt AS DOUBLE))
        |      * sqrt(CAST(ic.cnt AS DOUBLE))), 6) AS cosine
        |FROM pr JOIN it ia ON pr.x = ia.i JOIN it ic ON pr.y = ic.i
        |ORDER BY item_a, item_b""".stripMargin,
    // l-diversity re-derived: the kAnonymity group counts (ALL rows)
    // plus distinct-sensitive cells and the q_jsd_drift entropy-term
    // discipline over non-null shares
    "q_l_diversity" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
        |    user_id
        |  FROM events),
        |tot AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |cells AS (SELECT event_type, day, user_id,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e WHERE user_id IS NOT NULL GROUP BY 1, 2, 3),
        |w AS (SELECT event_type, day, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type, day) AS BIGINT)
        |      AS nn
        |  FROM cells),
        |g AS (SELECT event_type, day,
        |    CAST(count(*) AS BIGINT) AS l_distinct,
        |    CAST(sum(CAST(round(CASE
        |      WHEN round(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE), 9) > 0.0
        |      THEN -round(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE), 9)
        |        * ln(round(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE), 9))
        |      ELSE 0.0 END, 10) AS DECIMAL(28,14))) AS DOUBLE) AS h
        |  FROM w GROUP BY 1, 2)
        |SELECT t.event_type, t.day, t.n,
        |  CAST(coalesce(g.l_distinct, 0) AS BIGINT) AS l_distinct,
        |  CASE WHEN g.l_distinct > 0 THEN
        |    round(h / 0.6931471805599453, 6) END AS entropy_bits,
        |  coalesce(g.l_distinct, 0) < 5 AS violates_l
        |FROM tot t LEFT JOIN g
        |  ON t.event_type = g.event_type AND t.day = g.day
        |ORDER BY t.event_type, t.day""".stripMargin,
    // PII scrub re-derived: the SAME portable patterns (shared textually
    // via the TextAnalysis constants), same injection, same fixed
    // redaction order — the clean_text hash is the real assertion
    "t_pii_scrub" -> {
      val em = graft.ops.TextAnalysis.EmailRe
      val ip = graft.ops.TextAnalysis.Ipv4Re
      val ph = graft.ops.TextAnalysis.PhoneRe
      s"""WITH d2 AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR)
        |      || '.7 call 555-123-4242 ok' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$em')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, '$ip')) AS INTEGER)
        |    AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '$ph')) AS INTEGER)
        |    AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '$em', '[EMAIL]', 'g'),
        |    '$ip', '[IP]', 'g'),
        |    '$ph', '[PHONE]', 'g') AS clean_text
        |FROM d2 ORDER BY doc_id""".stripMargin
    },
    // DAU/WAU/MAU re-derived: distinct (user, day) cells, the 28-way
    // contribution explode, conditional distinct counts, dense grid
    "q_active_users" ->
      """WITH cells AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |bnd AS (SELECT min(d) AS lo, max(d) AS hi FROM cells),
        |con AS (SELECT u, d + k AS td, k
        |  FROM cells CROSS JOIN (SELECT unnest(range(0, 28)) AS k)),
        |cnt AS (SELECT td AS d,
        |    CAST(count(DISTINCT CASE WHEN k = 0 THEN u END) AS BIGINT)
        |      AS dau,
        |    CAST(count(DISTINCT CASE WHEN k < 7 THEN u END) AS BIGINT)
        |      AS wau,
        |    CAST(count(DISTINCT u) AS BIGINT) AS mau
        |  FROM con, bnd WHERE td <= hi GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bnd)
        |SELECT grid.d,
        |  CAST(coalesce(dau, 0) AS BIGINT) AS dau,
        |  CAST(coalesce(wau, 0) AS BIGINT) AS wau,
        |  CAST(coalesce(mau, 0) AS BIGINT) AS mau,
        |  CASE WHEN coalesce(mau, 0) > 0 THEN
        |    round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6)
        |  END AS stickiness
        |FROM grid LEFT JOIN cnt ON grid.d = cnt.d
        |ORDER BY grid.d""".stripMargin,
    // seasonal outliers re-derived: dense series + phase means, 6-dp
    // residuals, the q_mad_outliers lower-median CTE pair on residuals
    "q_seasonal_outliers" ->
      """WITH obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b AS b,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |ph AS (SELECT g, (b // 86400) % 7 AS phase,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DECIMAL(28,2)) AS sp
        |  FROM ser GROUP BY 1, 2),
        |ex AS (SELECT g, phase,
        |    round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected
        |  FROM ph),
        |r AS (SELECT ser.g AS g, b, CAST(x AS DOUBLE) AS x, expected,
        |    round(CAST(x AS DOUBLE) - expected, 6) AS resid
        |  FROM ser JOIN ex ON ser.g = ex.g
        |    AND (ser.b // 86400) % 7 = ex.phase),
        |c AS (SELECT g, resid AS v, count(*) AS c FROM r GROUP BY 1, 2),
        |cc AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM c),
        |med AS (SELECT g, min(v) AS med FROM cc WHERE cum * 2 >= n
        |  GROUP BY g),
        |d2 AS (SELECT r.g, abs(r.resid - med.med) AS v
        |  FROM r JOIN med USING (g)),
        |c2 AS (SELECT g, v, count(*) AS c FROM d2 GROUP BY 1, 2),
        |cc2 AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM c2),
        |mad AS (SELECT g, min(v) AS mad FROM cc2 WHERE cum * 2 >= n
        |  GROUP BY g)
        |SELECT r.g AS g, b, x, expected, resid, med.med AS med,
        |  mad.mad AS mad,
        |  CASE WHEN mad.mad > 0 THEN
        |    round((r.resid - med.med) / (1.4826 * mad.mad), 6) END AS rz,
        |  coalesce(abs(CASE WHEN mad.mad > 0 THEN
        |    round((r.resid - med.med) / (1.4826 * mad.mad), 6) END) > 2.0,
        |    false) AS is_outlier
        |FROM r JOIN med USING (g) JOIN mad USING (g)
        |ORDER BY g, b""".stripMargin,
    // robust scaling re-derived: pick-an-existing-value quantiles at
    // ceil(q*n) off the group ECDF, one fixed-parenthesization division
    "q_robust_scale" ->
      """WITH b AS (SELECT doc_id, source AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents),
        |c AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |cc AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM c),
        |m AS (SELECT g, min(v) AS med FROM cc WHERE cum >= ceil(0.5 * n)
        |  GROUP BY g),
        |qa AS (SELECT g, min(v) AS q1 FROM cc WHERE cum >= ceil(0.25 * n)
        |  GROUP BY g),
        |qc AS (SELECT g, min(v) AS q3 FROM cc WHERE cum >= ceil(0.75 * n)
        |  GROUP BY g)
        |SELECT doc_id, b.g AS source, v, med, q1, q3,
        |  CASE WHEN q3 > q1 THEN round((v - med) / (q3 - q1), 6) END
        |    AS scaled
        |FROM b JOIN m USING (g) JOIN qa USING (g) JOIN qc USING (g)
        |ORDER BY doc_id""".stripMargin,
    // weighted sample re-derived: the SAME md5-Horner 60-bit hash, the
    // same (hv+1)/2^60 uniform, 12-dp exponential keys, (key, id) order
    "q_weighted_sample" -> {
      s"""WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS id,
        |    CAST(o_totalprice AS DOUBLE) AS w FROM orders),
        |b2 AS (SELECT * FROM b WHERE w > 0.0),
        |h AS (SELECT g, id, w,
        |    ${md5HornerSql("'ws:' || CAST(id AS VARCHAR)")} AS hv
        |  FROM b2),
        |kk AS (SELECT g, id, w,
        |    round(-ln(CAST(hv + 1 AS DOUBLE)
        |        / CAST(1152921504606846976 AS DOUBLE)) / w, 12) AS key
        |  FROM h),
        |r AS (SELECT g, id, w, key, row_number() OVER (
        |    PARTITION BY g ORDER BY key, id) AS rank FROM kk)
        |SELECT g, CAST(rank AS BIGINT) AS rank, id, w AS weight, key
        |FROM r WHERE rank <= 50 ORDER BY g, rank""".stripMargin
    },
    // 2-D histogram re-derived: the q_histogram clamped-edge bin
    // arithmetic on each axis, observed cells only, 6-dp shares
    "q_histogram_2d" ->
      """WITH f AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem),
        |cells AS (SELECT g,
        |    CASE WHEN x = 50.0 THEN 9
        |      ELSE least(CAST(floor((x - 0.0) * 10.0 / 50.0) AS INT), 9)
        |    END AS bx,
        |    CASE WHEN y = 120000.0 THEN 11
        |      ELSE least(CAST(floor((y - 0.0) * 12.0 / 120000.0) AS INT), 11)
        |    END AS by,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM f
        |  WHERE x >= 0.0 AND x <= 50.0 AND y >= 0.0 AND y <= 120000.0
        |  GROUP BY 1, 2, 3)
        |SELECT g, bx, by,
        |  round(0.0 + bx * (50.0 / 10.0), 6) AS x_lo,
        |  round(0.0 + by * (120000.0 / 12.0), 6) AS y_lo,
        |  n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY g) AS DOUBLE), 6) AS share
        |FROM cells ORDER BY g, bx, by""".stripMargin,
    // c-TF-IDF re-derived: class-term counts, corpus frequencies, the
    // same tf * ln(1 + (T/C)/f) double chain, rank on the ROUNDED score
    "t_ctfidf_terms" ->
      s"""WITH toks AS (SELECT source AS cls, unnest($tokensSql) AS term
        |  FROM documents),
        |tfc AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f FROM tfc
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t,
        |    CAST(count(DISTINCT cls) AS BIGINT) AS c FROM tfc),
        |sc AS (SELECT cls, tfc.term AS term, tf, f,
        |    round(CAST(tf AS DOUBLE) * ln(1.0
        |      + (CAST(t AS DOUBLE) / CAST(c AS DOUBLE))
        |        / CAST(f AS DOUBLE)), 6) AS score
        |  FROM tfc JOIN ft ON tfc.term = ft.term CROSS JOIN tot),
        |r AS (SELECT cls, term, tf, f, score, row_number() OVER (
        |    PARTITION BY cls ORDER BY score DESC, term ASC) AS rank
        |  FROM sc)
        |SELECT cls, CAST(rank AS INTEGER) AS rank, term, tf, f, score
        |FROM r WHERE rank <= 15 ORDER BY cls, rank""".stripMargin,
    // OLS re-derived: DECIMAL(14,2) inputs, exact DECIMAL(38,4)
    // moments, the same fixed-parenthesization slope/intercept/R²
    // chains (the intercept consumes the unrounded num/denx)
    "q_group_regression" ->
      """WITH b AS (SELECT event_type AS g,
        |    CAST(CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) % 100000
        |      AS DECIMAL(14,2)) AS x,
        |    CAST(value AS DECIMAL(14,2)) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1),
        |t AS (SELECT g, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS denx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS deny
        |  FROM m)
        |SELECT g, n,
        |  CASE WHEN n >= 2 AND denx > 0.0 THEN round(num / denx, 6) END
        |    AS slope,
        |  CASE WHEN n >= 2 AND denx > 0.0 THEN
        |    round((sy - (num / denx) * sx) / CAST(n AS DOUBLE), 6) END
        |    AS intercept,
        |  CASE WHEN n >= 2 AND denx > 0.0 AND deny > 0.0 THEN
        |    round(num * num / (denx * deny), 6) END AS r2
        |FROM t ORDER BY g""".stripMargin,
    // Theil-Sen re-derived: same dense series, pairwise slope divisions
    // of exact DECIMAL diffs by integer gaps, lower-median pick
    "q_theil_sen" ->
      """WITH obs AS (SELECT event_type AS g,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS vo
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b
        |  FROM span),
        |ser AS (SELECT grid.g AS g, grid.b // 86400 AS i,
        |    coalesce(vo, CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM grid LEFT JOIN obs ON grid.g = obs.g AND grid.b = obs.b),
        |pr AS (SELECT a.g AS g,
        |    CAST(c.x - a.x AS DOUBLE) / CAST(c.i - a.i AS DOUBLE) AS s
        |  FROM ser a JOIN ser c ON a.g = c.g AND c.i > a.i),
        |cnt AS (SELECT g, s, count(*) AS c FROM pr GROUP BY 1, 2),
        |cc AS (SELECT g, s, sum(c) OVER (PARTITION BY g ORDER BY s) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM cnt),
        |med AS (SELECT g, min(s) AS med, CAST(max(n) AS BIGINT) AS n_pairs
        |  FROM cc WHERE cum * 2 >= n GROUP BY g),
        |nb AS (SELECT g, CAST(count(*) AS BIGINT) AS n_buckets FROM ser
        |  GROUP BY 1)
        |SELECT nb.g AS g, n_buckets,
        |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  round(med, 6) AS ts_slope
        |FROM nb LEFT JOIN med ON nb.g = med.g ORDER BY g""".stripMargin,
    // trimmed mean re-derived: picked ECDF cuts, DECIMAL(18,6)-quantized
    // kept mass, one division
    "q_trimmed_mean" ->
      """WITH b AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b
        |  GROUP BY 1, 2),
        |cc AS (SELECT g, v, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM c),
        |lo AS (SELECT g, min(v) AS lo_v FROM cc
        |  WHERE cum >= greatest(1, ceil(0.05 * n)) GROUP BY g),
        |hi AS (SELECT g, min(v) AS hi_v FROM cc
        |  WHERE cum >= greatest(1, ceil(0.95 * n)) GROUP BY g)
        |SELECT cc.g AS g, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v >= lo_v AND v <= hi_v THEN c ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  max(lo_v) AS lo_v, max(hi_v) AS hi_v,
        |  CASE WHEN sum(CASE WHEN v >= lo_v AND v <= hi_v THEN c
        |      ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN v >= lo_v AND v <= hi_v THEN
        |        CAST(round(v, 6) AS DECIMAL(18,6)) * c
        |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |      / CAST(sum(CASE WHEN v >= lo_v AND v <= hi_v THEN c
        |        ELSE 0 END) AS DOUBLE), 6) END AS trimmed_mean
        |FROM cc JOIN lo ON cc.g = lo.g JOIN hi ON cc.g = hi.g
        |GROUP BY cc.g ORDER BY g""".stripMargin,
    // invisible chars re-derived: the SAME portable \x{...} class
    // patterns (shared via the TextAnalysis constants), same injection,
    // same strip order — clean_text is the real assertion
    "t_invisible_chars" -> {
      val zw = graft.ops.TextAnalysis.ZeroWidthRe
      val ct = graft.ops.TextAnalysis.ControlRe
      s"""WITH d2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN text || chr(8203) || ' x' || chr(65279) || chr(7)
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$zw')) AS INTEGER)
        |    AS n_zero_width,
        |  CAST(len(regexp_extract_all(text, '$ct')) AS INTEGER)
        |    AS n_control,
        |  (CAST(len(regexp_extract_all(text, '$zw')) AS INTEGER)
        |    + CAST(len(regexp_extract_all(text, '$ct')) AS INTEGER)) > 0
        |    AS is_dirty,
        |  regexp_replace(regexp_replace(text, '$zw', '', 'g'),
        |    '$ct', '', 'g') AS clean_text
        |FROM d2 ORDER BY doc_id""".stripMargin
    },
    // skew profile re-derived: key counts, broadcast totals, picked
    // ECDF quantiles over the count domain, smallest-argmax top key
    "q_skew_profile" ->
      """WITH counts AS (SELECT CAST(l_partkey AS VARCHAR) AS k,
        |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(c) AS BIGINT) AS max_count FROM counts),
        |ext AS (SELECT min(CASE WHEN c = max_count THEN k END) AS top_key,
        |    CAST(sum(CASE WHEN CAST(c AS DOUBLE) >
        |        0.01 * CAST(n_rows AS DOUBLE) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hot_keys
        |  FROM counts, tot),
        |e AS (SELECT c, count(*) AS m FROM counts GROUP BY 1),
        |cc AS (SELECT c, sum(m) OVER (ORDER BY c) AS cum,
        |    sum(m) OVER () AS n FROM e),
        |p50 AS (SELECT CAST(min(c) AS BIGINT) AS p50_count FROM cc
        |  WHERE cum >= ceil(0.5 * n)),
        |p99 AS (SELECT CAST(min(c) AS BIGINT) AS p99_count FROM cc
        |  WHERE cum >= ceil(0.99 * n))
        |SELECT 'l_partkey' AS key_col, n_rows, n_keys, max_count,
        |  top_key,
        |  round(CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS max_share,
        |  round(CAST(max_count AS DOUBLE)
        |    / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6)
        |    AS skew_ratio,
        |  p50_count, p99_count, n_hot_keys
        |FROM tot, ext, p50, p99""".stripMargin,
    // DP counts re-derived: the same md5-Horner uniform
    // (hv + 0.5)/2^60 and the same Laplace inverse-CDF double chain
    "q_dp_counts" -> {
      s"""WITH c AS (SELECT CAST(event_type AS VARCHAR) AS g,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |h AS (SELECT g, n, ${md5HornerSql("'dp:' || g")} AS hv FROM c),
        |u AS (SELECT g, n, (CAST(hv AS DOUBLE) + 0.5)
        |    / CAST(1152921504606846976 AS DOUBLE) AS uu FROM h)
        |SELECT g, n, CAST(0.5 AS DOUBLE) AS epsilon,
        |  round(CAST(n AS DOUBLE)
        |    + (-2.0) * CAST(sign(uu - 0.5) AS DOUBLE)
        |      * ln(1.0 - 2.0 * abs(uu - 0.5)), 6) AS released
        |FROM u ORDER BY g""".stripMargin
    },
    // Cramér's V re-derived: same cell counts, dense marginal grid
    // (zero-observed cells owe their e term), round-10 quantized χ²
    // cell terms, V off the unrounded χ² double
    "q_cramers_v" ->
      """WITH cells AS (SELECT p_brand AS g,
        |    CAST(p_type AS VARCHAR) AS la,
        |    CAST(p_size AS VARCHAR) AS lb,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM part
        |  WHERE p_type IS NOT NULL AND p_size IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |ma AS (SELECT g, la, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |mb AS (SELECT g, lb, CAST(sum(o) AS BIGINT) AS cb
        |  FROM cells GROUP BY 1, 2),
        |pg AS (SELECT g, CAST(sum(o) AS BIGINT) AS n
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT ma.g AS g, la, lb, ra, cb, n
        |  FROM ma JOIN mb ON ma.g = mb.g JOIN pg ON pg.g = ma.g),
        |t AS (SELECT grid.g AS g, grid.la AS la, grid.lb AS lb, n,
        |    CAST(round((coalesce(CAST(o AS DOUBLE), 0.0)
        |        - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |      * (coalesce(CAST(o AS DOUBLE), 0.0)
        |        - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |      / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |          / CAST(n AS DOUBLE)), 10) AS DECIMAL(28,14)) AS term
        |  FROM grid LEFT JOIN cells ON grid.g = cells.g
        |    AND grid.la = cells.la AND grid.lb = cells.lb),
        |st AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
        |    CAST(count(DISTINCT la) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT lb) AS BIGINT) AS n_cols,
        |    CAST(sum(term) AS DOUBLE) AS chi2u
        |  FROM t GROUP BY g)
        |SELECT g, n, n_rows, n_cols, round(chi2u, 6) AS chi2,
        |  CASE WHEN least(n_rows, n_cols) - 1 > 0 AND n > 0 THEN
        |    round(sqrt(chi2u / (CAST(n AS DOUBLE)
        |      * CAST(least(n_rows, n_cols) - 1 AS DOUBLE))), 6) END AS v
        |FROM st ORDER BY g""".stripMargin,
    // chi2 test re-derived: the q_cramers_v cell machinery + the
    // Wilson-Hilferty cube-root z (9-dp before the A&S tail), one-sided
    // p off the halved two-sided polynomial
    "q_chi2_test" ->
      """WITH cells AS (SELECT p_brand AS g,
        |    CAST(p_type AS VARCHAR) AS la,
        |    CAST(p_size AS VARCHAR) AS lb,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM part
        |  WHERE p_type IS NOT NULL AND p_size IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |ma AS (SELECT g, la, CAST(sum(o) AS BIGINT) AS ra
        |  FROM cells GROUP BY 1, 2),
        |mb AS (SELECT g, lb, CAST(sum(o) AS BIGINT) AS cb
        |  FROM cells GROUP BY 1, 2),
        |pg AS (SELECT g, CAST(sum(o) AS BIGINT) AS n
        |  FROM cells GROUP BY 1),
        |grid AS (SELECT ma.g AS g, la, lb, ra, cb, n
        |  FROM ma JOIN mb ON ma.g = mb.g JOIN pg ON pg.g = ma.g),
        |t AS (SELECT grid.g AS g, grid.la AS la, grid.lb AS lb, n,
        |    CAST(round((coalesce(CAST(o AS DOUBLE), 0.0)
        |        - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |      * (coalesce(CAST(o AS DOUBLE), 0.0)
        |        - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |      / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |          / CAST(n AS DOUBLE)), 10) AS DECIMAL(28,14)) AS term
        |  FROM grid LEFT JOIN cells ON grid.g = cells.g
        |    AND grid.la = cells.la AND grid.lb = cells.lb),
        |st AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
        |    CAST(count(DISTINCT la) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT lb) AS BIGINT) AS n_cols,
        |    CAST(sum(term) AS DOUBLE) AS chi2u
        |  FROM t GROUP BY g),
        |zf AS (SELECT g, n, n_rows, n_cols,
        |    (n_rows - 1) * (n_cols - 1) AS df, chi2u,
        |    CASE WHEN (n_rows - 1) * (n_cols - 1) > 0 AND n > 0 THEN
        |      round((cbrt(chi2u / CAST((n_rows - 1) * (n_cols - 1)
        |          AS DOUBLE))
        |        - (1.0 - 2.0 / (9.0 * CAST((n_rows - 1) * (n_cols - 1)
        |          AS DOUBLE))))
        |        / sqrt(2.0 / (9.0 * CAST((n_rows - 1) * (n_cols - 1)
        |          AS DOUBLE))), 9) END AS z9
        |  FROM st),
        |pf AS (SELECT g, n, n_rows, n_cols, df, chi2u, z9,
        |    1.0 / (1.0 + 0.2316419 * abs(z9)) AS tt FROM zf)
        |SELECT g, n, n_rows, n_cols, df, round(chi2u, 6) AS chi2,
        |  round(z9, 6) AS z_wh,
        |  CASE WHEN z9 IS NOT NULL THEN round(
        |    CASE WHEN z9 >= 0.0 THEN
        |      least(1.0, round(2.0 * (0.3989422804014327
        |        * exp(abs(z9) * abs(z9) / (-2.0))
        |        * (tt * (0.319381530 + tt * (-0.356563782
        |          + tt * (1.781477937 + tt * (-1.821255978
        |          + tt * 1.330274429)))))), 9)) / 2.0
        |    ELSE 1.0 - least(1.0, round(2.0 * (0.3989422804014327
        |        * exp(abs(z9) * abs(z9) / (-2.0))
        |        * (tt * (0.319381530 + tt * (-0.356563782
        |          + tt * (1.781477937 + tt * (-1.821255978
        |          + tt * 1.330274429)))))), 9)) / 2.0
        |    END, 6) END AS p_value
        |FROM pf ORDER BY g""".stripMargin,
    // ESS re-derived: exact DECIMAL weight sums (squares at (38,8)),
    // the Kish chains as single double expressions
    "q_ess" ->
      """WITH b AS (SELECT event_type AS g,
        |    CAST(value AS DECIMAL(14,4)) AS w FROM events),
        |a AS (SELECT g,
        |    CAST(sum(CASE WHEN w IS NULL OR w <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dropped,
        |    CAST(count(CASE WHEN w > 0 THEN 1 END) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN w > 0 THEN w END) AS DECIMAL(38,4)) AS sw,
        |    CAST(sum(CASE WHEN w > 0 THEN CAST(w * w AS DECIMAL(38,8))
        |      END) AS DECIMAL(38,8)) AS sw2
        |  FROM b GROUP BY 1)
        |SELECT g, n, n_dropped, round(CAST(sw AS DOUBLE), 6) AS sum_w,
        |  CASE WHEN n > 0 THEN round(CAST(sw AS DOUBLE)
        |    * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6) END AS ess,
        |  CASE WHEN n > 0 THEN round(CAST(n AS DOUBLE)
        |    / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |      / CAST(sw2 AS DOUBLE)), 6) END AS deff
        |FROM a ORDER BY g""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH m AS (SELECT source, count(*) AS n,
        |    CAST(sum(CAST(n_chars AS DECIMAL(14,2))) AS DECIMAL(28,2)) AS s,
        |    CAST(sum(CAST(n_chars AS DECIMAL(14,2)) * CAST(n_chars AS DECIMAL(14,2))) AS DECIMAL(38,4)) AS ss
        |  FROM documents GROUP BY 1),
        |st AS (SELECT source, n, CAST(s AS DOUBLE) / n AS mean,
        |    CASE WHEN n >= 2 THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) END AS var
        |  FROM m)
        |SELECT doc_id, d.source, CAST(n_chars AS DOUBLE) AS v,
        |  round(mean, 6) AS mean,
        |  CASE WHEN var > 0 THEN round((CAST(n_chars AS DOUBLE) - mean) / sqrt(var), 6) END AS z,
        |  coalesce(abs(CASE WHEN var > 0 THEN round((CAST(n_chars AS DOUBLE) - mean) / sqrt(var), 6) END) > 2.0, false) AS is_anomaly
        |FROM documents d JOIN st ON d.source = st.source
        |ORDER BY doc_id""".stripMargin,
    "q_quantile_normalize" ->
      """SELECT doc_id, source, n_chars,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 9) AS pr
        |FROM documents ORDER BY source, n_chars, doc_id""".stripMargin,
    "q_scd2_history" ->
      """WITH c AS (SELECT user_id, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events),
        |k AS (SELECT user_id, event_id, event_type FROM c
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, event_id AS valid_from,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL AS is_current
        |FROM k ORDER BY user_id, valid_from""".stripMargin,
    "q_gap_fill" ->
      """WITH obs AS (SELECT user_id AS u,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(24,2)) AS v_obs
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT u, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT u, unnest(generate_series(lo, hi, 86400)) AS b FROM span)
        |SELECT g.u, g.b, CAST(o.v_obs AS DOUBLE) AS v_obs,
        |  CAST(last_value(o.v_obs IGNORE NULLS) OVER (PARTITION BY g.u ORDER BY g.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_filled,
        |  o.v_obs IS NOT NULL AS is_observed
        |FROM grid g LEFT JOIN obs o ON g.u = o.u AND g.b = o.b
        |ORDER BY g.u, g.b""".stripMargin,
    "q_decay_score" ->
      """WITH t AS (SELECT user_id AS u, value,
        |    CAST(floor((1706745600 - floor(epoch(ts))) / (86400.0 * 7)) AS BIGINT) AS p
        |  FROM events)
        |SELECT u,
        |  CAST(CAST(sum(CAST(round(CASE WHEN p < 0 OR p > 62 THEN 0.0
        |    ELSE value * power(0.5, CAST(p AS DOUBLE)) END, 6) AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE) AS decay_score,
        |  count(*) AS n_events
        |FROM t GROUP BY u ORDER BY u""".stripMargin,
    "t_lexical_diversity" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |  FROM cnt GROUP BY 1)
        |SELECT d.doc_id, coalesce(n, 0) AS n_tokens,
        |  coalesce(types, 0) AS n_types, coalesce(hapax, 0) AS n_hapax,
        |  CASE WHEN n > 0 THEN round(CAST(types AS DOUBLE) / n, 6) END AS ttr,
        |  CASE WHEN types > 0 THEN round(CAST(hapax AS DOUBLE) / types, 6) END AS hapax_ratio
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "t_readability" ->
      s"""WITH f AS (SELECT doc_id,
        |    CAST(len($tokensSql) AS INTEGER) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS INTEGER) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) END AS flesch
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_boolean_search" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS t FROM documents)
        |SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(t, x -> x = 'query' OR x = 'table')) AS INTEGER) AS hits
        |FROM t
        |WHERE list_has_all(t, ['query', 'table'])
        |  AND instr(' ' || array_to_string(t, ' ') || ' ', ' the line ') > 0
        |ORDER BY doc_id""".stripMargin,
    "q_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey AS id, p_brand AS blk, p_name AS s,
        |    len(p_name) AS l FROM part)
        |SELECT a.blk, a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |  AND abs(a.l - b.l) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY a.blk, id_a, id_b""".stripMargin,
    // the selling point of the prefix filter is losslessness, so the
    // oracle is BRUTE FORCE: every pair sharing >= 1 distinct 3-shingle,
    // exact intersection from the postings join, Jaccard as one division
    // of exact integers (identical doubles in both engines)
    "d_prefix_jaccard" ->
      s"""WITH toksq AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |      ELSE [array_to_string(t, ' ')] END)) AS g
        |  FROM toksq),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "q_profile_table" -> {
      val cols = Seq(
        ("l_orderkey", "bigint", false), ("l_partkey", "bigint", false),
        ("l_suppkey", "bigint", false), ("l_linenumber", "int", false),
        ("l_quantity", "double", true), ("l_extendedprice", "double", true),
        ("l_discount", "double", true), ("l_tax", "double", true),
        ("l_returnflag", "string", false), ("l_linestatus", "string", false),
        ("l_shipdate", "timestamp_ntz", false))
      cols.map { case (c, t, dbl) =>
        val mn = if (dbl) s"CAST(CAST(min($c) AS DECIMAL(28,6)) AS VARCHAR)"
          else s"CAST(min($c) AS VARCHAR)"
        val mx = if (dbl) s"CAST(CAST(max($c) AS DECIMAL(28,6)) AS VARCHAR)"
          else s"CAST(max($c) AS VARCHAR)"
        s"""SELECT '$c' AS "column", '$t' AS dtype, count(*) AS n_rows,
          |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
          |  $mn AS min_s, $mx AS max_s FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    // the HLL profile: each column's estimate replayed from the identical
    // md5-Horner hash / register-max / integer harmonic sum / linear-
    // counting ladder (the t_hll_distinct discipline, per column)
    "q_profile_table_approx" -> {
      val cols = Seq(
        ("l_orderkey", "bigint", false), ("l_partkey", "bigint", false),
        ("l_suppkey", "bigint", false), ("l_linenumber", "int", false),
        ("l_quantity", "double", true), ("l_extendedprice", "double", true),
        ("l_discount", "double", true), ("l_tax", "double", true),
        ("l_returnflag", "string", false), ("l_linestatus", "string", false),
        ("l_shipdate", "timestamp_ntz", false))
      def est(c: String, dbl: Boolean): String = {
        val rend = if (dbl) s"CAST(CAST($c AS DECIMAL(28,6)) AS VARCHAR)"
          else s"CAST($c AS VARCHAR)"
        s"""(SELECT ROUND(CASE WHEN (64 - count(*)) > 0
          |      AND 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
          |        CAST(COALESCE(sum((CAST(1 AS BIGINT) << CAST(55 - mrho AS INT))), 0) + (64 - count(*)) * 36028797018963968 AS DOUBLE) <= 160e0
          |    THEN 64e0 * ln(64e0 / CAST(64 - count(*) AS DOUBLE))
          |    ELSE 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
          |      CAST(COALESCE(sum((CAST(1 AS BIGINT) << CAST(55 - mrho AS INT))), 0) + (64 - count(*)) * 36028797018963968 AS DOUBLE) END, 6)
          |  FROM (SELECT hv % 64 AS reg,
          |      max(CASE WHEN hv // 64 = 0 THEN 55
          |        ELSE 55 - len(bin(hv // 64)) END) AS mrho
          |    FROM (SELECT ${md5HornerSql(s"'pf:' || $rend")} AS hv
          |      FROM lineitem WHERE $c IS NOT NULL) GROUP BY 1))""".stripMargin
      }
      cols.map { case (c, t, dbl) =>
        val mn = if (dbl) s"CAST(CAST(min($c) AS DECIMAL(28,6)) AS VARCHAR)"
          else s"CAST(min($c) AS VARCHAR)"
        val mx = if (dbl) s"CAST(CAST(max($c) AS DECIMAL(28,6)) AS VARCHAR)"
          else s"CAST(max($c) AS VARCHAR)"
        s"""SELECT '$c' AS "column", '$t' AS dtype, count(*) AS n_rows,
          |  count($c) AS n_nonnull, ${est(c, dbl)} AS n_distinct_est,
          |  $mn AS min_s, $mx AS max_s FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_group_topk" ->
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY (-1.0 * o_totalprice) ASC, o_orderkey ASC) AS BIGINT) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "q_time_weighted_avg" ->
      """WITH t AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |    CAST(value AS DECIMAL(14,2)) AS v FROM events),
        |d AS (SELECT u, v, coalesce(lead(us) OVER (PARTITION BY u
        |    ORDER BY us, v) - us, 0) AS dur FROM t)
        |SELECT u,
        |  CASE WHEN sum(dur) > 0 THEN
        |    round(CAST(sum(CAST(v * CAST(dur AS DECIMAL(18,0)) AS DECIMAL(38,2))) AS DOUBLE)
        |      / sum(dur), 6) END AS twa,
        |  count(*) AS n_events
        |FROM d GROUP BY u ORDER BY u""".stripMargin,
    "q_entity_resolution" ->
      """WITH RECURSIVE p AS (SELECT p_partkey AS id, p_brand AS blk,
        |    p_name AS s, len(p_name) AS l FROM part),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |    AND abs(a.l - b.l) <= 2
        |  WHERE levenshtein(a.s, b.s) <= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |reach AS (SELECT src AS id, src AS r FROM edges
        |  UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |m AS (SELECT p.id AS p_partkey, coalesce(cl.cluster, p.id) AS entity_id
        |  FROM p LEFT JOIN cl ON p.id = cl.id),
        |sz AS (SELECT entity_id, count(*) AS entity_size FROM m GROUP BY 1)
        |SELECT m.p_partkey, m.entity_id,
        |  m.p_partkey = m.entity_id AS is_canonical, sz.entity_size
        |FROM m JOIN sz USING (entity_id) ORDER BY m.p_partkey""".stripMargin,
    "q_label_prop" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS p1, b.pk AS p2 FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.ln = b.ln - 1 WHERE a.pk <> b.pk),
        |und AS (SELECT DISTINCT src, dst FROM (
        |  SELECT p1 AS src, p2 AS dst FROM e0
        |  UNION ALL SELECT p2, p1 FROM e0)),
        |nodes AS (SELECT DISTINCT src AS node FROM und),
        |seeds AS (SELECT p_partkey AS node, p_type AS slbl FROM part
        |  WHERE p_partkey % 4 = 0),
        |l0 AS (SELECT n.node, s.slbl AS lbl FROM nodes n
        |  LEFT JOIN seeds s ON n.node = s.node),
        |nb1 AS (SELECT u.src, l.lbl, count(*) AS c FROM und u
        |  JOIN l0 l ON l.node = u.dst WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
        |p1 AS (SELECT src AS node, lbl AS plbl FROM (
        |  SELECT src, lbl, row_number() OVER (PARTITION BY src
        |    ORDER BY c DESC, lbl ASC) AS rn FROM nb1) WHERE rn = 1),
        |l1 AS (SELECT n.node, coalesce(s.slbl, p1.plbl, l0.lbl) AS lbl
        |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
        |  LEFT JOIN p1 ON n.node = p1.node
        |  LEFT JOIN l0 ON n.node = l0.node),
        |nb2 AS (SELECT u.src, l.lbl, count(*) AS c FROM und u
        |  JOIN l1 l ON l.node = u.dst WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
        |p2 AS (SELECT src AS node, lbl AS plbl FROM (
        |  SELECT src, lbl, row_number() OVER (PARTITION BY src
        |    ORDER BY c DESC, lbl ASC) AS rn FROM nb2) WHERE rn = 1),
        |l2 AS (SELECT n.node, coalesce(s.slbl, p2.plbl, l1.lbl) AS lbl
        |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
        |  LEFT JOIN p2 ON n.node = p2.node
        |  LEFT JOIN l1 ON n.node = l1.node)
        |SELECT node, lbl AS label FROM l2 ORDER BY node""".stripMargin,
    "q_histogram" ->
      """WITH c AS (SELECT source AS g,
        |    CASE WHEN n_chars = 2000 THEN 19
        |      ELSE least(CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) * 20.0 / 2000.0) AS INT), 19)
        |    END AS bin
        |  FROM documents WHERE n_chars >= 0 AND n_chars <= 2000),
        |cc AS (SELECT g, bin, count(*) AS n FROM c GROUP BY 1, 2),
        |gb AS (SELECT g, unnest(range(0, 20)) AS bin
        |  FROM (SELECT DISTINCT source AS g FROM documents))
        |SELECT gb.g, CAST(gb.bin AS INT) AS bin,
        |  round(0.0 + gb.bin * (2000.0 / 20.0), 6) AS bin_lo,
        |  coalesce(cc.n, 0) AS n
        |FROM gb LEFT JOIN cc ON gb.g = cc.g AND gb.bin = cc.bin
        |ORDER BY gb.g, gb.bin""".stripMargin,
    "q_group_mode" ->
      """SELECT g, v AS mode_value, n_mode FROM (
        |  SELECT user_id AS g, event_type AS v, count(*) AS n_mode,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type ASC) AS rn
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |WHERE rn = 1 ORDER BY g""".stripMargin,
    "q_corr_matrix" -> {
      // sorted: the operator emits pairs in name order (col_a < col_b)
      val cols =
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").sorted
      def q(c: String) = s"CAST($c AS DECIMAL(14,2))"
      val moments = (cols.map(c =>
        s"CAST(sum(${q(c)}) AS DECIMAL(38,2)) AS s_$c," +
          s" CAST(sum(${q(c)} * ${q(c)}) AS DECIMAL(38,4)) AS ss_$c") ++
        cols.combinations(2).map { case Seq(a, b) =>
          s"CAST(sum(${q(a)} * ${q(b)}) AS DECIMAL(38,4)) AS sp_${a}_$b"
        }).mkString(", ")
      val notNull = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val rows = cols.combinations(2).toSeq.map { case Seq(a, b) =>
        val num = s"(CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE)" +
          s" - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))"
        def den(c: String) = s"(CAST(n AS DOUBLE) * CAST(ss_$c AS DOUBLE)" +
          s" - CAST(s_$c AS DOUBLE) * CAST(s_$c AS DOUBLE))"
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
          |  CASE WHEN ${den(a)} > 0 AND ${den(b)} > 0 THEN
          |    round($num / (sqrt(${den(a)}) * sqrt(${den(b)})), 6)
          |  END AS r FROM m""".stripMargin
      }
      s"""WITH m AS (SELECT count(*) AS n, $moments
        |  FROM lineitem WHERE $notNull)
        |${rows.mkString("\nUNION ALL\n")}
        |ORDER BY col_a, col_b""".stripMargin
    },
    "q_benford" -> {
      val exp = graft.ops.Stats.Benford.zipWithIndex
        .map { case (e, i) => s"WHEN '${i + 1}' THEN $e" }
        .mkString(" ")
      s"""WITH c AS (SELECT l_returnflag AS g,
        |    regexp_extract(CAST(abs(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR),
        |      '[1-9]', 0) AS d
        |  FROM lineitem),
        |cnt AS (SELECT g, d, count(*) AS n_obs FROM c
        |  WHERE d <> '' GROUP BY 1, 2),
        |grid AS (SELECT g, CAST(unnest(range(1, 10)) AS VARCHAR) AS d
        |  FROM (SELECT DISTINCT g FROM cnt)),
        |dense AS (SELECT grid.g, grid.d, coalesce(cnt.n_obs, 0) AS n_obs
        |  FROM grid LEFT JOIN cnt ON grid.g = cnt.g AND grid.d = cnt.d),
        |tot AS (SELECT g, sum(n_obs) AS t FROM dense GROUP BY 1),
        |fr AS (SELECT dense.g, dense.d, dense.n_obs,
        |    CASE WHEN t > 0 THEN round(CAST(n_obs AS DOUBLE) / t, 9)
        |      ELSE 0.0 END AS frac_obs,
        |    CASE dense.d $exp END AS frac_exp
        |  FROM dense JOIN tot ON dense.g = tot.g),
        |qt AS (SELECT g, d, n_obs, frac_obs, frac_exp,
        |    CAST((frac_obs - frac_exp) * (frac_obs - frac_exp) / frac_exp
        |      AS DECIMAL(28,14)) AS tq
        |  FROM fr)
        |SELECT g, CAST(d AS INT) AS digit, n_obs, frac_obs, frac_exp,
        |  round(CAST(sum(tq) OVER (PARTITION BY g) AS DOUBLE), 6) AS chi2_stat
        |FROM qt ORDER BY g, digit""".stripMargin
    },
    "t_url_extract" ->
      """WITH t AS (SELECT doc_id,
        |    text || ' see http://site' || CAST(doc_id % 37 AS VARCHAR)
        |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |      || ' and https://Mirror' || CAST(doc_id % 11 AS VARCHAR)
        |      || '.example.org/x' AS text2
        |  FROM documents),
        |u0 AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text2, '(?i)https?://[^\s/]+')) AS a
        |  FROM t),
        |u AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(lower(a), '^https?://', ''),
        |    '^[^@]*@', ''), '[^a-z0-9]+$', ''), ':[0-9]+$', '') AS domain
        |  FROM u0 WHERE regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(lower(a), '^https?://', ''),
        |    '^[^@]*@', ''), '[^a-z0-9]+$', ''), ':[0-9]+$', '') <> '')
        |SELECT domain, count(*) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  domain IN ('site3.example.com', 'mirror5.example.org') AS blocked
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(*) < 5 AS violates_k
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // t-closeness re-derived: per-(segment, nation) cells, the global
    // nation counts cross-joined into a dense grid, cumulative sums over
    // the ordered domain, the exact-integer |cumP*N - cumQ*ng| gaps, one
    // division by ng*N*(m-1) at 9 dp
    "q_t_closeness" ->
      """WITH cells AS (SELECT c_mktsegment AS q, c_nationkey AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1, 2),
        |gv AS (SELECT v, CAST(sum(c) AS BIGINT) AS gc FROM cells GROUP BY v),
        |gstat AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(gc) AS BIGINT) AS bigN FROM gv),
        |grp AS (SELECT q, CAST(sum(c) AS BIGINT) AS ng FROM cells GROUP BY q),
        |grid AS (SELECT g.q, g.ng, v.v, v.gc, s.m, s.bigN,
        |    coalesce(c.c, 0) AS cg
        |  FROM grp g CROSS JOIN gv v CROSS JOIN gstat s
        |  LEFT JOIN cells c ON c.q = g.q AND c.v = v.v),
        |cum AS (SELECT q, ng, m, bigN,
        |    sum(cg) OVER (PARTITION BY q ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |    sum(gc) OVER (PARTITION BY q ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq,
        |    row_number() OVER (PARTITION BY q ORDER BY v) AS rk
        |  FROM grid),
        |agg AS (SELECT q, max(ng) AS n, max(m) AS m, max(bigN) AS bigN,
        |    sum(CASE WHEN rk < m
        |      THEN abs(CAST(cp AS DECIMAL(38,0)) * bigN - CAST(cq AS DECIMAL(38,0)) * ng)
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS num
        |  FROM cum GROUP BY q)
        |SELECT q AS c_mktsegment, n,
        |  CASE WHEN m > 1 THEN round(CAST(num AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(bigN AS DOUBLE) * CAST(m - 1 AS DOUBLE)), 9)
        |    ELSE 0.0 END AS emd,
        |  CASE WHEN m > 1 THEN round(CAST(num AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(bigN AS DOUBLE) * CAST(m - 1 AS DOUBLE)), 9)
        |    ELSE 0.0 END > 0.05 AS violates_t
        |FROM agg ORDER BY c_mktsegment""".stripMargin,
    // centroid silhouette re-derived: 9-dp per-dim centroid means, the
    // house sequential squared-diff fold per (point, centroid), 9-dp
    // distances, min-over-others, 9-dp s, DECIMAL(18,9) group mean
    "s_silhouette" ->
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |cells AS (SELECT label, pos,
        |    round(CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS m
        |  FROM (SELECT label, unnest(e) AS val, unnest(range(len(e))) AS pos FROM v)
        |  GROUP BY label, pos),
        |cent AS (SELECT label AS clabel, list(m ORDER BY pos) AS c FROM cells GROUP BY label),
        |d AS (SELECT v.vec_id, v.label, cent.clabel,
        |    round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(len(v.e)), i -> (v.e[i+1] - cent.c[i+1]) * (v.e[i+1] - cent.c[i+1]))),
        |      (x, y) -> x + y)), 9) AS dist
        |  FROM v CROSS JOIN cent),
        |pp AS (SELECT vec_id, label,
        |    max(CASE WHEN label = clabel THEN dist END) AS a,
        |    min(CASE WHEN label <> clabel THEN dist END) AS b
        |  FROM d GROUP BY vec_id, label),
        |sc AS (SELECT label,
        |    CASE WHEN b IS NULL THEN NULL
        |      WHEN greatest(a, b) > 0 THEN round((b - a) / greatest(a, b), 9)
        |      ELSE 0.0 END AS s
        |  FROM pp)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(s AS DECIMAL(18,9))) AS DOUBLE) /
        |    CAST(count(s) AS DOUBLE), 9) AS mean_silhouette
        |FROM sc GROUP BY label ORDER BY label""".stripMargin,
    // the native session_window twin shares q_session_stats' one-task
    // oracle, aggregated without the session id
    "q_session_native" ->
      """WITH o AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS e
        |  FROM events),
        |p AS (SELECT u, t, e,
        |    lag(t) OVER (PARTITION BY u ORDER BY t, e) AS pt FROM o),
        |f AS (SELECT u, t, e, CASE WHEN pt IS NULL
        |    OR t - pt > 1800000000 THEN 1 ELSE 0 END AS fl FROM p),
        |s AS (SELECT u, t, CAST(sum(fl) OVER (PARTITION BY u ORDER BY t, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS sid FROM f)
        |SELECT u AS user_id,
        |  min(t) AS session_start_us, max(t) AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(t) - min(t) AS duration_us
        |FROM s GROUP BY u, sid ORDER BY 1, 2""".stripMargin,
    "q_rrf_fusion" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS t, n_chars FROM documents),
        |q(q_id, terms) AS (VALUES (1, ['query', 'table']),
        |  (2, ['spark', 'fast']), (3, ['merge', 'batch'])),
        |scored AS (SELECT q_id, doc_id,
        |    len(list_filter(t.t, x -> list_contains(q.terms, x))) AS hits,
        |    n_chars
        |  FROM t CROSS JOIN q),
        |s2 AS (SELECT * FROM scored WHERE hits > 0),
        |ra AS (SELECT q_id, doc_id, rank FROM (
        |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY hits DESC, doc_id ASC) AS rank FROM s2)
        |  WHERE rank <= 10),
        |rb AS (SELECT q_id, doc_id, rank FROM (
        |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY n_chars DESC, doc_id ASC) AS rank FROM s2)
        |  WHERE rank <= 10),
        |fused AS (SELECT coalesce(ra.q_id, rb.q_id) AS q_id,
        |    coalesce(ra.doc_id, rb.doc_id) AS doc_id,
        |    coalesce(1.0 / (60.0 + CAST(ra.rank AS DOUBLE)), 0.0)
        |      + coalesce(1.0 / (60.0 + CAST(rb.rank AS DOUBLE)), 0.0) AS s
        |  FROM ra FULL OUTER JOIN rb
        |    ON ra.q_id = rb.q_id AND ra.doc_id = rb.doc_id)
        |SELECT q_id, rank, doc_id, rrf_score FROM (
        |  SELECT CAST(q_id AS BIGINT) AS q_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rank,
        |    doc_id, round(s, 9) AS rrf_score
        |  FROM fused)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_golden_record" ->
      """WITH p AS (SELECT p_partkey, p_name, p_size,
        |    CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE p_type END AS p_type,
        |    CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_brand END AS p_brand
        |  FROM part),
        |ft AS (SELECT p_name, p_type FROM (
        |  SELECT p_name, p_type, row_number() OVER (PARTITION BY p_name
        |    ORDER BY p_size, p_partkey) AS rn
        |  FROM p WHERE p_type IS NOT NULL) WHERE rn = 1),
        |fb AS (SELECT p_name, p_brand FROM (
        |  SELECT p_name, p_brand, row_number() OVER (PARTITION BY p_name
        |    ORDER BY p_size, p_partkey) AS rn
        |  FROM p WHERE p_brand IS NOT NULL) WHERE rn = 1),
        |n AS (SELECT p_name, count(*) AS n_members FROM p GROUP BY 1)
        |SELECT n.p_name, n.n_members, ft.p_type, fb.p_brand
        |FROM n LEFT JOIN ft ON n.p_name = ft.p_name
        |LEFT JOIN fb ON n.p_name = fb.p_name
        |ORDER BY n.p_name""".stripMargin,
    "q_churn_labels" ->
      """WITH wk AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT) AS week
        |  FROM events),
        |mx AS (SELECT max(week) AS maxw FROM wk),
        |led AS (SELECT u, week,
        |    lead(week) OVER (PARTITION BY u ORDER BY week) AS nxt FROM wk)
        |SELECT u, week,
        |  CASE WHEN nxt IS NOT NULL AND nxt <= week + 1 THEN false
        |    WHEN week + 1 > (SELECT maxw FROM mx) THEN NULL
        |    ELSE true END AS churned
        |FROM led ORDER BY u, week""".stripMargin,
    "q_cumulative_distinct" ->
      """WITH b AS (SELECT user_id AS u,
        |    CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT) AS week,
        |    event_type AS t FROM events),
        |aw AS (SELECT DISTINCT u, week FROM b),
        |fs AS (SELECT u, t, min(week) AS week FROM b GROUP BY 1, 2),
        |np AS (SELECT u, week, count(*) AS new_types FROM fs GROUP BY 1, 2)
        |SELECT aw.u, aw.week, coalesce(np.new_types, 0) AS new_types,
        |  CAST(sum(coalesce(np.new_types, 0)) OVER (PARTITION BY aw.u
        |    ORDER BY aw.week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_types
        |FROM aw LEFT JOIN np ON aw.u = np.u AND aw.week = np.week
        |ORDER BY aw.u, aw.week""".stripMargin,
    "q_concentration" ->
      """WITH counts AS (SELECT user_id AS k, count(*) AS c FROM events
        |  GROUP BY 1),
        |dist AS (SELECT c, CAST(count(*) AS HUGEINT) AS nk,
        |    CAST(c AS HUGEINT) * CAST(count(*) AS HUGEINT) AS ev
        |  FROM counts GROUP BY c),
        |cum AS (SELECT c, nk, ev,
        |    sum(nk) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_k,
        |    sum(ev) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_ev,
        |    sum(nk) OVER (ORDER BY c ASC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_k_asc
        |  FROM dist),
        |tot AS (SELECT sum(nk) AS n_keys, sum(ev) AS t_events FROM dist),
        |gini AS (SELECT round(CAST(sum(CAST(c AS HUGEINT) *
        |      (2 * (cum_k_asc - nk) * nk + nk * (nk + 1)
        |        - (n_keys + 1) * nk)) AS DOUBLE)
        |    / (CAST(max(n_keys) AS DOUBLE) * CAST(max(t_events) AS DOUBLE)),
        |    9) AS gini
        |  FROM cum, tot),
        |cuts(p) AS (VALUES (CAST(0.01 AS DOUBLE)), (CAST(0.1 AS DOUBLE)),
        |  (CAST(0.5 AS DOUBLE))),
        |kp AS (SELECT p, CAST(ceil(p * CAST(n_keys AS DOUBLE)) AS HUGEINT)
        |    AS kp, t_events FROM cuts, tot),
        |hit AS (SELECT p, kp.kp AS kp, kp.t_events AS t_events,
        |    min(cum_k) AS cum_k, arg_min(c, cum_k) AS c,
        |    arg_min(cum_ev, cum_k) AS cum_ev
        |  FROM kp JOIN cum ON cum.cum_k >= kp.kp
        |  GROUP BY p, kp.kp, kp.t_events)
        |SELECT p AS top_fraction, CAST(kp AS BIGINT) AS top_keys,
        |  round(CAST(cum_ev - (cum_k - kp) * c AS DOUBLE)
        |    / CAST(t_events AS DOUBLE), 9) AS events_share,
        |  (SELECT gini FROM gini) AS gini
        |FROM hit ORDER BY top_fraction""".stripMargin,
    "q_user_feature_mart" ->
      """WITH dterm AS (SELECT user_id AS u, value,
        |    CAST(floor((1706745600 - floor(epoch(ts))) / (86400.0 * 7))
        |      AS BIGINT) AS p FROM events),
        |decay AS (SELECT u,
        |    CAST(CAST(sum(CAST(round(CASE WHEN p < 0 OR p > 62 THEN 0.0
        |      ELSE value * power(0.5, CAST(p AS DOUBLE)) END, 6)
        |      AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE) AS decay_score,
        |    count(*) AS n_events
        |  FROM dterm GROUP BY u),
        |tt AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |    CAST(value AS DECIMAL(14,2)) AS v FROM events),
        |td AS (SELECT u, v, coalesce(lead(us) OVER (PARTITION BY u
        |    ORDER BY us, v) - us, 0) AS dur FROM tt),
        |twa AS (SELECT u, CASE WHEN sum(dur) > 0 THEN
        |    round(CAST(sum(CAST(v * CAST(dur AS DECIMAL(18,0))
        |      AS DECIMAL(38,2))) AS DOUBLE) / sum(dur), 6) END AS twa
        |  FROM td GROUP BY u),
        |md AS (SELECT g AS u, v AS mode_type, n_mode FROM (
        |  SELECT user_id AS g, event_type AS v, count(*) AS n_mode,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type ASC) AS rn
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |  WHERE rn = 1),
        |br AS (SELECT user_id AS u,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM events GROUP BY 1),
        |wk AS (SELECT DISTINCT user_id AS u,
        |    CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT) AS week
        |  FROM events),
        |mx AS (SELECT max(week) AS maxw FROM wk),
        |led AS (SELECT u, week,
        |    lead(week) OVER (PARTITION BY u ORDER BY week) AS nxt FROM wk),
        |chl AS (SELECT u, week,
        |    CASE WHEN nxt IS NOT NULL AND nxt <= week + 1 THEN false
        |      WHEN week + 1 > (SELECT maxw FROM mx) THEN NULL
        |      ELSE true END AS churned FROM led),
        |ch AS (SELECT u, max(week) AS last_labeled_week,
        |    arg_max(churned, week) AS churned_last
        |  FROM chl WHERE churned IS NOT NULL GROUP BY u)
        |SELECT decay.u, decay.decay_score, decay.n_events, twa.twa,
        |  md.mode_type, md.n_mode, br.n_types,
        |  ch.last_labeled_week, ch.churned_last
        |FROM decay JOIN twa ON decay.u = twa.u
        |JOIN md ON decay.u = md.u
        |JOIN br ON decay.u = br.u
        |LEFT JOIN ch ON decay.u = ch.u
        |ORDER BY decay.u""".stripMargin,
    "q_mad_outliers" ->
      """WITH b AS (SELECT doc_id, source AS g, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |c AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |cc AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM c),
        |med AS (SELECT g, min(v) AS med FROM cc WHERE cum * 2 >= n GROUP BY g),
        |d2 AS (SELECT b.g, abs(b.v - med.med) AS v FROM b JOIN med USING (g)),
        |c2 AS (SELECT g, v, count(*) AS c FROM d2 GROUP BY 1, 2),
        |cc2 AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM c2),
        |mad AS (SELECT g, min(v) AS mad FROM cc2 WHERE cum * 2 >= n GROUP BY g)
        |SELECT doc_id, b.g AS source, b.v AS v, med.med AS med, mad.mad AS mad,
        |  CASE WHEN mad.mad > 0 THEN round((b.v - med.med) / (1.4826 * mad.mad), 6) END AS rz,
        |  coalesce(abs(CASE WHEN mad.mad > 0 THEN round((b.v - med.med) / (1.4826 * mad.mad), 6) END) > 2.0, false) AS is_outlier
        |FROM b JOIN med USING (g) JOIN mad USING (g)
        |ORDER BY doc_id""".stripMargin,
    "q_cusum_drift" ->
      """WITH obs AS (SELECT user_id AS u,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS b,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(24,2)) AS x
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT u, min(b) AS lo, max(b) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT u, unnest(generate_series(lo, hi, 86400)) AS b FROM span),
        |g2 AS (SELECT g.u, g.b, coalesce(o.x, CAST(0 AS DECIMAL(24,2))) AS x
        |  FROM grid g LEFT JOIN obs o ON g.u = o.u AND g.b = o.b),
        |p AS (SELECT u, b, x,
        |    CAST(sum(x - CAST(150.0 AS DECIMAL(18,6))) OVER (PARTITION BY u ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(30,6)) AS p
        |  FROM g2),
        |r AS (SELECT u, b, x, p,
        |    min(p) OVER (PARTITION BY u ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin,
        |    max(p) OVER (PARTITION BY u ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
        |  FROM p)
        |SELECT u, b, CAST(x AS DOUBLE) AS x,
        |  CAST(p - (CASE WHEN rmin < 0 THEN rmin ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS s_pos,
        |  CAST((CASE WHEN rmax > 0 THEN rmax ELSE CAST(0 AS DECIMAL(30,6)) END) - p AS DOUBLE) AS s_neg,
        |  CAST(p - (CASE WHEN rmin < 0 THEN rmin ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) > 400.0 AS drift_up,
        |  CAST((CASE WHEN rmax > 0 THEN rmax ELSE CAST(0 AS DECIMAL(30,6)) END) - p AS DOUBLE) > 400.0 AS drift_down
        |FROM r ORDER BY u, b""".stripMargin,
    // capPerKey re-derived: the same 'cap:'-salted md5 Horner hash,
    // masked to 52 bits, ranks rows per source; row_number <= cap
    "q_domain_cap" ->
      s"""WITH h AS (SELECT doc_id, source,
        |    ${md5HornerSql("'cap:' || CAST(doc_id AS VARCHAR)")} % 4503599627370496 AS hv
        |  FROM documents),
        |rk AS (SELECT doc_id, source, row_number() OVER
        |    (PARTITION BY source ORDER BY hv, doc_id) AS cap_rank FROM h)
        |SELECT doc_id, source, CAST(cap_rank AS BIGINT) AS cap_rank
        |FROM rk WHERE cap_rank <= 40 ORDER BY doc_id""".stripMargin,
    "t_vocab_growth" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
        |fs AS (SELECT w, min(doc_id) AS doc_id FROM t GROUP BY w),
        |nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY 1),
        |pd AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens FROM documents)
        |SELECT pd.doc_id, pd.n_tokens,
        |  coalesce(nn.n_new, 0) AS n_new_types,
        |  CAST(sum(pd.n_tokens) OVER (ORDER BY pd.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(sum(coalesce(nn.n_new, 0)) OVER (ORDER BY pd.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
        |FROM pd LEFT JOIN nn ON pd.doc_id = nn.doc_id
        |ORDER BY pd.doc_id""".stripMargin,
    // coverage: exact frequency spectrum; p_unseen / chao1 are the same
    // single divisions rounded at 9/6 dp
    "t_vocab_coverage" ->
      s"""WITH t AS (SELECT source, unnest($tokensSql) AS w FROM documents),
        |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  ROUND(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(sum(c) AS DOUBLE), 9) AS p_unseen,
        |  ROUND(CAST(count(*) AS DOUBLE) +
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) *
        |      (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE) /
        |    (2e0 * CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1 AS DOUBLE)),
        |    6) AS chao1_vocab
        |FROM cnt GROUP BY source ORDER BY source""".stripMargin,
    // sessionization replayed as the ONE-TASK window form the distributed
    // bucket-stitch is proven against: global per-user lag + running sum
    "q_session_stats" ->
      """WITH o AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS e
        |  FROM events),
        |p AS (SELECT u, t, e,
        |    lag(t) OVER (PARTITION BY u ORDER BY t, e) AS pt FROM o),
        |f AS (SELECT u, t, e, CASE WHEN pt IS NULL
        |    OR t - pt > 1800000000 THEN 1 ELSE 0 END AS fl FROM p),
        |s AS (SELECT u, t, CAST(sum(fl) OVER (PARTITION BY u ORDER BY t, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS sid FROM f)
        |SELECT u AS user_id, sid AS session_id,
        |  min(t) AS session_start_us, max(t) AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(t) - min(t) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming twin's closed sessions re-derived: the same one-task
    // window form as q_session_stats, minus each user's final session
    // (append-mode emit-on-close — the open session has not emitted yet)
    "q_session_rows_stream" ->
      """WITH o AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS e
        |  FROM events),
        |p AS (SELECT u, t, e,
        |    lag(t) OVER (PARTITION BY u ORDER BY t, e) AS pt FROM o),
        |f AS (SELECT u, t, e, CASE WHEN pt IS NULL
        |    OR t - pt > 1800000000 THEN 1 ELSE 0 END AS fl FROM p),
        |s AS (SELECT u, t, CAST(sum(fl) OVER (PARTITION BY u ORDER BY t, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS sid FROM f),
        |agg AS (SELECT u AS user_id, sid AS session_id,
        |    min(t) AS session_start_us, max(t) AS session_end_us,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    max(t) - min(t) AS duration_us
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, session_id, session_start_us, session_end_us,
        |  n_events, duration_us
        |FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS mx
        |  FROM agg)
        |WHERE session_id < mx
        |ORDER BY user_id, session_id""".stripMargin,
    // PSI re-derived: identical bin arithmetic (clamped edge), 9-dp
    // shares before the ln, 10-dp quantized terms, 6-dp render
    "q_psi_drift" ->
      """WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |    CASE WHEN floor(epoch(ts)) < 1705363200 THEN 'base' ELSE 'cur' END AS s
        |  FROM events),
        |c AS (SELECT g,
        |    CASE WHEN v = 200.0 THEN 19
        |      ELSE least(CAST(floor((v - 0.0) * 20.0 / 200.0) AS INT), 19) END AS bin,
        |    CAST(sum(CASE WHEN s = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |    CAST(sum(CASE WHEN s = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM e WHERE v >= 0.0 AND v <= 200.0 GROUP BY 1, 2),
        |gb AS (SELECT g, unnest(range(0, 20)) AS bin
        |  FROM (SELECT DISTINCT g FROM c)),
        |d0 AS (SELECT gb.g, CAST(gb.bin AS INT) AS bin,
        |    coalesce(c.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur
        |  FROM gb LEFT JOIN c ON gb.g = c.g AND gb.bin = c.bin),
        |t AS (SELECT g, bin, n_base, n_cur,
        |    sum(n_base) OVER (PARTITION BY g) AS tb,
        |    sum(n_cur) OVER (PARTITION BY g) AS tc
        |  FROM d0),
        |sh AS (SELECT g, bin, n_base, n_cur, tb, tc,
        |    greatest(CASE WHEN tb > 0 THEN round(CAST(n_base AS DOUBLE) / tb, 9) ELSE 0.0 END, 0.0001) AS share_base,
        |    greatest(CASE WHEN tc > 0 THEN round(CAST(n_cur AS DOUBLE) / tc, 9) ELSE 0.0 END, 0.0001) AS share_cur
        |  FROM t),
        |tm AS (SELECT g, bin, n_base, n_cur, tb, tc, share_base, share_cur,
        |    CAST(round((share_cur - share_base) * ln(share_cur / share_base), 10) AS DECIMAL(28,14)) AS tt
        |  FROM sh)
        |SELECT g, bin, round(0.0 + bin * (200.0 / 20.0), 6) AS bin_lo,
        |  n_base, n_cur, share_base, share_cur,
        |  CASE WHEN tb > 0 AND tc > 0 THEN
        |    round(CAST(sum(tt) OVER (PARTITION BY g) AS DOUBLE), 6)
        |  END AS psi
        |FROM tm ORDER BY g, bin""".stripMargin,
    // RBO re-derived: the same (score desc, id asc) rankings, entry
    // depth = max rank, depth-grid cumulative intersections, and the
    // SAME compiled p^(d-1) constants; (1.0 - 0.9) stays a subtraction
    // so both engines fold it to the identical double
    "q_rank_overlap" -> {
      val wtCase = graft.ops.Retrieval.rboWeights(0.9, 10).zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
      s"""WITH ra AS (SELECT source AS q, doc_id AS i,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS r
        |  FROM documents),
        |rb AS (SELECT source AS q, doc_id AS i,
        |    row_number() OVER (PARTITION BY source ORDER BY len($tokensSql) DESC, doc_id ASC) AS r
        |  FROM documents),
        |af AS (SELECT q, i, r FROM ra WHERE r <= 10),
        |bf AS (SELECT q, i, r FROM rb WHERE r <= 10),
        |en AS (SELECT af.q, greatest(af.r, bf.r) AS d, count(*) AS c
        |  FROM af JOIN bf ON af.q = bf.q AND af.i = bf.i GROUP BY 1, 2),
        |qs AS (SELECT DISTINCT q FROM (SELECT q FROM af UNION ALL SELECT q FROM bf)),
        |grid AS (SELECT q, unnest(range(1, 11)) AS d FROM qs),
        |x AS (SELECT grid.q, grid.d,
        |    sum(coalesce(en.c, 0)) OVER (PARTITION BY grid.q ORDER BY grid.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
        |  FROM grid LEFT JOIN en ON grid.q = en.q AND grid.d = en.d),
        |t AS (SELECT q, d, x,
        |    CAST(round((CASE d $wtCase END) * CAST(x AS DOUBLE) / d, 10) AS DECIMAL(28,14)) AS tt
        |  FROM x)
        |SELECT q, CAST(max(x) AS BIGINT) AS overlap_at_k,
        |  round(CAST(sum(tt) AS DOUBLE) * (1.0 - 0.9), 6) AS rbo
        |FROM t GROUP BY q ORDER BY q""".stripMargin
    },
    // DuckDB ships jaro_winkler_similarity natively (boost threshold
    // 0.7, prefix cap 4, scale 0.1, empties -> 0 — the same published
    // definition the codegen kernel implements)
    "q_jw_linkage" ->
      """WITH p AS (SELECT p_partkey AS id, p_brand AS blk, p_name AS s
        |  FROM part)
        |SELECT a.blk, a.id AS id_a, b.id AS id_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw_sim
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.92
        |ORDER BY a.blk, id_a, id_b""".stripMargin,
    "q_interval_union" ->
      """WITH t AS (SELECT user_id AS u, epoch_us(ts) AS s,
        |    epoch_us(ts) + greatest(
        |      CAST(CAST(value AS DECIMAL(14,2)) * 60000000 AS BIGINT), 0) AS e
        |  FROM events),
        |w AS (SELECT u, s, e,
        |    max(e) OVER (PARTITION BY u ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM t),
        |g AS (SELECT u, s, e,
        |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY u ORDER BY s, e
        |        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM w),
        |i AS (SELECT u, island, min(s) AS i_s, max(e) AS i_e,
        |    count(*) AS n
        |  FROM g GROUP BY 1, 2)
        |SELECT u, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_us,
        |  CAST(max(i_e - i_s) AS BIGINT) AS longest_us,
        |  CAST(sum(n) AS BIGINT) AS n_intervals
        |FROM i GROUP BY u ORDER BY u""".stripMargin,
    // arithmetic parenthesization mirrors Stats.wilsonIntervals exactly
    // (identical IEEE operation order -> identical doubles)
    "q_wilson_ci" ->
      """WITH c AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN value > 100.0 THEN 1 END) AS BIGINT)
        |      AS successes
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type, day, n, successes,
        |    CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    1.96 * 1.96 AS z2, CAST(n AS DOUBLE) AS nd
        |  FROM c)
        |SELECT event_type, day, n, successes, round(p, 6) AS p_hat,
        |  round((p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
        |    - (1.96 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)))
        |      / (1.0 + z2 / nd), 6) AS ci_lo,
        |  round((p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
        |    + (1.96 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)))
        |      / (1.0 + z2 / nd), 6) AS ci_hi
        |FROM x ORDER BY event_type, day""".stripMargin,
    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items),
        |it AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items
        |  GROUP BY 1),
        |pr AS (SELECT a.i AS x, c.i AS y, CAST(count(*) AS BIGINT) AS pn
        |  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT x AS antecedent, y AS consequent, pn FROM pr
        |  UNION ALL SELECT y, x, pn FROM pr)
        |SELECT d.antecedent, d.consequent, pn AS pair_baskets,
        |  ia.cnt AS ante_baskets, ic.cnt AS cons_baskets,
        |  round(CAST(pn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
        |  round(CAST(pn AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6)
        |    AS confidence,
        |  round((CAST(pn AS DOUBLE) / CAST(ia.cnt AS DOUBLE))
        |    / (CAST(ic.cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS lift
        |FROM d JOIN it ia ON d.antecedent = ia.i
        |  JOIN it ic ON d.consequent = ic.i
        |CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin,
    // ECDF steps mirror ksTwoSample's operation order exactly
    "q_ks_test" ->
      """WITH f AS (SELECT event_type AS g,
        |    CASE WHEN floor(epoch(ts)) < 1705363200 THEN 'base' ELSE 'cur'
        |      END AS s, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT g, v,
        |    CAST(sum(CASE WHEN s = 'base' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN s = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc
        |  FROM f GROUP BY 1, 2),
        |w AS (SELECT g, v,
        |    sum(nb) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cb,
        |    sum(nc) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cc,
        |    sum(nb) OVER (PARTITION BY g) AS tb,
        |    sum(nc) OVER (PARTITION BY g) AS tc
        |  FROM c),
        |m AS (SELECT g, CAST(max(tb) AS BIGINT) AS n_base,
        |    CAST(max(tc) AS BIGINT) AS n_cur,
        |    round(max(CASE WHEN tb > 0 AND tc > 0 THEN
        |      abs(CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)
        |        - CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE)) END), 6)
        |      AS ks_d
        |  FROM w GROUP BY g)
        |SELECT g, n_base, n_cur, ks_d,
        |  CASE WHEN n_base > 0 AND n_cur > 0 THEN
        |    round(1.358 * sqrt((CAST(n_base AS DOUBLE)
        |      + CAST(n_cur AS DOUBLE)) / (CAST(n_base AS DOUBLE)
        |      * CAST(n_cur AS DOUBLE))), 6) END AS ks_crit,
        |  ks_d > (CASE WHEN n_base > 0 AND n_cur > 0 THEN
        |    round(1.358 * sqrt((CAST(n_base AS DOUBLE)
        |      + CAST(n_cur AS DOUBLE)) / (CAST(n_base AS DOUBLE)
        |      * CAST(n_cur AS DOUBLE))), 6) END) AS drifted
        |FROM m ORDER BY g""".stripMargin,
    // W1 re-derived off the q_ks_test ECDF machinery + a lead window;
    // |gap|·Δv products in fixed order, DECIMAL(28,14) terms
    "q_emd_drift" ->
      """WITH f AS (SELECT event_type AS g,
        |    CASE WHEN floor(epoch(ts)) < 1705363200 THEN 'base' ELSE 'cur'
        |      END AS s, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT g, v,
        |    CAST(sum(CASE WHEN s = 'base' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN s = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc
        |  FROM f GROUP BY 1, 2),
        |w AS (SELECT g, v,
        |    sum(nb) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cb,
        |    sum(nc) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cc,
        |    sum(nb) OVER (PARTITION BY g) AS tb,
        |    sum(nc) OVER (PARTITION BY g) AS tc,
        |    lead(v) OVER (PARTITION BY g ORDER BY v) AS nv
        |  FROM c),
        |t AS (SELECT g, tb, tc,
        |    CASE WHEN tb > 0 AND tc > 0 AND nv IS NOT NULL THEN
        |      CAST(abs(CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)
        |        - CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE)) * (nv - v)
        |        AS DECIMAL(28,14)) END AS term
        |  FROM w)
        |SELECT g, CAST(max(tb) AS BIGINT) AS n_base,
        |  CAST(max(tc) AS BIGINT) AS n_cur,
        |  CASE WHEN max(tb) > 0 AND max(tc) > 0 THEN
        |    round(coalesce(CAST(sum(term) AS DOUBLE), 0.0), 6) END AS emd
        |FROM t GROUP BY g ORDER BY g""".stripMargin,
    // kappa re-derived: same cell counts, marginal join for p_e with
    // quantized (na/n)·(nb/n) terms, decisions off unrounded doubles
    "q_cohen_kappa" ->
      s"""WITH r AS (SELECT source AS g,
        |    CASE WHEN n_chars < 200 THEN 'short'
        |      WHEN n_chars < 1000 THEN 'mid' ELSE 'long' END AS la,
        |    CASE WHEN len($tokensSql) < 40 THEN 'short'
        |      WHEN len($tokensSql) < 200 THEN 'mid' ELSE 'long' END AS lb
        |  FROM documents),
        |cells AS (SELECT g, la, lb, CAST(count(*) AS BIGINT) AS c
        |  FROM r WHERE la IS NOT NULL AND lb IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |perg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT)
        |      AS agree
        |  FROM cells GROUP BY g),
        |ma AS (SELECT g, la AS k, CAST(sum(c) AS BIGINT) AS na
        |  FROM cells GROUP BY 1, 2),
        |mb AS (SELECT g, lb AS k, CAST(sum(c) AS BIGINT) AS nb
        |  FROM cells GROUP BY 1, 2),
        |pe AS (SELECT ma.g,
        |    CAST(sum(CAST((CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,14))) AS DOUBLE) AS pe
        |  FROM ma JOIN mb ON ma.g = mb.g AND ma.k = mb.k
        |    JOIN perg ON perg.g = ma.g
        |  GROUP BY ma.g)
        |SELECT p.g, p.n,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_o,
        |  round(coalesce(pe.pe, 0.0), 6) AS p_e,
        |  CASE WHEN coalesce(pe.pe, 0.0) < 1.0 THEN
        |    round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |      - coalesce(pe.pe, 0.0)) / (1.0 - coalesce(pe.pe, 0.0)), 6)
        |  END AS kappa
        |FROM perg p LEFT JOIN pe ON pe.g = p.g ORDER BY p.g""".stripMargin,
    // reliability bins re-derived: clamped [0,1] bin arithmetic,
    // DECIMAL-quantized score sums, single-division conf/acc
    "q_reliability_bins" ->
      s"""WITH s0 AS (SELECT
        |    least(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS p,
        |    (len($tokensSql) > 250) AS y FROM documents),
        |f AS (SELECT p, y FROM s0
        |  WHERE p >= 0.0 AND p <= 1.0 AND y IS NOT NULL),
        |b AS (SELECT CASE WHEN p = 1.0 THEN 9 ELSE
        |      least(CAST(floor(p * 10.0) AS INTEGER), 9) END AS bin,
        |    CAST(p AS DECIMAL(28,14)) AS pq,
        |    CASE WHEN y THEN 1 ELSE 0 END AS yi FROM f),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(pq) AS sp,
        |    CAST(sum(yi) AS BIGINT) AS pos
        |  FROM b GROUP BY bin),
        |grid AS (SELECT unnest(range(10)) AS bin)
        |SELECT g.bin, round(g.bin * (1.0 / 10.0), 6) AS bin_lo,
        |  coalesce(c.n, CAST(0 AS BIGINT)) AS n,
        |  round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS conf,
        |  round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
        |  round(abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap
        |FROM grid g LEFT JOIN c ON g.bin = c.bin ORDER BY g.bin""".stripMargin,
    // ECE/Brier summary: per-row (p−y)² quantized before the exact sum,
    // (n_b/N)·|acc−conf| terms quantized over the bin frame
    "q_calibration" ->
      s"""WITH s0 AS (SELECT
        |    least(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS p,
        |    (len($tokensSql) > 250) AS y FROM documents),
        |f AS (SELECT p, y FROM s0
        |  WHERE p >= 0.0 AND p <= 1.0 AND y IS NOT NULL),
        |b AS (SELECT CASE WHEN p = 1.0 THEN 9 ELSE
        |      least(CAST(floor(p * 10.0) AS INTEGER), 9) END AS bin,
        |    CAST(p AS DECIMAL(28,14)) AS pq,
        |    CASE WHEN y THEN 1 ELSE 0 END AS yi,
        |    CAST((p - (CASE WHEN y THEN 1.0 ELSE 0.0 END))
        |      * (p - (CASE WHEN y THEN 1.0 ELSE 0.0 END))
        |      AS DECIMAL(28,14)) AS sq FROM f),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(pq) AS sp,
        |    CAST(sum(yi) AS BIGINT) AS pos, sum(sq) AS ssq
        |  FROM b GROUP BY bin),
        |w AS (SELECT *, sum(n) OVER () AS nn FROM c),
        |t AS (SELECT *,
        |    CAST((CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,14)) AS term FROM w)
        |SELECT CAST(max(nn) AS BIGINT) AS n,
        |  round(CAST(sum(pos) AS DOUBLE) / CAST(max(nn) AS DOUBLE), 6)
        |    AS base_rate,
        |  round(CAST(sum(ssq) AS DOUBLE) / CAST(max(nn) AS DOUBLE), 6)
        |    AS brier,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS ece
        |FROM t""".stripMargin,
    // nDCG/MRR/recall re-derived: same md5-Horner rankings, the SAME
    // compiled 1/log2(r+1) discounts and 2^rel−1 gain constants,
    // quantized per-query metrics, single-division means
    "q_search_eval" -> {
      val discCase = graft.ops.Retrieval.dcgDiscounts(10).zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
      val gainCase = (1 to 30)
        .map(g => s"WHEN $g THEN ${((1L << g) - 1L).toDouble}")
        .mkString(" ")
      s"""WITH base AS (SELECT l_orderkey % 50 AS q, l_partkey AS doc,
        |    CAST(min(l_quantity) AS BIGINT) % 4 AS rel
        |  FROM lineitem GROUP BY 1, 2),
        |ideal AS (SELECT q, rel, row_number() OVER (PARTITION BY q
        |    ORDER BY rel DESC, doc ASC) AS r FROM base),
        |qs AS (SELECT q,
        |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nrel,
        |    sum(CASE WHEN r <= 10 AND rel > 0 THEN
        |      CAST((CASE rel $gainCase ELSE 0.0 END)
        |        * (CASE r $discCase END) AS DECIMAL(28,14)) END) AS idcg
        |  FROM ideal GROUP BY q
        |  HAVING sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) > 0),
        |runs AS (
        |  SELECT 'lex' AS system, q, doc, row_number() OVER (
        |      PARTITION BY q ORDER BY h, doc) AS r
        |    FROM (SELECT q, doc, ${md5HornerSql(
             "'lex:' || CAST(q AS VARCHAR) || ':' || CAST(doc AS VARCHAR)")} AS h
        |      FROM base)
        |  UNION ALL
        |  SELECT 'sem' AS system, q, doc, row_number() OVER (
        |      PARTITION BY q ORDER BY h, doc) AS r
        |    FROM (SELECT q, doc, ${md5HornerSql(
             "'sem:' || CAST(q AS VARCHAR) || ':' || CAST(doc AS VARCHAR)")} AS h
        |      FROM base)),
        |perq AS (SELECT system, q,
        |    sum(CASE WHEN rel > 0 THEN
        |      CAST((CASE rel $gainCase ELSE 0.0 END)
        |        * (CASE r $discCase END) AS DECIMAL(28,14)) END) AS dcg,
        |    min(CASE WHEN rel > 0 THEN r END) AS fr,
        |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hits
        |  FROM (SELECT rn.system, rn.q, rn.r, coalesce(b.rel, 0) AS rel
        |      FROM runs rn LEFT JOIN base b
        |        ON rn.q = b.q AND rn.doc = b.doc
        |      WHERE rn.r <= 10)
        |  GROUP BY 1, 2),
        |sys AS (SELECT DISTINCT system FROM runs),
        |ev AS (SELECT s.system, qs.q, qs.nrel, qs.idcg,
        |    p.dcg, p.fr, p.hits
        |  FROM sys s CROSS JOIN qs
        |    LEFT JOIN perq p ON p.system = s.system AND p.q = qs.q),
        |m AS (SELECT system,
        |    CAST(coalesce(CAST(dcg AS DOUBLE), 0.0)
        |      / CAST(idcg AS DOUBLE) AS DECIMAL(28,14)) AS qn,
        |    CAST(CASE WHEN fr IS NOT NULL THEN
        |        1.0 / CAST(fr AS DOUBLE) ELSE 0.0 END
        |      AS DECIMAL(28,14)) AS qm,
        |    CAST(CAST(coalesce(hits, 0) AS DOUBLE)
        |      / CAST(nrel AS DOUBLE) AS DECIMAL(28,14)) AS qr
        |  FROM ev)
        |SELECT system, CAST(count(*) AS BIGINT) AS n_queries,
        |  round(CAST(sum(qn) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS ndcg,
        |  round(CAST(sum(qm) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS mrr,
        |  round(CAST(sum(qr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS recall
        |FROM m GROUP BY system ORDER BY system""".stripMargin
    })

  /** The md5 Horner fold (60-bit salted hash) — DuckDB form of
    * `conv(substring(md5(x), 1, 15), 16, 10)`; shared textually with
    * [[PipelineQueries]]' private copy. */
  private def md5HornerSql(sExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(15), hk -> CAST(strpos('0123456789abcdef', substr(md5($sExpr), hk+1, 1)) - 1 AS BIGINT))),
       |      (acc, hd) -> acc * 16 + hd)""".stripMargin
}
