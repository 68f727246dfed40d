package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language identification, fingerprinting.
  * All pure Column expressions — codegen'd, no UDFs, linear scans with no
  * shuffle, so they run at scan speed on any corpus size.
  */
object TextAnalysis {

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct-token ratio — low values flag repetitive/generated text. */
  def distinctRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0, size(array_distinct(t)).cast("double") / size(t).cast("double"))
  }

  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / n.cast("double"))
  }

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on")

  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val t = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(t) > 0,
      size(filter(t, x => array_contains(sw, x))).cast("double") / size(t).cast("double"))
  }

  /** Composite quality score in [0,1]: length band + stopword presence +
    * low punctuation + vocabulary diversity. Deterministic, documented,
    * single-pass. */
  def qualityScore(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthScore = when(nTok >= 8 && nTok <= 4096, lit(1.0))
      .when(nTok > 0, lit(0.5)).otherwise(lit(0.0))
    val swScore = when(coalesce(stopwordRatio(text, stopwords), lit(0.0))
      .between(0.01, 0.6), lit(1.0)).otherwise(lit(0.0))
    val punctScore = when(coalesce(punctRatio(text), lit(0.0)) <= 0.2, lit(1.0))
      .otherwise(lit(0.0))
    val divScore = coalesce(distinctRatio(text), lit(0.0))
    (lengthScore + swScore + punctScore + divScore) / 4.0
  }

  /** Marker-word language-ID heuristic: score = distinct marker hits per
    * language; argmax with lexicographic tie-break; no hits → "und". */
  val defaultMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et"))

  def langId(text: Column, markers: Map[String, Seq[String]] = defaultMarkers): Column = {
    val t = tokens(text)
    val scored: Seq[(String, Column)] = markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      lang -> size(filter(array(ws.map(lit): _*), w => array_contains(t, w)))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // lexicographically-first language achieving the max score
    val pick = scored.foldLeft(None: Option[Column]) { case (acc, (lang, s)) =>
      Some(acc match {
        case None => when(s === best && best > 0, lang)
        case Some(w) => w.when(s === best && best > 0, lang)
      })
    }.get
    coalesce(pick, lit("und"))
  }

  /** Canonical-text fingerprint: lowercase, strip punctuation, collapse
    * whitespace, md5 — the standard exact-dup key that survives trivial
    * formatting edits. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(regexp_replace(lower(text), "[^a-z0-9 ]", " ")), " +", " "))

  /** One-pass document profile: seven per-row kernels over one scan —
    * rebalanced at small scale (the exchange elides once natural splits
    * reach the session width, and is a no-op on streaming frames). */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // seven per-row kernels over one scan: spread a one-row-group input
    graft.ops.Pipeline.cpuRebalance(df)
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("distinct_ratio", distinctRatio(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Corpus term statistics: per token, the document frequency and total
    * occurrence count — the vocabulary table behind stopword lists, IDF
    * weights, and frequency-based quality filters. One explode + one
    * aggregation (distinct-doc count runs as a partial-aggregated
    * two-phase plan); output size is the vocabulary, not the corpus. */
  def termStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(countDistinct(col("id")).as("doc_freq"),
        count(lit(1)).as("total_freq"))

  /** Mean corpus-frequency of a document's tokens — the crude
    * common-token fluency proxy (frequency-based filtering without a
    * language model): junk strings score near 1, text made of common
    * words scores high. Integer sum over exact counts with ONE final
    * double division, so any SQL engine replicates it bit for bit. The
    * token join is SHUFFLE_HASH, not broadcast — real vocabularies don't
    * fit a broadcast. */
  def meanTokenFreqScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("token"))
    val tf = termStats(df, idCol, textCol).select("token", "total_freq")
    toks.join(tf.hint("SHUFFLE_HASH"), Seq("token"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum("total_freq").cast("double") / count(lit(1))).as("mean_tok_freq"))
  }

  /** Per-gram-array run statistics WITHOUT a shuffle: sort the array, then
    * one codegen'd `aggregate` fold over the sorted runs yields the
    * multiset's max count (`best`) and the total count of elements whose
    * gram occurs more than once (`dup`) — exactly what an
    * explode→groupBy→count would produce, computed inside the row. */
  private def gramRunStats(arr: Column): Column = {
    val stepped = aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("dup")),
      (acc, x) => {
        val cont = x <=> acc.getField("prev")
        val run = when(cont, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"),
          (acc.getField("dup") + when(!cont && acc.getField("run") >= 2L,
            acc.getField("run")).otherwise(lit(0L))).as("dup"))
      })
    struct(stepped.getField("best").as("best"),
      (stepped.getField("dup") + when(stepped.getField("run") >= 2L,
        stepped.getField("run")).otherwise(lit(0L))).as("dup"))
  }

  /** Gopher-style repetition quality filter [Rae et al. 2021 §A1.1,
    * adapted to token n-grams]: per document, the coverage of the single
    * most frequent token, the most frequent bigram, and all bigrams that
    * occur more than once. Highly repetitive machine-generated or
    * boilerplate text scores high and is dropped by `keep`.
    *
    * ZERO shuffles: gram counting runs as in-row sorted-run folds
    * ([[gramRunStats]] — identical results to an explode→groupBy→count,
    * which is what the DuckDB oracle computes), so the whole filter is a
    * stateless narrow map — streaming-safe as-is, and at 100 TB it scans
    * without exchanging a single row. Every fraction is an integer ratio
    * with a single double division, so a SQL oracle matches bit for bit. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      maxTopUnigramFrac: Double = 0.09,
      maxDupBigramFrac: Double = 0.2): DataFrame = {
    val bigrams = when(col("n") >= 2,
      transform(sequence(lit(0), col("n") - 2),
        i => array_join(slice(col("t"), i + 1, lit(2)), " ")))
      .otherwise(array().cast("array<string>"))
    def frac(num: Column): Column =
      when(col("n") > 0, num.cast("double") / col("n")).otherwise(lit(0.0))
    df.select(col(idCol), tokens(col(textCol)).as("t"))
      .withColumn("n", size(col("t")))
      .withColumn("ug", gramRunStats(col("t")))
      .withColumn("bg", gramRunStats(bigrams))
      .select(col(idCol), col("n").as("n_tokens"),
        frac(col("ug").getField("best")).as("top_unigram_frac"),
        least(lit(1.0), frac(col("bg").getField("best") * 2)).as("top_bigram_frac"),
        least(lit(1.0), frac(col("bg").getField("dup") * 2)).as("dup_bigram_frac"))
      .withColumn("keep", col("top_unigram_frac") <= maxTopUnigramFrac &&
        col("dup_bigram_frac") <= maxDupBigramFrac)
  }

  /** Sliding-window document chunking — the step before embedding in any
    * pretraining/RAG pipeline: windows of `chunkTokens` tokens starting
    * every `strideTokens` (overlap = chunkTokens − strideTokens), the
    * last window partial, every token covered, no window that is a
    * strict suffix of its predecessor. chunk count =
    * max(1, ⌈(n − chunk)/stride⌉ + 1) for non-empty docs; empty docs
    * emit nothing. A narrow projection + explode — zero shuffles,
    * streaming-safe, integer arithmetic throughout so a SQL oracle
    * matches exactly. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      s"strideTokens must be in [1, chunkTokens], got $strideTokens")
    val carry = carryCols.map(col)
    val n = size(col("__t"))
    // positive-int floor division via double: exact for any array size
    val nChunks = when(n === 0, lit(0))
      .when(n <= chunkTokens, lit(1))
      .otherwise(floor((n - chunkTokens + (strideTokens - 1))
        .cast("double") / strideTokens).cast("int") + 1)
    df.select(col(idCol) +: carry :+ tokens(col(textCol)).as("__t"): _*)
      .withColumn("__n", n)
      .select((col(idCol) +: carry) ++ Seq(col("__t"), col("__n"),
        // sequence(0, -1) would DESCEND; empty docs must emit no chunks
        explode(when(nChunks > 0, sequence(lit(0), nChunks - 1))
          .otherwise(array().cast("array<int>"))).as("chunk_id")): _*)
      .select(Seq(col(idCol), col("chunk_id"),
        array_join(slice(col("__t"), col("chunk_id") * strideTokens + 1,
          lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens),
          col("__n") - col("chunk_id") * strideTokens).as("n_chunk_tokens"))
        ++ carry: _*)
  }

  /** Word-bigram strings ("w1 w2" — unambiguous since tokens are
    * whitespace-split) for LM scoring; docs under 2 tokens yield an
    * empty array. */
  private def bigramStrings(t: Column): Column =
    when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2), i =>
        concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Reference-LM fluency scoring — the CCNet-style quality filter: train
    * an add-k-smoothed BIGRAM language model on a curated reference slice,
    * score every corpus document by its mean bigram log-probability
    * (low = far from the reference distribution: boilerplate, gibberish,
    * wrong language). p(w2|w1) = (c(w1 w2) + k) / (ctx(w1) + k·(V+1)) with
    * ctx(w1) = Σ_w c(w1 w), V = reference vocabulary size; an unseen
    * context scores ln(1/(V+1)).
    *
    * Scale shape: the reference is bounded (a curated slice), so its
    * bigram counts COLLECT to the driver and ride task-broadcast inside
    * one [[graft.functions.LmScoreExpr]] kernel (the centroid-matrix
    * pattern) — the corpus folds to `(n_bigrams, Σ logp)` in a single
    * narrow codegen projection over ONE scan: zero corpus shuffles, zero
    * joins, no instance-stream explode. Per-bigram log-probs accumulate
    * in DECIMAL(28,14) exactly as the exploded+joined+aggregated form
    * did (order-invariant, oracle-replicable) with one double cast and
    * division at the end. Deterministic; docs with fewer than 2 tokens
    * surface with n_bigrams = 0 and a null score. */
  def lmScore(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      addK: Double = 0.5, maxBigrams: Int = LmMaxBigrams): DataFrame = {
    require(addK > 0, s"addK must be positive, got $addK")
    require(maxBigrams >= 1, s"maxBigrams must be >= 1, got $maxBigrams")
    val refToks = reference.select(tokens(col(refTextCol)).as("t"))
    val vocab = refToks.select(explode(col("t")).as("w"))
      .agg(count_distinct(col("w"))).head.getLong(0)
    // The collect is CAPPED to the maxBigrams most frequent bigrams
    // (count desc, bigram asc — deterministic), compiled to a bounded
    // TakeOrderedAndProject: when the "reference" is a corpus slice that
    // grows with the data (t_lm_score's doc_id%10 slice does), driver
    // memory and the task-broadcast model stay bounded. Bigrams beyond
    // the cap score as unseen — the model is the one trained on the kept
    // counts. The cap never binds on the test corpus (~900 distinct
    // bigrams even at 10x; 31-token synthetic vocab), so gate results
    // are unchanged; it is the 100-TB guard rail.
    val c2 = refToks.select(explode(bigramStrings(col("t"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cnt2"))
      .sort(col("cnt2").desc, col("bg")).limit(maxBigrams)
      .collect()
    val s = graft.functions.LmExprs.lmScoreCol(corpus.sparkSession,
      tokens(col(textCol)), c2.map(_.getString(0)).toSeq,
      c2.map(_.getLong(1)).toSeq, addK, vocab)
    // two-step select: __lm is referenced three times below, and
    // CollapseProject only inlines multiply-referenced NON-cheap
    // producers when forced — the kernel stays evaluated once per row
    corpus.select(col(idCol).as("id"), s.as("__lm"))
      .select(col("id"),
        col("__lm").getField("n_bigrams").as("n_bigrams"),
        (col("__lm").getField("logp_sum").cast("double") /
          col("__lm").getField("n_bigrams").cast("double")).as("lm_logprob"))
  }

  /** FastText-style linear quality classifier, trained as naive Bayes —
    * the CCNet/DCLM-style "does this look like the curated set" filter:
    * per-token add-k log-odds between a positive (curated) and a negative
    * (raw/rejected) reference slice, every doc scored by its MEAN token
    * log-odds (positive = curated-like). For token w with class counts
    * c⁺(w), c⁻(w), totals N⁺, N⁻ and joint vocabulary size V:
    * `lo(w) = ln((c⁺(w)+k)/(N⁺+k·(V+1))) − ln((c⁻(w)+k)/(N⁻+k·(V+1)))`;
    * a token in neither slice takes the smoothed constant (c⁺=c⁻=0). This
    * is exactly a linear text classifier (fastText with unigram features
    * and no learned reweighting): score = w·x/|x| over the bag of tokens.
    *
    * Scale shape: each class's token counts collect to the driver CAPPED
    * at the [[NbMaxVocab]] most frequent tokens (reference slices are
    * often corpus slices that grow with the data — the cap keeps driver
    * memory and plan size O(maxVocab); beyond-cap tokens score as
    * unseen), the per-token log-odds table is precomputed AND
    * pre-quantized there, and scoring rides task-broadcast inside one
    * [[graft.functions.NbScoreExpr]] codegen kernel — one corpus scan,
    * zero joins, zero shuffles, DECIMAL(28,14) accumulation
    * (order-invariant, oracle-replicable). Docs with no tokens surface
    * with n_tokens = 0 and a null score. */
  def nbQualityScore(corpus: DataFrame, idCol: String, textCol: String,
      positive: DataFrame, posTextCol: String,
      negative: DataFrame, negTextCol: String,
      addK: Double = 0.5): DataFrame = {
    val s = nbLogOddsStruct(corpus.sparkSession, tokens(col(textCol)),
      positive, posTextCol, negative, negTextCol, addK)
    corpus.select(col(idCol).as("id"), s.as("__nb"))
      .select(col("id"),
        col("__nb").getField("n_tokens").as("n_tokens"),
        (col("__nb").getField("lo_sum").cast("double") /
          col("__nb").getField("n_tokens").cast("double")).as("nb_logodds"))
  }

  /** Cap on the per-class token vocabulary [[nbLogOddsStruct]] collects,
    * and on the reference bigram table [[lmScore]] collects. The callers'
    * "reference" slices are often corpus slices that grow with the data
    * (t_nb_quality / q_training_mix / q_importance_resample all score
    * against source-sliced corpus text), so an uncapped collect + typedlit
    * vocab array would grow the driver heap and the codegen'd plan
    * linearly with corpus size. 64k tokens ≈ the fastText-style
    * classifier's working vocabulary; the synthetic test corpus never
    * comes near it (≤ ~3k distinct tokens even at 100× replication), so
    * every oracle-pinned result is unchanged. */
  val NbMaxVocab: Int = 1 << 16
  val LmMaxBigrams: Int = 1 << 17

  /** The trained log-odds kernel behind [[nbQualityScore]] (and
    * [[Pipeline.importanceResample]]'s weight model): collects the two
    * slices' token counts — each class CAPPED to the `maxVocab` most
    * frequent tokens (count desc, token asc: deterministic, compiled to a
    * bounded TakeOrderedAndProject, so driver memory and the broadcast
    * plan stay O(maxVocab) even when the slices grow with the corpus;
    * tokens beyond the cap score as unseen, i.e. the model is the one
    * trained on the kept counts) — precomputes + pre-quantizes the
    * per-token log-odds driver-side, returns the task-broadcast
    * `(n_tokens, lo_sum)` struct column over `toks`. */
  private[ops] def nbLogOddsStruct(spark: org.apache.spark.sql.SparkSession,
      toks: Column, positive: DataFrame, posTextCol: String,
      negative: DataFrame, negTextCol: String, addK: Double,
      maxVocab: Int = NbMaxVocab): Column = {
    require(addK > 0, s"addK must be positive, got $addK")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    def classCounts(df: DataFrame, tc: String): Array[(String, Long)] =
      df.select(explode(tokens(col(tc))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .sort(col("c").desc, col("w")).limit(maxVocab)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    val pc = classCounts(positive, posTextCol)
    val nc = classCounts(negative, negTextCol)
    val nPos = pc.map(_._2).sum.toDouble
    val nNeg = nc.map(_._2).sum.toDouble
    val vocab = (pc.map(_._1) ++ nc.map(_._1)).distinct
    val v = vocab.length.toDouble
    val pMap = pc.toMap
    val nMap = nc.toMap
    // identical arithmetic shape to the SQL oracle: (cnt + k) / (N + k(V+1))
    def lo(cp: Long, cn: Long): Double =
      Math.log((cp.toDouble + addK) / (nPos + addK * (v + 1.0))) -
        Math.log((cn.toDouble + addK) / (nNeg + addK * (v + 1.0)))
    graft.functions.LmExprs.nbScoreCol(spark, toks, vocab.toSeq,
      vocab.map(w => lo(pMap.getOrElse(w, 0L), nMap.getOrElse(w, 0L))).toSeq,
      lo(0L, 0L))
  }

  /** PII scrubbing for training corpora: emails, IPv4 addresses, phone-like
    * digit runs, and long id-like digit runs replaced with typed
    * placeholders, in that fixed cascade order (earlier redactions can
    * absorb text later patterns would otherwise match — deterministic by
    * construction). Patterns stay in the RE2-compatible subset (no
    * lookaround, no backreferences) with identical leftmost-first greedy
    * semantics in java.util.regex and RE2, so a SQL engine replicates the
    * output byte for byte. Pure codegen'd regexp_replace chain — no UDF. */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
    // the leading '+' keeps plain digit runs for the id rule below
    val phone = "\\+\\d[\\d() -]{6,}\\d"
    val idRun = "\\b\\d{9,}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, email, "<EMAIL>"),
          ipv4, "<IP>"),
        phone, "<PHONE>"),
      idRun, "<ID>")
  }

  /** Winnowed rolling-hash fingerprints, one row per (id, fingerprint) —
    * the partial-overlap detector the whole-document [[fingerprint]] can't
    * be: any shared substring of >= w + k - 1 code points is guaranteed a
    * shared fingerprint ([[graft.functions.WinnowExpr]]), at ~2/(w+1)
    * fingerprints per position. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 16): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.WinnowExprs.winnow(
          df.sparkSession, col(textCol), k, w)).as("fp"))

  /** Benchmark decontamination: drop corpus documents sharing at least
    * `minShared` winnowed fingerprints with ANY document of the eval set —
    * the standard held-out-benchmark leak filter, with the winnowing
    * guarantee that any verbatim overlap of >= w + k - 1 code points is
    * caught.
    *
    * Scale shape: the corpus is NEVER shuffled. Its fingerprints explode
    * narrowly, meet the (small) eval fingerprint set in a broadcast join,
    * only the matched sliver aggregates to contaminated ids, and those
    * broadcast back as a left_anti — a 100 TB corpus flows through as one
    * narrow scan plus two broadcasts of eval-sized data. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 16, w: Int = 16, minShared: Int = 3): DataFrame = {
    val cfp = winnowFingerprints(corpus, idCol, textCol, k, w)
    val efp = winnowFingerprints(evalSet, evalIdCol, evalTextCol, k, w)
      .select("fp").distinct()
    val contaminated = cfp.join(broadcast(efp), Seq("fp"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id").as(idCol))
    corpus.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Document-overlap (contamination) pairs by shared winnowed
    * fingerprints: pairs sharing at least `minShared` fingerprints, with
    * the shared count. The inverted-index self-join runs on skinny
    * (fp, id) rows; fingerprints shared by more than `maxDocsPerFp`
    * documents (boilerplate that would pair everything with everything)
    * are dropped before pairing — the LSH bucket-cap discipline. At corpus
    * scale the fingerprint table is the operator's one shuffle;
    * `materializePath` lands it in parquet when the plan is consumed twice
    * on a cluster (the bounded-Jaccard materialization contract). */
  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct winnowed fingerprints they share, each side's distinct
    * fingerprint count, and the fingerprint-set Jaccard — the train/eval
    * hygiene report ("how much of B is verbatim-ish present in A") under
    * the same ≥ w+k−1-codepoint overlap guarantee as [[decontaminate]].
    * Every source pair appears, zeros included — an absent row and a
    * clean pair must not look alike. Sources whose documents are all
    * shorter than k (no fingerprints) are absent by construction.
    * jaccard = shared / (|A| + |B| − shared): exact-integer operands, so
    * the double division is correctly rounded and engine-exact.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, fp) before
    * anything pairs — at most #sources rows per fingerprint — so the
    * fp self-join expands each fingerprint to at most (#sources choose 2)
    * pairs and the output is #source-pairs rows. One narrow explode, one
    * distinct shuffle, two grouped aggregations; the document text itself
    * never shuffles, and the totals ride back as broadcasts. */
  def sourceOverlapMatrix(df: DataFrame, textCol: String,
      sourceCol: String, k: Int = 16, w: Int = 16): DataFrame = {
    val sf = df.select(col(sourceCol).cast("string").as("source"),
        explode(graft.functions.WinnowExprs.winnow(
          df.sparkSession, col(textCol), k, w)).as("fp"))
      .distinct()
    val totals = sf.groupBy("source").agg(count(lit(1)).as("n_fps"))
    val shared = sf.select(col("source").as("source_a"), col("fp"))
      .join(sf.select(col("source").as("source_b"), col("fp")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared_fps"))
    val pairs = broadcast(totals
        .select(col("source").as("source_a"), col("n_fps").as("fps_a")))
      .crossJoin(broadcast(totals
        .select(col("source").as("source_b"), col("n_fps").as("fps_b"))))
      .filter(col("source_a") < col("source_b"))
    pairs.join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("shared_fps", coalesce(col("shared_fps"), lit(0L)))
      .withColumn("jaccard", col("shared_fps").cast("double") /
        (col("fps_a") + col("fps_b") - col("shared_fps")).cast("double"))
      .select("source_a", "source_b", "shared_fps", "fps_a", "fps_b",
        "jaccard")
  }

  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 16, maxDocsPerFp: Int = 50, minShared: Int = 3,
      materializePath: Option[String] = None): DataFrame = {
    val fps = Dedup.materializeBase(
      winnowFingerprints(df, idCol, textCol, k, w), materializePath)
    val bucket = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val capped = fps.withColumn("__c", count(lit(1)).over(bucket))
      .filter(col("__c") <= maxDocsPerFp).drop("__c")
    val a = capped.select(col("fp"), col("id").as("id_a"))
    val b = capped.select(col("fp"), col("id").as("id_b"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Lowercased character n-grams (spaces included — the standard
    * language-ID feature space). Empty array when the text is shorter
    * than n; the guard matters because Spark's `sequence(0, neg)` counts
    * DOWN instead of returning empty. */
  def charGrams(text: Column, n: Int): Column = {
    val t = lower(text)
    val len = length(t)
    when(len >= n,
      transform(sequence(lit(0), len - n), i => t.substr(i + 1, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** CLD/fastText-style character n-gram language identification, trained
    * as per-language naive Bayes on a LABELED slice: for each language ℓ
    * with gram counts c_ℓ(g), total N_ℓ and joint gram vocabulary V,
    * `logp_ℓ(g) = ln((c_ℓ(g)+k)/(N_ℓ+k·(V+1)))` (unseen grams take the
    * smoothed constant), a document scores Σ_g logp_ℓ(g) per language and
    * predicts the argmax — ties broken toward the lexicographically
    * smallest language, zero-gram documents predict null.
    *
    * Scale shape: the model collects ONE bounded job — per-language gram
    * counts capped at the `maxVocabPerLang` most frequent (count desc,
    * gram asc — deterministic; the [[NbMaxVocab]] guard-rail discipline),
    * languages themselves bounded by the label set — and scoring rides k
    * task-broadcast [[graft.functions.NbScoreExpr]] kernels in ONE corpus
    * scan: zero joins, zero shuffles. Per-gram log-probs are
    * pre-quantized to DECIMAL(28,14), so per-language sums are exact,
    * order-invariant decimals and the argmax is engine-exact. */
  def langIdClassify(corpus: DataFrame, idCol: String, textCol: String,
      labeled: DataFrame, labelCol: String, labeledTextCol: String,
      n: Int = 3, addK: Double = 0.5,
      maxVocabPerLang: Int = NbMaxVocab): DataFrame = {
    nbArgmaxFrame(corpus, idCol, textCol, labeled, labelCol,
      labeledTextCol, n, addK, maxVocabPerLang)
      .select(col("id"),
        col("__b").getField("n_tokens").cast("int").as("n_grams"),
        col("__b").getField("lang").as("lang_pred"),
        round(col("__b").getField("lo_sum").cast("double") /
          col("__b").getField("n_tokens").cast("double"), 9).as("mean_logp"))
  }

  /** [[langIdClassify]] with a top-2 CONFIDENCE MARGIN and abstain flag —
    * the production lang-ID contract (fastText's threshold): a prediction
    * whose per-gram log-odds gap to the runner-up language is under
    * `marginTau` is code-switched, too short, or out-of-domain, and a
    * pipeline routing on it should hold the doc back rather than
    * mislabel it. margin = (Σlogp_top − Σlogp_second)/n_grams, both sums
    * exact DECIMAL(38,14) from the SAME one-scan argmax kernel (the
    * runner-up rides the existing accumulators — zero extra passes,
    * still zero joins/shuffles); the abstain decision compares the
    * 9-dp-ROUNDED margin (the rounded-value-decision discipline).
    * Single-language models have no runner-up: margin null, abstain only
    * for zero-gram docs (the sole candidate stands). */
  def langIdMargin(corpus: DataFrame, idCol: String, textCol: String,
      labeled: DataFrame, labelCol: String, labeledTextCol: String,
      marginTau: Double, n: Int = 3, addK: Double = 0.5,
      maxVocabPerLang: Int = NbMaxVocab): DataFrame = {
    require(marginTau >= 0, s"marginTau must be >= 0, got $marginTau")
    val margin = round((col("__b").getField("lo_sum") -
        col("__b").getField("lo_second")).cast("double") /
      col("__b").getField("n_tokens").cast("double"), 9)
    nbArgmaxFrame(corpus, idCol, textCol, labeled, labelCol,
      labeledTextCol, n, addK, maxVocabPerLang)
      .select(col("id"),
        col("__b").getField("n_tokens").cast("int").as("n_grams"),
        col("__b").getField("lang").as("lang_pred"),
        round(col("__b").getField("lo_sum").cast("double") /
          col("__b").getField("n_tokens").cast("double"), 9)
          .as("mean_logp"),
        margin.as("margin"),
        (col("__b").getField("n_tokens") === 0L ||
          (margin.isNotNull && margin < marginTau)).as("abstain"))
  }

  private def nbArgmaxFrame(corpus: DataFrame, idCol: String,
      textCol: String, labeled: DataFrame, labelCol: String,
      labeledTextCol: String, n: Int, addK: Double,
      maxVocabPerLang: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(addK > 0, s"addK must be positive, got $addK")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("c").desc, col("g"))
    val counts = labeled
      .select(col(labelCol).cast("string").as("lang"),
        explode(charGrams(col(labeledTextCol), n)).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxVocabPerLang)
      .select("lang", "g", "c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(counts.nonEmpty, "labeled slice produced no grams")
    val langs = counts.map(_._1).distinct.sorted
    val v = counts.map(_._2).distinct.length.toDouble
    val spark = corpus.sparkSession
    // ONE combined text-direct argmax kernel over the JOINT sorted
    // vocabulary (round-15, two steps past the k-kernel form: the k
    // per-language NbScoreExpr kernels each binary-searched a
    // MATERIALIZED char-gram array — k·log|V| string compares per gram
    // plus one substr copy per gram, and the array build alone measured
    // 3.7 s of the 4.8 s classify scan at sf0.1. NbArgmaxExpr slides the
    // n-char window over the lowercased bytes itself with zero-copy
    // views and advances all k scale-14 unscaled accumulators from one
    // joint-vocab hit — bit-identical argmax; the op was the suite's #1
    // fixed cost for three rounds). A gram absent from language ℓ's
    // capped vocab takes ℓ's smoothed constant logp_ℓ(0) in the matrix —
    // exactly what ℓ's own kernel returned for it.
    val joint = counts.map(_._2).distinct
    val perLang = langs.map { lang =>
      val mine = counts.filter(_._1 == lang)
      val nl = mine.map(_._3).sum.toDouble
      def logp(c: Long): Double =
        Math.log((c.toDouble + addK) / (nl + addK * (v + 1.0)))
      val m = mine.map(t => t._2 -> t._3).toMap
      (joint.map(g => logp(m.getOrElse(g, 0L))).toSeq, logp(0L))
    }
    val based = corpus.select(col(idCol).as("id"),
      col(textCol).as("__txt"))
    val b = graft.functions.LmExprs.nbArgmaxCol(spark, col("__txt"), n,
      joint.toSeq, perLang.map(_._1).toSeq, perLang.map(_._2).toSeq,
      langs.toSeq)
    based.select(col("id"), b.as("__b"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    * lines that end in terminal punctuation AND have at least
    * `minLineWords` words; drop the whole document when any
    * case-insensitive `badPhrases` member appears or fewer than
    * `minLines` lines survive. Returns per-document counts, the keep
    * decision, and the cleaned text (null when dropped). Pure narrow
    * per-row expressions — zero shuffles, streaming-safe. */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, badPhrases: Seq[String] = Seq("lorem ipsum"),
      minLines: Int = 3): DataFrame = {
    require(minLineWords >= 1 && minLines >= 1, "bad c4 params")
    require(badPhrases.nonEmpty, "badPhrases must not be empty")
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) => trim(l).rlike("[.!?\"]$") &&
      size(filter(split(trim(l), " +"), w => w =!= "")) >= minLineWords
    val kept = filter(lines, keepLine)
    val hasBad = badPhrases
      .map(p => lower(col(textCol)).contains(lit(p.toLowerCase)))
      .reduce(_ || _)
    val keepDoc = !hasBad && size(kept) >= minLines
    df.select(col(idCol).as("id"), size(lines).as("n_lines"),
      size(kept).as("n_kept_lines"), hasBad.as("has_bad_phrase"),
      keepDoc.as("kept"),
      when(keepDoc, array_join(kept, "\n")).as("clean_text"))
  }

  /** Gopher document-level quality rules (Rae et al. 2021 §A1.1): word
    * count bounds, mean word length in [3,10], symbol-to-word ratio
    * ("#" and "..." ≤ 0.1), ≤10% bullet-started lines, ≤30%
    * ellipsis-ended lines, ≥80% words containing a letter, and ≥2
    * distinct stopwords present. Every ratio tests as INTEGER
    * cross-multiplication (the repetition-filter exactness discipline) —
    * the output is counts + booleans only, no floating point anywhere.
    * Pure narrow per-row expressions — zero shuffles, streaming-safe. */
  def gopherQualityStats(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must not be empty")
    val toks = tokens(col(textCol))
    val nWords = size(toks).cast("long")
    val sumLen = coalesce(aggregate(transform(toks, w => length(w)), lit(0L),
      (acc, x) => acc + x.cast("long")), lit(0L))
    val lines = split(col(textCol), "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*") ||
        trim(l).startsWith("•"))).cast("long")
    val nEllipsis = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("long")
    val nAlpha = size(filter(toks, w => w.rlike("[a-z]"))).cast("long")
    val hashCount = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val dotsCount = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    val nSym = (hashCount + dotsCount).cast("long")
    val nStop = size(filter(typedlit(stopwords),
      sw => array_contains(toks, sw))).cast("long")
    df.select(col(idCol).as("id"), nWords.as("n_words"),
        sumLen.as("sum_word_len"), nLines.as("n_lines"),
        nBullet.as("n_bullet_lines"), nEllipsis.as("n_ellipsis_lines"),
        nAlpha.as("n_alpha_words"), nSym.as("n_symbols"),
        nStop.as("n_stopwords"))
      .withColumn("ok_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_word_len",
        col("sum_word_len") >= lit(3) * col("n_words") &&
          col("sum_word_len") <= lit(10) * col("n_words"))
      .withColumn("ok_symbol_ratio",
        lit(10) * col("n_symbols") <= col("n_words"))
      .withColumn("ok_bullet_lines",
        lit(10) * col("n_bullet_lines") <= col("n_lines"))
      .withColumn("ok_ellipsis_lines",
        lit(10) * col("n_ellipsis_lines") <= lit(3) * col("n_lines"))
      .withColumn("ok_alpha_words",
        lit(5) * col("n_alpha_words") >= lit(4) * col("n_words"))
      .withColumn("ok_stopwords", col("n_stopwords") >= 2)
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_symbol_ratio") && col("ok_bullet_lines") &&
          col("ok_ellipsis_lines") && col("ok_alpha_words") &&
          col("ok_stopwords"))
  }

  /** N-gram NOVELTY against a reference corpus — the memorization /
    * redundancy signal (how much of a document is n-gram-new relative to
    * what the model has already seen): per document, the fraction of its
    * DISTINCT word n-grams absent from the reference's n-gram set.
    * novelty 0 = every gram already known (pure rehash), 1 = fully novel.
    *
    * Scale shape: the reference gram set collects ONCE, capped at the
    * `maxRefGrams` most frequent (count desc, gram asc — the NbMaxVocab
    * guard-rail; beyond-cap grams count as unseen), and membership rides
    * the same task-broadcast binary-search kernel as NB scoring with
    * per-gram weight 1 — `lo_sum` IS the seen-count, so the whole scan is
    * one kernel projection with no joins. In batch, both the reference
    * gram build and the corpus scan are rebalanced at small scale (the
    * exchange elides once natural splits reach the session width); on a
    * streaming corpus the rebalance is a no-op and the kernel stays
    * shuffle-free. */
  def noveltyScore(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, n: Int = 2,
      maxRefGrams: Int = NbMaxVocab): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxRefGrams >= 1, s"maxRefGrams must be >= 1, got $maxRefGrams")
    def grams(text: Column): Column =
      if (n == 1) tokens(text)
      else {
        val t = tokens(text)
        when(size(t) >= n,
          transform(sequence(lit(0), size(t) - n),
            i => array_join(slice(t, i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))
      }
    // both scans are CPU-dense gram builds off one-row-group inputs:
    // rebalance each so the kernel uses the session's cores instead of
    // the file-split count (round-15 stage audit: 4.3 s + 2.25 s
    // single-task stages; guide §2.5)
    val refGrams = graft.ops.Pipeline.cpuRebalance(reference)
      .select(explode(grams(col(refTextCol))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .sort(col("c").desc, col("g")).limit(maxRefGrams)
      .collect().map(_.getString(0)).toSeq
    val s = graft.functions.LmExprs.nbScoreCol(corpus.sparkSession,
      array_distinct(grams(col(textCol))),
      refGrams, refGrams.map(_ => 1.0), 0.0)
    graft.ops.Pipeline.cpuRebalance(corpus, col(idCol))
      .select(col(idCol).as("id"), s.as("__m"))
      .select(col("id"),
        col("__m").getField("n_tokens").as("n_grams"),
        coalesce(col("__m").getField("lo_sum").cast("long"), lit(0L))
          .as("n_seen"))
      .withColumn("novelty", when(col("n_grams") > 0,
        (col("n_grams") - col("n_seen")).cast("double") /
          col("n_grams").cast("double")))
  }

  /** Greedy longest-match SUBWORD tokenization against a broadcast
    * vocabulary ([[graft.functions.SubwordTokenizeExpr]]) — honest token
    * accounting for budgets/packing: whitespace "tokens" under-count what
    * a trainer's subword vocabulary actually sees. Returns per document
    * the subword count and the space-joined segmentation. One kernel
    * scan: zero joins, zero shuffles, streaming-safe. */
  def subwordTokenize(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocab must not be empty")
    val sub = graft.functions.SubwordExprs.subwordTokenizeCol(
      df.sparkSession, tokens(col(textCol)), vocab)
    df.select(col(idCol).as("id"), sub.as("__s"))
      .select(col("id"), size(col("__s")).as("n_subwords"),
        array_join(col("__s"), " ").as("subword_text"))
  }

  /** Tokenizer data card — per-source fertility and compression of a
    * subword vocabulary over the corpus: n_docs, whitespace-token /
    * subword / word-character totals, fertility (subwords per whitespace
    * token — the standard "how finely does this tokenizer cut this
    * source" diagnostic) and compression (word characters per subword).
    * The two ratios are single IEEE divisions of exact BIGINT sums —
    * engine-exact — rendered at 9 dp.
    *
    * One kernel scan (subword segmentation and character totals ride the
    * same projection — no join back) + one per-source aggregation. */
  def tokenizerStats(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocab must not be empty")
    val t = tokens(col(textCol))
    val sub = graft.functions.SubwordExprs.subwordTokenizeCol(
      df.sparkSession, t, vocab)
    df.select(col(sourceCol).as("source"), size(t).as("__ntok"),
        size(sub).as("__nsub"),
        aggregate(t, lit(0L), (a, x) => a + length(x)).as("__nchar"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok").cast("long")).as("n_tokens"),
        sum(col("__nsub").cast("long")).as("n_subwords"),
        sum(col("__nchar")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_subwords"), col("n_chars"),
        round(col("n_subwords").cast("double") / col("n_tokens").cast("double"), 9)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_subwords").cast("double"), 9)
          .as("compression"))
  }

  /** CCNet-style PERPLEXITY BUCKETS (Wenzek et al. 2019 §4.3): every
    * document scored by the reference bigram LM ([[lmScore]]), then cut
    * into head / middle / tail by the per-source TERTILES of the score —
    * the standard "keep head+middle, drop tail" crawl-filtering shape.
    * Scores round to 9 dp BEFORE the tertile cuts and the comparisons,
    * so the bucket decision never rides the ln ulp (the same
    * rounded-value-decision discipline as centroidOutliers).
    *
    * Scale shape: one LM scoring scan (task-broadcast kernel), one
    * per-source exact-percentile aggregation (the t_length_percentiles
    * parity pair: Spark `percentile` ≡ DuckDB `quantile_cont`; at
    * extreme per-source cardinalities swap in approx_percentile or
    * literal cuts — the same trade the length report takes), cutpoints
    * broadcast back onto a zero-shuffle bucketing scan. Documents too
    * short to score (no bigrams) surface with a null bucket. */
  def perplexityBuckets(corpus: DataFrame, idCol: String, textCol: String,
      sourceCol: String, reference: DataFrame, refTextCol: String,
      addK: Double = 0.5): DataFrame = {
    val scored = lmScore(corpus, idCol, textCol, reference, refTextCol, addK)
      .withColumn("lm_logprob", round(col("lm_logprob"), 9))
    val withSrc = corpus
      .select(col(idCol).as("id"), col(sourceCol).as("source"))
      .join(scored, Seq("id"))
    val cuts = withSrc.groupBy("source").agg(
      expr("percentile(lm_logprob, 0.3333333333333333)").as("cut_low"),
      expr("percentile(lm_logprob, 0.6666666666666666)").as("cut_high"))
    withSrc.join(broadcast(cuts), Seq("source"))
      .withColumn("bucket",
        when(col("lm_logprob").isNull, lit(null).cast("string"))
          .when(col("lm_logprob") >= col("cut_high"), lit("head"))
          .when(col("lm_logprob") >= col("cut_low"), lit("middle"))
          .otherwise(lit("tail")))
      .select("id", "source", "n_bigrams", "lm_logprob", "bucket")
  }

  /** COMPOSED quality pipeline — the round's composition net (the
    * q_training_mix pattern): C4 line cleaning → Gopher document rules
    * on the CLEANED text → token-entropy floor → n-gram novelty floor
    * (reference = the kept slice itself, so rehashes of kept content
    * score low), one row per input document with every stage's verdict
    * and the final keep. Chaining on cleaned text is where composition
    * bugs live — a per-op gate can't see that Gopher must run on what C4
    * kept, not on the raw text.
    *
    * Scale shape: C4 is a narrow projection; the kept slice materializes
    * ONCE ([[Dedup.materializeBase]] — three consumers: Gopher, entropy,
    * novelty, plus novelty's bounded reference collect) and the three
    * stage frames join back on id (narrow, AQE-broadcast at small
    * scale, co-partitioned at large). Dropped docs carry null stage
    * columns and final_keep = false. */
  def qualityPipeline(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int, badPhrases: Seq[String], minLines: Int,
      minWords: Int, maxWords: Int, stopwords: Seq[String],
      minEntropy: Double, refModulo: Int, n: Int, minNovelty: Double,
      materializePath: Option[String] = None): DataFrame = {
    val c4 = c4LineFilter(df, idCol, textCol, minLineWords, badPhrases,
      minLines)
    val kept = Dedup.materializeBase(
      c4.filter(col("kept"))
        .select(col("id"), col("clean_text").as("text")),
      materializePath)
    val g = gopherQualityStats(kept, "id", "text", minWords, maxWords,
      stopwords).select(col("id"), col("keep").as("gopher_keep"))
    val e = tokenEntropy(kept, "id", "text").select(col("id"), col("entropy"))
    val nv = noveltyScore(kept, "id", "text",
      kept.filter(col("id") % refModulo === 0), "text", n)
      .select(col("id"), col("novelty"))
    c4.select(col("id"), col("kept").as("c4_kept"))
      .join(g, Seq("id"), "left")
      .join(e, Seq("id"), "left")
      .join(nv, Seq("id"), "left")
      .withColumn("final_keep", col("c4_kept") &&
        coalesce(col("gopher_keep"), lit(false)) &&
        coalesce(col("entropy") >= minEntropy, lit(false)) &&
        coalesce(col("novelty") >= minNovelty, lit(false)))
  }

  /** Per-source QUALITY report — the rest of the data card: document
    * count, Gopher keep-rate, mean document length and mean token
    * entropy per source. Integer counts stay exact; the two means
    * quantize their per-doc values to DECIMAL(28,14) before the
    * order-free sum and divide once (the house exact-aggregation
    * discipline), entropy itself already 9-dp rendered by
    * [[tokenEntropy]]. One narrow per-doc scoring pass + one source
    * aggregation. */
  def corpusQualityReport(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minWords: Int = 50, maxWords: Int = 100000,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")): DataFrame = {
    val g = gopherQualityStats(df, idCol, textCol, minWords, maxWords,
      stopwords).select(col("id"), col("n_words"), col("keep"))
    val e = tokenEntropy(df, idCol, textCol).select(col("id"), col("entropy"))
    val src = df.select(col(idCol).as("id"), col(sourceCol).as("source"))
    src.join(g, Seq("id")).join(e, Seq("id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("n_words")).as("total_words"),
        (sum(col("entropy").cast("decimal(28,14)")).cast("double") /
          count(col("entropy")).cast("double")).as("mean_entropy"))
      .withColumn("keep_rate",
        col("n_keep").cast("double") / col("n_docs").cast("double"))
      .withColumn("mean_words",
        col("total_words").cast("double") / col("n_docs").cast("double"))
      .withColumn("mean_entropy", round(col("mean_entropy"), 9))
  }

  /** Per-document token Shannon entropy (nats) — the information-density
    * quality signal (low entropy = repetitive/templated text; the cheap
    * stand-in for a compressibility filter): H = −Σ_w (c_w/n)·ln(c_w/n)
    * over the document's token counts.
    *
    * ZERO shuffles: counts fold in-row over the sorted token array (the
    * [[gramRunStats]] sorted-run discipline), each completed run adds a
    * DECIMAL(28,14)-quantized term — exactly what an explode→groupBy
    * oracle computes with the same (c/n)·ln(c/n) parenthesization — so
    * the decimal sum is order-invariant — but the PRE-quantization
    * term rides ln (not correctly rounded), so sums can differ ~1e-14
    * across engines; a 9-dp render measured ONE boundary flip in 5,000
    * docs at sf0.1, so entropy renders at 6 dp where the 1e-14 slack is
    * five orders below the rounding boundary. Empty docs surface with
    * null entropy. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // tokens materialize once as a column (the two-step-select trick —
    // the fold, the size guard and every per-step 1/n term reference it);
    // the sort+fold kernel is CPU-dense — spread a one-row-group scan
    val based = graft.ops.Pipeline.cpuRebalance(df, col(idCol))
      .select(col(idCol).as("id"),
        tokens(col(textCol)).as("__t"))
    val t = col("__t")
    val nD = size(t).cast("double")
    def term(run: Column): Column = {
      val p = run.cast("double") / nD
      (p * log(p)).cast("decimal(28,14)")
    }
    val z = struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,14)").as("s"))
    val stepped = aggregate(array_sort(t), z,
      (acc, x) => {
        val cont = x <=> acc.getField("prev")
        val run = when(cont, acc.getField("run") + 1L).otherwise(lit(1L))
        val s = when(!cont && acc.getField("run") >= 1L,
          acc.getField("s") + term(acc.getField("run")))
          .otherwise(acc.getField("s")).cast("decimal(38,14)")
        struct(x.as("prev"), run.as("run"), s.as("s"))
      })
    val total = when(stepped.getField("run") >= 1L,
      stepped.getField("s") + term(stepped.getField("run")))
      .otherwise(stepped.getField("s"))
    // 0.0 - s, not -s: an all-one-token doc sums to exactly 0 and unary
    // minus would surface IEEE -0.0 (a different bit pattern than the
    // oracle's +0.0 under a hash compare)
    based.select(col("id"), size(t).as("n_tokens"),
      when(size(t) > 0,
        round(lit(0.0) - total.cast("double"), 6)).as("entropy"))
  }

  // ---- Unicode normalization ------------------------------------------------

  /** Unicode text canonicalization — the pass that must run BEFORE any
    * hashing/dedup/tokenization on a mixed-source corpus: NFC
    * canonical composition ([[graft.functions.UnicodeExprs]] — composed
    * and decomposed forms of the same text otherwise fingerprint as
    * different documents), then the C0/C1-control strip (tab/newline
    * kept). One narrow codegen projection, streaming-safe. */
  def unicodeClean(text: Column): Column =
    regexp_replace(
      graft.functions.UnicodeExprs.nfcNormalize(
        org.apache.spark.sql.SparkSession.active, text),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")

  // ---- BPE merge training --------------------------------------------------

  /** Byte-pair-encoding merge training (Sennrich, Haddow, Birch — "Neural
    * Machine Translation of Rare Words with Subword Units", ACL 2016) in
    * the shape every production tokenizer trainer uses (HuggingFace
    * tokenizers, SentencePiece BPE): ONE distributed word-count shuffle
    * (map-side combinable), then the merge loop runs on the driver over
    * the BOUNDED word table — capped to the top-`maxWords` words by
    * (count desc, word asc), the [[lmScore]]/[[nbQualityScore]] bounded-
    * TakeOrdered discipline, so driver memory is O(cap) however large the
    * corpus. This is not a shortcut: pair statistics are a pure function
    * of the word-count dictionary, so the loop over it is exact for the
    * kept words, and at any real cap (~10⁵) the dropped tail is hapax
    * noise by Zipf.
    *
    * Deterministic semantics an oracle can replay: words split to code
    * points; each round counts ADJACENT symbol pairs weighted by word
    * count (overlapping occurrences all count), picks max count with ties
    * to the UTF-8-byte-order-smallest `left + ' ' + right` pair, and
    * re-segments every word by one greedy left-to-right non-overlapping
    * fold (a fresh merge result never re-pairs with the next symbol in
    * the same round). Stops early when no pair remains.
    *
    * Returns one row per learned merge:
    * (rank, left, right, merged, pair_count). Apply the learned
    * vocabulary with [[subwordTokenize]] (base code points + merged
    * symbols). */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 50000): DataFrame = {
    val spark = df.sparkSession
    val wc = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .sort(col("c").desc, col("w")).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    def utf8Less(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

    var segs: Array[(Array[String], Long)] = wc.map { case (w, c) =>
      val cps = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      (cps, c)
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      segs.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = counts.reduceLeft { (x, y) =>
          if (y._2 > x._2) y
          else if (y._2 == x._2 &&
            utf8Less(y._1._1 + " " + y._1._2, x._1._1 + " " + x._1._2)) y
          else x
        }
        merges += ((r, a, b, a + b, cnt))
        segs = segs.map { case (s, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          s.foreach { x =>
            if (out.nonEmpty && out.last == a && x == b)
              out(out.length - 1) = a + b
            else out += x
          }
          (out.toArray, c)
        }
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  // ---- Bloom-prefiltered decontamination ----------------------------------

  /** Distributed Bloom-filter build over a fingerprint column: each
    * fingerprint expands to its k bit positions
    * ([[graft.functions.BloomExprs]], Kirsch–Mitzenmacher double hashing),
    * positions fold to 64-bit words with one `bit_or` aggregation, and the
    * driver collects exactly `numBits/64` longs — bounded by the filter
    * SIZE (a design parameter), never by the fingerprint count. A 1.2 GB
    * filter admits ~10⁹ members at 1% fpp; the set itself would be 8 GB+
    * plus literal-plan bloat, past any broadcast or typedlit budget. */
  def buildBloomFilter(fps: DataFrame, fpCol: String, numBits: Long,
      numHashes: Int): Array[Long] = {
    val spark = fps.sparkSession
    require(numBits > 0 && numBits % 64 == 0, s"numBits must be a positive multiple of 64, got $numBits")
    val numWords = (numBits / 64).toInt
    val rows = fps
      .select(explode(graft.functions.BloomExprs.bitPositions(
        spark, col(fpCol), numHashes, numBits)).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
      .groupBy("w").agg(bit_or(col("bit")).as("word"))
      .collect()
    val words = new Array[Long](numWords)
    rows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** [[decontaminate]] with a Bloom prefilter — the 100 TB shape when the
    * eval/blocklist fingerprint set outgrows a broadcast. Plain
    * `decontaminate` broadcasts eval fingerprints to every task (fine for
    * benchmark suites, ~10⁶ fps); against a large blocklist (every eval
    * suite + opt-out registry + prior-corpus fps) the broadcast itself
    * becomes the bottleneck. Here:
    *
    *  1. eval fingerprints build a Bloom filter DISTRIBUTED (one narrow
    *     explode + bit_or shuffle over eval only); the driver holds
    *     numBits/64 longs,
    *  2. the corpus scan stays one narrow codegen projection — winnow the
    *     doc, count fingerprints landing in the task-broadcast filter
    *     ([[graft.functions.BloomExprs.BloomCountContainedExpr]]); docs
    *     with fewer than `minShared` Bloom hits are DEFINITIVELY clean
    *     (no false negatives), and at the default 1% fpp that is ~all of
    *     a clean corpus — the 100 TB never shuffles,
    *  3. only the sliver that passed re-explodes and exact-verifies in a
    *     fingerprint shuffle join against the eval set (false positives
    *     die here), so results are bit-identical to [[decontaminate]].
    *
    * `materializePath` lands the deduped eval fingerprints in parquet for
    * the two consumers (filter build + verify join) — the cluster-durable
    * form of the default localCheckpoint. */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 16, w: Int = 16, minShared: Int = 3, fpp: Double = 0.01,
      materializePath: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    val efp = Dedup.materializeBase(
      winnowFingerprints(evalSet, evalIdCol, evalTextCol, k, w)
        .select("fp").distinct(), materializePath)
    val nEval = math.max(efp.count(), 1L)
    val numBits = graft.functions.BloomExprs.optimalNumBits(nEval, fpp)
    val numHashes = graft.functions.BloomExprs.optimalNumHashes(nEval, numBits)
    val words = buildBloomFilter(efp, "fp", numBits, numHashes)

    val docFps = graft.functions.WinnowExprs.winnow(spark, col(textCol), k, w)
    val bloomHits = graft.functions.BloomExprs.countContained(
      spark, docFps, words, numHashes)
    val candidates = corpus
      .withColumn("__bloom_hits", bloomHits)
      .filter(col("__bloom_hits") >= minShared)
      .drop("__bloom_hits")
    val cfp = winnowFingerprints(candidates, idCol, textCol, k, w)
    val contaminated = cfp.join(efp.hint("SHUFFLE_HASH"), Seq("fp"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id").as(idCol))
    corpus.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Percentile WINSORIZATION of a numeric column per source (outlier
    * clipping before any mean-based statistic or length-normalized
    * score — one pathological 500 MB "document" otherwise owns the
    * average): values clamp to the per-source [pLo, pHi] interpolated
    * percentiles. Cuts come from the Spark `percentile` ≡ DuckDB
    * `quantile_cont` parity pair (the t_length_percentiles gate pins
    * it) and broadcast back onto a zero-shuffle clipping scan — the
    * perplexityBuckets route. The clipped value renders at 6 dp (the
    * interpolation is a double). */
  def winsorize(df: DataFrame, idCol: String, valueCol: String,
      sourceCol: String, pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi,
      s"winsorize: need 0 <= pLo <= pHi <= 1, got [$pLo, $pHi]")
    val cuts = df.groupBy(col(sourceCol).as("source")).agg(
      expr(s"percentile($valueCol, $pLo)").as("__lo"),
      expr(s"percentile($valueCol, $pHi)").as("__hi"))
    df.select(col(idCol).as("id"), col(sourceCol).as("source"),
        col(valueCol).as("v"))
      .join(broadcast(cuts), Seq("source"))
      .select(col("id"), col("source"), col("v"),
        round(greatest(col("__lo"), least(col("__hi"),
          col("v").cast("double"))), 6).as("v_winsorized"))
  }

  /** Per-document lexical diversity — type-token ratio plus the hapax
    * (once-only token) share of the vocabulary: low TTR flags
    * repetitive/template text the way [[repetitionStats]] does, high
    * hapax share flags OCR noise / gibberish (every "word" unique), the
    * two tails a quality gate cuts (SURVEY.md §2.11 L96).
    *
    * ZERO shuffles: distinct and hapax counts come from one sorted-run
    * fold inside the row (the [[repetitionStats]] gramRunStats
    * discipline — provably equal to the oracle's explode→groupBy
    * derivation), so the whole op is a stateless narrow map:
    * streaming-safe, and at 100 TB it scans without exchanging a row.
    * Ratios are single IEEE divisions of exact integers, 6-dp render. */
  def lexicalDiversity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // one fold over the sorted token array: count runs (= distinct
    // types) and runs of length exactly 1 (= hapaxes)
    val stepped = aggregate(array_sort(tokens(col(textCol))),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("types"), lit(0L).as("hapax"), lit(0L).as("n")),
      (acc, x) => {
        val cont = x <=> acc.getField("prev")
        struct(x.as("prev"),
          when(cont, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          (acc.getField("types") + when(cont, 0L).otherwise(1L)).as("types"),
          (acc.getField("hapax") + when(!cont && acc.getField("run") === 1L,
            1L).otherwise(0L)).as("hapax"),
          (acc.getField("n") + 1L).as("n"))
      })
    df.select(col(idCol),
        struct(stepped.getField("n").as("n"),
          stepped.getField("types").as("types"),
          (stepped.getField("hapax") +
            when(stepped.getField("run") === 1L, 1L).otherwise(0L))
            .as("hapax")).as("__s"))
      .select(col(idCol), col("__s.n").as("n_tokens"),
        col("__s.types").as("n_types"), col("__s.hapax").as("n_hapax"),
        when(col("__s.n") > 0, round(col("__s.types").cast("double") /
          col("__s.n"), 6)).as("ttr"),
        when(col("__s.types") > 0, round(col("__s.hapax").cast("double") /
          col("__s.types"), 6)).as("hapax_ratio"))
  }

  /** URL domain report — the domain-level curation signal web-corpus
    * pipelines filter on (domain blocklists, per-domain caps, domain
    * mixing stats; SURVEY.md §2.11 L113): extract every `http(s)://`
    * URL, reduce to the lowercased host, and aggregate per domain with
    * a blocklist flag. One narrow extract scan (regexp_extract_all in
    * the Java∩RE2 common subset) + one domain-keyed shuffle; output is
    * domain-count-sized. */
  def urlDomains(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String] = Seq.empty): DataFrame = {
    // (?i): HTTP:// and hTtPs:// count too — a case-sensitive scheme
    // match lets a blocklisted domain evade by shouting its scheme
    val urls = regexp_extract_all(col(textCol),
      lit("(?i)https?://[^\\s/]+"), lit(0))
    // authority → host: lowercase, strip scheme, strip userinfo (up to
    // the first '@'), strip trailing punctuation ('evil.com,' / a
    // trailing dot), THEN strip an explicit port — in that order, so
    // 'evil.com:8080,' normalizes to 'evil.com' and cannot evade an
    // exact-match blocklist
    val dom = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(lower(col("__u")), "^https?://", ""),
      "^[^@]*@", ""), "[^a-z0-9]+$", ""), ":[0-9]+$", "")
    val perDoc = df
      .select(col(idCol).as("id"), explode(urls).as("__u"))
      .select(col("id"), dom.as("domain"))
      .filter(col("domain") =!= "")
    val blocked =
      if (blocklist.isEmpty) lit(false)
      else col("domain").isin(blocklist.map(_.toLowerCase(
        java.util.Locale.ROOT)): _*)
    perDoc.groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("id")).as("n_docs"))
      .withColumn("blocked", blocked)
  }

  /** Email pattern for [[piiScrub]] — deliberately dialect-portable
    * (character classes + bounded repetition only: identical leftmost
    * matches under Java regex and RE2/DuckDB). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 pattern for [[piiScrub]] (word-bounded; no octet
    * range check — a scrubber over-redacts rather than leaks). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** NNN-NNN-NNNN phone pattern for [[piiScrub]] ('-', '.' or ' '
    * separators). */
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Zero-width characters for [[invisibleChars]]: ZWSP/ZWNJ/ZWJ +
    * BOM/ZWNBSP — the spam/obfuscation/watermark bytes that survive
    * copy-paste, split tokens invisibly, and poison dedup
    * fingerprints. */
  val ZeroWidthRe = "[\\x{200B}-\\x{200D}\\x{FEFF}]"
  /** C0 control characters except tab/newline/CR, for
    * [[invisibleChars]]. */
  val ControlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"

  /** INVISIBLE-CHARACTER audit + strip — the unicode-hygiene stage
    * beside [[unicodeClean]]'s normalization: per document, counts of
    * zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and non-whitespace C0
    * controls, a dirty flag, and the text with both classes stripped.
    * Invisible codepoints make visually identical strings hash apart —
    * they defeat exact dedup, inflate token counts, and are the
    * standard text-watermark/obfuscation channel, so a training corpus
    * strips them BEFORE fingerprinting.
    *
    * ZERO shuffles — a codegen'd scan, streaming-safe; the class
    * patterns are dialect-portable (`\x{…}` ranges — identical in Java
    * regex and RE2), so the DuckDB oracle hash-matches clean_text. */
  def invisibleChars(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit(ZeroWidthRe), lit(0)))
        .as("n_zero_width"),
      size(regexp_extract_all(col(textCol), lit(ControlRe), lit(0)))
        .as("n_control"),
      (size(regexp_extract_all(col(textCol), lit(ZeroWidthRe), lit(0))) +
        size(regexp_extract_all(col(textCol), lit(ControlRe), lit(0))) > 0)
        .as("is_dirty"),
      regexp_replace(regexp_replace(col(textCol), lit(ZeroWidthRe),
        lit("")), lit(ControlRe), lit("")).as("clean_text"))

  /** Unicode-script character classes for [[scriptMix]] — explicit
    * `\x{…}` BMP ranges (dialect-portable: identical in Java regex and
    * RE2, unlike `\p{IsLatin}`-style script names, which the engines
    * spell differently), declared in the fixed PRIORITY order that
    * breaks dominant-script ties. */
  val ScriptRes: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "hebrew" -> "[\\x{0590}-\\x{05FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "cjk" -> ("[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}" +
      "\\x{AC00}-\\x{D7AF}]"))

  /** Per-document Unicode SCRIPT composition — the mixed-script audit
    * beside [[langId]]'s n-gram vote (lang-ID asks "which language?";
    * this asks "which WRITING SYSTEMS, and is the mix suspicious?" —
    * script mixing inside one document is the classic spoofing /
    * boilerplate-contamination / wrong-corpus signal, and a
    * single-script count is the cheap prefilter that routes documents
    * to per-script tokenizers): counts per script class
    * ([[ScriptRes]] — Latin incl. extensions, Cyrillic, Greek, Arabic,
    * Hebrew, Devanagari, CJK+kana+hangul), the dominant script (ties by
    * the declaration priority; all-zero → `none`), and its 6-dp share
    * of total codepoints.
    *
    * ZERO shuffles — codepoint-range regex kernels in one codegen'd
    * scan, streaming-safe; patterns shared textually with the oracle. */
  def scriptMix(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val counts = ScriptRes.map { case (name, re) =>
      size(regexp_extract_all(col(textCol), lit(re), lit(0)))
        .as(s"n_$name")
    }
    val withCounts = df.select(
      (col(idCol).as("id") +: length(col(textCol)).as("n_chars") +:
        counts): _*)
    val mx = greatest(ScriptRes.map { case (n, _) => col(s"n_$n") }: _*)
    val dominant = ScriptRes.foldRight(lit("none")) {
      case ((name, _), acc) =>
        when(col(s"n_$name") === mx && mx > 0, lit(name)).otherwise(acc)
    }
    withCounts
      .withColumn("dominant", dominant)
      .withColumn("dominant_share", when(col("n_chars") > 0,
        round(mx.cast("double") / col("n_chars").cast("double"), 6)))
  }

  /** PII detection + redaction — the scrub stage a training corpus runs
    * before release: per document, match counts for EMAIL / IPv4 /
    * phone patterns (each counted on the ORIGINAL text, independently)
    * and the redacted text with matches replaced by their [TAG], applied
    * in a FIXED order (email → ip → phone) so nested matches (digits
    * inside an already-redacted email) resolve identically everywhere.
    *
    * ZERO shuffles: a narrow projection over codegen'd regex kernels —
    * streaming-safe, scales as a pure scan. The patterns are the
    * portable subset (no lookaround, no backrefs), so the DuckDB oracle
    * runs the SAME patterns and the redacted text hash-matches. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
    df.select(col(idCol).as("id"),
      cnt(EmailRe).as("n_emails"),
      cnt(Ipv4Re).as("n_ipv4"),
      cnt(PhoneRe).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), lit(EmailRe), lit("[EMAIL]")),
          lit(Ipv4Re), lit("[IP]")),
        lit(PhoneRe), lit("[PHONE]")).as("clean_text"))
  }

  /** Flesch-reading-ease-style readability score per document with a
    * deterministic regex syllable proxy (SURVEY.md §2.11 L97): syllables
    * ≈ vowel-group runs `[aeiouy]+` over the lowercased text (counted
    * corpus-wide in ONE regexp_extract_all — word boundaries never split
    * a vowel run, so the per-word sum equals the whole-text count);
    * sentences ≈ terminator runs `[.!?]+`, floored at 1 so
    * terminator-free fragments score rather than divide by zero.
    *
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * fixed parenthesization, 6-dp render; empty docs → null. A stateless
    * narrow map — zero shuffles, streaming-safe. The regexes are in the
    * Java∩RE2 common subset, so the SQL oracle's engine sees the same
    * matches. */
  def readability(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = tokenCount(col(textCol))
    val sentences = greatest(lit(1),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))))
    val syllables =
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
    df.select(col(idCol), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .withColumn("flesch", when(col("n_words") > 0,
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          6)))
  }

  /** Heaps-law VOCABULARY GROWTH curve: per document (visited in id
    * order) the running total of tokens seen and of DISTINCT token types
    * seen so far — the diminishing-returns diagnostic behind "is more of
    * this source still adding vocabulary?" scaling decisions (Heaps
    * 1978: V(n) ≈ K·nᵝ; a source whose curve has flattened mostly
    * repeats itself).
    *
    * Shape: "distinct so far" is NEVER a running set — each type
    * collapses to its FIRST document (one token-keyed min aggregation,
    * the cumulativeDistinct discipline), giving per-doc new-type counts,
    * and both cumulative columns come from the DISTRIBUTED prefix-sum
    * primitive ([[Pipeline.runningSum]]: literal-boundary buckets +
    * bounded offset windows — never a global one-partition window). The
    * doc-count-sized summary frame is materialized once (`corpusPrep`
    * discipline) so the prefix-sum's bucket-cut probe re-reads a cached
    * frame, not the token shuffle. */
  def vocabularyGrowth(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 32,
      materializePath: Option[String] = None): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("__w"))
    val newTypes = toks.groupBy("__w").agg(min(col("__id")).as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("n_new_types"))
    val perDoc = Dedup.materializeBase(
      df.select(col(idCol).as("__id"), tokenCount(col(textCol))
          .cast("long").as("n_tokens"))
        .join(newTypes, Seq("__id"), "left")
        .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L))),
      materializePath)
    // one bucket-cut probe serves BOTH prefix sums (numeric ids; non-
    // numeric ids fall back to runningSum's own sampling per call)
    val cuts: Option[Array[Any]] =
      perDoc.schema("__id").dataType match {
        case _: org.apache.spark.sql.types.NumericType if buckets > 1 =>
          Some(perDoc.filter(col("__id").isNotNull).stat
            .approxQuantile("__id",
              (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
            .distinct.sorted.map(v => v: Any))
        case _ if buckets == 1 => Some(Array.empty[Any])
        case _ => None
      }
    val cumTok = Pipeline.runningSum(perDoc, "__id", col("n_tokens"),
      "cum_tokens", buckets, cuts = cuts)
    Pipeline.runningSum(cumTok, "__id", col("n_new_types"),
        "cum_types", buckets, cuts = cuts)
      .select(col("__id").as(idCol), col("n_tokens"), col("n_new_types"),
        col("cum_tokens"), col("cum_types"))
  }

  /** VOCABULARY COVERAGE per corpus slice — Good–Turing unseen mass +
    * Chao1 richness (Good 1953; Chao 1984): from each group's token
    * frequency spectrum, `p_unseen = N₁/N` (the Turing estimate of the
    * probability the NEXT token is a never-seen type — the "how much of
    * this domain's vocabulary is my corpus still missing" number a
    * crawl-more-or-stop decision reads) and the bias-corrected Chao1
    * total-vocabulary estimate `V + N₁(N₁−1)/(2(N₂+1))`, beside the raw
    * spectrum head (N, V, singletons N₁, doubletons N₂). The Heaps
    * companion [[vocabularyGrowth]] shows the trajectory; this gives the
    * asymptote estimate and the marginal novelty rate.
    *
    * Scale shape: ONE (group, token) count shuffle (map-combinable) +
    * one group aggregation over the type frame — no joins, no windows,
    * no collects. Exact integer spectrum; the two estimates are single
    * IEEE divisions at the render edge (9/6 dp). */
  def vocabularyCoverage(corpus: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val counts = corpus
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("w"))
      .groupBy("grp", "w").agg(count(lit(1)).as("c"))
    counts.groupBy("grp").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("grp"), col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 9)
          .as("p_unseen"),
        round(col("vocab").cast("double") +
          (col("n1") * (col("n1") - 1L)).cast("double") /
            (lit(2.0) * (col("n2") + 1L).cast("double")), 6)
          .as("chao1_vocab"))
  }

  /** Sorted-run fold over a segment array returning (`dup`, `dup_chars`):
    * total occurrences of segments appearing 2+ times, and the characters
    * those occurrences carry — [[gramRunStats]] with a char-weighted
    * second accumulator (a run of c equal segments of length L
    * contributes c occurrences and c·L characters once c ≥ 2). Same
    * contract: identical results to an explode→groupBy→count, computed
    * inside the row with zero shuffles. */
  private def dupRunStats(arr: Column): Column = {
    val stepped = aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("dup"), lit(0L).as("dupChars")),
      (acc, x) => {
        val cont = x <=> acc.getField("prev")
        val run = when(cont, acc.getField("run") + 1L).otherwise(lit(1L))
        val closes = !cont && acc.getField("run") >= 2L
        struct(x.as("prev"), run.as("run"),
          (acc.getField("dup") + when(closes, acc.getField("run"))
            .otherwise(lit(0L))).as("dup"),
          (acc.getField("dupChars") + when(closes,
            acc.getField("run") * length(acc.getField("prev")))
            .otherwise(lit(0L))).as("dupChars"))
      })
    val tailDup = when(stepped.getField("run") >= 2L,
      stepped.getField("run")).otherwise(lit(0L))
    struct((stepped.getField("dup") + tailDup).as("dup"),
      (stepped.getField("dupChars") + tailDup *
        coalesce(length(stepped.getField("prev")).cast("long"), lit(0L)))
        .as("dup_chars"))
  }

  /** MassiveText repetition rules at LINE and PARAGRAPH granularity (Rae
    * et al. 2021 §A1.1 rows 1–4 — the granularity [[repetitionStats]]'s
    * token n-grams do not cover): per document, the fraction of lines
    * that are duplicates of another line in the SAME document, the
    * fraction of characters those duplicate lines carry, and the same
    * two ratios over blank-line-separated paragraphs. Boilerplate
    * navigation, cookie banners, and template-generated text score high
    * on these four before any token-level signal fires.
    *
    * Segments are non-empty exact strings (lines: split on `\n`;
    * paragraphs: split on 2+ consecutive `\n` — both engines' regex
    * split); character denominators count segment characters, not
    * separators. ZERO shuffles: duplicate counting is the
    * [[dupRunStats]] in-row sorted-run fold, so the whole filter is a
    * stateless narrow map — streaming-safe, and at 100 TB it scans
    * without exchanging a row. Fractions are integer ratios with one
    * render division each; the keep decision is pure INTEGER
    * cross-multiplication against percent thresholds (the
    * repetition-filter exactness discipline). */
  def dupLineStats(df: DataFrame, idCol: String, textCol: String,
      maxDupLinePct: Int = 30, maxDupLineCharPct: Int = 20,
      maxDupParaPct: Int = 30, maxDupParaCharPct: Int = 20): DataFrame = {
    require(Seq(maxDupLinePct, maxDupLineCharPct, maxDupParaPct,
      maxDupParaCharPct).forall(p => p >= 0 && p <= 100),
      "percent thresholds must be in [0,100]")
    def segs(pat: String): Column =
      filter(split(col(textCol), pat), s => s =!= "")
    def chars(a: Column): Column =
      coalesce(aggregate(a, lit(0L), (acc, x) => acc + length(x)), lit(0L))
    def frac(num: Column, den: Column): Column =
      when(den > 0L, round(num.cast("double") / den.cast("double"), 9))
        .otherwise(lit(0.0))
    val out = df
      .withColumn("__ls", segs("\n"))
      .withColumn("__ps", segs("\n{2,}"))
      .withColumn("__ld", dupRunStats(col("__ls")))
      .withColumn("__pd", dupRunStats(col("__ps")))
      .withColumn("__lc", chars(col("__ls")))
      .withColumn("__pc", chars(col("__ps")))
    out.select(col(idCol).as("id"),
      size(col("__ls")).cast("long").as("n_lines"),
      size(col("__ps")).cast("long").as("n_paras"),
      col("__ld").getField("dup").as("n_dup_lines"),
      col("__ld").getField("dup_chars").as("dup_line_chars"),
      col("__pd").getField("dup").as("n_dup_paras"),
      col("__pd").getField("dup_chars").as("dup_para_chars"),
      frac(col("__ld").getField("dup"), size(col("__ls")).cast("long"))
        .as("dup_line_frac"),
      frac(col("__ld").getField("dup_chars"), col("__lc"))
        .as("dup_line_char_frac"),
      frac(col("__pd").getField("dup"), size(col("__ps")).cast("long"))
        .as("dup_para_frac"),
      frac(col("__pd").getField("dup_chars"), col("__pc"))
        .as("dup_para_char_frac"),
      (col("__ld").getField("dup") * 100 <=
          size(col("__ls")).cast("long") * maxDupLinePct &&
        col("__ld").getField("dup_chars") * 100 <=
          col("__lc") * maxDupLineCharPct &&
        col("__pd").getField("dup") * 100 <=
          size(col("__ps")).cast("long") * maxDupParaPct &&
        col("__pd").getField("dup_chars") * 100 <=
          col("__pc") * maxDupParaCharPct).as("keep"))
  }

  /** Corpus-wide BOILERPLATE LINE removal (the RefinedWeb / Dolma
    * line-dedup stage, Penedo et al. 2023 §3.3): an exact line occurring
    * in at least `minDocs` DISTINCT documents is boilerplate — nav
    * menus, footers, cookie banners repeat across a crawl far more often
    * than any real prose line — and every occurrence is stripped from
    * every document, the survivors rejoined in original order. Where
    * [[dupLineStats]] scores repetition WITHIN a document and
    * [[c4LineFilter]] applies per-line quality rules, this is the
    * cross-document frequency cut none of the narrow ops can see.
    *
    * Shape at scale: one narrow posexplode of non-empty lines; the
    * frequency pass groups the (doc, line)-distinct frame by line (two
    * key exchanges over DISTINCT pairs, map-side combined); the
    * boilerplate set — bounded by `maxBoilerplate` via an in-plan raise
    * guard naming the fallback — BROADCASTS onto the exploded frame (the
    * corpus never shuffles for the membership test); one final exchange
    * on the doc key rebuilds text via sorted-struct array_join. Docs
    * with no surviving lines (or no lines at all) emit `clean_text` =
    * `''` — never null — so sinks stay schema-stable. */
  def boilerplateStrip(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, maxBoilerplate: Int = 100000): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(maxBoilerplate >= 1, "maxBoilerplate must be >= 1")
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(filter(split(col(textCol), "\n"), s => s =!= ""))
          .as(Seq("pos", "line")))
    val freq = lines.select(col("id"), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
    val bp = freq
      .crossJoin(broadcast(freq.agg(count(lit(1)).as("__nbp"))))
      .withColumn("__bp", when(col("__nbp") <= maxBoilerplate, lit(true))
        .otherwise(raise_error(concat(
          lit("boilerplateStrip: "), col("__nbp").cast("string"),
          lit(s" boilerplate lines > maxBoilerplate=$maxBoilerplate —" +
            " the broadcast set no longer fits; raise minDocs, raise" +
            " maxBoilerplate, or switch the membership test to a" +
            " shuffle join on the line key")))))
      .select(col("line"), col("__bp"))
    val flagged = lines
      .join(broadcast(bp), Seq("line"), "left")
      .withColumn("__rm", coalesce(col("__bp"), lit(false)))
    val agg = flagged.groupBy("id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("__rm"), length(col("line")).cast("long"))
        .otherwise(0L)).as("chars_removed"),
      array_join(transform(array_sort(collect_list(
          when(!col("__rm"), struct(col("pos"), col("line"))))),
        s => s.getField("line")), "\n").as("clean_text"))
    df.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
