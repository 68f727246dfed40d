package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-9 analytics wave: SCD2 history,
  * gap fill, decay scoring, grouped z-scores / percent-rank
  * normalization, lexical diversity, readability, conjunctive search,
  * and blocked fuzzy linkage. The DuckDB gates pin engine parity at sf
  * scale; these pin the SEMANTICS on inputs small enough to verify by
  * hand — compaction under re-delivery, forward-fill across gaps,
  * half-life bucket edges, phrase contiguity, the lossless length
  * prune, and the in-plan guards.
  */
class AnalyticsSpec extends SparkSpec {

  test("sessionize: gap splits, cross-bucket stitching, 1-based ids, exact micros") {
    import spark.implicits._
    // u1: events at 00:00, 00:10, 00:40 (gap 30m = NOT >, same session),
    //     01:20 (gap 40m > 30m -> new session),
    //     next day 00:05 (new session, crosses the 1-day bucket)
    // u2: single event -> one singleton session
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 101L), (1L, "2024-01-01 00:10:00", 102L),
      (1L, "2024-01-01 00:40:00", 103L), (1L, "2024-01-01 01:20:00", 104L),
      (1L, "2024-01-02 00:05:00", 105L),
      (2L, "2024-01-05 12:00:00", 201L))
      .toDF("u", "tss", "eid")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = Behavior.sessionize(ev, "u", "ts", "eid", gapSeconds = 1800L)
      .orderBy("u", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    assert(out == Seq(
      (1L, 1L, us("2024-01-01T00:00:00Z"), us("2024-01-01T00:40:00Z"), 3L,
        2400L * 1000000L),
      (1L, 2L, us("2024-01-01T01:20:00Z"), us("2024-01-01T01:20:00Z"), 1L, 0L),
      (1L, 3L, us("2024-01-02T00:05:00Z"), us("2024-01-02T00:05:00Z"), 1L, 0L),
      (2L, 1L, us("2024-01-05T12:00:00Z"), us("2024-01-05T12:00:00Z"), 1L, 0L)))
    // cross-bucket JOIN of sessions: an event 10 min into the next day
    // continues the previous day's session (stitch, not split)
    val ev2 = Seq((1L, "2024-01-01 23:55:00", 1L), (1L, "2024-01-02 00:05:00", 2L))
      .toDF("u", "tss", "eid").withColumn("ts", to_timestamp(col("tss")))
    val out2 = Behavior.sessionize(ev2, "u", "ts", "eid", 1800L).collect()
    assert(out2.length == 1 && out2(0).getLong(4) == 2L)
  }

  test("sessionizeNative == sessionize rows, INCLUDING the exact-gap boundary") {
    import spark.implicits._
    // u1: 00:00, 00:10 (same session), 01:00 (gap 50m > 30m -> new)
    // u2: 00:00 then an event at EXACTLY 00:30 (= the gap): Spark's
    // session_window merges on touch (gap-equal events JOIN the
    // session) — the same strictly-greater split rule as sessionize,
    // so the two forms agree even at the boundary (pinned here)
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L), (1L, "2024-01-01 00:10:00", 2L),
      (1L, "2024-01-01 01:00:00", 3L),
      (2L, "2024-01-01 00:00:00", 4L), (2L, "2024-01-01 00:30:00", 5L))
      .toDF("u", "tss", "eid")
      .withColumn("ts", to_timestamp(col("tss")))
    val native = Behavior.sessionizeNative(ev, "u", "ts", 1800L)
      .orderBy("u", "session_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def us(ss: String) = java.time.Instant.parse(ss).toEpochMilli * 1000L
    assert(native.toSeq == Seq(
      (1L, us("2024-01-01T00:00:00Z"), us("2024-01-01T00:10:00Z"), 2L),
      (1L, us("2024-01-01T01:00:00Z"), us("2024-01-01T01:00:00Z"), 1L),
      (2L, us("2024-01-01T00:00:00Z"), us("2024-01-01T00:30:00Z"), 2L)))
    val a = Behavior.sessionizeNative(ev, "u", "ts", 1800L)
      .select("u", "session_start_us", "session_end_us", "n_events")
      .collect().map(_.toString).sorted.toSeq
    val b = Behavior.sessionize(ev, "u", "ts", "eid", 1800L)
      .select("u", "session_start_us", "session_end_us", "n_events")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("centroidSilhouette: hand-computed two-cluster means, single-label null") {
    import spark.implicits._
    // g1: (0,0), (2,0) -> centroid (1,0); g2: (10,0) -> centroid (10,0)
    // g1 point (0,0): a = 1, b = 10 -> s = 9/10; point (2,0): a = 1,
    // b = 8 -> s = 7/8. g2 point: a = 0, b = 9 -> s = 1.0
    val df = Seq(
      (1L, Array(0.0f, 0.0f), "g1"), (2L, Array(2.0f, 0.0f), "g1"),
      (3L, Array(10.0f, 0.0f), "g2")).toDF("id", "vec", "lbl")
    val out = Similarity.centroidSilhouette(df, "id", "vec", "lbl")
      .orderBy("grp").collect()
    val s1 = BigDecimal((10.0 - 1.0) / 10.0).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val s2 = BigDecimal((8.0 - 1.0) / 8.0).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val mean1 = ((BigDecimal(s1) + BigDecimal(s2)) / 2)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getString(0) == "g1" && out(0).getLong(1) == 2L &&
      out(0).getDouble(2) == mean1)
    assert(out(1).getString(0) == "g2" && out(1).getLong(1) == 1L &&
      out(1).getDouble(2) == 1.0)
    // one label only -> silhouette undefined -> null mean
    val one = Similarity.centroidSilhouette(df.filter(col("lbl") === "g1"),
      "id", "vec", "lbl").collect()
    assert(one.length == 1 && one(0).isNullAt(2))
  }

  test("tCloseness: uniform group scores 0, concentrated group scores the EMD") {
    import spark.implicits._
    // domain {1,2,3,4} global counts (2,2,2,2), N=8, m=4
    // group A: one of each -> identical distribution -> emd 0
    // group B: all four rows at value 1 -> cumP=(1,1,1), cumQ/N=(.25,.5,.75)
    //   emd = ((1-.25)+(1-.5)+(1-.75))/3 = 0.5
    val df = Seq(
      ("A", 1), ("A", 2), ("A", 3), ("A", 4),
      ("B", 1), ("B", 1), ("B", 1), ("B", 1))
      .toDF("q", "sv")
    // B's values skew the global: global counts = (5,1,1,1), recompute:
    // cumQ/N = (5/8, 6/8, 7/8); A cumP = (.25,.5,.75)
    // emd(A) = (|.25-.625|+|.5-.75|+|.75-.875|)/3 = (.375+.25+.125)/3 = 0.25
    // emd(B) = (|1-.625|+|1-.75|+|1-.875|)/3 = (.375+.25+.125)/3 = 0.25
    val out = Stats.tCloseness(df, Seq("q"), "sv", t = 0.2)
      .orderBy("q").collect()
    assert(out(0).getString(0) == "A" && out(0).getLong(1) == 4L &&
      out(0).getDouble(2) == 0.25 && out(0).getBoolean(3))
    assert(out(1).getString(0) == "B" && out(1).getDouble(2) == 0.25)
    // identical distributions -> emd 0, no violation
    val unif = Seq(("A", 1), ("A", 2), ("B", 1), ("B", 2)).toDF("q", "sv")
    val o2 = Stats.tCloseness(unif, Seq("q"), "sv", t = 0.2)
      .orderBy("q").collect()
    assert(o2.forall(r => r.getDouble(2) == 0.0 && !r.getBoolean(3)))
  }

  test("sessionize: NULL user keys form ONE surviving group (null-safe stitch)") {
    import spark.implicits._
    // Two null-user events 10 min apart (one session of 2), one null-user
    // event 2 h later (second session), plus a real user as a control.
    // An equi-join stitch would DROP all three null rows silently.
    val ev = Seq(
      (None: Option[Long], "2024-01-01 00:00:00", 1L),
      (None: Option[Long], "2024-01-01 00:10:00", 2L),
      (None: Option[Long], "2024-01-01 02:10:00", 3L),
      (Some(7L), "2024-01-01 00:00:00", 4L))
      .toDF("u", "tss", "eid")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = Behavior.sessionize(ev, "u", "ts", "eid", gapSeconds = 1800L)
      .collect()
    val nullSessions = out.filter(_.isNullAt(0))
      .map(r => (r.getLong(1), r.getLong(4))).sorted.toSeq
    assert(nullSessions == Seq((1L, 2L), (2L, 1L)),
      s"null-user sessions wrong: ${nullSessions.mkString(",")}")
    assert(out.count(r => !r.isNullAt(0) && r.getLong(0) == 7L) == 1)
  }

  test("vocabularyCoverage: spectrum, Turing unseen mass, bias-corrected Chao1") {
    import spark.implicits._
    // grp a: tokens x x y z -> N=4 V=3 N1=2(y,z) N2=1(x? no x appears twice -> N2=1)
    // grp b: w w w -> N=3 V=1 N1=0 N2=0
    val df = Seq(("a", "x x y z"), ("b", "w w w")).toDF("g", "text")
    val out = TextAnalysis.vocabularyCoverage(df, "g", "text")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(out == Seq(
      // chao1(a) = 3 + 2*1/(2*(1+1)) = 3.5 ; p_unseen = 2/4
      ("a", 4L, 3L, 2L, 1L, 0.5, 3.5),
      // chao1(b) = 1 + 0 ; p_unseen = 0
      ("b", 3L, 1L, 0L, 0L, 0.0, 1.0)))
  }

  test("centroidDrift: identical sides cos 1/l2 0, sign flip cos -1, one-sided nulls") {
    import spark.implicits._
    val rows = Seq(
      // g1: base mean (1,0), cur mean (1,0) -> cos 1, l2 0
      (1, "base", Seq(2.0f, 0.0f)), (1, "base", Seq(0.0f, 0.0f)),
      (1, "cur", Seq(1.0f, 0.0f)),
      // g2: cur = -base -> cos -1, l2 = 2*|mean|
      (2, "base", Seq(3.0f, 4.0f)), (2, "cur", Seq(-3.0f, -4.0f)),
      // g3: base only -> null drift columns
      (3, "base", Seq(1.0f, 1.0f)))
      .toDF("label", "snap", "embedding")
    val out = Similarity.centroidDrift(rows, "label", "embedding", "snap",
        "base", "cur")
      .orderBy("grp").collect()
    assert(out(0).getDouble(3) == 1.0 && out(0).getDouble(4) == 0.0 &&
      out(0).getLong(1) == 2L && out(0).getLong(2) == 1L)
    assert(out(1).getDouble(3) == -1.0 &&
      math.abs(out(1).getDouble(4) - 10.0) < 1e-9)
    assert(out(2).isNullAt(2) && out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("scd2History: compaction, version chaining, null-safe re-delivery") {
    import spark.implicits._
    val changes = Seq(
      // key 1: a -> a (compacts) -> b -> b (compacts) -> a  = 3 versions
      (1L, 10L, Some("a")), (1L, 20L, Some("a")), (1L, 30L, Some("b")),
      (1L, 40L, Some("b")), (1L, 50L, Some("a")),
      // key 2: null -> null (compacts: <=> semantics) -> x  = 2 versions
      (2L, 10L, None), (2L, 20L, None), (2L, 30L, Some("x")))
      .toDF("k", "seq", "v")
    val out = Cdc.scd2History(changes, "k", "seq", Seq("v"))
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .toSeq
    assert(out == Seq(
      (1L, Some("a"), 10L, 30L, false),
      (1L, Some("b"), 30L, 50L, false),
      (1L, Some("a"), 50L, -1L, true),
      (2L, None, 10L, 30L, false),
      (2L, Some("x"), 30L, -1L, true)))
  }

  private def tsEvents(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("u0", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss")))
      .withColumnRenamed("u0", "user_id")
  }

  test("gapFill: grid completeness, forward fill, per-bucket sums") {
    val ev = tsEvents(
      (1L, "2024-01-01 05:00:00", 1.5), (1L, "2024-01-01 06:00:00", 2.0),
      // day 2 empty, day 3 observed
      (1L, "2024-01-03 01:00:00", 4.0),
      (2L, "2024-01-05 00:00:00", 7.0)) // singleton: one-bucket grid
    val out = Behavior.gapFill(ev, "user_id", "ts", "value", 86400L)
      .orderBy("u", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val d1 = 1704067200L // 2024-01-01 epoch
    assert(out == Seq(
      (1L, d1, Some(3.5), 3.5, true),
      (1L, d1 + 86400, None, 3.5, false), // gap carries day 1 forward
      (1L, d1 + 2 * 86400, Some(4.0), 4.0, true),
      (2L, d1 + 4 * 86400, Some(7.0), 7.0, true)))
  }

  test("gapFill: oversize span raises in-plan") {
    val ev = tsEvents((1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-03-01 00:00:00", 2.0))
    val ex = intercept[Exception] {
      Behavior.gapFill(ev, "user_id", "ts", "value", 60L,
        maxBucketsPerKey = 1000L).collect()
    }
    assert(ex.getMessage.contains("maxBucketsPerKey") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxBucketsPerKey")))
  }

  test("decayScore: half-life bucket edges and exact 0.5^n weights") {
    // asOf = 2024-02-01 00:00:00 UTC = 1706745600; halfLife 7 days
    val ev = tsEvents(
      (1L, "2024-01-31 00:00:00", 8.0),  // age 1d  -> period 0, w=1
      (1L, "2024-01-25 00:00:01", 8.0),  // age 6d+ -> period 0, w=1
      (1L, "2024-01-25 00:00:00", 8.0),  // age 7d  -> period 1, w=0.5
      (1L, "2024-01-11 00:00:00", 8.0),  // age 21d -> period 3, w=0.125
      (2L, "2024-02-02 00:00:00", 9.0))  // future -> weight 0
    val out = Behavior.decayScore(ev, "user_id", "ts", "value",
        asOfEpoch = 1706745600L, halfLifeDays = 7L)
      .orderBy("u").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq
    assert(out == Seq((1L, 8.0 + 8.0 + 4.0 + 1.0, 4L), (2L, 0.0, 1L)))
  }

  test("zscoreFlags: moments, flags on the rounded z, degenerate groups") {
    import spark.implicits._
    val df = Seq(
      (1L, "g1", 10.0), (2L, "g1", 10.0), (3L, "g1", 10.0),
      (4L, "g1", 10.0), (5L, "g1", 30.0), // mean 14, std ~8.944
      (6L, "solo", 5.0), // n=1 -> null z
      (7L, "flat", 3.0), (8L, "flat", 3.0)) // zero variance -> null z
      .toDF("id", "g", "v")
    val out = Stats.zscoreFlags(df, "id", "v", "g", zThresh = 1.5)
      .orderBy("id").collect()
    val z5 = out(4)
    assert(math.abs(z5.getDouble(4) - 1.788854) < 1e-6 && z5.getBoolean(5))
    assert(!out(0).getBoolean(5) && math.abs(out(0).getDouble(4) + 0.447214) < 1e-6)
    assert(out(5).isNullAt(4) && !out(5).getBoolean(5)) // singleton
    assert(out(6).isNullAt(4) && !out(6).getBoolean(5)) // zero variance
  }

  test("percentRankNormalize: ties share rank, singleton is 0") {
    import spark.implicits._
    val df = Seq((1L, "a", 5), (2L, "a", 5), (3L, "a", 7), (4L, "b", 99))
      .toDF("id", "g", "v")
    val out = Stats.percentRankNormalize(df, "id", "v", "g")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(out == Seq((1L, 0.0), (2L, 0.0), (3L, 1.0), (4L, 0.0)))
  }

  test("lexicalDiversity: fold equals explode-groupBy, empty text") {
    import spark.implicits._
    val df = Seq((1L, "a b a c c c"), (2L, "x"), (3L, "  "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: n=6, types 3 (a,b,c), hapax 1 (b), ttr 0.5, hapax_ratio 1/3
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getLong(3),
      out(0).getDouble(4), out(0).getDouble(5)) ==
      (6L, 3L, 1L, 0.5, 0.333333))
    assert((out(1).getLong(1), out(1).getLong(2), out(1).getLong(3),
      out(1).getDouble(4)) == (1L, 1L, 1L, 1.0))
    assert(out(2).getLong(1) == 0L && out(2).isNullAt(4))
    // differential vs explode→groupBy on a larger random-ish corpus
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(i =>
        conv(pmod(col("id") * (i + 7) + i * i, lit(17)), 10, 26)): _*)
        .as("text"))
    val fold = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
    val oracle = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n"), count(lit(1)).as("types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
    val joined = fold.join(oracle, "doc_id")
      .filter(col("n_tokens") =!= col("n") ||
        col("n_types") =!= col("types") || col("n_hapax") =!= col("hapax"))
    assert(joined.count() == 0)
  }

  test("readability: vowel-run syllables, sentence floor") {
    import spark.implicits._
    val df = Seq(
      (1L, "The cat sat. It ran!"), // 5 words, 2 sentences, syllables: e,a,a,i,a = 5
      (2L, "no terminators here"))  // floor -> 1 sentence; o,e,i,a,o,e,e = 7... count below
      .toDF("doc_id", "text")
    val out = TextAnalysis.readability(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert((out(0).getInt(1), out(0).getInt(2), out(0).getInt(3)) == (5, 2, 5))
    // "no terminators here": runs o | e,i,a,o | e,e -> n-o t-e-rm-i-n-a-t-o-rs h-e-r-e
    // vowel runs: o; e; i; a; o; e; e = 7
    assert((out(1).getInt(1), out(1).getInt(2), out(1).getInt(3)) == (3, 1, 7))
    val f1 = 206.835 - 1.015 * (5.0 / 2) - 84.6 * (5.0 / 5)
    assert(math.abs(out(0).getDouble(4) - math.rint(f1 * 1e6) / 1e6) < 1e-9)
  }

  test("conjunctiveSearch: AND semantics, phrase contiguity, hit counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick fox jumps the fence"), // has 'the','fox'; phrase 'the fence'
      (2L, "fox only here"),                 // missing 'the'
      (3L, "the fencepost fox"),             // phrase must NOT match 'fencepost'
      (4L, "THE Fox likes the fence"))       // case-folds
      .toDF("doc_id", "text")
    val hit = Retrieval.conjunctiveSearch(df, "doc_id", "text",
      Seq("the", "fox"), Some("the fence")).orderBy("doc_id").collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(hit.map(_.getInt(2)).toSeq == Seq(3, 3)) // 'the'x2 + 'fox'
    val noPhrase = Retrieval.conjunctiveSearch(df, "doc_id", "text",
      Seq("the", "fox"), None).orderBy("doc_id").collect()
    assert(noPhrase.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
  }

  test("fuzzyPairs: exact within-block pairs, length prune lossless") {
    import spark.implicits._
    val df = Seq(
      (1L, "b1", "red widget"), (2L, "b1", "red widget"), // dist 0
      (3L, "b1", "red widgets"),                          // dist 1 to both
      (4L, "b1", "blue bolt"),                            // far from all
      (5L, "b2", "red widget"))                           // other block
      .toDF("id", "blk0", "s")
    val out = Linkage.fuzzyPairs(df, "id", "s", "blk0", maxDist = 2)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(out == Seq((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)))
    // chunk counts must not change the result (triangle correctness)
    val out2 = Linkage.fuzzyPairs(df, "id", "s", "blk0", maxDist = 2,
      chunks = 3).orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(out2 == out)
  }

  test("lexicalDiversity/readability/conjunctiveSearch are stateless: batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(1L -> "the fox runs. the fox hides!",
      2L -> "table query table", 3L -> "")
    def run(name: String, f: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Map[Long, String] = {
      val mem = MemoryStream[(Long, String)]
      val q = f(mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => r.getLong(0) -> r.mkString("|")).toMap
    }
    def batchOf(f: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Map[Long, String] =
      f(rows.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r.mkString("|")).toMap
    val ld = (df: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.lexicalDiversity(df, "doc_id", "text")
    val rd = (df: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.readability(df, "doc_id", "text")
    val cs = (df: org.apache.spark.sql.DataFrame) =>
      Retrieval.conjunctiveSearch(df, "doc_id", "text", Seq("fox"), None)
    assert(run("ld_stream_test", ld) == batchOf(ld))
    assert(run("rd_stream_test", rd) == batchOf(rd))
    assert(run("cs_stream_test", cs) == batchOf(cs))
  }

  test("prefixFilterJaccardPairs: lossless vs brute force, threshold edge") {
    import spark.implicits._
    // crafted corpus: 1-2 near-dup pairs at varying overlap + unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // high overlap with 1
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight"),        // exact dup of 3
      (5L, "completely different words entirely here now"),
      (6L, "alpha beta gamma delta epsilon zeta theta eta"))  // permuted tail of 1
      .toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long)] = {
      val sets = docs.collect().map(r => r.getLong(0) ->
        r.getString(1).split(" ").sliding(3).map(_.mkString(" ")).toSet).toMap
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        i = sets(a).intersect(sets(b)).size
        u = sets(a).union(sets(b)).size
        if u > 0 && i.toDouble / u >= t
      } yield (a, b)).toSet
    }
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(t), s"threshold $t")
    }
    // partition count must not change the pair set
    val got4 = Dedup.prefixFilterJaccardPairs(docs.repartition(7), "doc_id",
        "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got4 == brute(0.5))
  }

  test("prefixFilterJaccardPairs: hot prefix gram raises in-plan") {
    import spark.implicits._
    // every doc is the SAME text → the prefix gram's df = corpus size
    val docs = spark.range(30).select(col("id").as("doc_id"),
      lit("same exact text in every doc").as("text"))
    val ex = intercept[Exception] {
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.9, maxPrefixDf = 10).collect()
    }
    assert(ex.getMessage.contains("maxPrefixDf") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxPrefixDf")))
  }

  test("profileTable: counts, nulls, distincts, decimal-rendered doubles") {
    import spark.implicits._
    val df = Seq((1L, Some(2.5), Some("x")), (2L, None, Some("y")),
      (3L, Some(2.5), None)).toDF("id", "d", "s")
    val out = Profile.profileTable(df).orderBy("column").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6))).toSeq
    assert(out == Seq(
      ("d", "double", 3L, 2L, 1L, "2.500000", "2.500000"),
      ("id", "bigint", 3L, 3L, 3L, "1", "3"),
      ("s", "string", 3L, 2L, 2L, "x", "y")))
  }

  test("profileTable: complex and binary columns count values whose string casts collide; maps get no min/max") {
    // the two values of arr, st and mp CAST AS STRING to the same text
    val df = spark.sql("""SELECT * FROM VALUES
      |  (array('a, b'), named_struct('x', 'a, b', 'y', 'c'), map('a', 'b -> c'), X'FF'),
      |  (array('a', 'b'), named_struct('x', 'a', 'y', 'b, c'), map('a -> b', 'c'), X'FE')
      |  AS t(arr, st, mp, bin)""".stripMargin)
    Seq("arr", "st", "mp").foreach { c =>
      assert(df.select(col(c).cast("string")).distinct().count() == 1)
    }
    val profile = Profile.profileTable(df).collect().map(r => r.getString(0) -> r).toMap
    assert(profile.map { case (c, r) => c -> r.getLong(4) } ==
      Map("arr" -> 2L, "st" -> 2L, "mp" -> 2L, "bin" -> 2L))
    // maps have no ordering: no min/max
    assert(profile("mp").isNullAt(5) && profile("mp").isNullAt(6))
  }

  test("profileTableApprox: HLL estimate within bound, exact base columns, all-null = 0") {
    import spark.implicits._
    // 5000 ids (distinct), a 7-value categorical, a half-null double with
    // 50 distinct 6-dp renders, and an all-null string column
    val df = spark.range(0L, 5000L).select(
      col("id"),
      concat(lit("c"), (col("id") % 7).cast("string")).as("cat"),
      when(col("id") % 2 === 0, (col("id") % 50).cast("double") / 4.0)
        .as("d"),
      lit(null).cast("string").as("z"))
    val approx = Profile.profileTableApprox(df).orderBy("column").collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Profile.profileTable(df).orderBy("column").collect()
      .map(r => r.getString(0) -> r).toMap
    Seq("cat", "d", "id", "z").foreach { c =>
      val (a, e) = (approx(c), exact(c))
      // identical base card: dtype, n_rows, n_nonnull, min_s, max_s
      assert(a.getString(1) == e.getString(1) &&
        a.getLong(2) == e.getLong(2) && a.getLong(3) == e.getLong(3) &&
        a.getString(5) == e.getString(5) && a.getString(6) == e.getString(6),
        s"base card mismatch for $c")
      val est = a.getDouble(4)
      val ex = e.getLong(4).toDouble
      if (ex == 0.0) assert(est == 0.0, s"all-null $c must estimate 0")
      // m = 64 registers: ±1.04/√64 ≈ 13% standard error; pin 3σ ≈ 40%
      else assert(math.abs(est - ex) / ex <= 0.4,
        s"$c: est $est vs exact $ex beyond 40% bound")
    }
  }

  test("timeWeightedAvg: interval weights, last-observation zero, singleton null") {
    val ev = tsEvents(
      // u1: 10.0 holds 60s, 20.0 holds 30s, 40.0 terminal (weight 0)
      (1L, "2024-01-01 00:00:00", 10.0), (1L, "2024-01-01 00:01:00", 20.0),
      (1L, "2024-01-01 00:01:30", 40.0),
      (2L, "2024-01-05 00:00:00", 7.0)) // singleton -> null twa
    val out = Behavior.timeWeightedAvg(ev, "user_id", "ts", "value")
      .orderBy("u").collect()
    // (10*60 + 20*30) / 90 = 1200/90 = 13.333333
    assert(out(0).getLong(0) == 1L &&
      math.abs(out(0).getDouble(1) - 13.333333) < 1e-9 &&
      out(0).getLong(2) == 3L)
    assert(out(1).getLong(0) == 2L && out(1).isNullAt(1) &&
      out(1).getLong(2) == 1L)
  }

  test("resolveEntities: transitive closure chains A~B~C, singletons survive") {
    import spark.implicits._
    val df = Seq(
      (1L, "b1", "red widget"), (2L, "b1", "red widgets"), // 1~2 (dist 1)
      (3L, "b1", "red widgetsxx"),                         // 2~3 (dist 2), 1!~3 (dist 3)
      (4L, "b1", "blue bolt"), (5L, "b2", "red widget"))
      .toDF("id", "blk0", "s")
    val out = Linkage.resolveEntities(df, "id", "s", "blk0", maxDist = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .toSeq
    // 1,2,3 chain into entity 1 even though lev(1,3)=3 > maxDist
    assert(out == Seq((1L, 1L, true, 3L), (2L, 1L, false, 3L),
      (3L, 1L, false, 3L), (4L, 4L, true, 1L), (5L, 5L, true, 1L)))
  }

  test("labelPropagation: majority vote, smallest-label ties, seeds pinned, retention") {
    import spark.implicits._
    // path graph: 1-2-3, 4-3 ; seeds: 1->"a", 4->"b", 3->"z" (pinned)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (4L, "b"), (3L, "z")).toDF("node", "lbl")
    val out = Graph.labelPropagation(edges, "src", "dst", seeds, "node",
        "lbl", iterations = 2)
      .orderBy("node").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // node 2: neighbors {1:"a", 3:"z"} -> tie count 1,1 -> smallest "a"
    // node 3 seeded "z" stays; nodes 1,4 pinned
    assert(out == Map(1L -> Some("a"), 2L -> Some("a"), 3L -> Some("z"),
      4L -> Some("b")))
    // retention: an unreached node keeps null, a reached one keeps its
    // label when its only labeled neighbor is itself unlabeled later —
    // round 2 must not erase round 1 labels on the path 10-11-12, seed 10
    val e2 = Seq((10L, 11L), (11L, 12L)).toDF("src", "dst")
    val s2 = Seq((10L, "x")).toDF("node", "lbl")
    val o1 = Graph.labelPropagation(e2, "src", "dst", s2, "node", "lbl",
        iterations = 3).orderBy("node").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(o1 == Map(10L -> Some("x"), 11L -> Some("x"), 12L -> Some("x")))
  }

  test("histogram: edge values, dense grid, out-of-range dropped") {
    import spark.implicits._
    val df = Seq(("g1", 0.0), ("g1", 9.99), ("g1", 10.0), ("g1", 25.0),
      ("g1", 100.0), ("g1", 101.0), ("g2", 50.0))
      .toDF("g0", "v")
    val out = Stats.histogram(df, "v", "g0", lo = 0.0, hi = 100.0, bins = 4)
      .orderBy("g", "bin").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(out == Seq(
      ("g1", 0, 0.0, 3L),   // 0.0, 9.99, 10.0 < 25
      ("g1", 1, 25.0, 1L),  // 25.0
      ("g1", 2, 50.0, 0L),  // dense zero bin
      ("g1", 3, 75.0, 1L),  // 100.0 closes the last bin; 101 dropped
      ("g2", 0, 0.0, 0L), ("g2", 1, 25.0, 0L),
      ("g2", 2, 50.0, 1L), ("g2", 3, 75.0, 0L)))
  }

  test("modePerGroup: ties to smallest value, nulls excluded") {
    import spark.implicits._
    val df = Seq(("u1", Some("b")), ("u1", Some("b")), ("u1", Some("a")),
      ("u1", Some("a")), ("u2", Some("x")), ("u2", None))
      .toDF("g0", "v")
    val out = Stats.modePerGroup(df, "v", "g0").orderBy("g").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(("u1", "a", 2L), ("u2", "x", 1L)))
  }

  test("corrMatrix: exact +-1 and independence, zero variance null") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, 5.0),
      (3.0, 6.0, -3.0, 5.0)).toDF("a", "b", "c", "k")
    val out = Stats.corrMatrix(df, Seq("a", "b", "c", "k"))
      .orderBy("col_a", "col_b").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(("a", "b")) == Some(1.0))   // b = 2a
    assert(out(("a", "c")) == Some(-1.0))  // c = -a
    assert(out(("a", "k")) == None)        // k constant -> null
    assert(out(("b", "c")) == Some(-1.0))
  }

  test("benfordAudit: digit extraction from decimal render, dense digits, chi2") {
    import spark.implicits._
    // 0.05 -> first significant digit 5; 123.0 -> 1; -20.5 -> 2; 0.0 excluded
    val df = Seq(("g", 0.05), ("g", 123.0), ("g", -20.5), ("g", 0.0),
      ("g", 19.0)).toDF("g0", "v")
    val out = Stats.benfordAudit(df, "v", "g0").orderBy("digit").collect()
    assert(out.length == 9)
    val byDigit = out.map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(byDigit == Map(1 -> 2L, 2 -> 1L, 3 -> 0L, 4 -> 0L, 5 -> 1L,
      6 -> 0L, 7 -> 0L, 8 -> 0L, 9 -> 0L))
    assert(out.head.getDouble(4) == 0.301029996) // compiled Benford constant
    assert(out.map(_.getDouble(5)).distinct.length == 1) // one chi2 per group
  }

  test("hllMerge: register-wise max merge == sketching the union directly") {
    import spark.implicits._
    val docs = Seq(("s1", "aa bb cc dd"), ("s1", "cc dd ee"),
      ("s2", "aa ff gg hh ii"), ("s3", "jj kk"))
      .toDF("source", "text")
    val merged = Sketch.hllMerge(docs, "source", "text").collect()(0)
    // one shard = sketching the union directly (same register pipeline)
    val direct = Sketch.hllMerge(docs.withColumn("source", lit("one")),
      "source", "text").collect()(0)
    assert(merged.getDouble(2) == direct.getDouble(2)) // hll_est identical
    assert(merged.getLong(0) == 3L && merged.getLong(1) == 11L)
    assert(direct.getLong(0) == 1L && direct.getLong(1) == 11L)
  }

  test("urlDomains: extraction, host lowering, blocklist, per-doc distinct") {
    import spark.implicits._
    val df = Seq(
      (1L, "see http://A.example.com/x and http://a.example.com/y plus https://b.org/z"),
      (2L, "again http://a.example.com no-url-here"),
      (3L, "none at all")).toDF("doc_id", "text")
    val out = TextAnalysis.urlDomains(df, "doc_id", "text",
        Seq("B.org")).orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(out == Seq(("a.example.com", 3L, 2L, false),
      ("b.org", 1L, 1L, true)))
  }

  test("urlDomains: scheme case, ports, userinfo, trailing punctuation " +
      "cannot evade the blocklist") {
    import spark.implicits._
    val df = Seq(
      (1L, "HTTP://EVIL.com/x then https://evil.com:8080/y"),
      (2L, "bare evil.com, linked http://evil.com, and http://u:p@evil.com/z"),
      (3L, "trailing dot http://evil.com. port-comma http://evil.com:8080,"),
      (4L, "degenerate http://@ and fine https://ok.org/a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlDomains(df, "doc_id", "text", Seq("evil.com"))
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    // 6 evil.com URLs across docs 1-3 (the bare 'evil.com' has no scheme
    // and does not count); the empty-host degenerate is dropped
    assert(out == Seq(("evil.com", 6L, 3L, true), ("ok.org", 1L, 1L, false)))
  }

  test("kAnonymity: group sizes and violation flags, nulls group") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, Some("a")), (3, Some("a")),
      (4, Some("b")), (5, None)).toDF("qa", "qb")
    val out = Stats.kAnonymity(df.withColumn("qa", lit(9)), Seq("qa", "qb"),
        k = 2).orderBy("qb").collect()
      .map(r => (Option(r.getString(1)), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(out.contains((Some("a"), 3L, false)))
    assert(out.contains((Some("b"), 1L, true)))
    assert(out.contains((None, 1L, true))) // null quasi value is a group
  }

  test("stream-static enrichment join is streaming-safe: batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val rows = Seq((1L, 10.0), (2L, 5.0), (3L, 1.0), (1L, 2.0))
    def enrich(df: org.apache.spark.sql.DataFrame) =
      df.join(broadcast(dim), Seq("user_id"), "left")
        .select(col("user_id"), col("value"),
          coalesce(col("tier"), lit("unknown")).as("tier"))
    val mem = MemoryStream[(Long, Double)]
    val q = enrich(mem.toDF().toDF("user_id", "value"))
      .writeStream.format("memory").queryName("enrich_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getString(2))
    val streamed = spark.table("enrich_stream_test").collect().map(key).sorted
    val batch = enrich(rows.toDF("user_id", "value")).collect().map(key).sorted
    assert(streamed.toSeq == batch.toSeq && batch.length == 4)
  }

  test("rrfFuse: one-sided candidates, tie-break, fuses real bm25+cosine shapes") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("q_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(a, b, k = 60, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // doc 11: 1/62 + 1/61 = .032787...; doc 10: 1/61; doc 12: 1/62
    assert(out.map(_._2) == Seq(11L, 10L, 12L))
    assert(math.abs(out(0)._3 - (1.0 / 62 + 1.0 / 61)) < 1e-9)
    assert(out(1)._3 == math.rint(1.0 / 61 * 1e9) / 1e9)
    // integration: fuse an actual bm25TopK ranking with a length prior
    val docs = Seq((1L, "spark merge fast"), (2L, "slow table scan"),
      (3L, "spark table")).toDF("doc_id", "text")
    val qs = Seq((7L, "spark table")).toDF("q_id", "q_text")
    val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id",
      "q_text", k = 3).select("q_id", "doc_id", "rank")
    val prior = Seq((7L, 1L, 1L), (7L, 2L, 2L), (7L, 3L, 3L))
      .toDF("q_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(bm, prior, topK = 3).collect()
    assert(fused.length == 3 && fused.map(_.getLong(0)).forall(_ == 7L))
  }

  test("goldenRecord: per-field survivorship, lower priority wins on nulls") {
    import spark.implicits._
    val df = Seq(
      // entity e1: best-priority row (size 1) has null type -> type comes
      // from size 2; brand comes from size 1
      (1L, "e1", 1, None, Some("B1")),
      (2L, "e1", 2, Some("T2"), Some("B2")),
      (3L, "e1", 3, Some("T3"), None),
      // entity e2: all fields null everywhere -> null golden fields
      (4L, "e2", 1, None, None),
      // priority tie -> smaller id wins
      (5L, "e3", 1, Some("Tb"), None), (6L, "e3", 1, Some("Ta"), None))
      .toDF("id", "e", "prio", "t", "b")
    val out = Linkage.goldenRecord(df, "e", Seq("prio"), "id",
        Seq("t", "b")).orderBy("e").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)),
        Option(r.getString(3)))).toSeq
    assert(out == Seq(("e1", 3L, Some("T2"), Some("B1")),
      ("e2", 1L, None, None), ("e3", 2L, Some("Tb"), None)))
  }

  test("goldenRecord: null priority ranks LAST (explicit, engine-neutral)") {
    import spark.implicits._
    val df = Seq(
      // e1: the null-priority row must NOT win the field despite Spark's
      // native min(struct) sorting null fields first
      (1L, "e1", None, Some("Tnull")),
      (2L, "e1", Some(5), Some("T5")),
      // e2: only null-priority rows have the field -> it still survives,
      // tie between them broken by id
      (3L, "e2", Some(1), None),
      (4L, "e2", None, Some("Tb")), (5L, "e2", None, Some("Ta")))
      .toDF("id", "e", "prio", "t")
    val out = Linkage.goldenRecord(df, "e", Seq("prio"), "id", Seq("t"))
      .orderBy("e").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
      .toSeq
    assert(out == Seq(("e1", 2L, Some("T5")), ("e2", 3L, Some("Tb"))))
  }

  test("churnLabels: horizon decision, return-within-horizon, censoring") {
    // weeks are epoch//604800; craft 4 consecutive weeks
    val ev = tsEvents(
      (1L, "2024-01-01 00:00:00", 1.0),  // w0
      (1L, "2024-01-08 00:00:00", 1.0),  // w1: next week -> not churned
      (1L, "2024-01-22 00:00:00", 1.0),  // w3: gap of 2 > horizon 1 -> w1 churned
      (2L, "2024-01-01 00:00:00", 1.0),  // w0 only; next null, w0+1 <= maxw -> churned
      (3L, "2024-01-22 00:00:00", 1.0))  // w3 = maxw: censored (null)
    val out = Behavior.churnLabels(ev, "user_id", "ts", horizonWeeks = 1)
      .orderBy("u", "week").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSeq
    val w0 = out.head._2
    assert(out == Seq(
      (1L, w0, Some(false)),      // active next week
      (1L, w0 + 1, Some(true)),   // silent until w3 > w1+1
      (1L, w0 + 3, None),         // at maxw: censored
      (2L, w0, Some(true)),       // never returns, decidable
      (3L, w0 + 3, None)))        // censored
  }

  test("cumulativeDistinct: first-seen collapse, zero-new active weeks") {
    val ev = tsEvents(
      (1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-02 00:00:00", 2.0),
      (1L, "2024-01-08 00:00:00", 3.0), (1L, "2024-01-15 00:00:00", 4.0))
      .withColumn("event_type",
        when(col("value") === 1.0, "a").when(col("value") === 2.0, "b")
          .when(col("value") === 3.0, "a").otherwise("c"))
    val out = Behavior.cumulativeDistinct(ev, "user_id", "ts", "event_type")
      .orderBy("u", "week").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val w0 = out.head._1
    // w0: a,b new (2, cum 2); w1: only 'a' again (0 new, cum 2); w2: c (1, cum 3)
    assert(out == Seq((w0, 2L, 2L), (w0 + 1, 0L, 2L), (w0 + 2, 1L, 3L)))
  }

  test("concentrationReport: exact shares with tied boundary, exact Gini") {
    import spark.implicits._
    // 4 keys: activities 6, 2, 2, 2 (12 events). top 25% = 1 key -> 6/12;
    // top 50% = 2 keys -> (6+2)/12; ties split fractionally at 75% = 3 keys
    val df = (Seq.fill(6)(10L) ++ Seq.fill(2)(20L) ++ Seq.fill(2)(30L) ++
      Seq.fill(2)(40L)).toDF("k0")
    val out = Stats.concentrationReport(df, "k0", Seq(0.25, 0.5, 0.75))
      .orderBy("top_fraction").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    def r9(x: Double) = math.rint(x * 1e9) / 1e9 // shares render at 9 dp
    assert(out.map(t => (t._1, t._2, t._3)) == Seq(
      (0.25, 1L, 0.5), (0.5, 2L, r9(8.0 / 12)), (0.75, 3L, r9(10.0 / 12))))
    // Gini by hand: sorted asc 2,2,2,6; sum((2r-N-1)*x_r) = (-3*2)+(-1*2)
    //  +(1*2)+(3*6) = 12; G = 12/(4*12) = 0.25
    assert(math.abs(out.head._4 - 0.25) < 1e-9)
    assert(out.map(_._4).distinct.length == 1)
  }

  test("userFeatureMart: composition equals independent stages, left-join keeps unlabeled") {
    val ev = tsEvents(
      (1L, "2024-01-25 00:00:00", 8.0), (1L, "2024-01-25 01:00:00", 4.0),
      (1L, "2024-01-31 00:00:00", 2.0),
      (2L, "2024-01-31 12:00:00", 5.0)) // single event: twa null, churn censored
      .withColumn("event_type",
        when(col("value") === 4.0, "b").otherwise("a"))
    def mart(df: org.apache.spark.sql.DataFrame) =
      Behavior.userFeatureMart(df, "user_id", "ts", "value", "event_type",
        asOfEpoch = 1706745600L, halfLifeDays = 7L, horizonWeeks = 1)
    val out = mart(ev).orderBy("u").collect()
    val r1 = out(0)
    // decay: 8*0.5 (age exactly 7d -> period 1) + 4*1 (age 6d23h ->
    // period 0) + 2*1 (age 1d) = 10.0
    assert(r1.getDouble(1) == 10.0 && r1.getLong(2) == 3L)
    // twa: 8 for 3600s, then 4 for 5d23h (514800s); terminal 2 weight 0
    val expTwa = (8.0 * 3600 + 4.0 * 514800) / (3600 + 514800)
    assert(math.abs(r1.getDouble(3) - math.rint(expTwa * 1e6) / 1e6) < 1e-9)
    assert(r1.getString(4) == "a" && r1.getLong(5) == 2L) // mode a x2
    assert(r1.getLong(6) == 2L) // types a,b
    val r2 = out(1)
    assert(r2.isNullAt(3)) // single observation -> twa null
    assert(r2.isNullAt(7) && r2.isNullAt(8)) // all weeks censored -> left join nulls
    // partition invariance
    val again = mart(ev.repartition(7)).orderBy("u").collect()
    assert(again.map(_.toString).toSeq == out.map(_.toString).toSeq)
  }

  test("invariance pins: scd2/gapFill/decay/labelProp identical under repartition") {
    import spark.implicits._
    val ev = tsEvents((1L, "2024-01-01 05:00:00", 1.5),
      (1L, "2024-01-03 01:00:00", 4.0), (2L, "2024-01-05 00:00:00", 7.0))
      .withColumn("event_type", lit("x"))
      .withColumn("event_id", col("value").cast("long"))
    def str(df: org.apache.spark.sql.DataFrame, s: Seq[String]) =
      df.orderBy(s.map(col): _*).collect().map(_.toString).toSeq
    val evR = ev.repartition(5)
    assert(str(Cdc.scd2History(ev, "user_id", "event_id", Seq("event_type")),
        Seq("user_id", "valid_from")) ==
      str(Cdc.scd2History(evR, "user_id", "event_id", Seq("event_type")),
        Seq("user_id", "valid_from")))
    assert(str(Behavior.gapFill(ev, "user_id", "ts", "value", 86400L),
        Seq("u", "b")) ==
      str(Behavior.gapFill(evR, "user_id", "ts", "value", 86400L),
        Seq("u", "b")))
    assert(str(Behavior.decayScore(ev, "user_id", "ts", "value",
        1706745600L, 7L), Seq("u")) ==
      str(Behavior.decayScore(evR, "user_id", "ts", "value",
        1706745600L, 7L), Seq("u")))
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (4L, "b")).toDF("node", "lbl")
    assert(str(Graph.labelPropagation(edges, "src", "dst", seeds, "node",
        "lbl", 2), Seq("node")) ==
      str(Graph.labelPropagation(edges.repartition(4), "src", "dst",
        seeds, "node", "lbl", 2), Seq("node")))
  }

  test("percentRankNormalize differential: equals the naive percent_rank window") {
    import org.apache.spark.sql.expressions.Window
    // null values (id%11==0) and one null group (g): the null-safe
    // join-back must keep them, ranked exactly as the naive window ranks
    // them (Spark ascending order: nulls first)
    val df = spark.range(2000).select(col("id"),
      when(pmod(col("id"), lit(13)) === 0, lit(null))
        .otherwise(pmod(col("id") * 7919, lit(5)).cast("string")).as("g"),
      when(pmod(col("id"), lit(11)) === 0, lit(null))
        .otherwise(pmod(col("id") * 104729, lit(37))).as("v"))
    val fast = Stats.percentRankNormalize(df, "id", "v", "g")
    assert(fast.count() == 2000) // no row vanishes on null keys
    val naive = df.withColumn("pr_naive", round(percent_rank().over(
      Window.partitionBy("g").orderBy("v")), 9))
    val joined = fast.join(naive.select(col("id"), col("pr_naive")), "id")
      .filter(!(col("pr") <=> col("pr_naive")))
    assert(joined.count() == 0)
  }

  test("fuzzyPairs differential: equals brute-force levenshtein on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = "abcde"
    val rows = (1L to 120L).map { i =>
      val len = 4 + rnd.nextInt(4)
      (i, s"b${i % 3}",
        (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val df = rows.toDF("id", "blk0", "s")
    val got = Linkage.fuzzyPairs(df, "id", "s", "blk0", maxDist = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ia, ba, sa) <- rows; (ib, bb, sb) <- rows
      if ia < ib && ba == bb
      dd = lev(sa, sb) if dd <= 2
    } yield (ia, ib, dd)).toSet
    assert(got == brute && brute.nonEmpty)
  }

  test("concentrationReport differential: equals the naive sorted model") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val keys = (1 to 3000).map(_ => (rnd.nextInt(200)).toLong)
    val df = keys.toDF("k0")
    val cuts = Seq(0.05, 0.2, 0.9)
    val got = Stats.concentrationReport(df, "k0", cuts)
      .orderBy("top_fraction").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2))).toSeq
    // naive model: sort per-key counts desc, take ceil(p*N) keys' events
    val counts = keys.groupBy(identity).map(_._2.size).toSeq
      .sorted(Ordering[Int].reverse)
    val n = counts.size
    val t = counts.sum.toDouble
    val want = cuts.sorted.map { p =>
      val kp = math.ceil(p * n).toLong
      val share = counts.take(kp.toInt).sum / t
      (p, kp, math.rint(share * 1e9) / 1e9)
    }
    // the operator's fractional tied-boundary share equals the naive
    // take-kp sum only when the boundary level's keys are interchangeable
    // — which they are: counts within a level are identical
    assert(got == want)
  }

  test("fuzzyPairs: oversize block raises in-plan") {
    import spark.implicits._
    val df = spark.range(50).select(col("id"), lit("hot").as("blk0"),
      concat(lit("name"), col("id")).as("s"))
    val ex = intercept[Exception] {
      Linkage.fuzzyPairs(df, "id", "s", "blk0", maxDist = 1,
        maxBlockSize = 10).collect()
    }
    assert(ex.getMessage.contains("maxBlockSize") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxBlockSize")))
  }

  test("madOutliers: lower-median convention, MAD=0 group, flags, nulls dropped") {
    import spark.implicits._
    val df = Seq(
      // g1: values 1,2,3,4,100 -> med=3 (rank ceil(5/2)=3), devs
      // 2,1,0,1,97 -> MAD=1; rz(100) = 97/1.4826 = 65.425604 -> outlier
      (1L, "g1", Some(1.0)), (2L, "g1", Some(2.0)), (3L, "g1", Some(3.0)),
      (4L, "g1", Some(4.0)), (5L, "g1", Some(100.0)),
      // g2: even n -> LOWER median: 10,20,30,40 -> med=20 (cum 2 >= 2)
      (6L, "g2", Some(10.0)), (7L, "g2", Some(20.0)),
      (8L, "g2", Some(30.0)), (9L, "g2", Some(40.0)),
      // g3: majority-constant -> MAD=0 -> null rz, false flag
      (10L, "g3", Some(7.0)), (11L, "g3", Some(7.0)), (12L, "g3", Some(9.0)),
      // null value: dropped entirely
      (13L, "g1", None)).toDF("id", "g", "v")
    val out = Stats.madOutliers(df, "id", "v", "g", zThresh = 3.5)
      .orderBy("id").collect()
    assert(out.length == 12) // the null row is gone
    val r5 = out(4)
    assert(r5.getDouble(3) == 3.0 && r5.getDouble(4) == 1.0)
    assert(math.abs(r5.getDouble(5) - 65.425604) < 1e-9 && r5.getBoolean(6))
    assert(!out.take(4).exists(_.getBoolean(6))) // 1..4 not outliers
    assert(out(5).getDouble(3) == 20.0) // g2 lower median
    assert(out(9).isNullAt(5) && !out(9).getBoolean(6)) // g3 MAD=0
  }

  test("madOutliers: partition invariance") {
    import spark.implicits._
    val df = spark.range(500).select(col("id"),
      pmod(col("id"), lit(3)).cast("string").as("g"),
      pmod(col("id") * 7919, lit(101)).cast("double").as("v"))
    def str(d: DataFrame) =
      d.orderBy("id").collect().map(_.toString).mkString("\n")
    assert(str(Stats.madOutliers(df, "id", "v", "g")) ==
      str(Stats.madOutliers(df.repartition(7), "id", "v", "g")))
  }

  test("cusumDrift: equals the literal max(0, prev + x - k) recursion") {
    // user 1: days 0,1,3,4 observed (day 2 empty -> x=0 in the grid)
    val ev = tsEvents(
      (1L, "2024-01-01 01:00:00", 10.0), (1L, "2024-01-01 02:00:00", 5.0),
      (1L, "2024-01-02 01:00:00", 1.0),
      (1L, "2024-01-04 01:00:00", 20.0), (1L, "2024-01-05 01:00:00", 2.0),
      (2L, "2024-01-01 00:00:00", 100.0))
    val out = Behavior.cusumDrift(ev, "user_id", "ts", "value",
        stepSeconds = 86400L, allowance = 4.0, threshold = 10.0)
      .orderBy("u", "b").collect()
    // literal recursion, k=4: user 1 daily x = 15, 1, 0, 20, 2
    val xs = Seq(15.0, 1.0, 0.0, 20.0, 2.0)
    val sPos = xs.scanLeft(0.0)((s, x) => math.max(0.0, s + x - 4.0)).tail
    val sNeg = xs.scanLeft(0.0)((s, x) => math.max(0.0, s - x + 4.0)).tail
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.length == 5) // dense grid includes the empty day
    u1.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(2) == xs(i), s"x day $i")
      assert(r.getDouble(3) == sPos(i), s"s_pos day $i")
      assert(r.getDouble(4) == sNeg(i), s"s_neg day $i")
      assert(r.getBoolean(5) == (sPos(i) > 10.0), s"up day $i")
      assert(r.getBoolean(6) == (sNeg(i) > 10.0), s"down day $i")
    }
    // user 2: single day, x=100, s_pos=96 -> drift_up
    val u2 = out.filter(_.getLong(0) == 2L)
    assert(u2.length == 1 && u2(0).getDouble(3) == 96.0 &&
      u2(0).getBoolean(5))
  }

  test("cusumDrift: oversize span raises in-plan") {
    val ev = tsEvents((1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-03-01 00:00:00", 2.0))
    val ex = intercept[Exception] {
      Behavior.cusumDrift(ev, "user_id", "ts", "value", 60L,
        allowance = 0.0, threshold = 1.0, maxBucketsPerKey = 100L)
        .collect()
    }
    assert(ex.getMessage.contains("maxBucketsPerKey") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxBucketsPerKey")))
  }

  test("bottomKSketch: shard sketches merged == sketching the union directly") {
    import spark.implicits._
    val df = spark.range(2000).select(
      pmod(col("id"), lit(3)).cast("string").as("grp"),
      col("id"), pmod(col("id") * 104729, lit(997)).cast("double").as("v"))
      .withColumn("shard", pmod(col("id"), lit(7)))
    def str(d: DataFrame) = d.orderBy("grp").collect()
      .map(r => (r.getString(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.toString).mkString("|"),
        r.getLong(2))).mkString("\n")
    val direct = Sketch.bottomKSketch(df, "grp", "id", "v", k = 32)
    // shard sketches: sketch each (grp, shard) slice, then re-merge by grp
    val shards = (0 until 7).map(s =>
        Sketch.bottomKSketch(df.filter(col("shard") === s), "grp", "id",
          "v", k = 32))
      .reduce(_.unionByName(_))
    // re-merge: explode the shard samples into the same O(k) bottom-k
    // aggregate; n_total sums
    val merged = shards
      .select(col("grp"), explode(col("sketch")).as("__item"))
      .groupBy("grp")
      .agg(graft.functions.BottomKStructAgg
        .bottomK(spark, col("__item"), 32).as("sketch"))
      .join(shards.groupBy("grp")
        .agg(sum(col("n_total")).cast("long").as("n_total")), Seq("grp"))
    assert(str(direct) == str(merged))
    // and partition invariance of the direct sketch
    assert(str(direct) ==
      str(Sketch.bottomKSketch(df.repartition(11), "grp", "id", "v", 32)))
  }

  test("capPerKey: exactly min(cap, n) survivors, deterministic, ranked by hash") {
    import spark.implicits._
    val df = spark.range(300).select(col("id"),
      pmod(col("id"), lit(3)).cast("string").as("k"),
      concat(lit("p"), col("id")).as("payload"))
    val out = Pipeline.capPerKey(df, "k", "id", cap = 20)
    val sizes = out.groupBy("k").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sizes == Map("0" -> 20L, "1" -> 20L, "2" -> 20L))
    // payload columns survive the join back
    assert(out.columns.contains("payload") && out.columns.contains("cap_rank"))
    // a small key keeps everything, ranked 1..n
    val small = df.filter(col("id") < 5)
    val so = Pipeline.capPerKey(small, "k", "id", cap = 20)
    assert(so.count() == 5)
    assert(so.select("cap_rank").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 1L, 1L, 2L, 2L)) // keys 0,1,2 of sizes 2,2,1
    // partition invariance
    def str(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(_.toString).mkString("\n")
    assert(str(Pipeline.capPerKey(df, "k", "id", 20)) ==
      str(Pipeline.capPerKey(df.repartition(13), "k", "id", 20)))
  }

  test("vocabularyGrowth: first-seen types, running sums, differential vs naive") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a"),     // 3 tokens, 2 new types (a, b)
      (2L, "b c"),       // 2 tokens, 1 new type (c)
      (3L, ""),          // 0 tokens, 0 new
      (4L, "c a d"))     // 3 tokens, 1 new type (d)
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabularyGrowth(df, "doc_id", "text", buckets = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, 3L, 2L), (2L, 2L, 1L, 5L, 3L),
      (3L, 0L, 0L, 5L, 3L), (4L, 3L, 1L, 8L, 4L)))
    // differential vs the naive driver-side cumulative-distinct model
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(i =>
        conv(pmod(col("id") * (i + 3) + i, lit(43)), 10, 26)): _*).as("text"))
    val got = TextAnalysis.vocabularyGrowth(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val rows = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    var seen = Set.empty[String]; var ct = 0L; var cty = 0L
    rows.zip(got).foreach { case ((id, ws), r) =>
      ct += ws.length
      val fresh = ws.distinct.filterNot(seen)
      cty += fresh.length; seen ++= fresh
      assert(r.getLong(0) == id && r.getLong(3) == ct && r.getLong(4) == cty,
        s"doc $id")
    }
  }

  test("psiDrift: known shares, empty-bin floor, out-of-range dropped, edge bin") {
    import spark.implicits._
    // group g, bins=2 over [0,10): base has 8 lows + 2 highs, cur has
    // 2 lows + 8 highs -> share moves .8/.2 -> .2/.8 in both bins
    val rows =
      Seq.fill(8)(("g", "base", 1.0)) ++ Seq.fill(2)(("g", "base", 9.0)) ++
      Seq.fill(2)(("g", "cur", 1.0)) ++ Seq.fill(8)(("g", "cur", 9.0)) ++
      Seq(("g", "base", 99.0), ("g", "cur", -1.0), // out of range: dropped
        ("h", "base", 10.0), ("h", "cur", 10.0))   // v == hi -> last bin
    val df = rows.toDF("g", "snap", "v")
    val out = Stats.psiDrift(df, "v", "g", "snap", "base", "cur",
        lo = 0.0, hi = 10.0, bins = 2)
      .orderBy("g", "bin").collect()
    assert(out.length == 4)
    val b0 = out(0)
    assert(b0.getLong(3) == 8L && b0.getLong(4) == 2L) // n_base, n_cur
    assert(b0.getDouble(5) == 0.8 && b0.getDouble(6) == 0.2)
    // psi = (0.2-0.8)ln(0.2/0.8) + (0.8-0.2)ln(0.8/0.2), terms rounded
    val term = math.rint((0.2 - 0.8) * math.log(0.2 / 0.8) * 1e10) / 1e10
    val exp = math.rint(2 * term * 1e6) / 1e6
    assert(b0.getDouble(7) == exp)
    // group h: all mass at v == hi -> bin 1 on both sides; bin 0 empty
    // on both sides -> both shares floored at minShare, term 0
    val h0 = out(2)
    assert(h0.getLong(3) == 0L && h0.getDouble(5) == 1e-4 &&
      h0.getDouble(6) == 1e-4)
    assert(out(3).getDouble(7) == 0.0) // identical dists -> psi 0
  }

  test("rankBiasedOverlap: identical, disjoint, and hand-computed partial lists") {
    import spark.implicits._
    def ranking(rows: (String, Long, Long)*) =
      rows.toSeq.toDF("q", "doc", "rank")
    val a = ranking(("q1", 10L, 1L), ("q1", 11L, 2L), ("q1", 12L, 3L),
      ("q2", 20L, 1L), ("q2", 21L, 2L), ("q2", 22L, 3L),
      ("q3", 30L, 1L), ("q3", 31L, 2L), ("q3", 32L, 3L))
    // q1: identical; q2: disjoint; q3: doc 30 at rank 1 both, others swap
    val b = ranking(("q1", 10L, 1L), ("q1", 11L, 2L), ("q1", 12L, 3L),
      ("q2", 90L, 1L), ("q2", 91L, 2L), ("q2", 92L, 3L),
      ("q3", 30L, 1L), ("q3", 32L, 2L), ("q3", 31L, 3L))
    val wts = Retrieval.rboWeights(0.9, 3)
    def rbo(terms: Seq[Double]) = math.rint(
      terms.map(t => math.rint(t * 1e10) / 1e10).sum * (1.0 - 0.9) * 1e6
    ) / 1e6
    val out = Retrieval.rankBiasedOverlap(a, b, "q", "doc", "rank",
        k = 3, p = 0.9)
      .orderBy("q").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // q1: X_d = d -> terms w_d; q3: X = 1, 1, 3
    val q1 = rbo(Seq(wts(0) * 1, wts(1) * 2 / 2.0, wts(2) * 3 / 3.0))
    val q3 = rbo(Seq(wts(0) * 1, wts(1) * 1 / 2.0, wts(2) * 3 / 3.0))
    assert(out == Seq(("q1", 3L, q1), ("q2", 0L, 0.0), ("q3", 3L, q3)))
  }

  test("quantilesFromSketch: rank-pick semantics; small groups sample everything") {
    import spark.implicits._
    // one group of 4 known values with k >= n: the sample IS the data,
    // so estimates equal exact lower quantiles at rank ceil(q*4)
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "a", 40.0)).toDF("id", "g", "v")
    val out = Sketch.bottomKQuantiles(df, "g", "id", "v", k = 16,
        qs = Seq(0.25, 0.5, 0.75, 1.0))
      .orderBy("q").collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    // ceil(q*4): 1, 2, 3, 4 -> values 10, 20, 30, 40; est == exact
    assert(out == Seq((0.25, 10.0, 10.0), (0.5, 20.0, 20.0),
      (0.75, 30.0, 30.0), (1.0, 40.0, 40.0)))
  }

  test("jaroWinkler kernel: published examples + DuckDB conventions") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double = graft.functions.JaroWinklerExpr
      .sim(UTF8String.fromString(a), UTF8String.fromString(b))
    def r(x: Double) = math.rint(x * 1e9) / 1e9
    // Winkler's canonical example: jaro 17/18, one transposition
    assert(r(jw("martha", "marhta")) == r(0.9611111111111111))
    // boost threshold: prefix exists but jaro <= 0.7 -> no boost
    assert(jw("abcdxxxxxx", "abcdyyyyyy") == 0.6)
    // prefix cap at 4: jaro 0.80952..., + 4*0.1*(1-jaro)
    assert(r(jw("abcdef", "abcdefgggggggg")) == r(0.8857142857142858))
    // empties -> 0 (incl. both), the DuckDB/rapidfuzz convention
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0)
    // window 0 at len 2: 'ab' vs 'ba' finds no matches
    assert(jw("ab", "ba") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // case-sensitive: DuckDB gives 0.84 for DwAyNE/DuANE
    assert(r(jw("DwAyNE", "DuANE")) == r(0.8400000000000001))
  }

  test("jaroWinklerPairs: threshold, symmetry reorder, length-prune losslessness") {
    import spark.implicits._
    val df = Seq((1L, "martha", "b1"), (2L, "marhta", "b1"),
      (3L, "zzzzzz", "b1"), (4L, "martha", "b2"),
      // same block, wildly different lengths: the ub prune must not
      // cut the true pair (identical strings after the block split)
      (5L, "ab", "b2"), (6L, "martha", "b2"))
      .toDF("id", "name", "blk")
    val out = Linkage.jaroWinklerPairs(df, "id", "name", "blk",
        threshold = 0.9)
      .orderBy("blk", "id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(("b1", 1L, 2L, 0.961111),
      ("b2", 4L, 6L, 1.0)))
  }

  test("intervalUnion: overlap merge, touching merge, gaps, negative clamp") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val df = Seq(
      // u1: [0,10) + [5,15) overlap -> island [0,15); [15,20) touches
      // -> merges; [30,40) gap -> second island
      (1L, ts(0), 10.0), (1L, ts(5), 10.0), (1L, ts(15), 5.0),
      (1L, ts(30), 10.0),
      // u2: negative duration clamps to a point; alone -> zero-width
      (2L, ts(0), -5.0))
      .toDF("user_id", "ts", "value")
    val out = Behavior.intervalUnion(df, "user_id", "ts", "value")
      .orderBy("u").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val m = 60000000L // µs per minute
    assert(out == Seq(
      (1L, 2L, 20 * m + 10 * m, 20 * m, 4L),
      (2L, 1L, 0L, 0L, 1L)))
  }

  test("wilsonIntervals: hand-checked bounds, p=0 and p=1 stay inside [0,1]") {
    import spark.implicits._
    val df = (1 to 10).map(i => ("a", i <= 7)) ++
      (1 to 5).map(_ => ("b", false)) ++ (1 to 5).map(_ => ("c", true))
    val out = Stats.wilsonIntervals(df.toDF("g", "ok"), Seq("g"),
        col("ok"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    def wilson(s: Int, n: Int) = {
      val nd = n.toDouble; val p = s.toDouble / nd
      val z = 1.96; val z2 = z * z
      val denom = 1.0 + z2 / nd
      val c = (p + z2 / (2.0 * nd)) / denom
      val mrg = (z * math.sqrt(p * (1.0 - p) / nd +
        z2 / (4.0 * nd * nd))) / denom
      (math.rint((c - mrg) * 1e6) / 1e6, math.rint((c + mrg) * 1e6) / 1e6)
    }
    val (alo, ahi) = wilson(7, 10)
    assert(out(0) == ("a", 10L, 7L, 0.7, alo, ahi))
    // p = 0: lower bound exactly 0, upper strictly inside (0, 1)
    val (blo, bhi) = wilson(0, 5)
    assert(out(1) == ("b", 5L, 0L, 0.0, blo, bhi))
    assert(blo == 0.0 && bhi > 0.0 && bhi < 1.0)
    // p = 1: mirror
    val (clo, chi) = wilson(5, 5)
    assert(out(2) == ("c", 5L, 5L, 1.0, clo, chi))
    assert(clo > 0.0 && clo < 1.0 && chi == 1.0)
  }

  test("associationRules: hand-computed support/confidence/lift, dedup, threshold") {
    import spark.implicits._
    // 4 baskets; item 1 in b1..b3, item 2 in b1..b2 (twice in b1 — must
    // dedupe), item 3 only in b4 (never paired >= 2)
    val df = Seq((10L, 1L), (10L, 2L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (40L, 3L)).toDF("b", "i")
    val out = Behavior.associationRules(df, "b", "i", minPairBaskets = 2L)
      .orderBy("antecedent", "consequent").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toSeq
    // pair (1,2): 2 baskets of 4 -> support .5; 1->2 conf 2/3,
    // lift (2/3)/(2/4) = 4/3; 2->1 conf 1, lift 1/(3/4) = 4/3
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out == Seq(
      (1L, 2L, 2L, 3L, 2L, 0.5, r6(2.0 / 3.0), r6((2.0 / 3.0) / 0.5)),
      (2L, 1L, 2L, 2L, 3L, 0.5, 1.0, r6(1.0 / 0.75))))
  }

  test("ksTwoSample: hand ECDFs, identical dists, one-sided group -> null") {
    import spark.implicits._
    val rows =
      // g1: base {1,2,3,4}, cur {3,4,5,6} -> D = 1/2 at v in {2, 4-}
      Seq(("g1", "base", 1.0), ("g1", "base", 2.0), ("g1", "base", 3.0),
        ("g1", "base", 4.0), ("g1", "cur", 3.0), ("g1", "cur", 4.0),
        ("g1", "cur", 5.0), ("g1", "cur", 6.0)) ++
      // g2: identical -> D = 0, not drifted
      Seq(("g2", "base", 1.0), ("g2", "cur", 1.0)) ++
      // g3: cur side empty -> null D, null verdict
      Seq(("g3", "base", 1.0))
    val out = Stats.ksTwoSample(rows.toDF("g", "snap", "v"), "v", "g",
        "snap", "base", "cur")
      .orderBy("g").collect()
    assert(out(0).getString(0) == "g1" && out(0).getLong(1) == 4L &&
      out(0).getDouble(3) == 0.5)
    val crit = math.rint(1.358 * math.sqrt((4.0 + 4.0) / (4.0 * 4.0)) *
      1e6) / 1e6
    assert(out(0).getDouble(4) == crit)
    assert(!out(0).getBoolean(5)) // 0.5 < 0.960251: no drift at n=4
    assert(out(1).getDouble(3) == 0.0 && !out(1).getBoolean(5))
    assert(out(2).isNullAt(3) && out(2).isNullAt(4) && out(2).isNullAt(5))
  }

  test("emdDrift: unit shift = 1.0, identical single value = 0, one-sided -> null") {
    import spark.implicits._
    val rows =
      // g1: base {0,1}, cur {1,2} — everything shifted by +1 -> W1 = 1
      Seq(("g1", "base", 0.0), ("g1", "base", 1.0),
        ("g1", "cur", 1.0), ("g1", "cur", 2.0)) ++
      // g2: identical one-point dists -> single grid value, W1 = 0
      Seq(("g2", "base", 5.0), ("g2", "cur", 5.0)) ++
      // g3: cur side empty -> null distance
      Seq(("g3", "base", 1.0))
    val out = Stats.emdDrift(rows.toDF("g", "snap", "v"), "v", "g",
        "snap", "base", "cur")
      .orderBy("g").collect()
    assert(out(0).getString(0) == "g1" && out(0).getLong(1) == 2L &&
      out(0).getLong(2) == 2L && out(0).getDouble(3) == 1.0)
    assert(out(1).getDouble(3) == 0.0)
    assert(out(2).isNullAt(3))
  }

  test("cohenKappa: hand 2x2, constant raters -> null, disjoint vocab -> po kappa, null exclusion") {
    import spark.implicits._
    val rows =
      // g1: agree 4/6, symmetric 3/3 marginals -> pe = 0.5, kappa = 1/3
      Seq(("g1", Some("a"), Some("a")), ("g1", Some("a"), Some("a")),
        ("g1", Some("b"), Some("b")), ("g1", Some("a"), Some("b")),
        ("g1", Some("b"), Some("a")), ("g1", Some("b"), Some("b"))) ++
      // g2: both constant and equal -> po = pe = 1 -> kappa null
      Seq(("g2", Some("x"), Some("x")), ("g2", Some("x"), Some("x"))) ++
      // g3: disjoint label vocabularies -> pe = 0, kappa = po = 0
      Seq(("g3", Some("a"), Some("b")), ("g3", Some("a"), Some("b"))) ++
      // null rater rows are excluded, not disagreements
      Seq(("g1", None, Some("a")), ("g1", Some("a"), None))
    val out = Stats.cohenKappa(rows.toDF("g", "ra", "rb"), "g", "ra",
        "rb")
      .orderBy("g").collect()
    assert(out(0).getLong(1) == 6L && out(0).getDouble(2) == 0.666667 &&
      out(0).getDouble(3) == 0.5 && out(0).getDouble(4) == 0.333333)
    assert(out(1).getDouble(2) == 1.0 && out(1).getDouble(3) == 1.0 &&
      out(1).isNullAt(4))
    assert(out(2).getDouble(2) == 0.0 && out(2).getDouble(3) == 0.0 &&
      out(2).getDouble(4) == 0.0)
  }

  test("calibrationBins + calibrationSummary: hand bins, clamped 1.0, drops out-of-range/null") {
    import spark.implicits._
    val rows = Seq((0.05, Some(false)), (0.15, Some(true)),
      (0.15, Some(false)), (1.0, Some(true)),
      (1.5, Some(true)),   // out of [0,1]: dropped
      (0.5, None))         // null label: dropped
    val df = rows.toDF("p", "y")
    val bins = Stats.calibrationBins(df, "p", "y", bins = 10)
      .orderBy("bin").collect()
    assert(bins.length == 10)
    assert(bins(0).getLong(2) == 1L && bins(0).getDouble(3) == 0.05 &&
      bins(0).getDouble(4) == 0.0 && bins(0).getDouble(5) == 0.05)
    assert(bins(1).getLong(2) == 2L && bins(1).getDouble(3) == 0.15 &&
      bins(1).getDouble(4) == 0.5 && bins(1).getDouble(5) == 0.35)
    assert(bins(2).getLong(2) == 0L && bins(2).isNullAt(3))
    assert(bins(9).getLong(2) == 1L && bins(9).getDouble(3) == 1.0 &&
      bins(9).getDouble(4) == 1.0 && bins(9).getDouble(5) == 0.0)
    val s = Stats.calibrationSummary(df, "p", "y", bins = 10).collect()(0)
    assert(s.getLong(0) == 4L && s.getDouble(1) == 0.5)
    assert(s.getDouble(2) == 0.186875) // (0.0025+0.7225+0.0225+0)/4
    assert(s.getDouble(3) == 0.1875)   // 0.25*0.05 + 0.5*0.35 + 0.25*0
  }

  test("searchEval: hand nDCG/MRR/recall, judged-but-unserved query scores 0, no-positive query excluded") {
    import spark.implicits._
    val qrels = Seq(("q1", "d1", 2L), ("q1", "d2", 1L), ("q1", "d3", 0L),
      ("q2", "d9", 0L),  // no positives: excluded from evaluation
      ("q3", "d7", 1L))  // judged, but neither system serves it
      .toDF("q", "doc", "rel")
    val runs = Seq(("A", "q1", "d1", 1L), ("A", "q1", "d2", 2L),
      ("B", "q1", "d3", 1L), ("B", "q1", "d2", 2L))
      .toDF("system", "q", "doc", "rank")
    val out = Retrieval.searchEval(runs, qrels, "system", "q", "doc",
        "rank", "rel", k = 10)
      .orderBy("system").collect()
    // A: q1 perfect (ndcg 1, rr 1, recall 1), q3 all-zero -> means 0.5
    assert(out(0).getString(0) == "A" && out(0).getLong(1) == 2L &&
      out(0).getDouble(2) == 0.5 && out(0).getDouble(3) == 0.5 &&
      out(0).getDouble(4) == 0.5)
    // B: q1 dcg = w2·1, idcg = 3 + w2·1, rr = 1/2, recall = 1/2
    val w2 = math.rint(1e9 / (math.log(3.0) / math.log(2.0))) / 1e9
    val qn = BigDecimal(w2 / (3.0 + w2))
      .setScale(14, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1).getString(0) == "B" && out(1).getLong(1) == 2L)
    assert(out(1).getDouble(2) == math.rint(qn / 2.0 * 1e6) / 1e6)
    assert(out(1).getDouble(3) == 0.25 && out(1).getDouble(4) == 0.25)
  }

  test("kaplanMeier: risk-set depletion by censoring, event-time-only rows, whole-risk-set death zeroes") {
    import spark.implicits._
    val df = Seq(
      // group g: event@1, censor@2, event@3, event+censor@4, censor@5
      ("g", 1.0, true), ("g", 2.0, false), ("g", 3.0, true),
      ("g", 4.0, true), ("g", 4.0, false), ("g", 5.0, false),
      // group z: the whole risk set dies at t=1 -> survival exactly 0
      ("z", 1.0, true), ("z", 1.0, true))
      .toDF("grp", "dur", "obs")
    val out = Stats.kaplanMeier(df, "dur", "obs", "grp")
      .orderBy("g", "t").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    // censor-only times (2, 5) emit no row but deplete the risk set:
    // n_risk walks 6 -> 4 -> 3; survival 5/6 -> 5/8 -> 5/12
    assert(out == Seq(
      ("g", 1.0, 6L, 1L, 0L, 0.833333),
      ("g", 3.0, 4L, 1L, 0L, 0.625),
      ("g", 4.0, 3L, 1L, 1L, 0.416667),
      ("z", 1.0, 2L, 2L, 0L, 0.0)))
  }

  test("spearmanCorr: monotone=±1, tie-averaged ranks, constant column -> null") {
    import spark.implicits._
    val df = Seq(
      ("up", 1.0, 10.0), ("up", 2.0, 20.0), ("up", 3.0, 30.0),
      ("dn", 1.0, 30.0), ("dn", 2.0, 20.0), ("dn", 3.0, 10.0),
      // ties in a: doubled ranks (3,3,6) vs b ranks (2,6,4) -> rho 0
      ("tie", 1.0, 3.0), ("tie", 1.0, 5.0), ("tie", 2.0, 4.0),
      // constant a: zero rank variance -> null rho
      ("flat", 7.0, 1.0), ("flat", 7.0, 2.0))
      .toDF("grp", "x", "y")
    val out = Stats.spearmanCorr(df, "x", "y", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(out == Seq(("dn", 3L, Some(-1.0)), ("flat", 2L, None),
      ("tie", 3L, Some(0.0)), ("up", 3L, Some(1.0))))
  }

  test("jsDivergence: identical=0, disjoint=1, half-overlap hand value, one-sided group -> null") {
    import spark.implicits._
    val df = Seq(
      ("same", "x", "base"), ("same", "x", "cur"),
      ("same", "y", "base"), ("same", "y", "cur"),
      ("disj", "x", "base"), ("disj", "y", "cur"),
      ("half", "x", "base"), ("half", "y", "base"), ("half", "x", "cur"),
      ("one", "x", "base")) // no cur snapshot -> jsd null
      .toDF("grp", "cat", "snap")
    val out = Stats.jsDivergence(df, "cat", "snap", "base", "cur", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    // half: p=(.5,.5), q=(1,0), m=(.75,.25) -> 0.311278 (hand, the
    // round-9/round-10 quantization reproduced)
    assert(out == Seq(
      ("disj", 1L, 1L, 2L, Some(1.0)),
      ("half", 2L, 1L, 2L, Some(0.311278)),
      ("one", 1L, 0L, 1L, None),
      ("same", 2L, 2L, 2L, Some(0.0))))
  }

  test("cramersV: perfect association=1, independence=0, degenerate single column -> null V") {
    import spark.implicits._
    val rows =
      // perfect: A<->x, B<->y, 2 each; chi2 = 4, V = sqrt(4/(4*1)) = 1
      Seq.fill(2)(("perf", "A", "x")) ++ Seq.fill(2)(("perf", "B", "y")) ++
      // independent: uniform 2x2 grid
      Seq(("ind", "A", "x"), ("ind", "A", "y"), ("ind", "B", "x"),
        ("ind", "B", "y")) ++
      // degenerate: one b label only -> V null, chi2 0
      Seq(("deg", "A", "x"), ("deg", "B", "x"))
    val out = Stats.cramersV(rows.toDF("grp", "a", "b"), "a", "b", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(out == Seq(
      ("deg", 2L, 2L, 1L, 0.0, None),
      ("ind", 4L, 2L, 2L, 0.0, Some(0.0)),
      ("perf", 4L, 2L, 2L, 4.0, Some(1.0))))
  }

  test("aucRoc: perfect=1, inverted=0, all-tied=0.5, hand 3/4 case, single-class null") {
    import spark.implicits._
    val df = Seq(
      ("perf", 1.0, false), ("perf", 2.0, false), ("perf", 3.0, true),
      ("perf", 4.0, true),
      ("inv", 1.0, true), ("inv", 2.0, true), ("inv", 3.0, false),
      ("tied", 2.0, true), ("tied", 2.0, false),
      // pos@2 beats neg@1, loses to neg@3; pos@4 beats both -> 3/4
      ("hand", 1.0, false), ("hand", 2.0, true), ("hand", 3.0, false),
      ("hand", 4.0, true),
      ("mono", 1.0, true), ("mono", 2.0, true)) // no negatives
      .toDF("grp", "score", "y")
    val out = Stats.aucRoc(df, "score", "y", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(out == Seq(
      ("hand", 2L, 2L, Some(0.75)),
      ("inv", 2L, 1L, Some(0.0)),
      ("mono", 2L, 0L, None),
      ("perf", 2L, 2L, Some(1.0)),
      ("tied", 1L, 1L, Some(0.5))))
  }

  test("mannWhitney: separated samples, tie-corrected variance, one-sided null") {
    import spark.implicits._
    val df = Seq(
      // fully separated: U=0, z=-1.963961 -> |z|>1.96 significant
      ("sep", 1.0, "a"), ("sep", 2.0, "a"), ("sep", 3.0, "a"),
      ("sep", 4.0, "b"), ("sep", 5.0, "b"), ("sep", 6.0, "b"),
      // ties across samples: U=1 (half-rank exact), ties-term 24,
      // var 2.4, z=-1.290994 -> not significant
      ("tie", 1.0, "a"), ("tie", 2.0, "a"), ("tie", 2.0, "a"),
      ("tie", 2.0, "b"), ("tie", 3.0, "b"),
      ("one", 1.0, "a"), ("one", 2.0, "a")) // no b sample
      .toDF("grp", "v", "s")
    val out = Stats.mannWhitney(df, "v", "s", "a", "b", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getBoolean(5)))).toSeq
    assert(out == Seq(
      ("one", 2L, 0L, None, None, None),
      ("sep", 3L, 3L, Some(0.0), Some(-1.963961), Some(true)),
      ("tie", 3L, 2L, Some(1.0), Some(-1.290994), Some(false))))
  }

  test("mutualInfo: perfect 2x2 = 1 bit with NMI 1, independence = 0, degenerate null NMI") {
    import spark.implicits._
    val df = Seq(
      ("perf", "A", "x"), ("perf", "B", "y"),
      ("ind", "A", "x"), ("ind", "A", "y"), ("ind", "B", "x"),
      ("ind", "B", "y"),
      ("deg", "A", "x"), ("deg", "B", "x")) // single b label: H(b)=0
      .toDF("grp", "a", "b")
    val out = Stats.mutualInfo(df, "a", "b", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(out == Seq(
      ("deg", 2L, 0.0, 1.0, 0.0, None),
      ("ind", 4L, 0.0, 1.0, 1.0, Some(0.0)),
      ("perf", 2L, 1.0, 1.0, 1.0, Some(1.0))))
  }

  test("equalFreqBins: balanced bins on distinct values, ties share a bin, integer arithmetic") {
    import spark.implicits._
    val df = (1 to 8).map(i => (i.toLong, "g", i.toDouble))
      .toDF("id", "grp", "v")
      .unionByName(Seq((11L, "t", 1.0), (12L, "t", 1.0), (13L, "t", 1.0),
        (14L, "t", 2.0)).toDF("id", "grp", "v"))
    val out = Stats.equalFreqBins(df, "id", "v", "grp", k = 4)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    // 1..8 into 4 bins of 2; the tied trio all lands in bin 0
    // ((countBelow=0)*4 div 4), the lone 2.0 in bin (3*4) div 4 = 3
    assert(out == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L),
      (6L, 2L), (7L, 3L), (8L, 3L), (11L, 0L), (12L, 0L), (13L, 0L),
      (14L, 3L)))
  }

  test("targetEncodeLoo: own row excluded, singleton falls back to global LOO prior") {
    import spark.implicits._
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0),
      (4L, "B", 10.0))
      .toDF("id", "cat", "y")
    val out = Stats.targetEncodeLoo(df, "id", "cat", "y")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    // A sums to 6: (6-1)/2, (6-2)/2, (6-3)/2; B is a singleton ->
    // global (16-10)/3 = 2.0
    assert(out == Seq((1L, 2.5), (2L, 2.0), (3L, 1.5), (4L, 2.0)))
  }

  test("liftTable: top bucket captures all positives, lift = 1/baseRate, zero tail") {
    import spark.implicits._
    val df = Seq(("g", 4.0, true), ("g", 3.0, true), ("g", 2.0, false),
      ("g", 1.0, false))
      .toDF("grp", "score", "y")
    val out = Stats.liftTable(df, "score", "y", "grp", k = 2)
      .orderBy("g", "bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    // bucket 0 (scores 4,3): both positive -> rate 1, capture 1,
    // lift 1/(2/4) = 2; bucket 1: zero rate, capture stays 1
    assert(out == Seq((0L, 2L, 2L, 1.0, 1.0, 2.0),
      (1L, 2L, 0L, 0.0, 1.0, 0.0)))
  }

  test("autocorr: linear series acf=1, dense lag grid, zero-variance and " +
      "single-bucket keys null") {
    // key 1: x = 1..5 on consecutive days -> acf exactly 1.0 at lags
    // 1 and 2; lag 10 has no overlap -> n_pairs = 0 row, null acf
    // key 2: constant 5 on 3 days -> zero variance -> null acf
    //        (lag 2 also has only 1 pair: below the n >= 2 floor)
    // key 3: single bucket -> every lag emits (0, null)
    val ev = tsEvents(
      (1L, "2024-01-01 10:00:00", 1.0), (1L, "2024-01-02 10:00:00", 2.0),
      (1L, "2024-01-03 10:00:00", 3.0), (1L, "2024-01-04 10:00:00", 4.0),
      (1L, "2024-01-05 10:00:00", 5.0),
      (2L, "2024-01-01 00:00:00", 5.0), (2L, "2024-01-02 00:00:00", 5.0),
      (2L, "2024-01-03 00:00:00", 5.0),
      (3L, "2024-01-01 00:00:00", 7.0))
    val out = Behavior.autocorr(ev, "user_id", "ts", "value", 86400L,
        lags = Seq(1, 2, 10))
      .orderBy("g", "lag").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(out == Seq(
      (1L, 1, 4L, Some(1.0)), (1L, 2, 3L, Some(1.0)), (1L, 10, 0L, None),
      (2L, 1, 2L, None), (2L, 2, 1L, None), (2L, 10, 0L, None),
      (3L, 1, 0L, None), (3L, 2, 0L, None), (3L, 10, 0L, None)))
  }

  test("seasonalProfile: perfect cycle strength 1, partial 0.2, constant " +
      "and single-bucket keys null") {
    // 2024-01-01 is day 19723 (odd) -> phase 1; period 2 alternates.
    // key 1: [1,3,1,3] -> phase means (3,1), SSE_res = 0 -> strength 1
    // key 2: [1,2,3,4] -> SSE_tot 5, fit 26, SSE_res 4 -> 1 - 4/5 = 0.2
    // key 3: constant [2,2,2,2] -> SSE_tot = 0 -> null strength
    // key 4: single bucket -> SSE_tot = 0 -> null strength
    val ev = tsEvents(
      (1L, "2024-01-01 09:00:00", 1.0), (1L, "2024-01-02 09:00:00", 3.0),
      (1L, "2024-01-03 09:00:00", 1.0), (1L, "2024-01-04 09:00:00", 3.0),
      (2L, "2024-01-01 00:00:00", 1.0), (2L, "2024-01-02 00:00:00", 2.0),
      (2L, "2024-01-03 00:00:00", 3.0), (2L, "2024-01-04 00:00:00", 4.0),
      (3L, "2024-01-01 00:00:00", 2.0), (3L, "2024-01-02 00:00:00", 2.0),
      (3L, "2024-01-03 00:00:00", 2.0), (3L, "2024-01-04 00:00:00", 2.0),
      (4L, "2024-01-01 00:00:00", 9.0))
    val out = Behavior.seasonalProfile(ev, "user_id", "ts", "value",
        86400L, period = 2)
      .orderBy("g", "phase").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(out == Seq(
      (1L, 0L, 2L, 3.0, Some(1.0)), (1L, 1L, 2L, 1.0, Some(1.0)),
      (2L, 0L, 2L, 3.0, Some(0.2)), (2L, 1L, 2L, 2.0, Some(0.2)),
      (3L, 0L, 2L, 2.0, None), (3L, 1L, 2L, 2.0, None),
      (4L, 1L, 1L, 9.0, None)))
  }

  test("itemCosine: hand-computed cosine, input dedup, minPairBaskets " +
      "boundary") {
    import spark.implicits._
    // A,B co-occur in b1,b2 (b1 duplicated in input -> distinct);
    // A,C co-occur once -> filtered at minPairBaskets = 2
    val df = Seq((1L, "A"), (1L, "B"), (1L, "A"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B"))
      .toDF("basket", "item")
    val out = Behavior.itemCosine(df, "basket", "item",
        minPairBaskets = 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    // cosine = 2 / (sqrt(3) * sqrt(3)) = 2/3
    assert(out == Seq(("A", "B", 2L, 3L, 3L, 0.666667)))
    // boundary: minPairBaskets = 1 admits (A, C) with cosine 1/sqrt(6)
    val loose = Behavior.itemCosine(df, "basket", "item",
        minPairBaskets = 1L)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(loose == Seq(("A", "B", 2L), ("A", "C", 1L)))
  }

  test("itemCosine + associationRules: hot basket raises in-plan") {
    import spark.implicits._
    val hot = (1 to 5).map(i => (1L, s"i$i")) :+ (2L -> "i1")
    val df = hot.toDF("basket", "item")
    val ex1 = intercept[Exception] {
      Behavior.itemCosine(df, "basket", "item", minPairBaskets = 1L,
        maxBasketWidth = 4L).collect()
    }
    assert(ex1.getMessage.contains("maxBasketWidth") ||
      Option(ex1.getCause).exists(_.getMessage.contains("maxBasketWidth")))
    val ex2 = intercept[Exception] {
      Behavior.associationRules(df, "basket", "item", minPairBaskets = 1L,
        maxBasketWidth = 4L).collect()
    }
    assert(ex2.getMessage.contains("maxBasketWidth") ||
      Option(ex2.getCause).exists(_.getMessage.contains("maxBasketWidth")))
    // at-the-boundary width passes
    assert(Behavior.itemCosine(df, "basket", "item", minPairBaskets = 1L,
      maxBasketWidth = 5L).count() == 10L)
  }

  test("lDiversity: entropy values, constant-sensitive, all-null group " +
      "surfaces, n counts all rows") {
    import spark.implicits._
    val df = Seq(
      ("g1", Some("a")), ("g1", Some("a")), ("g1", Some("b")),
      ("g1", None), // null-sensitive row: counted in n, not in shares
      ("g2", Some("x")), ("g2", Some("x")),
      ("g3", None), ("g3", None), ("g3", None),
      ("g4", Some("a")), ("g4", Some("b")), ("g4", Some("c")),
      ("g4", Some("d")))
      .toDF("q", "sv")
    val out = Stats.lDiversity(df, Seq("q"), "sv", l = 2L)
      .orderBy("q").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toSeq
    assert(out == Seq(
      ("g1", 4L, 2L, Some(0.918296), false), // H(2/3,1/3) bits
      ("g2", 2L, 1L, Some(0.0), true),       // homogeneity attack
      ("g3", 3L, 0L, None, true),            // all-null still surfaces
      ("g4", 4L, 4L, Some(2.0), false)))     // uniform over 4 -> 2 bits
  }

  test("psiDrift: group present in only one snapshot emits null psi") {
    import spark.implicits._
    val rows = Seq(("only_base", "base", 1.0), ("only_base", "base", 9.0),
      ("both", "base", 1.0), ("both", "cur", 9.0))
    val df = rows.toDF("g", "snap", "v")
    val out = Stats.psiDrift(df, "v", "g", "snap", "base", "cur",
        lo = 0.0, hi = 10.0, bins = 2)
      .orderBy("g", "bin").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toSeq
    assert(out.filter(_._1 == "only_base").forall(_._2.isEmpty))
    assert(out.filter(_._1 == "both").forall(_._2.nonEmpty))
  }

  test("bottomKQuantiles: est and exact rank the same null-free " +
      "population") {
    import spark.implicits._
    val df = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, Some(4.0)), (5L, None), (6L, None))
      .toDF("id", "v").withColumn("grp", lit("g"))
    val out = Sketch.bottomKQuantiles(df, "grp", "id", "v", k = 16,
        qs = Seq(0.5, 1.0))
      .orderBy("q").collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSeq
    // k covers the whole group, so the sketch is exact: est == exact,
    // and both sides exclude the null rows (ranks over n = 4, not 6)
    assert(out == Seq((0.5, 2.0, 2.0, 4L), (1.0, 4.0, 4.0, 4L)))
  }

  test("piiScrub: counts per pattern, fixed-order redaction, no-match " +
      "rows untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b@x.io and 1.2.3.4 ring 555-123-4567 end"),
      (2L, "nothing to hide here"),
      (3L, "u2@ex.co u3@ex.co dots 555.123.4567"),
      (4L, "run 1.2.3.4.5 on"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(df, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).toSeq
    assert(out == Seq(
      (1L, 1, 1, 1, "mail [EMAIL] and [IP] ring [PHONE] end"),
      (2L, 0, 0, 0, "nothing to hide here"),
      (3L, 2, 0, 1, "[EMAIL] [EMAIL] dots [PHONE]"),
      // leftmost IPv4 match takes the first four octets; '.5' remains
      (4L, 0, 1, 0, "run [IP].5 on")))
  }

  test("activeUsers: trailing distinct windows, gap days, null " +
      "stickiness on an empty long window") {
    val ev = tsEvents(
      (1L, "2024-01-01 08:00:00", 1.0), (1L, "2024-01-02 08:00:00", 1.0),
      (2L, "2024-01-01 20:00:00", 1.0), (2L, "2024-01-01 21:00:00", 1.0),
      (3L, "2024-01-10 03:00:00", 1.0))
    val out = Behavior.activeUsers(ev, "user_id", "ts",
        stepSeconds = 86400L, shortWindow = 2, longWindow = 3)
      .orderBy("d").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(out == Seq(
      (2L, 2L, 2L, Some(1.0)),  // d0: u1,u2
      (1L, 2L, 2L, Some(0.5)),  // d1: u1 active; u2 still in windows
      (0L, 1L, 2L, Some(0.0)),  // d2: u1 in short, both in long
      (0L, 0L, 1L, Some(0.0)),  // d3: only u1(d1) in long
      (0L, 0L, 0L, None),       // d4..d8: dead air -> null stickiness
      (0L, 0L, 0L, None), (0L, 0L, 0L, None), (0L, 0L, 0L, None),
      (0L, 0L, 0L, None),
      (1L, 1L, 1L, Some(1.0)))) // d9: u3
  }

  test("seasonalOutliers: phase-mean residuals, MAD flags the " +
      "out-of-cycle spike") {
    // 2024-01-01 is an odd day number -> phase 1. period 2:
    // phase 1 days (d0,d2,d4) = 1,1,4 -> expected 2.0
    // phase 0 days (d1,d3,d5) = 5,5,50 -> expected 20.0
    // residuals: -1,-1,2,-15,-15,30 -> med -1, mad 3
    val ev = tsEvents(
      (1L, "2024-01-01 06:00:00", 1.0), (1L, "2024-01-02 06:00:00", 5.0),
      (1L, "2024-01-03 06:00:00", 1.0), (1L, "2024-01-04 06:00:00", 5.0),
      (1L, "2024-01-05 06:00:00", 4.0), (1L, "2024-01-06 06:00:00", 50.0))
    val out = Behavior.seasonalOutliers(ev, "user_id", "ts", "value",
        stepSeconds = 86400L, period = 2, zThresh = 2.0)
      .orderBy("b").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getBoolean(8))).toSeq
    def rz(resid: Double): Double =
      math.rint((resid - (-1.0)) / (1.4826 * 3.0) * 1e6) / 1e6
    assert(out == Seq(
      (1.0, 2.0, -1.0, -1.0, 3.0, rz(-1.0), false),
      (5.0, 20.0, -15.0, -1.0, 3.0, rz(-15.0), true),
      (1.0, 2.0, -1.0, -1.0, 3.0, rz(-1.0), false),
      (5.0, 20.0, -15.0, -1.0, 3.0, rz(-15.0), true),
      (4.0, 2.0, 2.0, -1.0, 3.0, rz(2.0), false),
      (50.0, 20.0, 30.0, -1.0, 3.0, rz(30.0), true)))
  }

  test("robustScale: picked quantiles, IQR scaling, zero-IQR group " +
      "nulls, null values dropped") {
    import spark.implicits._
    val df = ((1 to 8).map(i => (i.toLong, "a", Some(i.toDouble))) ++
      Seq((11L, "b", Some(5.0)), (12L, "b", Some(5.0)),
        (13L, "b", Some(5.0)), (14L, "a", None)))
      .toDF("id", "grp", "v")
    val out = Stats.robustScale(df, "id", "v", "grp")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq
    // group a: n=8 -> med=4 (rank 4), q1=2 (rank 2), q3=6 (rank 6)
    assert(out.take(8) == (1 to 8).map(i =>
      (i.toLong, i.toDouble, 4.0, 2.0, 6.0,
        Some(math.rint((i - 4.0) / 4.0 * 1e6) / 1e6))).toSeq)
    // group b: constant -> q1 == q3 -> null scaled; null row dropped
    assert(out.drop(8) == Seq(
      (11L, 5.0, 5.0, 5.0, 5.0, None), (12L, 5.0, 5.0, 5.0, 5.0, None),
      (13L, 5.0, 5.0, 5.0, 5.0, None)))
    assert(out.length == 11)
  }

  test("weightedSample: exhaustive small group, weight filter, " +
      "dominant weight wins, partition invariance") {
    import spark.implicits._
    val df = ((1 to 6).map(i => (i.toLong, "a", 1.0)) ++ Seq(
      (7L, "a", 0.0), (8L, "a", -2.0), // never drawn
      (9L, "b", 1e9.toDouble), (10L, "b", 1e-3), (11L, "b", 1e-3)))
      .toDF("id", "grp", "w")
    // k >= group size: every positive-weight row sampled, ranks dense
    val all = Pipeline.weightedSample(df, "id", "w", "grp", k = 100)
      .orderBy("g", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(all.count(_._1 == "a") == 6) // 0/negative weights excluded
    assert(all.filter(_._1 == "a").map(_._2) == (1L to 6L))
    // a 12-orders-of-magnitude weight gap is deterministic rank 1
    val b1 = Pipeline.weightedSample(df, "id", "w", "grp", k = 1)
      .filter(col("g") === "b").collect()
    assert(b1.length == 1 && b1(0).getLong(2) == 9L)
    // partition invariance: the draw is a pure function of (id, w)
    val p1 = Pipeline.weightedSample(df, "id", "w", "grp", k = 2)
      .orderBy("g", "rank").collect().map(_.toString).toSeq
    val p2 = Pipeline.weightedSample(df.repartition(7), "id", "w", "grp",
        k = 2)
      .orderBy("g", "rank").collect().map(_.toString).toSeq
    assert(p1 == p2 && p1.nonEmpty)
  }

  test("histogram2d: hand-binned cells, edge values in last bin, " +
      "out-of-range dropped, shares sum to 1") {
    import spark.implicits._
    val df = Seq(
      ("g", 1.0, 1.0), ("g", 1.0, 1.0), ("g", 9.0, 1.0),
      ("g", 10.0, 10.0),           // both at hi -> last bin (1,1)
      ("g", 11.0, 1.0), ("g", 1.0, -0.1)) // out of range: dropped
      .toDF("grp", "x", "y")
    val out = Stats.histogram2d(df, "x", "y", "grp", 0.0, 10.0, 2,
        0.0, 10.0, 2)
      .orderBy("bx", "by").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4),
        r.getLong(5), r.getDouble(6))).toSeq
    assert(out == Seq(
      (0, 0, 0.0, 0.0, 2L, 0.5),
      (1, 0, 5.0, 0.0, 1L, 0.25),
      (1, 1, 5.0, 5.0, 1L, 0.25)))
  }

  test("skewProfile: hand counts, smallest argmax under ties, picked " +
      "ECDF quantiles, hot-key threshold") {
    import spark.implicits._
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d") ++
      Seq.fill(6)("e")).map(Tuple1(_)).toDF("k")
    val out = Stats.skewProfile(df, "k", hotShare = 0.25).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "k" && r.getLong(1) == 16L &&
      r.getLong(2) == 5L && r.getLong(3) == 6L)
    assert(r.getString(4) == "a") // ties (a, e at 6) -> smallest key
    assert(r.getDouble(5) == 0.375) // 6/16
    assert(r.getDouble(6) == 1.875) // 6 / (16/5)
    // count ECDF {1:2, 2:1, 6:2}: p50 at rank ceil(2.5)=3 -> 2;
    // p99 at rank 5 -> 6
    assert(r.getLong(7) == 2L && r.getLong(8) == 6L)
    assert(r.getLong(9) == 2L) // only a, e exceed 25% of 16 rows
  }

  test("dpCounts: noise matches an independent md5 Laplace inverse-CDF, " +
      "deterministic under repartition") {
    import spark.implicits._
    val df = Seq.fill(5)("x").map(Tuple1(_)).toDF("g")
      .union(Seq.fill(3)("y").map(Tuple1(_)).toDF("g"))
    val out = Stats.dpCounts(df, "g", epsilon = 0.5).orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // independent replica of the mechanism: md5("dp:g") 60-bit prefix,
    // u = (h+0.5)/2^60, released = n - b*sgn(u-.5)*ln(1-2|u-.5|)
    def expected(g: String, n: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"dp:$g".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val u = (h.toDouble + 0.5) / math.pow(2.0, 60)
      val noise = -2.0 * math.signum(u - 0.5) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
      BigDecimal(n.toDouble + noise)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out == Seq(("x", 5L, 0.5, expected("x", 5L)),
      ("y", 3L, 0.5, expected("y", 3L))))
    assert(out.forall(r => r._4 != r._2.toDouble)) // noise actually lands
    val again = Stats.dpCounts(df.repartition(5), "g", epsilon = 0.5)
      .orderBy("g").collect().map(_.toString).toSeq
    assert(again == out.map(t => s"[${t._1},${t._2},${t._3},${t._4}]"))
  }

  test("linearFit: exact line recovered, constant-x nulls, constant-y " +
      "keeps slope but nulls r2") {
    import spark.implicits._
    val df = Seq(
      ("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0), // y = 2x + 1
      ("b", 4.0, 1.0), ("b", 4.0, 9.0),                  // zero x-var
      ("c", 1.0, 5.0), ("c", 2.0, 5.0), ("c", 3.0, 5.0)) // flat y
      .toDF("g0", "x", "y")
    val out = Stats.linearFit(df, "x", "y", "g0")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(out == Seq(
      ("a", 3L, Some(2.0), Some(1.0), Some(1.0)),
      ("b", 2L, None, None, None),
      ("c", 3L, Some(0.0), Some(5.0), None)))
  }

  test("theilSen: outlier day cannot drag the median slope; " +
      "single-bucket key emits 0 pairs") {
    val ev = tsEvents(
      (1L, "2024-01-01 01:00:00", 1.0), (1L, "2024-01-02 01:00:00", 2.0),
      (1L, "2024-01-03 01:00:00", 3.0), (1L, "2024-01-04 01:00:00", 100.0),
      (1L, "2024-01-05 01:00:00", 5.0),
      (2L, "2024-01-01 01:00:00", 9.0))
    val out = Behavior.theilSen(ev, "user_id", "ts", "value", 86400L)
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    // pairwise slopes sorted: [-95, 1x6, 33, 49, 97] -> lower median 1
    assert(out == Seq((1L, 5L, 10L, Some(1.0)), (2L, 1L, 0L, None)))
  }

  test("trimmedMean: picked cuts drop the tails, constant group intact") {
    import spark.implicits._
    val df = ((1 to 20).map(i => ("a", i.toDouble)) ++
      Seq(("b", 5.0), ("b", 5.0))).toDF("grp", "v")
    val out = Stats.trimmedMean(df, "v", "grp")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    // a: cuts at ranks ceil(1)=1 -> 1.0 and ceil(19)=19 -> 19.0;
    // kept 1..19, mean 10.0 (only the top tail actually falls)
    assert(out == Seq(("a", 20L, 19L, 1.0, 19.0, 10.0),
      ("b", 2L, 2L, 5.0, 5.0, 5.0)))
  }

  test("invisibleChars: counts, strip, tab/newline survive") {
    import spark.implicits._
    val df = Seq((1L, "a\u200bb\u0007c\ufeff"), (2L, "x\ty\nz"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.invisibleChars(df, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3),
        r.getString(4))).toSeq
    assert(out == Seq(
      (1L, 2, 1, true, "abc"),
      (2L, 0, 0, false, "x\ty\nz")))
  }

  test("ctfidfTerms: hand-computed class scores, k cut, term-asc ties") {
    import spark.implicits._
    val df = Seq(("A", "apple apple banana"), ("B", "carrot"))
      .toDF("cls", "text")
    val out = Retrieval.ctfidfTerms(df, "cls",
        TextAnalysis.tokens(col("text")), k = 2)
      .orderBy("cls", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    // T=4 tokens, C=2 classes -> A_mass = 2
    // score(A,apple) = 2*ln(1+2/2) = 1.386294; banana/carrot = ln(3)
    assert(out == Seq(
      ("A", 1, "apple", 2L, 2L, 1.386294),
      ("A", 2, "banana", 1L, 1L, 1.098612),
      ("B", 1, "carrot", 1L, 1L, 1.098612)))
  }

  test("bhFdr: BH-1995 example, tie block shares max rank, families") {
    import spark.implicits._
    // the worked example from Benjamini & Hochberg (1995): m=15,
    // alpha=0.05 => exactly the four smallest p's are discoveries
    val ps = Seq(0.0001, 0.0004, 0.0019, 0.0095, 0.0201, 0.0278, 0.0298,
      0.0344, 0.0459, 0.3240, 0.4262, 0.5719, 0.6528, 0.7590, 1.0000)
    val df = ps.zipWithIndex
      .map { case (p, i) => ("f1", s"t$i", p) }
      .toDF("fam", "tid", "p")
    val out = Stats.bhFdr(df, "tid", "p", "fam", alpha = 0.05)
      .orderBy("p").collect()
    // naive in-test model: q_i = min_{j>=i} p_j * m / j, clamped at 1
    val m = ps.length
    val raw = ps.zipWithIndex.map { case (p, i) => p * m / (i + 1) }
    val expQ = raw.indices.map(i => math.min(1.0, raw.drop(i).min))
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(4) == (i + 1).toLong) // rank
      assert(r.getLong(3) == m.toLong)
      assert(math.abs(r.getDouble(5) - expQ(i)) < 5e-7, s"q at $i")
      assert(r.getBoolean(6) == (expQ(i) <= 0.05), s"discovery at $i")
    }
    assert(out.count(_.getBoolean(6)) == 4)
    // tied p's share the block's HIGHEST rank and the same q; a second
    // family ranks independently
    val df2 = Seq(("fA", "a", 0.01), ("fA", "b", 0.01), ("fA", "c", 0.5),
      ("fB", "x", 0.04)).toDF("fam", "tid", "p")
    val out2 = Stats.bhFdr(df2, "tid", "p", "fam", alpha = 0.05)
      .orderBy("fam", "test_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4),
        r.getDouble(5), r.getBoolean(6))).toSeq
    assert(out2 == Seq(
      ("fA", "a", 2L, 0.015, true), ("fA", "b", 2L, 0.015, true),
      ("fA", "c", 3L, 0.5, false), ("fB", "x", 1L, 0.04, true)))
  }

  test("permutationTest: zero-diff p=1, determinism, one-arm null") {
    import spark.implicits._
    // all values equal -> every replicate diff is 0 = |obs| -> p = 1
    val flat = (1 to 12).map(i =>
      (1L, i.toLong, 5.0, if (i % 2 == 0) "a" else "b"))
      .toDF("g", "id", "v", "arm")
    val r1 = Stats.permutationTest(flat, "id", "v", "arm", "a", "b", "g",
      b = 16).collect().head
    assert(r1.getLong(1) == 6L && r1.getLong(2) == 6L)
    assert(r1.getDouble(3) == 0.0) // obs_diff
    assert(r1.getLong(4) == 16L)   // b_used
    assert(r1.getDouble(6) == 1.0) // p_perm
    // extreme separation: p bounded below by 1/(b+1), above by small
    val sep = ((1 to 10).map(i => (1L, i.toLong, 100.0, "a")) ++
      (11 to 20).map(i => (1L, i.toLong, 1.0, "b")))
      .toDF("g", "id", "v", "arm")
    val r2a = Stats.permutationTest(sep, "id", "v", "arm", "a", "b", "g",
      b = 32).collect().head
    val r2b = Stats.permutationTest(sep, "id", "v", "arm", "a", "b", "g",
      b = 32).collect().head
    assert(r2a.getDouble(3) == 99.0)
    assert(r2a.getDouble(6) == r2b.getDouble(6)) // md5-deterministic
    assert(r2a.getDouble(6) >= 1.0 / 33.0 - 1e-6)
    // one-arm group: null obs_diff and p
    val oneArm = Seq((2L, 1L, 3.0, "a"), (2L, 2L, 4.0, "a"))
      .toDF("g", "id", "v", "arm")
    val r3 = Stats.permutationTest(oneArm, "id", "v", "arm", "a", "b",
      "g", b = 8).collect().head
    assert(r3.isNullAt(3) && r3.isNullAt(6))
  }

  test("chiSquareTest: independence vs perfect association, df=0 nulls") {
    import spark.implicits._
    val rows =
      // g=ind: perfectly independent 2x2 (10 per cell) -> chi2 = 0
      (1 to 10).flatMap(_ => Seq(("ind", "x", "u"), ("ind", "x", "v"),
        ("ind", "y", "u"), ("ind", "y", "v"))) ++
      // g=dep: perfect diagonal association -> chi2 = n = 40
      (1 to 20).flatMap(_ => Seq(("dep", "x", "u"), ("dep", "y", "v"))) ++
      // g=flat: single column level -> df = 0 -> null z/p
      (1 to 5).map(_ => ("flat", "x", "u"))
    val out = Stats.chiSquareTest(rows.toDF("g", "a", "b"), "a", "b", "g")
      .orderBy("g").collect()
      .map(r => r.getString(0) -> r).toMap
    val dep = out("dep")
    assert(dep.getLong(4) == 1L && dep.getDouble(5) == 40.0)
    assert(dep.getDouble(7) < 0.001) // decisive
    val ind = out("ind")
    assert(ind.getLong(4) == 1L && ind.getDouble(5) == 0.0)
    // WH at the chi2=0 boundary: z = (0 - 7/9)/sqrt(2/9) -> p ~ 0.95
    // (the documented approximation edge; true value 1)
    assert(ind.getDouble(7) > 0.9)
    val flat = out("flat")
    assert(flat.getLong(4) == 0L && flat.isNullAt(6) && flat.isNullAt(7))
  }

  test("effectiveSampleSize: Kish identity, dropped weights") {
    import spark.implicits._
    val df = Seq(
      ("eq", Some(1.0)), ("eq", Some(1.0)), ("eq", Some(1.0)),
      ("eq", Some(1.0)),
      ("sk", Some(3.0)), ("sk", Some(1.0)),
      ("dr", Some(2.0)), ("dr", Some(0.0)), ("dr", None),
      ("dr", Some(-1.0)))
      .toDF("g", "w")
    val out = Stats.effectiveSampleSize(df, "w", "g")
      .orderBy("g").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("eq") == ((4L, 0L, 4.0, 4.0, 1.0)))
    // (3+1)^2 / (9+1) = 1.6; deff = 2/1.6 = 1.25
    assert(out("sk") == ((2L, 0L, 4.0, 1.6, 1.25)))
    assert(out("dr") == ((1L, 3L, 2.0, 1.0, 1.0)))
  }

  test("keynessG2: Dunning G2 against the in-test model, zero-side limit") {
    import spark.implicits._
    val df = Seq(("t", "a a b z z"), ("r", "a b b b"))
      .toDF("cls", "text")
    val out = Retrieval.keynessG2(df, "cls",
        TextAnalysis.tokens(col("text")), "t", minCount = 1L)
      .orderBy("term").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))).toMap
    // in-test model with the operator's exact parenthesization
    val (c, d) = (5.0, 4.0) // target tokens: a a b z z; rest: a b b b
    def r10(x: Double) = math.rint(x * 1e10) / 1e10
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def g2(a: Long, b: Long): Double = {
      val e1 = c * (a.toDouble + b.toDouble) / (c + d)
      val e2 = d * (a.toDouble + b.toDouble) / (c + d)
      val t1 = if (a > 0) r10(a.toDouble * math.log(a.toDouble / e1)) else 0.0
      val t2 = if (b > 0) r10(b.toDouble * math.log(b.toDouble / e2)) else 0.0
      r6(2.0 * (t1 + t2))
    }
    def lr(a: Long, b: Long) = r6(math.log((a / c) / (b / d)))
    assert(out("a") == ((2L, 1L, g2(2, 1), true, lr(2, 1))))
    assert(out("b") == ((1L, 3L, g2(1, 3), false, lr(1, 3))))
    // target-only term: the 0·ln0=0 limit scores it, log_ratio null
    val z = out("z")
    assert(z._1 == 2L && z._2 == 0L && z._3 == g2(2, 0) && z._4)
    assert(z._5.isNaN)
  }

  test("changePoint: clean level shift, score 1, short keys null") {
    import spark.implicits._
    val day = 86400L
    val rows =
      (0 until 6).map(i =>
        ("shift", 1704067200L + i * day, if (i < 3) 1.0 else 5.0)) ++
      Seq(("short", 1704067200L, 2.0), ("short", 1704067200L + day, 3.0))
    val df = rows.toDF("g", "epoch", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = Behavior.changePoint(df, "g", "ts", "value",
        stepSeconds = day, minSegment = 2)
      .orderBy("g").collect()
    val shift = out.find(_.getString(0) == "shift").get
    // [1,1,1,5,5,5]: split after k=3 — gain 9/3+225/3-324/6 = 24,
    // sst = 78-54 = 24 -> score exactly 1
    assert(shift.getLong(1) == 6L)
    assert(shift.getLong(2) == 1704067200L + 3 * day) // right-seg start
    assert(shift.getDouble(3) == 1.0 && shift.getDouble(4) == 5.0)
    assert(shift.getDouble(5) == 24.0 && shift.getDouble(6) == 1.0)
    val short = out.find(_.getString(0) == "short").get
    // 2 buckets < 2*minSegment: no candidate -> null split columns
    assert(short.getLong(1) == 2L)
    assert(short.isNullAt(2) && short.isNullAt(5) && short.isNullAt(6))
  }

  test("attributionCredit: four models on hand paths, window exclusion") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view(100) click(200) view(300) -> purchase(400), k=3
      (1L, 100L, "view", 11L), (1L, 200L, "click", 12L),
      (1L, 300L, "view", 13L), (1L, 400L, "purchase", 14L),
      // user 2: click(100) -> purchase(200), k=1
      (2L, 100L, "click", 21L), (2L, 200L, "purchase", 22L),
      // user 3: touch far outside the 1000s window
      (3L, 100L, "view", 31L), (3L, 5000L, "purchase", 32L))
      .toDF("user_id", "epoch", "event_type", "event_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = Behavior.attributionCredit(ev, "user_id", "ts",
        "event_type", "event_id", Seq("view", "click"), "purchase",
        windowSeconds = 1000L)
      .orderBy("channel").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6)))).toMap
    // view: touches 2 (both user 1), 1 conversion; first+last are the
    // two view ends; linear 2/3; position 0.4+0.4
    assert(out("view") == ((2L, 1L, 1.0, 1.0, 0.666667, 0.8)))
    // click: user1 middle (0.2, 1/3) + user2 solo (1 everywhere)
    assert(out("click") == ((2L, 2L, 1.0, 1.0, 1.333333, 1.2)))
    assert(!out.contains("purchase"))
    assert(out.size == 2) // user 3's out-of-window view earns nothing
  }

  test("scriptMix: counts, priority ties, empty and no-script text") {
    import spark.implicits._
    val df = Seq(
      (1L, "abc"),                 // pure latin
      (2L, "abАБВ"), // latin 2, cyrillic 3
      (3L, "abАБ"),       // 2-2 tie -> latin by priority
      (4L, "你好"),         // cjk
      (5L, ""),                     // empty
      (6L, "123 !"))                // no script chars
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptMix(df, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(8), r.getString(9),
        if (r.isNullAt(10)) Double.NaN else r.getDouble(10)))
    assert(out(0) == ((1L, 3, 3, 0, 0, "latin", 1.0)))
    assert(out(1) == ((2L, 5, 2, 3, 0, "cyrillic", 0.6)))
    assert(out(2) == ((3L, 4, 2, 2, 0, "latin", 0.5)))
    assert(out(3) == ((4L, 2, 0, 0, 2, "cjk", 1.0)))
    assert(out(4)._2 == 0 && out(4)._6 == "none" && out(4)._7.isNaN)
    assert(out(5) == ((6L, 5, 0, 0, 0, "none", 0.0)))
  }

  test("zipfFit: quantized-ln moment model, maxRank cut, degenerate") {
    import spark.implicits._
    val df = Seq(
      ("A", (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++
        Seq("d")).mkString(" ")),
      ("B", "solo")).toDF("cls", "text")
    val out = Retrieval.zipfFit(df, "cls",
        TextAnalysis.tokens(col("text")))
      .orderBy("cls").collect()
    // in-test model with the operator's own quantization discipline
    def q6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val pts = Seq((1, 8), (2, 4), (3, 2), (4, 1))
      .map { case (r, f) => (q6(math.log(r)), q6(math.log(f))) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val num = n * sxy - sx * sy
    val denX = n * sxx - sx * sx
    val a = out(0)
    assert(a.getLong(1) == 4L && a.getLong(2) == 4L)
    assert(math.abs(a.getDouble(3) - num / denX) < 1e-5)
    assert(a.getDouble(3) < -1.0) // steeper than Zipf s=1 by design
    assert(a.getDouble(5) > 0.95) // near-linear log-log
    val b = out(1) // single term: rank 1 only -> no x-variance
    assert(b.getLong(1) == 1L && b.isNullAt(3) && b.isNullAt(5))
    // maxRank cut with a straddling tie block: three tf=4 terms,
    // maxRank 2 keeps the term-asc first two
    val tie = Seq(("T", "a a a a b b b b c c c c")).toDF("cls", "text")
    val t = Retrieval.zipfFit(tie, "cls",
        TextAnalysis.tokens(col("text")), maxRank = 2)
      .collect().head
    assert(t.getLong(1) == 3L && t.getLong(2) == 2L)
    assert(t.isNullAt(3) || t.getDouble(3) == 0.0) // flat y: slope 0
  }

  test("termBurstiness: zeros-included VMR identity, minDf gate") {
    import spark.implicits._
    val df = Seq((1L, "x x x"), (2L, "y"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = Retrieval.termBurstiness(df, "doc_id",
        TextAnalysis.tokens(col("text")), minDf = 2L)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // x: df=2, cf=4, s2=10 -> vmr = 10/4 - 4/3 = 1.166667
    // y: df=2, cf=2, s2=2  -> vmr = 1 - 2/3 = 0.333333
    assert(out == Seq(
      ("x", 2L, 4L, 2.0, 1.166667),
      ("y", 2L, 2L, 1.0, 0.333333)))
    assert(Retrieval.termBurstiness(df, "doc_id",
      TextAnalysis.tokens(col("text")), minDf = 3L).count() == 0L)
  }

  test("bestSplit: perfect split, melt over two features, degenerate") {
    import spark.implicits._
    val df = Seq((1.0, 9.0, false), (2.0, 9.0, false), (3.0, 9.0, true),
      (4.0, 9.0, true)).toDF("f1", "f2", "y")
    val out = Stats.bestSplit(df, Seq("f1", "f2"), "y")
      .orderBy("feature").collect()
    val f1 = out(0)
    assert(f1.getString(0) == "f1")
    assert(f1.getLong(1) == 4L && f1.getLong(2) == 2L)
    assert(f1.getDouble(3) == 2.0)   // x <= 2 separates perfectly
    assert(f1.getDouble(4) == 0.5)   // parent gini at p = 0.5
    assert(f1.getDouble(5) == 0.0)   // pure children
    assert(f1.getDouble(6) == 0.5)   // gain
    val f2 = out(1) // constant feature: no candidate split
    assert(f2.getString(0) == "f2" && f2.isNullAt(3) && f2.isNullAt(5))
    assert(f2.getDouble(4) == 0.5)
    // tie on gini -> smallest threshold wins
    val tie = Seq((1.0, false), (2.0, true), (3.0, false), (4.0, true))
      .toDF("f", "y")
    val t = Stats.bestSplit(tie, Seq("f"), "y").collect().head
    assert(t.getDouble(3) == 1.0) // t=1 and t=3 tie at 0.333333...; min
  }

  test("cupedAdjust: perfect covariate, zero-variance passthrough") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 6.0))
      .toDF("id", "x", "y").withColumn("g", lit("a"))
    val out = Stats.cupedAdjust(df, "id", "y", "x", "g")
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getDouble(4), r.getDouble(5),
        r.getDouble(6))).toSeq
    // theta = 2, xbar = 2 -> every adjusted value is 4.0; rho2 = 1
    assert(out == Seq((1L, 2.0, 1.0, 4.0), (2L, 2.0, 1.0, 4.0),
      (3L, 2.0, 1.0, 4.0)))
    // constant covariate: theta null, metric passes through unadjusted
    val const = Seq((1L, 5.0, 2.0), (2L, 5.0, 4.0))
      .toDF("id", "x", "y").withColumn("g", lit("a"))
    val out2 = Stats.cupedAdjust(const, "id", "y", "x", "g")
      .orderBy("id").collect()
    assert(out2.forall(_.isNullAt(4)))
    assert(out2.map(_.getDouble(6)).toSeq == Seq(2.0, 4.0))
  }

  test("pathTrigrams: counts, rank ties, bucket-edge exclusion") {
    val ev = Seq(
      (1L, "2024-01-01 01:00:00", 1L, "a"),
      (1L, "2024-01-01 02:00:00", 2L, "b"),
      (1L, "2024-01-01 03:00:00", 3L, "c"),
      (1L, "2024-01-01 04:00:00", 4L, "d"),
      (2L, "2024-01-01 01:00:00", 5L, "a"),
      (2L, "2024-01-01 02:00:00", 6L, "b"),
      (2L, "2024-01-01 03:00:00", 7L, "c"),
      // user 3 straddles the day edge: no within-bucket trigram
      (3L, "2024-01-01 23:00:00", 8L, "x"),
      (3L, "2024-01-01 23:30:00", 9L, "y"),
      (3L, "2024-01-02 00:30:00", 10L, "z"))
    import spark.implicits._
    val df = ev.toDF("user_id", "tss", "event_id", "event_type")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = Behavior.pathTrigrams(df, "user_id", "ts", "event_type",
        "event_id", k = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "a>b>c", 2L), (2, "b>c>d", 1L)))
  }

  test("ewma: per-step rounded recursion, gap zero-fill, singleton") {
    val ev = tsEvents(
      (1L, "2024-01-01 05:00:00", 4.0), (1L, "2024-01-02 06:00:00", 8.0),
      (1L, "2024-01-03 01:00:00", 2.0),
      // key 2: observed, gap day (zero-fills), observed
      (2L, "2024-01-01 00:00:00", 4.0), (2L, "2024-01-03 00:00:00", 8.0),
      (3L, "2024-01-05 00:00:00", 7.0)) // singleton
    val out = Behavior.ewma(ev, "user_id", "ts", "value", 86400L,
        alpha = 0.5)
      .orderBy("g", "b").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(
      (1L, 4.0, 4.0, 0.0), (1L, 8.0, 6.0, 2.0), (1L, 2.0, 4.0, -2.0),
      (2L, 4.0, 4.0, 0.0), (2L, 0.0, 2.0, -2.0), (2L, 8.0, 5.0, 3.0),
      (3L, 7.0, 7.0, 0.0)))
  }

  test("adamicAdar: C4 diagonals, scores, is_edge, hub raise") {
    import spark.implicits._
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val out = Graph.adamicAdar(c4, "src", "dst", minCommon = 2L)
      .orderBy("node_a", "node_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSeq
    // diagonals share both neighbors (deg 2 each):
    // aa = 2 * round(1/ln 2, 10) = 2.885390, jaccard = 2/(2+2-2) = 1
    assert(out == Seq(
      (1L, 3L, 2L, 2.88539, 1.0, false),
      (2L, 4L, 2L, 2.88539, 1.0, false)))
    // triangle + chord: existing edges also score, flagged is_edge
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out2 = Graph.adamicAdar(tri, "src", "dst", minCommon = 1L)
      .orderBy("node_a", "node_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(5))).toSeq
    // (2,3) is an edge sharing {1,4}; (1,4) shares {2,3}; (1,2)/(1,3)
    // share one node; (2,4)/(3,4) edges share one node
    assert(out2.contains((2L, 3L, 2L, true)))
    assert(out2.contains((1L, 4L, 2L, false)))
    // hub guard: star center degree 3 > maxDegree 2 raises in-plan
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val err = intercept[Exception] {
      Graph.adamicAdar(star, "src", "dst", maxDegree = 2L).collect()
    }
    assert(err.getMessage.contains("maxDegree") ||
      err.getCause != null &&
        err.getCause.getMessage.contains("maxDegree"))
  }

  test("integrityAudit: orphans, exemplars, parent dups, clean case") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 2L).toDF("pk")
    val r = Stats.integrityAudit(child, "fk", parent, "pk").collect()
      .head
    assert(r.getLong(0) == 5L)      // n_child_rows
    assert(r.getLong(1) == 1L)      // n_child_null_keys
    assert(r.getLong(2) == 1L)      // n_orphan_rows
    assert(r.getLong(3) == 1L)      // n_orphan_keys
    assert(r.getDouble(4) == 0.2)   // orphan_share
    assert(r.getString(5) == "3")   // example_orphans
    assert(r.getLong(6) == 3L && r.getLong(7) == 2L) // parent rows/keys
    assert(r.getLong(8) == 1L && r.getLong(9) == 2L) // dups, max mult
    // clean: no orphans -> null exemplars, zero counts
    val clean = Stats.integrityAudit(
      Seq(1L, 2L).toDF("fk"), "fk", Seq(1L, 2L).toDF("pk"), "pk")
      .collect().head
    assert(clean.getLong(2) == 0L && clean.isNullAt(5))
    assert(clean.getDouble(4) == 0.0)
  }

  test("holtLinear: level+trend recursion tracks a ramp, zero init") {
    val ev = tsEvents(
      (1L, "2024-01-01 00:00:00", 10.0),
      (1L, "2024-01-02 00:00:00", 20.0),
      (1L, "2024-01-03 00:00:00", 30.0))
    val out = Behavior.holtLinear(ev, "user_id", "ts", "value", 86400L,
        alpha = 0.5, beta = 0.5)
      .orderBy("b").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5))).toSeq
    // hand recursion: l0=10, t0=0
    // l1 = .5*20 + .5*(10+0) = 15;  t1 = .5*(15-10) + .5*0 = 2.5
    // l2 = .5*30 + .5*(15+2.5) = 23.75; t2 = .5*(23.75-15) + .5*2.5 = 5.625
    assert(out == Seq(
      (10.0, 10.0, 0.0, 10.0),
      (20.0, 15.0, 2.5, 17.5),
      (30.0, 23.75, 5.625, 29.375)))
  }

  test("hllOverlap: identical groups overlap fully, disjoint near zero") {
    import spark.implicits._
    val docs = Seq(
      ("A", "apple banana cherry date elder fig grape"),
      ("B", "apple banana cherry date elder fig grape"),
      ("C", "xylo yucca zebra quince umber vortex wick"))
      .toDF("src", "text")
    val rows = Sketch.hllOverlap(docs, "src", "text")
      .orderBy("g_a", "g_b").collect()
    val m = rows.map(r => ((r.getString(0), r.getString(1)), r)).toMap
    // A and B share all 7 tokens: identical register sets, so the
    // union estimate equals each single estimate and the overlap
    // estimate equals est_a; exact_overlap = 7
    val ab = m(("A", "B"))
    assert(ab.getLong(6) == 7L)
    assert(ab.getDouble(2) == ab.getDouble(4)) // est_a == est_union
    assert(ab.getDouble(2) == ab.getDouble(5)) // est_a == est_overlap
    // A and C are disjoint: exact 0; union strictly exceeds est_a
    val ac = m(("A", "C"))
    assert(ac.getLong(6) == 0L)
    assert(ac.getDouble(4) > ac.getDouble(2))
  }

  test("bootstrapCI: constant values collapse the CI, determinism") {
    import spark.implicits._
    val flat = (1 to 12).map(i => ("a", i.toLong, 7.5)).toDF("g", "id", "v")
    val r1 = Stats.bootstrapCI(flat, "id", "v", "g", b = 32).collect()
      .head
    assert(r1.getLong(1) == 12L)
    assert(r1.getDouble(2) == 7.5)          // full-sample mean
    assert(r1.getDouble(4) == 7.5 && r1.getDouble(5) == 7.5) // lo = hi
    assert(r1.getDouble(6) == 0.0)          // boot_se
    // a spread sample: CI brackets the mean, runs are identical
    val spread = (1 to 100).map(i => ("a", i.toLong, i.toDouble))
      .toDF("g", "id", "v")
    val a1 = Stats.bootstrapCI(spread, "id", "v", "g", b = 64).collect()
      .head
    val a2 = Stats.bootstrapCI(spread, "id", "v", "g", b = 64).collect()
      .head
    assert(a1.getDouble(4) < 50.5 && a1.getDouble(5) > 50.5)
    assert(a1.toString == a2.toString) // md5-deterministic
    assert(a1.getDouble(6) > 0.0)
  }

  test("funnelLatency: step gating, picked p50/p90, non-converters drop") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:00:10", "click"),
      (1L, "2024-01-01 00:00:30", "purchase"),
      (2L, "2024-01-01 00:00:00", "view"),
      (2L, "2024-01-01 00:00:20", "click"),
      // user 3 clicks without a prior view: never enters step 2
      (3L, "2024-01-01 00:00:05", "click"))
      .toDF("user_id", "tss", "event_type")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = Behavior.funnelLatency(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSeq
    // step 2 latencies {10, 20}: mean 15, p50 pick = 10 (ceil(.5*2)=1),
    // p90 pick = 20; step 3: single latency 20
    assert(out == Seq(
      (2, "click", 2L, 15.0, 10L, 20L),
      (3, "purchase", 1L, 20.0, 20L, 20L)))
  }

  test("funnelLatency: zero-converter step surfaces with n=0") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:00:10", "click"),
      (2L, "2024-01-01 00:00:00", "view"))
      .toDF("user_id", "tss", "event_type")
      .withColumn("ts", to_timestamp(col("tss")))
    // nobody purchases: step 3 must still appear (n = 0, null
    // latencies) — lockstep with funnel() reporting 0 users there
    val out = Behavior.funnelLatency(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("step").collect()
    assert(out.length == 2)
    assert(out(0).getInt(0) == 2 && out(0).getLong(2) == 1L)
    val s3 = out(1)
    assert(s3.getInt(0) == 3 && s3.getString(1) == "purchase")
    assert(s3.getLong(2) == 0L)
    assert(s3.isNullAt(3) && s3.isNullAt(4) && s3.isNullAt(5))
  }

  test("bootstrapCI: all-degenerate groups surface with b_used=0") {
    import spark.implicits._
    // 5000 single-row groups at b=6 (one md5, six slices): a group
    // degenerates when all six Poisson draws are zero (P ~ 0.368^6 =
    // 0.25%, so ~12 of 5000 — md5-deterministic). Degenerate groups
    // must report n/mean with b_used = 0 and null CI, not vanish.
    val df = (1 to 5000).map(i => (i.toLong, i.toLong, 10.0))
      .toDF("g", "id", "v")
    val out = Stats.bootstrapCI(df, "id", "v", "g", b = 6).collect()
    assert(out.length == 5000, s"groups vanished: ${out.length}")
    val degen = out.filter(_.getLong(3) == 0L)
    assert(degen.nonEmpty, "expected at least one all-degenerate group")
    degen.foreach { r =>
      assert(r.getLong(1) == 1L && r.getDouble(2) == 10.0)
      assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6))
    }
  }

  test("sprt: crossings, decision sticks at first crossing, continue") {
    import spark.implicits._
    // p0=0.2, p1=0.8, alpha=beta=0.05: c1 = ln4, c0 = -ln4,
    // thresholds +-ln19 = +-2.944438979166 -> three successes cross H1
    def ev(g: String, ss: Seq[Int]): Seq[(String, String, Long, Int)] =
      ss.zipWithIndex.map { case (s, i) =>
        (g, f"2024-01-01 00:00:${i}%02d", i.toLong, s)
      }
    val df = (ev("up", Seq(1, 1, 1, 0)) ++
      ev("down", Seq(0, 0, 0)) ++
      ev("mix", Seq(1, 0, 1, 0)) ++
      // crosses H1 at t=3 then decays: decision must stick at t=3
      ev("stick", Seq(1, 1, 1, 0, 0, 0, 0, 0)))
      .toDF("g", "tss", "id", "s")
      .withColumn("ts", to_timestamp(col("tss")))
    val out = Behavior.sprt(df, "g", "ts", "id", col("s") === 1,
      p0 = 0.2, p1 = 0.8).orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) Double.NaN else r.getDouble(6))).toSeq
    val ln4 = 1.386294361120 // sprtConstants rounds at 12 dp
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    assert(out(0) == ("down", 3L, 0L, r6(-3 * ln4), "accept_h0", 3L,
      r6(-3 * ln4)))
    assert(out(1) == ("mix", 4L, 2L, 0.0, "continue", -1L,
      out(1)._7) && out(1)._7.isNaN)
    assert(out(2) == ("stick", 8L, 3L, r6(-2 * ln4), "accept_h1", 3L,
      r6(3 * ln4)))
    assert(out(3) == ("up", 4L, 3L, r6(2 * ln4), "accept_h1", 3L,
      r6(3 * ln4)))
  }
}
