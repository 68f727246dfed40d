package graft.queries

import graft.ops.{Dedup, Multimodal, Similarity, Streaming, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries for the training-data pipeline operators: text
  * analysis, dedup, similarity search, multimodal plumbing, windowed event
  * stats. Oracles exist wherever DuckDB can replicate the math exactly
  * (integer-ratio divisions, md5, sequential double folds); LSH/SimHash/
  * top-k rely on xxhash64 or float ordering and are covered rows-only here
  * plus property tests in ScalaTest.
  */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text profile: token stats, ratios, fingerprint, language-ID heuristic
    "t_text_profile" -> { (s, d) =>
      TextAnalysis.profile(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "distinct_ratio", "punct_ratio",
          "stopword_ratio", "lang_pred", "fingerprint")
        .orderBy("doc_id")
    },
    // exact-duplicate groups on the canonical fingerprint
    // the raw corpus has no exact duplicates (a 0-row gate proves little),
    // so the input plants one duplicate of every document under a shifted
    // id: every fingerprint group must come back with keep_id = the
    // original and n_dups = 2 (plus any genuine same-text collisions)
    "d_exact_dup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val planted = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
      Dedup.exactDuplicateGroups(docs.unionByName(planted), "doc_id", "text")
        .orderBy("fp")
    },
    // blocked exact n-gram Jaccard pairs (verification-stage dedup).
    // DELIBERATE triangle holdout (round-15 convergence): this gate IS
    // the audit-scale ground-truth op the count-join family is measured
    // against (lshRecallReport uses it the same way) — keeping it on the
    // independent in-block triangle means the two exact pair engines
    // cross-check each other through the shared DuckDB oracle instead of
    // sharing one plan's blind spots.
    "d_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05)
        .orderBy("blk", "id_a", "id_b")
    },
    // the scale-bounded variant: identical exact output while blocks stay
    // under maxBlockSize (sf0.01/sf0.1 — oracle-checked against the same
    // all-pairs SQL); oversized blocks (the 10× ScaleBench run) route
    // through in-block LSH banding + exact verify, keeping time linear.
    // Banding is AUTO-TUNED from the threshold (lshParamsFor: midpoint
    // (1/bands)^(bands/numHashes) ≤ threshold — here 1/32 ≤ 0.05 via 32
    // single-row bands), so the routed path keeps recall at the threshold
    // instead of silently collapsing below the collision floor
    "d_ngram_jaccard_bounded" -> { (s, d) =>
      Dedup.ngramJaccardPairsBounded(Tables.documents(s, d), "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05, maxBlockSize = 1000)
        .orderBy("blk", "id_a", "id_b")
    },
    // the PINNED count-join twin of d_ngram_jaccard: PairEngine.Auto
    // picks the triangle at gate scale, so without this pin the
    // inverted-index count join — the engine every 10×/100× run rides —
    // would have no sf0.01 oracle row. Same all-pairs SQL, bit-identical
    // rows: the two exact pair engines cross-check through one oracle.
    "d_jaccard_countjoin" -> { (s, d) =>
      Dedup.blockedJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05,
        engine = Dedup.PairEngine.CountJoin)
        .orderBy("blk", "id_a", "id_b")
    },
    // pairs → CLUSTERS: connected components (min-label propagation +
    // pointer jumping) over the blocked Jaccard pairs, then the per-cluster
    // membership with the canonical (min-id) survivor. Near-duplication is
    // not transitive — this is the stage that turns pair lists into an
    // actual dedup decision, and the whole iterative fixpoint is pinned
    // against a DuckDB recursive-CTE transitive closure.
    "d_dup_clusters" -> { (s, d) =>
      val pairs = Dedup.blockedJaccardPairs(Tables.documents(s, d), "doc_id",
        "text", blockCol = "source", n = 2, threshold = 0.05)
      graft.ops.Cluster.connectedComponents(pairs, "id_a", "id_b")
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))))
        .orderBy("cluster", "id")
    },
    // the end-to-end near-dedup DECISION: same pairs, clusters resolved,
    // all non-canonical members dropped via a broadcast left_anti — the
    // corpus itself never shuffles. Output is the surviving corpus slice.
    "q_drop_near_dups" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05)
      graft.ops.Cluster.dropNearDuplicates(docs, "doc_id", pairs, "id_a", "id_b")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
    // MinHash+LSH near-dup candidate pairs over the md5-affine family: the
    // full pipeline (banding, bucket cap, pair dedup, agreement estimate)
    // is hash-checked against the DuckDB oracle.
    "d_minhash_lsh" -> { (s, d) =>
      // 4 minima per band: 2-minima band keys collide ~J² and flood the
      // buckets on a self-similar corpus; 4 minima collide ~J⁴
      Dedup.minhashLshPairsMd5(Tables.documents(s, d), "doc_id", "text",
        n = 2, numHashes = 32, bands = 8, threshold = 0.5, maxBucketSize = 200)
        .orderBy("id_a", "id_b")
    },
    // the composed petabyte-scale dedup shape: LSH candidates (linear in
    // data via banding + bucket caps) verified with EXACT Jaccard over
    // packed gram-hash sets — O(|candidates|), never quadratic in a block
    "d_lsh_jaccard_verify" -> { (s, d) =>
      Dedup.lshVerifiedPairsMd5(Tables.documents(s, d), "doc_id", "text",
        n = 2, numHashes = 32, bands = 8, estThreshold = 0.5,
        maxBucketSize = 200, threshold = 0.4)
        .orderBy("id_a", "id_b")
    },
    // oracle-checkable MinHash signatures (md5-based arithmetic both
    // engines can compute — pins the MinHash math itself)
    "d_minhash_md5_sig" -> { (s, d) =>
      val sigs = Dedup.minhashSignatureMd5(col("text"), n = 2, numHashes = 8)
      Tables.documents(s, d)
        .select(col("doc_id") +: sigs.zipWithIndex.map { case (c, i) => c.as(s"sig_$i") }: _*)
        .orderBy("doc_id")
    },
    // oracle-checkable 31-bit SimHash values (md5 base hashes)
    "d_simhash_md5" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash31Md5(col("text")).as("simhash31"))
        .orderBy("doc_id")
    },
    // SimHash near-dup pairs over the 31-bit md5 signature: bucketing,
    // pair dedup and Hamming verify are all hash-checked against the
    // oracle
    "d_simhash" -> { (s, d) =>
      Dedup.simhashPairsMd5(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 10, maxBucketSize = 200)
        .orderBy("id_a", "id_b", "hamming")
    },
    // embedding stats: deterministic sequential double folds
    "s_embed_stats" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val v = Similarity.toDouble(col("embedding"))
      e.select(col("vec_id"), size(col("embedding")).as("dim"),
          aggregate(v, lit(0.0), (acc, x) => acc + x).as("ssum"),
          Similarity.norm(v).as("l2norm"))
        .orderBy("vec_id")
    },
    // cosine between consecutive vec ids — exact fold, oracle-checkable
    "s_cosine_adjacent" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("id_a"), Similarity.toDouble(col("embedding")).as("v_a"))
      val b = e.select((col("vec_id") - 1).as("id_a"), Similarity.toDouble(col("embedding")).as("v_b"))
      a.join(b, "id_a")
        .select(col("id_a"), Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
        .orderBy("id_a")
    },
    // exact brute-force ANN baseline: top-5 neighbors for 20 query vectors
    // (float-ordering ties → rows-only oracle; invariants in ScalaTest)
    "s_cosine_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    },
    // IVF-style ANN: label column as the coarse cell (rows-only oracle)
    "s_ivf_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        e, "vec_id", "embedding", "label",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", "label", k = 5)
        .orderBy("q_id", "rank")
    },
    // full IVF ANN: deterministic k-means coarse quantizer + nprobe search.
    // Modulo init + DECIMAL-exact centroid means make the entire Lloyd
    // pipeline (2 iterations), cell probing, and top-k ranking replicable
    // in SQL — the oracle recomputes all of it with chained CTEs. The
    // hash-init + sample-trained production path is covered in OpsSpec.
    "s_ivf_kmeans_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (assigned, centroids) = graft.ops.IvfIndex.build(e, "vec_id", "embedding",
        nCells = 16, iters = 2,
        initCell = Some(pmod(col("id").cast("bigint"), lit(16L)).cast("int")))
      graft.ops.IvfIndex.search(assigned, centroids,
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5, nProbe = 4)
        .orderBy("q_id", "rank")
    },
    // measured ANN recall@k: the IVF index (same deterministic modulo-init
    // k-means family) probed at nProbe=1 scored against brute-force exact
    // ground truth per query — the report a production ANN deployment
    // publishes before trading probe count for latency. recall = hits/k
    // with exact-integer operands, engine-exact without rounding
    "s_ann_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (assigned, centroids) = graft.ops.IvfIndex.build(e, "vec_id",
        "embedding", nCells = 16, iters = 2,
        initCell = Some(pmod(col("id").cast("bigint"), lit(16L)).cast("int")))
      val q = e.filter(col("vec_id") < 20)
      val approx = graft.ops.IvfIndex.search(assigned, centroids,
        q, "vec_id", "embedding", k = 5, nProbe = 1)
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5)
      Similarity.annRecall(approx, exact, k = 5).orderBy("q_id")
    },
    // cluster-balanced (diversity-preserving) subsample: deterministic
    // k-means cells (modulo init, one DECIMAL-exact Lloyd step — the
    // oracle-replicable family), then at most 10 survivors per cell in
    // md5 hash order; the within-cell rank is the distributed running
    // count, never one row_number task per cell
    "q_cluster_sample" -> { (s, d) =>
      graft.ops.Pipeline.clusterBalancedSample(Tables.embeddings(s, d),
        "vec_id", "embedding", nCells = 16, perCellCap = 10L, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(16L)).cast("int")))
        .orderBy("cell", "cell_pos")
    },
    // product quantization + ADC search: per-subspace DECIMAL-exact Lloyd
    // codebooks (modulo init — the oracle-replicable family), dense
    // position codes, and the asymmetric-distance score computed as
    // per-query LUT (PqLutExpr kernel, task-broadcast codebooks) + m array
    // lookups summed in subspace order. The whole compressed-search path —
    // training, encoding, LUT, scoring, ranking — is hash-pinned.
    // score rendered at 9 dp: this is the first gate whose output VALUES
    // (not just rankings) depend on centroid values, and the two engines'
    // double→DECIMAL(28,14) casts round the 15th digit differently →
    // centroids (hence ADC scores) can differ by 1 ulp. Codes, ranks and
    // neighbor ids compare exactly; the 9-dp render pins the score to far
    // beyond the quantizer's meaningful precision.
    "s_pq_adc_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (codes, books) = graft.ops.PqIndex.build(e, "vec_id", "embedding",
        m = 2, ksub = 8, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(8L)).cast("int")))
      graft.ops.PqIndex.searchAdc(codes, books,
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        .withColumn("score", round(col("score"), 9))
        .orderBy("q_id", "rank")
    },
    // IVF-PQ: the composed billion-vector shape — coarse cells prune WHICH
    // rows a query scans, residual PQ codes shrink WHAT each row costs.
    // score = dot(q, coarse centroid) + residual-LUT lookups, the exact
    // Faiss-style ADC decomposition, every stage DECIMAL-exact under the
    // modulo init so the oracle re-derives coarse cells, residuals,
    // codebooks, codes, probes and scores. 9-dp render as s_pq_adc_topk.
    "s_ivfpq_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (codes, cents, books) = graft.ops.IvfPq.build(e, "vec_id", "embedding",
        nCells = 8, m = 2, ksub = 8, ivfIters = 1, pqIters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(8L)).cast("int")))
      graft.ops.IvfPq.search(codes, cents, books,
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5, nProbe = 2)
        .withColumn("score", round(col("score"), 9))
        .orderBy("q_id", "rank")
    },
    // embedding-cosine near-duplicate pairs within label buckets
    "d_embed_neardup" -> { (s, d) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", threshold = 0.2)
        .orderBy("bkt", "id_a", "id_b")
    },
    // label-free variant: the deterministic k-means quantizer supplies the
    // buckets (modulo init + one DECIMAL-exact Lloyd step, the
    // oracle-replicable family from s_ivf_kmeans_topk), then the same
    // within-cell pairwise compare. Fixed-size input slice so the oracle's
    // quadratic-in-cell SQL stays cheap at every sf.
    "d_embed_neardup_cells" -> { (s, d) =>
      Dedup.embeddingNearDupPairsByCell(
        Tables.embeddings(s, d).filter(col("vec_id") < 1500),
        "vec_id", "embedding", nCells = 16, threshold = 0.2, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(16L)).cast("int")))
        .orderBy("cell", "id_a", "id_b")
    },
    // SemDeDup (arXiv:2303.09540): the cells pipeline taken to its
    // DECISION — within-cell cosine pairs resolved into connected
    // components, one min-id survivor kept per semantic cluster (plus
    // every unpaired vector). Same oracle-replicable modulo-init
    // one-Lloyd-step family as d_embed_neardup_cells, CC pinned against
    // a recursive-CTE transitive closure
    "d_semdedup" -> { (s, d) =>
      Dedup.semDedup(
        Tables.embeddings(s, d).filter(col("vec_id") < 1500),
        "vec_id", "embedding", nCells = 16, threshold = 0.2, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(16L)).cast("int")))
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
    // SemDeDup in its SCALE shape: the full embeddings table at the
    // real-IVF cell count (1024 — the d_cells1024_probe2 family), so the
    // per-cell pair stage stays linear as the table grows. This is the
    // ScaleBench form; the fixed-slice d_semdedup above pins the decision
    // logic at constant size. Same modulo-init one-Lloyd-step oracle
    // family; CC pinned against the recursive-CTE transitive closure.
    "d_semdedup_scale" -> { (s, d) =>
      Dedup.semDedup(
        Tables.embeddings(s, d),
        "vec_id", "embedding", nCells = 1024, threshold = 0.35, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(1024L)).cast("int")))
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
    // ExactSubstr-style repeated-span removal (arXiv:2107.06499): every
    // 8-token window occurring 2+ times corpus-wide is cut from every doc
    // except its globally-first (doc, pos) occurrence — one gram-key
    // shuffle with map-side-combinable min/count, doc-key reassembly
    "d_exact_substr" -> { (s, d) =>
      Dedup.removeRepeatedSpans(Tables.documents(s, d), "doc_id", "text",
        n = 8)
        .orderBy("doc_id")
    },
    // ANY-LENGTH repeated-span removal (the Lee et al. semantics the
    // fixed-n op approximates): duplicated 6-token windows union into
    // MAXIMAL per-doc spans. The corpus gets NESTED/OVERLAPPING planted
    // repeats — a shared 8-token tail, the same tail extended by 3
    // tokens, the tail doubled within one doc (self-repeat, adjacency
    // merge), and a 4-token SUB-span alone (below minLen — must NOT be
    // cut) — exactly the shapes a span-set oracle can catch
    "d_repeat_spans_any" -> { (s, d) =>
      val tail = " alpha beta gamma delta epsilon zeta eta theta"
      val docs = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 11L === 1L, concat(col("text"), lit(tail)))
          .when(col("doc_id") % 11L === 2L,
            concat(col("text"), lit(tail), lit(" iota kappa lambda")))
          .when(col("doc_id") % 11L === 3L,
            concat(col("text"), lit(tail), lit(tail)))
          .when(col("doc_id") % 11L === 4L,
            concat(lit("alpha beta gamma delta "), col("text")))
          .otherwise(col("text")))
      Dedup.removeRepeatedSpansAnyLength(docs, "doc_id", "text",
        minLen = 6)
        .orderBy("doc_id")
    },
    // multi-probe widening of the same pipeline: each vector joins its TOP-2
    // cells (NearestCellsTopKExpr — one codegen kernel over the
    // task-broadcast centroid matrix, ranked by descending dot / ascending
    // cell, element 0 = the build argmin), pairs deduped to their smallest
    // shared cell. Oracle re-derives the probe assignment as rn <= 2 over
    // the same Lloyd centroids — pins the kernel's ranking order end-to-end.
    "d_embed_neardup_probes" -> { (s, d) =>
      Dedup.embeddingNearDupPairsByCell(
        Tables.embeddings(s, d).filter(col("vec_id") < 1500),
        "vec_id", "embedding", nCells = 16, threshold = 0.2, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(16L)).cast("int")),
        probes = 2)
        .orderBy("cell", "id_a", "id_b")
    },
    // training-free hyperplane-LSH near-dup: 32 sign bits over deterministic
    // affine hyperplanes (SrpBitsExpr kernel), 4 bands of 8 bits, bucket
    // cap, exact-cosine verify. Every stage — centered-residue hyperplane
    // arithmetic, sequential dot folds, band extraction, cap, pair dedup —
    // is integer/double math DuckDB replicates exactly, so the whole
    // pipeline is hash-pinned band for band (the minhashLshPairsMd5 contract).
    // 8-bit band keys size the buckets for the 10× ScaleBench run too
    // (avg bucket = n/256 per band; 4-bit keys would push every bucket
    // past the cap once the corpus clears ~3k vectors).
    "d_embed_srp_lsh" -> { (s, d) =>
      Dedup.embeddingSrpLshPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        nBits = 32, bands = 4, threshold = 0.2, maxBucketSize = 200)
        .orderBy("id_a", "id_b")
    },
    // the real-IVF-size shape (ScaleBench case): 1024 cells, 2 probes.
    // Before the kernel this plan was un-buildable — the declarative probe
    // ranking put nCells × dim literal expressions in the tree; now the
    // plan is O(1) in nCells. Fully oracled since round 8: the modulo-init
    // + one-DECIMAL-exact-Lloyd-step family (same as d_embed_neardup_cells,
    // at 64× the cell count) makes centroids, probe ranking and pairs
    // SQL-replicable; the sample-trained hash-init production quantizer
    // stays covered by OpsSpec + s_ivf_topk.
    "d_cells1024_probe2" -> { (s, d) =>
      Dedup.embeddingNearDupPairsByCell(
        Tables.embeddings(s, d), "vec_id", "embedding",
        nCells = 1024, threshold = 0.35, iters = 1,
        initCell = Some(pmod(col("id").cast("bigint"), lit(1024L)).cast("int")),
        probes = 2)
        .orderBy("cell", "id_a", "id_b")
    },
    // multimodal metadata decode (deterministic stub) — plumbing proof
    "m_media_meta" -> { (s, d) =>
      Multimodal.decodeMetaExpr(Tables.documents(s, d), "doc_id")
        .orderBy("doc_id")
    },
    // REAL image-decode path, oracle-pinned: the PNG payloads carry
    // deterministic pixels (Multimodal.pngBytes), so the decoded 8-bin
    // luminance histogram is SQL-replicable by regenerating the pixel
    // function — this pins javax.imageio decode + the histogram kernel
    // over actual bytes, not the stub. Histogram rendered as exact bin
    // counts (feature × w × h) to keep the compare integer-exact.
    "m_media_feature" -> { (s, d) =>
      val pngs = Multimodal.pngPayloads(s, Tables.documents(s, d), "doc_id")
      Multimodal.decodeImages(s, pngs, "doc_id").toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          concat_ws(",", transform(col("feature"), f =>
            round(f.cast("double") * col("meta.width") * col("meta.height"))
              .cast("int"))).as("hist"))
        // narrow result, materialized: the encode+decode mapPartitions
        // chain is opaque to column pruning, so the orderBy's range
        // sampler otherwise re-runs the whole codec pipeline (round-16
        // audit: two ~uniform 32-task codec stages, 36+52 task-sec)
        .localCheckpoint()
        .orderBy("doc_id")
    },
    // decode → REAL nearest-neighbor resize to a fixed 5×3 raster → 8-bin
    // luminance histogram of the RESIZED pixels (counts, 15 px/doc). The
    // exact integer coordinate map dst(x,y)=src(x·sw/5, y·sh/3) lets the
    // oracle regenerate the sampled source pixels.
    "m_media_resize" -> { (s, d) =>
      val pngs = Multimodal.pngPayloads(s, Tables.documents(s, d), "doc_id")
      Multimodal.resizeImages(s, pngs, "doc_id", 5, 3).toDF()
        .select(col("doc_id"),
          col("meta.width").as("src_width"), col("meta.height").as("src_height"),
          concat_ws(",", transform(col("feature"), f =>
            round(f.cast("double") * 15).cast("int"))).as("hist"))
        // see m_media_feature: checkpoint kills the sampler's second
        // run of the opaque codec chain
        .localCheckpoint()
        .orderBy("doc_id")
    },
    // video-like frame sampling: every-7th frame index from per-doc
    // fps/duration metadata (deterministic from doc_id) — the sampling
    // PLAN is the operator; decode of the sampled frames would join the
    // binary payload path above
    "m_frame_sample" -> { (s, d) =>
      val meta = Tables.documents(s, d).select(col("doc_id"),
        (lit(24) + (col("doc_id") % 2) * 6).as("fps"),
        (lit(1) + col("doc_id") % 5).as("duration_s"))
      Multimodal.sampleFrameIndexes(meta, "fps", "duration_s", everyNth = 7)
        .select("doc_id", "fps", "duration_s", "frame_idx")
        .orderBy("doc_id", "frame_idx")
    },
    // corpus vocabulary statistics: per-token document frequency + total
    // occurrences — the table behind stopword/IDF/frequency filters
    "t_term_stats" -> { (s, d) =>
      TextAnalysis.termStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("token")
    },
    // BM25 ranked retrieval: every 100th doc's first 5 tokens play the
    // query set; postings + query-vocabulary document frequencies +
    // length-normalized scoring, summed in DECIMAL (order-invariant),
    // 9-dp render (ln() may differ 1 ulp across libm builds)
    "t_bm25_topk" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 5), " ").as("q_text"))
      graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "doc_id", "q_text", k = 5)
        .withColumn("score", round(col("score"), 9))
        .orderBy("q_id", "rank")
    },
    // all-pairs sparse TF-IDF cosine over trigram shingles: posting-list
    // self-join with the df <= 50 stop-term prune (the expansion cap —
    // a term pairs at most df^2/2 docs); idf quantized to an integer once
    // (round(ln(N/df)*1e6), the ln-ulp discipline), then weights, dots
    // and norms stay BIGINT-exact, and the one final dot/sqrt(ssq*ssq)
    // is correctly-rounded IEEE from exact integers — engine-exact; 9-dp
    // render
    "s_tfidf_pairs" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ops.Retrieval.tfidfSimilarPairs(docs, "doc_id",
          Dedup.shingles(col("text"), 3), maxDf = 50, minSim = 0.04)
        .withColumn("cosine", round(col("cosine"), 9))
        .orderBy("id_a", "id_b")
    },
    // GPT-style sequence packing: concatenate the corpus token stream in
    // doc_id order, cut every 512 tokens; one row per (doc, sequence)
    // piece. Distributed prefix-sum (literal-boundary buckets), never a
    // one-task global window — the oracle's global cumsum IS the shape
    // this plan avoids
    "t_pack_sequences" -> { (s, d) =>
      graft.ops.Pipeline.packSequences(Tables.documents(s, d), "doc_id",
        "text", capacity = 512)
        .orderBy("seq_id", "doc_id")
    },
    // token-budget mixture sampling ("take N tokens of web, M of books"):
    // per stratum, docs visited in md5-shuffled order, whole docs kept
    // while the stratum's inclusive running token count fits its budget.
    // Per-stratum distributed prefix-sum with equal-width literal cuts
    // over the uniform 2^60 hash range — no stratum serializes through
    // one task, however few strata there are
    "q_token_budget" -> { (s, d) =>
      graft.ops.Pipeline.sampleToTokenBudget(Tables.documents(s, d),
        "doc_id", "text", "source",
        Map("src0" -> 700L, "src1" -> 0L), defaultBudget = 900L)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },
    // temperature-scaled (α=0.5) source mixing: per-source budgets
    // ∝ sqrt(source token count) over a 2000-token total — IEEE sqrt is
    // correctly rounded (unlike ln/pow) and the weight sum folds in
    // ascending source order, so the oracle re-derives bit-identical
    // budgets through the floor; then the q_token_budget sampling
    // discipline (md5 visit order, distributed per-stratum prefix sum)
    "q_temperature_mix" -> { (s, d) =>
      graft.ops.Pipeline.sampleByTemperature(Tables.documents(s, d),
        "doc_id", "text", "source", totalBudget = 2000L)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },
    // cross-source contamination matrix: distinct winnowed fingerprints
    // per source, pairwise shared counts + fingerprint-set Jaccard, every
    // pair present (zeros included). A planted slice (40 src0-or-other
    // docs re-tagged 'planted') guarantees a nonzero overlap row — an
    // all-zero matrix would prove nothing
    "t_overlap_matrix" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val planted = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"),
          lit("planted").as("source"))
      TextAnalysis.sourceOverlapMatrix(docs.unionByName(planted),
        "text", "source")
        .orderBy("source_a", "source_b")
    },
    // the round-8 composed gate: ExactSubstr span dedup → NB quality
    // filter (slices drawn from the deduped corpus itself) → per-source
    // token-budget mix → fixed-capacity sequence packing, as ONE operator
    // with ONE chained oracle — the composition-bug net for the new ops
    "q_training_mix" -> { (s, d) =>
      graft.ops.Pipeline.assembleTrainingMix(Tables.documents(s, d),
        "doc_id", "text", "source", spanN = 8,
        posSource = "src0", negSource = "src1", minLogOdds = -0.02,
        budgets = Map("src2" -> 300L, "src3" -> 0L), defaultBudget = 600L,
        capacity = 128)
        .orderBy("seq_id", "doc_id")
    },
    // DSIR-style importance resampling: summed token log-odds between the
    // src0 (target) and src1 (raw) slices as the importance weight, the
    // 200-doc sample drawn by deterministic Gumbel-top-k (md5 uniform →
    // −ln(−ln u)); global top-k compiles to TakeOrderedAndProject, the
    // weight model rides the same task-broadcast NB kernel
    "q_importance_resample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ops.Pipeline.importanceResample(docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text",
        docs.filter(col("source") === "src1"), "text",
        sampleSize = 200)
        .withColumn("logratio", round(col("logratio"), 9))
        .withColumn("gumbel_key", round(col("gumbel_key"), 9))
        .orderBy("doc_id")
    },
    // deterministic corpus shuffle + sharding (the training-order step):
    // shard = md5 mod 8, dense 0-based position within shard in hash
    // order — both pure functions of (salt, id); the position numbering
    // is the distributed running COUNT, never one row_number task per
    // shard
    "q_shuffle_shards" -> { (s, d) =>
      graft.ops.Pipeline.shuffleShards(Tables.documents(s, d), "doc_id",
        numShards = 8)
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")
    },
    // sliding-window chunking (the pre-embedding step): 32-token windows
    // every 24 tokens, partial tail, empty docs emit nothing — a narrow
    // explode, integer arithmetic end to end
    "t_chunk_docs" -> { (s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 32, strideTokens = 24)
        .orderBy("doc_id", "chunk_id")
    },
    // CCNet-style reference-LM fluency: add-0.5-smoothed bigram LM trained
    // on the doc_id % 10 slice, every doc scored by mean bigram
    // log-probability. The reference tables broadcast; the corpus's only
    // shuffle is the per-doc aggregation; DECIMAL(28,14) per-bigram sums.
    // 9-dp render for the ln ulp (the bm25 discipline).
    "t_lm_score" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("doc_id") % 10 === 0)
      TextAnalysis.lmScore(docs, "doc_id", "text", ref, "text", addK = 0.5)
        .withColumnRenamed("id", "doc_id")
        .withColumn("lm_logprob", round(col("lm_logprob"), 9))
        .orderBy("doc_id")
    },
    // Gopher-style repetition filter: top-unigram / top-bigram /
    // duplicated-bigram token coverage per doc + the keep decision
    // (integer-ratio fractions — exact in both engines)
    "t_repetition_filter" -> { (s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
    // fastText-style linear quality classifier trained as naive Bayes:
    // per-token add-0.5 log-odds between the src0 (positive) and src1
    // (negative) slices, every doc scored by mean token log-odds — the
    // log-odds table precomputes AND pre-quantizes driver-side, scoring
    // rides task-broadcast in one codegen kernel (zero joins/shuffles);
    // 9-dp render for the ln ulp (the bm25/lm discipline)
    "t_nb_quality" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.nbQualityScore(docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text",
        docs.filter(col("source") === "src1"), "text")
        .withColumnRenamed("id", "doc_id")
        .withColumn("nb_logodds", round(col("nb_logodds"), 9))
        .orderBy("doc_id")
    },
    // frequency-based fluency proxy: mean corpus-frequency of each doc's
    // tokens (exact integer sum, one final double division)
    "t_token_freq_score" -> { (s, d) =>
      TextAnalysis.meanTokenFreqScore(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // deterministic stratified sampling — the source-mixing knob: src0 at
    // 1/4, src1 dropped, src2 in full, everything else at 1/2, decided by
    // the same md5 bucket family as q_split_assign (never rand(); a pure
    // pushed-down filter, no shuffle)
    "q_stratified_sample" -> { (s, d) =>
      graft.ops.Pipeline.sampleByStratum(Tables.documents(s, d), "doc_id",
        "source", Map("src0" -> 0.25, "src1" -> 0.0, "src2" -> 1.0),
        defaultRate = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    // benchmark decontamination: every 50th doc plays the held-out eval
    // set; corpus docs sharing >= 3 winnowed fingerprints with any eval
    // doc are dropped (eval members remove themselves via full overlap).
    // The corpus side never shuffles — eval fingerprints broadcast in,
    // contaminated ids broadcast back as a left_anti.
    "q_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      TextAnalysis.decontaminate(docs, "doc_id", "text",
          evalSet, "doc_id", "text", k = 16, w = 16, minShared = 3)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    // Bloom-prefiltered decontamination — the blocklist-too-big-to-
    // broadcast shape: eval fps build a distributed Bloom filter, the
    // corpus scan counts task-broadcast filter hits in one narrow codegen
    // projection, and only the passing sliver exact-verifies in a
    // fingerprint shuffle join. Bit-identical to plain decontamination
    // (no false negatives; false positives die in the verify join), so
    // the oracle is the exact winnow-chain SQL with these parameters.
    "q_decon_bloom" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
      TextAnalysis.decontaminateBloom(docs, "doc_id", "text",
          evalSet, "doc_id", "text", k = 16, w = 16, minShared = 2,
          fpp = 0.01)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    // deterministic train/validation/test assignment: md5-bucket mod 10000
    // vs cumulative thresholds — never rand(), stable under retries and
    // cluster size, and SQL-replicable per row (the md5-affine discipline)
    "q_split_assign" -> { (s, d) =>
      graft.ops.Pipeline.splitAssign(Tables.documents(s, d), "doc_id")
        .select("doc_id", "split_bucket", "split")
        .orderBy("doc_id")
    },
    // multi-signal dedup: textual n-gram-Jaccard pairs UNION semantic
    // embedding-cosine pairs -> one CC graph (chains crossing signals
    // collapse: paraphrase + verbatim copies of one doc merge), with the
    // per-signal incident-edge audit trail
    "q_hybrid_dedup" -> { (s, d) =>
      val textPairs = Dedup.blockedJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", blockCol = "source", n = 2, threshold = 0.05)
      val semPairs = Dedup.embeddingNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", threshold = 0.2)
      graft.ops.Cluster.hybridDupClusters(textPairs, semPairs)
        .orderBy("cluster", "id")
    },
    // unicode canonicalization: each doc gets a decomposed suffix
    // (" cafe" + combining acute + a control char) planted; NFC composes
    // it, the control strip removes it — md5 of the normalized bytes
    // pins Java's Normalizer against DuckDB's utf8proc byte-for-byte
    "t_unicode_nfc" -> { (s, d) =>
      val raw = concat(col("text"), lit(" cafe\u0301\u0007"))
      Tables.documents(s, d)
        .select(col("doc_id"), length(raw).as("n_raw"),
          TextAnalysis.unicodeClean(raw).as("__c"))
        .select(col("doc_id"), col("n_raw"),
          length(col("__c")).as("n_clean"), md5(col("__c")).as("h"))
        .orderBy("doc_id")
    },
    // semi-structured extraction: the events props JSON payload parsed
    // with an explicit schema (one codegen projection, no inference pass,
    // malformed -> null), exact integer stats per event type
    "q_json_props" -> { (s, d) =>
      graft.ops.Semistructured.jsonPropStats(Tables.events(s, d),
          "props", "k", "event_type")
        .orderBy("event_type")
    },
    // fractional-epoch upsampling: src0 x2.3 (2 full copies + 30% get a
    // third), src1 x0.4 (pure subsample), src2 x1.0, default x1.5 — the
    // repeat-factor training mixture, materialized deterministically
    // (md5 bucket, never rand()); one narrow projection + generate
    "q_epoch_upsample" -> { (s, d) =>
      graft.ops.Pipeline.epochUpsample(Tables.documents(s, d), "doc_id",
          "source", Map("src0" -> 2.3, "src1" -> 0.4, "src2" -> 1.0),
          defaultEpochs = 1.5)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    },
    // PII scrubbing: emails / IPv4 / +phone / long id runs planted
    // deterministically from doc_id, redacted by the fixed regexp_replace
    // cascade — RE2-subset patterns, so DuckDB replicates byte for byte
    "t_redact_pii" -> { (s, d) =>
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555 01"),
        lpad(col("doc_id").cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 ref 9"), lpad(col("doc_id").cast("string"), 9, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.redactPii(planted).as("redacted"))
        .orderBy("doc_id")
    },
    // winnowed rolling-hash fingerprint overlap (contamination detection):
    // k=16-codepoint grams hashed base-31 mod 2^31-1, window-of-16 minima
    // (the winnowing guarantee: any shared substring >= 31 chars produces a
    // shared fingerprint), boilerplate fingerprints capped, pairs by shared
    // count. Integer hashing end to end — hash-pinned against the oracle.
    "t_winnow_overlap" -> { (s, d) =>
      TextAnalysis.winnowOverlapPairs(Tables.documents(s, d), "doc_id", "text",
        k = 16, w = 16, maxDocsPerFp = 50, minShared = 3)
        .orderBy("id_a", "id_b")
    },
    // tumbling 5-minute event stats (batch form of the streaming op)
    "q_stream_window" -> { (s, d) =>
      Streaming.windowStatsBatch(Tables.events(s, d), "5 minutes")
        .orderBy("window_start", "event_type")
    },
    // per-user session counts via lag-window gap detection (scale-safe
    // form: no per-user materialization)
    "q_sessionize" -> { (s, d) =>
      Streaming.sessionizeBatch(Tables.events(s, d), gapSeconds = 1800)
        .orderBy("user_id")
    },
    // attribution interval join: each purchase pairs with the same user's
    // clicks in the preceding 4 hours — the batch twin of the
    // stream-stream watermarked join (state bounded by lookback+watermark;
    // batch==stream pin in OpsSpec). Equi-shuffle on user_id, band
    // predicate inside the hash join.
    "q_event_attribution" -> { (s, d) =>
      Streaming.attributionJoinBatch(Tables.events(s, d),
          leftType = "purchase", rightType = "click", lookbackSeconds = 14400)
        .select("left_id", "right_id", "user_id", "lag_s")
        .orderBy("left_id", "right_id")
    },
    // corpus length distribution: exact interpolated percentiles per source
    "t_length_percentiles" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"),
          expr("percentile(n_chars, 0.99)").as("p99"),
          count(lit(1)).as("n"))
        .orderBy("source")
    },
    // composed corpus cleaning: quality gate then exact dedup (keep min id)
    "q_clean_corpus" -> { (s, d) =>
      graft.ops.Pipeline.cleanCorpus(Tables.documents(s, d), "doc_id", "text",
        minQuality = 0.5)
        .select("doc_id", "quality_score")
        .orderBy("doc_id")
    },
    // THE end-to-end corpus-prep run, all seven stages as ONE plan with
    // ONE oracle: clean (quality + exact dedup) → bounded n-gram Jaccard
    // pairs → CC cluster → drop near-dups → decontaminate vs the eval
    // slice → split assign → stratified source mixing → chunk. Catches the
    // composition bugs per-op gates can't: column collisions between
    // stages, pair generation on the wrong corpus snapshot, salt reuse
    // between split and sample buckets, order sensitivity of drop vs
    // sample.
    "q_corpus_pipeline" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      graft.ops.Pipeline.corpusPrep(docs, "doc_id", "text", "source", evalSet,
        sampleRates = Map("src0" -> 0.25, "src1" -> 0.0, "src2" -> 1.0),
        defaultRate = 0.5)
        .orderBy("doc_id", "chunk_id")
    },
    // AS-OF join (the operator Spark lacks natively): each click joins the
    // latest error at or before it per user — interleaved union + window
    // carry-forward, ONE key shuffle, no per-row range probe. The state
    // side dedupes to unique (user, ts) so tie semantics can't differ
    // from DuckDB's native ASOF LEFT JOIN oracle.
    "q_asof_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"), col("value").as("err_value"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "err_ts").orderBy(col("err_id").desc)))
        .filter(col("__rn") === 1).drop("__rn")
      graft.ops.TemporalJoin.asofJoin(clicks, errs, "user_id", "ts", "err_ts",
        Seq("err_id", "err_value"))
        .orderBy("event_id")
    },
    // RANGE join: clicks within 4 hours after an error, same user —
    // interval ends quantized onto 600s buckets, equi-join on
    // (user, bucket), exact band filter after. Hash join, never a
    // BroadcastNestedLoop. Probe and interval times are minute-truncated
    // so the gate exercises BOTH bucket-edge cases at volume: every
    // interval start/end lands exactly on a bucket boundary, and ~1/10 of
    // probes land exactly on one (the +1 band replication off-by-one
    // surface) — and matches number in the hundreds, not 1.
    "q_range_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          date_trunc("minute", col("ts")).as("ts"), col("value"))
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          date_trunc("minute", col("ts")).as("start_ts"),
          (date_trunc("minute", col("ts")) +
            expr("INTERVAL 14400 SECONDS")).as("end_ts"))
      graft.ops.TemporalJoin.rangeJoin(clicks, intervals, "user_id", "ts",
        "start_ts", "end_ts", Seq("err_id"), bucketSeconds = 600)
        .orderBy("event_id", "range_err_id")
    },
    // Z-order (Morton) clustering layout: equal-width literal cuts over
    // (user_id, value) at 4 bits/dim, bins bit-interleaved into the
    // z-value parquet row-group pruning sorts by — boundaries are
    // plan-time literals derived from min/max by exact arithmetic, so the
    // oracle re-derives them from the same scalars
    "q_zorder_layout" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val r = ev.agg(min("user_id"), max("user_id"),
        min("value"), max("value")).head
      val z = graft.ops.Layout.zvalue(Seq(
        col("user_id") ->
          graft.ops.Layout.longCuts(r.getLong(0), r.getLong(1), 4),
        col("value") ->
          graft.ops.Layout.doubleCuts(r.getDouble(2), r.getDouble(3), 4)),
        bits = 4)
      ev.select(col("event_id"), z.as("zval")).orderBy("event_id")
    },
    // C4/Dolma-style paragraph dedup on a delimiter-free corpus: disjoint
    // 16-token blocks, first-occurrence-wins, per-doc reassembly. The raw
    // corpus has few block-aligned duplicates, so the input plants (a) a
    // full copy of every 5th doc under +1000000 ids (every block a dup →
    // reassembles to NULL) and (b) every 7th doc's first 16 tokens plus a
    // unique tail under +2000000 ids (partial removal: the tail survives)
    "d_paragraph_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val full = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      val partial = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"),
          concat(
            array_join(slice(TextAnalysis.tokens(col("text")), 1, 16), " "),
            lit(" uniqtail"), col("doc_id").cast("string")).as("text"))
      Dedup.dedupSegments(docs.unionByName(full).unionByName(partial),
        "doc_id", "text", segTokens = 16)
        .orderBy("doc_id")
    },
    // incremental ingestion: the src0/src1 slice plays the EXISTING deduped
    // corpus, the rest the NEW batch — with planted collisions: every 3rd
    // corpus doc re-appears in the batch under +1000000 ids (cross dup →
    // dropped by the fingerprint anti-join) and every 4th batch doc twice
    // under +2000000 (within-batch dup → the min id survives)
    "q_incremental_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("source").isin("src0", "src1"))
      val newDocs = docs.filter(!col("source").isin("src0", "src1"))
      val fromCorpus = corpus.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val batchDup = newDocs.filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
      graft.ops.Pipeline.incrementalDedup(
        newDocs.unionByName(fromCorpus).unionByName(batchDup),
        "doc_id", "text", corpus, "text")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },
    // leakage-safe splits: near-dups MUST share a split — the blocked
    // Jaccard pairs (the d_dup_clusters family) resolve to a CC
    // representative and the whole family takes the representative's
    // md5-bucket split; unpaired docs split on their own id
    "q_leakage_safe_split" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05)
      graft.ops.Pipeline.leakageSafeSplit(docs, "doc_id", pairs,
        "id_a", "id_b")
        .select("doc_id", "split_key", "split_bucket", "split")
        .orderBy("doc_id")
    },
    // int8 scalar quantization + asymmetric top-k: per-dim min/max grid
    // (one narrow agg, dim-bounded driver state), round-half-up codes,
    // reconstructed-value dot scores folded in ascending-dim order —
    // codes, ranks and neighbor ids compare exactly; score at 9 dp (the
    // PQ render discipline)
    "s_sq8_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val p = graft.ops.SqIndex.train(e, "embedding")
      val codes = graft.ops.SqIndex.encode(e, "vec_id", "embedding", p)
      graft.ops.SqIndex.searchAdc(codes, p, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .withColumn("score", round(col("score"), 9))
        .orderBy("q_id", "rank")
    },
    // char-trigram naive-Bayes language ID: per-language gram log-probs
    // trained on the doc_id%3=0 labeled slice (vocab capped per lang, one
    // bounded collect), every doc scored by k task-broadcast kernels in
    // ONE scan, argmax with lang-asc tie-break; DECIMAL(28,14) sums make
    // the argmax engine-exact, mean at 9 dp (the nb/lm ln discipline)
    "t_lang_id" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.langIdClassify(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "lang", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // lang-ID with the top-2 confidence margin and abstain flag: the
    // runner-up sum rides the SAME one-scan argmax kernel (zero extra
    // passes); abstain compares the 9-dp-rounded per-gram margin
    "t_lang_id_margin" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.langIdMargin(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 3 === 0), "lang", "text",
          marginTau = 0.01, n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // sequence-packing audit at context length 512: md5-shuffled
    // concatenation order, integral-division pack ids off the
    // distributed prefix sum, boundary-straddle flags — all integer
    "q_sequence_pack" -> { (s, d) =>
      graft.ops.Pipeline.sequencePack(Tables.documents(s, d), "doc_id",
          "text", seqLen = 512)
        .select("doc_id", "n_tokens", "start_offset", "pack_id",
          "crosses")
        .orderBy("doc_id")
    },
    // C4 line-level cleaning over a deterministically line-ified corpus
    // (every ' spark' becomes a sentence break — literal replace, both
    // engines): keep lines ending in terminal punctuation with >= 5
    // words, drop docs containing 'customer line' or with < 2 surviving
    // lines; pure narrow expressions, zero shuffles
    "t_c4_clean" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        expr("replace(text, ' spark', concat('.', chr(10), 'spark'))"))
      TextAnalysis.c4LineFilter(docs, "doc_id", "text",
        minLineWords = 5, badPhrases = Seq("customer line"), minLines = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // Gopher document-level quality rules: counts + integer-ratio
    // booleans only (no floating point anywhere); stopword list adapted
    // to the synthetic vocabulary so the stopword rule discriminates
    "t_gopher_quality" -> { (s, d) =>
      TextAnalysis.gopherQualityStats(Tables.documents(s, d), "doc_id",
          "text", minWords = 20, maxWords = 100000,
          stopwords = Seq("the", "a", "key", "value", "data", "table"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // MassiveText line/paragraph repetition rules over the same
    // deterministically line-ified corpus as t_c4_clean (lines broken
    // before 'table', paragraphs before 'batch' — literal replaces, both
    // engines): duplicate-segment and duplicate-CHARACTER fractions per
    // doc via in-row sorted-run folds; zero shuffles, keep decision is
    // integer cross-multiplication
    "t_dup_lines" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        expr("replace(replace(text, ' table', concat(chr(10), 'table'))," +
          " ' batch', concat(chr(10), chr(10), 'batch'))"))
      TextAnalysis.dupLineStats(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // corpus-wide boilerplate line removal (RefinedWeb line-dedup): an
    // exact line in >= minDocs DISTINCT docs is stripped everywhere,
    // text rebuilt in original order; frequency pass over the
    // (doc,line)-distinct frame, boilerplate set broadcast under an
    // in-plan raise guard, one doc-key exchange to rebuild
    "t_boilerplate_strip" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        expr("replace(text, ' table', concat(chr(10), 'table'))"))
      TextAnalysis.boilerplateStrip(docs, "doc_id", "text", minDocs = 15)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // Count-Min heavy hitters: d=4 x w=512 grid over the md5-affine hash
    // family, every token at >= 1/50 of the stream reported with CMS
    // estimate AND exact count side by side (est >= exact always; the
    // threshold compare is integer cross-multiplication)
    "t_heavy_hitters" -> { (s, d) =>
      graft.ops.Sketch.cmsHeavyHitters(Tables.documents(s, d), "text",
        depth = 4, width = 512, phiNum = 1, phiDen = 50, k = 50)
    },
    // HyperLogLog distinct-token estimate per source, registers from the
    // md5 hash's bin()-derived leading-zero runs, integer harmonic sum;
    // the planted '_ids' group (one unique token per doc) exercises the
    // raw-estimate branch, the word groups the linear-counting branch;
    // exact distinct rides alongside as the honesty column
    "t_hll_distinct" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val in = docs.select(col("source"), col("text"))
        .unionByName(docs.select(lit("_ids").as("source"),
          concat(lit("id"), col("doc_id")).as("text")))
      graft.ops.Sketch.hllDistinct(in, "source", "text")
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    },
    // HLL MERGEABILITY: per-source shard sketches re-aggregated by
    // register-wise max into ONE corpus-level estimate — the
    // persist-shard-sketches-merge-later contract exact distinct can't
    // offer (shard exact distincts do not sum)
    "t_hll_merge" -> { (s, d) =>
      graft.ops.Sketch.hllMerge(Tables.documents(s, d), "source", "text")
    },
    // mergeable bottom-k (KMV) quantile sketch per event type: O(k)-state
    // deterministic md5-hash sample, quantiles pick EXISTING sample
    // values, exact lower-quantiles ride alongside as the honesty column
    "t_quantile_sketch" -> { (s, d) =>
      graft.ops.Sketch.bottomKQuantiles(Tables.events(s, d), "event_type",
          "event_id", "value", k = 128, qs = Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy("grp", "q")
    },
    // weighted PageRank (3 fixed iterations) over the undirected
    // customer-supplier order graph: per-edge contributions quantized to
    // DECIMAL(28,14) so every iteration's ranks are order-invariant,
    // partition-invariant, and SQL-replicable by an unrolled oracle
    "q_page_rank" -> { (s, d) =>
      val pairs = Tables.lineitem(s, d).join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      val e = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.pageRank(e, "src", "dst", iterations = 3)
        .withColumn("rank", round(col("rank"), 9))
        .orderBy("node")
    },
    // asymmetric containment pairs: every doc_id%7 doc gets a planted
    // HALF-LENGTH copy under a shifted id — containment(planted ⊂
    // original) = 1.0 while Jaccard sits near 0.5, exactly the pair
    // class a symmetric threshold misses; exact integer set sizes,
    // correctly-rounded double ratios (no ln anywhere → no rounding)
    "d_containment" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("source", "doc_id", "text")
      val t = TextAnalysis.tokens(col("text"))
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select(col("source"), (col("doc_id") + lit(2000000L)).as("doc_id"),
          array_join(slice(t, lit(1),
            greatest(floor(size(t).cast("double") / 2).cast("int"), lit(1))),
            " ").as("text"))
      Dedup.containmentPairs(docs.unionByName(planted), "doc_id", "text",
        "source", n = 2, threshold = 0.6)
        .orderBy("blk", "id_a", "id_b")
    },
    // the PINNED count-join twin of d_containment (see d_jaccard_countjoin
    // for why the pin exists): same planted half-copies, same oracle SQL,
    // engine forced to the inverted-index count join
    "d_containment_countjoin" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("source", "doc_id", "text")
      val t = TextAnalysis.tokens(col("text"))
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select(col("source"), (col("doc_id") + lit(2000000L)).as("doc_id"),
          array_join(slice(t, lit(1),
            greatest(floor(size(t).cast("double") / 2).cast("int"), lit(1))),
            " ").as("text"))
      Dedup.containmentPairs(docs.unionByName(planted), "doc_id", "text",
        "source", n = 2, threshold = 0.6,
        engine = Dedup.PairEngine.CountJoin)
        .orderBy("blk", "id_a", "id_b")
    },
    // per-label centroid from exact DECIMAL per-dim sums, cosine of every
    // vector to its own label's centroid via the sequential fold —
    // correctly-rounded double arithmetic end to end (no ln), so raw
    // doubles hash-match; minCos=0.1 splits the corpus non-trivially
    "s_centroid_outliers" -> { (s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d), "vec_id",
          "embedding", "label", minCos = 0.1)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("grp", "label")
        .orderBy("vec_id")
    },
    // embedding centroid drift per label between the vec_id-parity
    // snapshots: exact decimal per-dim sums, 9-dp means, re-quantized
    // products — representation drift as one cell shuffle
    "s_centroid_drift" -> { (s, d) =>
      val emb = Tables.embeddings(s, d).withColumn("snap",
        when(col("vec_id") % 2 === 0, lit("base")).otherwise(lit("cur")))
      Similarity.centroidDrift(emb, "label", "embedding", "snap",
          "base", "cur")
        .withColumnRenamed("grp", "label")
        .orderBy("label")
    },
    // n-gram novelty vs the doc_id%5 reference slice: distinct-bigram
    // membership via the task-broadcast binary-search kernel (weight 1 →
    // lo_sum IS the seen count); exact integer division at the end
    "t_novelty" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.noveltyScore(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 5 === 0), "text", n = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // token Shannon entropy as the zero-shuffle sorted-run fold, each
    // run's (c/n)·ln(c/n) term quantized to DECIMAL(28,14) — identical
    // to the oracle's explode→groupBy derivation; 9 dp for the ln ulp
    "t_entropy" -> { (s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // snapshot delta: "new" derives from the corpus by dropping %13 ids,
    // editing %11 texts and adding shifted %17 copies — all four statuses
    // exercised; one co-partitioned full-outer join on fingerprints
    "q_corpus_diff" -> { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "text")
      val newDf = base.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text")))
      graft.ops.Pipeline.corpusDiff(base, newDf, "doc_id", "text")
        .orderBy("id")
    },
    // canonical-source selection: near-dup clusters (the q_drop_near_dups
    // pair family) elect min-by (source priority, id); src0 beats src1
    // beats everything else — the multi-feed dedup decision
    "q_canonical_source" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05)
      graft.ops.Pipeline.canonicalBySource(docs, "doc_id", "source",
        pairs, "id_a", "id_b", Map("src0" -> 0, "src1" -> 1),
        defaultPriority = 5)
        .orderBy("id")
    },
    // matryoshka truncation recall: top-5 on the first 32 of 64 dims vs
    // full-dimension exact ground truth — exact integer recalls
    "s_matryoshka_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.matryoshkaRecall(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        dims = 32, k = 5)
        .orderBy("q_id")
    },
    // per-source dedup-rate data card: planted %9 exact copies + the
    // within-source near-dup pair family; counts exact, rates exact-int
    // divisions. Pairs come from the INVERTED-INDEX COUNT JOIN
    // (blockedJaccardPairs → blockedPairCounts) at a REAL near-dup
    // threshold (0.4): the grouped count IS the exact intersection, so
    // the result set equals all-pairs ngramJaccardPairs at the same
    // threshold (oracle replays all-pairs) while the pair stage scales
    // with gram volume, not block occupancy² — the round-13 10× audit's
    // 12.5 s max task was the triangle's quadratic growth with
    // replicated block occupancy.
    "q_dedup_report" -> { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "source", "text")
      val withDups = base.unionByName(base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + lit(4000000L)).as("doc_id"), col("source"),
          col("text")))
      val pairs = Dedup.blockedJaccardPairs(withDups, "doc_id",
        "text", blockCol = "source", n = 2, threshold = 0.4)
      graft.ops.Pipeline.dedupReport(withDups, "doc_id", "text", "source",
        pairs, "id_a", "id_b")
        .orderBy("source")
    },
    // per-source quality data card: Gopher keep-rate, mean length, mean
    // entropy (per-doc values DECIMAL-quantized before the order-free
    // sum, one division)
    "t_quality_report" -> { (s, d) =>
      TextAnalysis.corpusQualityReport(Tables.documents(s, d), "doc_id",
          "text", "source", minWords = 20, maxWords = 100000,
          stopwords = Seq("the", "a", "key", "value", "data", "table"))
        .orderBy("source")
    },
    // COMPOSED text-quality pipeline (the q_training_mix pattern for the
    // round-9 text ops): C4 line cleaning → Gopher rules ON THE CLEANED
    // TEXT → entropy floor → novelty floor vs the kept %5 slice, one
    // chained oracle — composition bugs (running Gopher on raw instead
    // of cleaned text) are exactly what per-op gates cannot see
    "q_quality_pipeline" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("text",
        expr("replace(text, ' spark', concat('.', chr(10), 'spark'))"))
      TextAnalysis.qualityPipeline(docs, "doc_id", "text",
        minLineWords = 5, badPhrases = Seq("customer line"), minLines = 2,
        minWords = 10, maxWords = 100000,
        stopwords = Seq("the", "a", "key", "value", "data", "table"),
        minEntropy = 3.0, refModulo = 5, n = 2, minNovelty = 0.1)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // CCNet-style perplexity buckets: reference-LM scores (doc_id%10
    // slice) cut into per-source tertiles — head/middle/tail; decisions
    // on 9-dp-rounded scores (never the ln ulp), cuts via the
    // percentile/quantile_cont parity pair
    "q_ccnet_buckets" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "source",
        docs.filter(col("doc_id") % 10 === 0), "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // measured LSH dedup recall/precision per block: the banded+verified
    // scale path vs exact all-pairs ground truth at the same threshold —
    // exact-integer ratios, nulls (never fake 1.0) for empty sides
    "d_lsh_recall" -> { (s, d) =>
      Dedup.lshRecallReport(Tables.documents(s, d), "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.4, numHashes = 32,
        bands = 8, estThreshold = 0.5, maxBucketSize = 200)
        .orderBy("blk")
    },
    // greedy longest-match subword tokenization over a DETERMINISTIC
    // data-derived vocabulary (top-30 tokens + their 3-char prefixes +
    // the 26 letters): honest subword counts + the full segmentation,
    // both engines walking the same greedy longest-match
    "t_subword_tokenize" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val top = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .sort(col("c").desc, col("w")).limit(30).collect().map(_.getString(0))
      val vocab = (top ++ top.map(_.take(3)) ++
        ('a' to 'z').map(_.toString)).distinct.toSeq
      TextAnalysis.subwordTokenize(docs, "doc_id", "text", vocab)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // tokenizer fertility/compression data card per source: same top-30
    // vocab as t_subword_tokenize, one kernel scan (segmentation + char
    // totals in the same projection, no join back), one aggregation
    "t_tokenizer_card" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val top = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .sort(col("c").desc, col("w")).limit(30).collect().map(_.getString(0))
      val vocab = (top ++ top.map(_.take(3)) ++
        ('a' to 'z').map(_.toString)).distinct.toSeq
      TextAnalysis.tokenizerStats(docs, "doc_id", "text", "source", vocab)
        .orderBy("source")
    },
    // BPE merge training: one word-count shuffle, bounded driver merge
    // loop (top-maxWords cap, the TakeOrdered discipline); 12 learned
    // merges with exact pair counts, ties to the UTF-8-smallest pair —
    // the oracle replays all 12 rounds as chained CTEs (pair count →
    // argmax → greedy left-to-right list_reduce re-segmentation)
    "t_bpe_train" -> { (s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), "text",
          numMerges = 12, maxWords = 1000)
        .orderBy("rank")
    },
    // the TRAINED-tokenizer composition seam (round-13 verdict item 3):
    // bpeTrain's learned merge table becomes the subword vocabulary
    // (merged symbols + the 26 letter fallbacks) that subwordTokenize
    // then applies to the same corpus — the train-then-encode pipeline a
    // real corpus run executes, oracled end to end (the DuckDB side
    // replays all 12 merge rounds AND the greedy longest-match walk)
    "t_bpe_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeTrain(docs, "text",
          numMerges = 12, maxWords = 1000)
        .select("merged").collect().map(_.getString(0))
      val vocab = (merges ++ ('a' to 'z').map(_.toString)).distinct.toSeq
      TextAnalysis.subwordTokenize(docs, "doc_id", "text", vocab)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    // quality-max dedup election: each near-dup cluster keeps its
    // longest member (token count — an exact integer score), ties to the
    // smaller id; the per-document sibling of q_canonical_source
    "q_canonical_quality" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
        blockCol = "source", n = 2, threshold = 0.05)
      graft.ops.Pipeline.canonicalByQuality(
        docs.withColumn("n_toks", TextAnalysis.tokenCount(col("text"))),
        "doc_id", "n_toks", pairs, "id_a", "id_b")
        .orderBy("id")
    },
    // salted two-stage aggregation over a heavy-hitter key (5 distinct
    // event types): exact same result as a direct groupBy, skew-free plan
    "q_salted_agg" -> { (s, d) =>
      graft.ops.Skew.saltedSumCount(Tables.events(s, d), "event_type", "value",
        salts = 16, saltSource = col("event_id"))
        .orderBy("event_type")
    },
    // ordered-funnel conversion (first-touch): step k completes at the
    // EARLIEST step-k event strictly after step k-1's completion; every
    // shuffle keys on user_id, per-step frames materialized once (linear,
    // never the recompute shape), counts exact ints, ratios one IEEE
    // division at 9 dp
    "q_event_funnel" -> { (s, d) =>
      graft.ops.Behavior.funnel(Tables.events(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("step")
    },
    // NULL-KEY funnel twin (round-15 null-key sweep): a planted
    // anonymous slice — user_id nulled on every %13 event — must form
    // ONE group that advances steps like any user. Pins the null-safe
    // step gating: before the fix the equi-join barred NULL from step
    // 2+ while the step-1 groupBy counted it — silent row loss the
    // per-op gate could not see because events has no null users.
    // Oracle joins use IS NOT DISTINCT FROM (the same convention).
    "q_funnel_nullkey" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select("user_id", "ts", "event_type", "event_id")
      val planted = ev.filter(col("event_id") % 13 === 0)
        .withColumn("user_id", lit(null).cast("long"))
        .withColumn("event_id", col("event_id") + lit(9000000L))
      graft.ops.Behavior.funnel(ev.unionByName(planted), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
        .orderBy("step")
    },
    // weekly cohort retention: users cohorted by the Monday-truncated
    // week of their first event; distinct (user, week) materialized once
    // and reused by both the cohort min and the offset join
    "q_cohort_retention" -> { (s, d) =>
      graft.ops.Behavior.cohortRetention(Tables.events(s, d), "user_id",
          "ts", maxWeeks = 4)
        .orderBy("cohort_week", "week_offset")
    },
    // next-event transition matrix (first-order Markov): one lead window
    // per user with the (ts, event_id) unique tie-break, |types|^2-sized
    // normalization frame
    "q_event_transitions" -> { (s, d) =>
      graft.ops.Behavior.eventTransitions(Tables.events(s, d), "user_id",
          "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },
    // ORC sink round-trip — the third columnar format next to parquet and
    // csv: typed write + read-back, byte fidelity pinned via md5(text)
    "v_orc_sink" -> { (s, d) =>
      val dir = TempDirs.create("orc").toString + "/docs"
      Tables.documents(s, d).select("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select(col("doc_id"), md5(col("text")).as("h"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    },
    // metadata-filtered ANN (pre-filter semantics — k survivors from the
    // ELIGIBLE set, the filtered-vector-search contract): label cells,
    // an id-parity attribute filter ORTHOGONAL to the cell structure
    // (every probed cell keeps eligible vectors — the regime filtered
    // vector search is built for)
    "s_filtered_ann" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.filteredIvfTopK(
        e, "vec_id", "embedding", "label", pmod(col("vec_id"), lit(2)) === 0,
        e.filter(col("vec_id") < 20), "vec_id", "embedding", "label", k = 5)
        .orderBy("q_id", "rank")
    },
    // per-doc top-3 tf-idf keywords over trigram shingles: integer
    // weights (tf x idf quantized once — the ln-ulp discipline), ties to
    // the smaller term; stop terms pruned before the weighting join
    "t_keywords_tfidf" -> { (s, d) =>
      graft.ops.Retrieval.tfidfKeywords(Tables.documents(s, d), "doc_id",
          Dedup.shingles(col("text"), 3), k = 3, maxDf = 50)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")
    },
    // CDC MERGE/upsert: a deterministic change batch (deletes on id%10=0,
    // two out-of-order updates on id%10=1 — seq 2 must win — inserts on
    // id%10=2 under shifted ids) applied onto the documents snapshot in
    // ONE full-outer key shuffle; conflicting same-seq changes raise
    // in-plan
    "q_apply_changes" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      def ch(pred: org.apache.spark.sql.Column, op: String, seq: Long,
          idC: org.apache.spark.sql.Column,
          textC: org.apache.spark.sql.Column) =
        docs.filter(pred).select(idC.as("doc_id"), lit(op).as("op"),
          lit(seq).as("seq"), textC.as("text"), col("lang"), col("source"),
          col("n_chars"))
      val changes =
        ch(col("doc_id") % 10 === 0, "D", 1L, col("doc_id"), col("text"))
          .unionByName(ch(col("doc_id") % 10 === 1, "U", 1L, col("doc_id"),
            upper(col("text"))))
          .unionByName(ch(col("doc_id") % 10 === 1, "U", 2L, col("doc_id"),
            concat(col("text"), lit(" rev2"))))
          .unionByName(ch(col("doc_id") % 10 === 2, "I", 1L,
            col("doc_id") + 10000000L, concat(col("text"), lit(" v2"))))
      graft.ops.Cdc.applyChanges(docs, changes, "doc_id", "op", Some("seq"))
        .select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // schema-evolution merge read: two parquet batches with DIFFERENT
    // column sets under one logical table, mergeSchema read unions the
    // schemas and null-fills — the append-only ingest contract when a
    // source adds columns mid-stream
    "v_schema_merge" -> { (s, d) =>
      val root = TempDirs.create("merge").toString
      val docs = Tables.documents(s, d)
      docs.select("doc_id", "text")
        .write.mode("overwrite").parquet(root + "/batch1")
      docs.select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          col("n_chars"))
        .write.mode("overwrite").parquet(root + "/batch2")
      s.read.option("mergeSchema", "true")
        .parquet(root + "/batch1", root + "/batch2")
        .select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
          col("n_chars"))
        .orderBy("doc_id")
    },
    // sliding (overlapping) 10-minute windows every 5 minutes: each event
    // scored into exactly 2 windows, expanded in-plan (no self-union)
    "q_sliding_window" -> { (s, d) =>
      Streaming.slidingWindowStatsBatch(Tables.events(s, d),
          "10 minutes", "5 minutes")
        .orderBy("window_start", "event_type")
    },
    // exact triangle count over the PART co-purchase graph: parts on
    // ADJACENT line numbers of one order link (a linear-in-lineitem edge
    // build — an all-pairs-within-order projection over a small supplier
    // universe degenerates to a complete graph, useless as a fixture);
    // ~20k part nodes keep the graph sparse, and degree-ordered
    // orientation bounds the wedge join at sqrt(m) out-degree
    "q_triangle_count" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val e = li.select(col("ok"), col("ln"), col("pk").as("p1"))
        .join(li.select(col("ok"), (col("ln") - 1).as("ln"),
          col("pk").as("p2")), Seq("ok", "ln"))
        .filter(col("p1") =!= col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst"))
      graft.ops.Graph.triangleCount(e, "src", "dst")
    },
    // document-level token co-occurrence PMI (collocation mining) over
    // whitespace tokens: df-capped posting join, exact-integer operands,
    // 6-dp render (the t_entropy ln-ulp discipline). The raw corpus has
    // no rare-token pairs recurring at any sf (a 0-row gate proves
    // little — the d_exact_dup lesson), so each doc gets a PLANTED
    // collocation "kwM kzM" with M = doc_id % 401: per-suffix df is
    // ~N/401 — ≥2 from the sf0.01 gate scale up, and under the 200 cap
    // through the 10× sf0.1 ScaleBench scale (≈125) — so the gate
    // exercises the cap, the floor and the exact PMI arithmetic on
    // hundreds of rows at every benched sf (beyond ~80k docs the
    // planted family crosses the cap by design — the cap doing its job)
    "t_token_pmi" -> { (s, d) =>
      val planted = Tables.documents(s, d)
        .withColumn("text", concat(col("text"), lit(" kw"),
          (col("doc_id") % 401).cast("string"), lit(" kz"),
          (col("doc_id") % 401).cast("string")))
      graft.ops.Retrieval.tokenPmi(planted, "doc_id",
          TextAnalysis.tokens(col("text")), maxDf = 200, minPairCount = 2)
        .orderBy("term_a", "term_b")
    },
    // per-user rolling features (lag + trailing 3-row mean): exact
    // DECIMAL window sums, one user-partitioned window
    "q_rolling_features" -> { (s, d) =>
      graft.ops.Behavior.rollingFeatures(Tables.events(s, d), "user_id",
          "event_id", "value", window = 3)
        .orderBy("user_id", "event_id")
    },
    // per-source percentile winsorization of n_chars (outlier clipping):
    // percentile ≡ quantile_cont parity cuts broadcast onto a
    // zero-shuffle clamp scan
    "t_winsorize" -> { (s, d) =>
      TextAnalysis.winsorize(Tables.documents(s, d), "doc_id", "n_chars",
          "source", pLo = 0.05, pHi = 0.95)
        .orderBy("id")
    },
    // kNN GRAPH: every vector's top-3 same-cell neighbors via the
    // cell-bucketed self-join (nothing broadcast — the corpus is both
    // sides), O(k)-state top-k aggregation, in-plan mega-cell guard
    "s_knn_graph" -> { (s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding",
          "label", k = 3)
        .orderBy("q_id", "rank")
    },
    // feature-hashing TF-IDF (HashingTF): terms fold into 64 fixed
    // feature lanes via the md5-affine hash, collisions sum, sparse
    // (id, dim, weight) output; BIGINT-exact weights
    "t_hashing_tfidf" -> { (s, d) =>
      graft.ops.Retrieval.hashedTfidf(Tables.documents(s, d), "doc_id",
          Dedup.shingles(col("text"), 3), dims = 64, maxDf = 50)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "dim")
    },
    // A/B experiment readout: units split by user_id parity, per-UNIT
    // metric totals first (the randomization unit is the user), Welch's
    // t from DECIMAL-exact moments, 6-dp render
    "q_ab_ttest" -> { (s, d) =>
      graft.ops.Behavior.abTestStats(Tables.events(s, d), "user_id", "value")
    },
    // JSONL source/sink round-trip — the LLM-corpus interchange format:
    // write as line-delimited JSON, read back with an EXPLICIT schema
    // (no inference pass to schedule over 100 TB; malformed rows → null
    // columns, the PERMISSIVE contract), byte fidelity via md5(text)
    "v_jsonl_source" -> { (s, d) =>
      val dir = TempDirs.create("jsonl").toString + "/docs"
      Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").json(dir)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      s.read.schema(schema).json(dir)
        .select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // hive-style partitioned layout: write partitioned by source, read
    // back with a partition predicate — the scan must prune to one
    // directory (PartitionFilters, checked by ExplainAudit), never list
    // the full table
    "v_partitioned_write" -> { (s, d) =>
      val root = TempDirs.create("part").toString + "/docs"
      Tables.documents(s, d).select("doc_id", "text", "source")
        .write.mode("overwrite").partitionBy("source").parquet(root)
      s.read.parquet(root).filter(col("source") === "src1")
        .select(col("doc_id"), md5(col("text")).as("h"), col("source"))
        .orderBy("doc_id")
    })

  private val tokensSql =
    "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  /** Shared greedy longest-match subword CTE chain (top-30 vocab + 3-char
    * prefixes + a-z, per-distinct-word recursive walk): yields `toks`
    * (doc_id, source, t), `seg` (w, acc, n) and `inst` (doc_id, source,
    * w, widx). Used by the t_subword_tokenize and t_tokenizer_card
    * oracles — both must see the SAME segmentation. Requires WITH
    * RECURSIVE on the consumer. */
  /** The greedy longest-match walk shared by every subword oracle:
    * expects `toks(doc_id, source, t)` and `vocab(v)` CTEs upstream;
    * yields `seg(w, acc, n)` + `inst(doc_id, source, w, widx)`. */
  private val subwordWalkCtes: String =
    s"""dwords AS (SELECT DISTINCT w FROM (SELECT unnest(t) AS w FROM toks)),
      |pos AS (SELECT w, CAST(unnest(range(len(w))) + 1 AS BIGINT) AS p
      |  FROM dwords),
      |best AS (SELECT p.w, p.p, coalesce(max(len(v.v)), 1) AS bl
      |  FROM pos p LEFT JOIN vocab v
      |    ON len(v.v) <= len(p.w) - p.p + 1
      |    AND substr(p.w, CAST(p.p AS INT), len(v.v)) = v.v
      |  GROUP BY p.w, p.p),
      |best2 AS (SELECT w, p, bl,
      |    substr(w, CAST(p AS INT), CAST(bl AS INT)) AS tok
      |  FROM best),
      |walk AS (
      |  SELECT w, CAST(1 AS BIGINT) AS p, CAST('' AS VARCHAR) AS acc,
      |    CAST(0 AS BIGINT) AS n
      |  FROM dwords
      |  UNION ALL
      |  SELECT s.w, s.p + b.bl,
      |    CASE WHEN s.acc = '' THEN b.tok ELSE s.acc || ' ' || b.tok END,
      |    s.n + 1
      |  FROM walk s JOIN best2 b ON b.w = s.w AND b.p = s.p
      |  WHERE s.p <= len(s.w)),
      |seg AS (SELECT w, acc, n FROM walk WHERE p = len(w) + 1),
      |inst AS (SELECT doc_id, source, unnest(t) AS w, unnest(range(len(t))) AS widx FROM toks)""".stripMargin

  /** Containment ground truth with the planted half-length copies —
    * shared by d_containment (Auto → triangle at gate scale) and its
    * pinned count-join twin d_containment_countjoin. */
  private val containmentOracleSql: String =
    s"""WITH tk AS (SELECT source, doc_id, $tokensSql AS t FROM documents),
      |planted AS (SELECT source, doc_id + 2000000 AS doc_id,
      |    array_to_string(t[1:greatest(CAST(len(t) // 2 AS INT), 1)], ' ') AS text
      |  FROM tk WHERE doc_id % 7 = 0),
      |allrows AS (SELECT source, doc_id, text FROM documents
      |  UNION ALL SELECT source, doc_id, text FROM planted),
      |toks AS (SELECT source, doc_id, $tokensSql AS t FROM allrows),
      |grams AS (SELECT source, doc_id,
      |    list_distinct(CASE WHEN len(t) >= 2
      |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS g
      |  FROM toks),
      |pairs AS (SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(a.g) AS n_a, len(b.g) AS n_b, len(list_intersect(a.g, b.g)) AS inter
      |  FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id),
      |sc AS (SELECT blk, id_a, id_b, n_a, n_b, inter,
      |    CASE WHEN n_a > 0 THEN CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) ELSE 0.0 END AS cont_a_in_b,
      |    CASE WHEN n_b > 0 THEN CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) ELSE 0.0 END AS cont_b_in_a
      |  FROM pairs)
      |SELECT * FROM sc WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.6
      |ORDER BY blk, id_a, id_b""".stripMargin

  /** All-pairs blocked bigram-Jaccard ground truth — shared by the
    * triangle gate (d_ngram_jaccard), its bounded variant, and the pinned
    * count-join twin (d_jaccard_countjoin): one oracle, two engines. */
  private val allPairsJaccardOracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, $tokensSql AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, source,
      |    list_distinct(CASE WHEN len(t) >= 2
      |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
      |      ELSE [array_to_string(t, ' ')] END) AS g
      |  FROM toks)
      |SELECT * FROM (
      |  SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
      |    CASE WHEN len(list_distinct(a.g || b.g)) > 0
      |      THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
      |      ELSE 0.0 END AS jaccard
      |  FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.05 ORDER BY blk, id_a, id_b""".stripMargin

  private val subwordSegCtes: String =
    s"""toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
      |tc AS (SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |top AS (SELECT w FROM tc QUALIFY row_number() OVER (ORDER BY c DESC, w ASC) <= 30),
      |vocab AS (SELECT DISTINCT v FROM (
      |  SELECT w AS v FROM top
      |  UNION ALL SELECT substr(w, 1, 3) FROM top
      |  UNION ALL SELECT substr('abcdefghijklmnopqrstuvwxyz', CAST(i + 1 AS INT), 1)
      |    FROM range(26) t2(i))),
      |$subwordWalkCtes""".stripMargin

  /** BPE training re-derived as chained CTEs: capped word counts, then per
    * round k — adjacent-pair counts weighted by word count, argmax with
    * the (count desc, pair asc) tie-break (binary collation = the
    * kernel's UTF-8 byte order), and one greedy left-to-right
    * `list_reduce` re-segmentation (the merge result never re-pairs with
    * the next symbol inside a round — same fold as the driver loop).
    * Symbols contain no spaces (words come from whitespace split), so a
    * space-joined segmentation string round-trips exactly. */
  /** The BPE round CTEs alone (ending with `bpem(rank, a, b, merged,
    * pair_count)`) so composed oracles — train-then-ENCODE — can chain
    * the learned merge table into downstream CTEs. */
  private def bpeChainCtes(numMerges: Int, maxWords: Int): String = {
    val rounds = (1 to numMerges).map { k =>
      s"""p$k AS MATERIALIZED (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM (
         |    SELECT cnt, unnest(list_transform(range(len(s) - 1),
         |      i -> s[i+1] || ' ' || s[i+2])) AS pair
         |    FROM (SELECT cnt, string_split(seg, ' ') AS s FROM seg${k - 1}))
         |  GROUP BY pair),
         |b$k AS MATERIALIZED (SELECT split_part(pair, ' ', 1) AS a,
         |    split_part(pair, ' ', 2) AS b, pc
         |  FROM p$k ORDER BY pc DESC, pair LIMIT 1),
         |seg$k AS MATERIALIZED (SELECT w, cnt,
         |    list_reduce(string_split(seg, ' '), (acc, x) ->
         |      CASE WHEN (acc = a OR ends_with(acc, ' ' || a)) AND x = b
         |        THEN left(acc, len(acc) - len(a)) || a || b
         |        ELSE acc || ' ' || x END) AS seg
         |  FROM seg${k - 1}, b$k)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to numMerges).map { k =>
      s"""SELECT $k AS rank, a AS "left", b AS "right", a || b AS merged, pc AS pair_count FROM b$k"""
    }.mkString("\n  UNION ALL ")
    s"""btoks AS (SELECT $tokensSql AS t FROM documents),
       |wc AS (SELECT w, count(*) AS cnt
       |  FROM (SELECT unnest(t) AS w FROM btoks)
       |  GROUP BY w ORDER BY cnt DESC, w LIMIT $maxWords),
       |seg0 AS (SELECT w, cnt, array_to_string(list_transform(range(len(w)),
       |    i -> substr(w, CAST(i+1 AS INT), 1)), ' ') AS seg FROM wc),
       |$rounds,
       |bpem AS (
       |  $unions)""".stripMargin
  }

  private def bpeOracleCtes(numMerges: Int, maxWords: Int): String =
    bpeChainCtes(numMerges, maxWords) +
      "\nSELECT * FROM bpem\nORDER BY rank"

  /** Shared winnowing CTE chain (codepoints → Horner base-31 gram hashes →
    * window-of-16 minima → distinct (doc_id, fp)), prefixed so one oracle
    * can instantiate it for several inputs; final CTE is `{p}sel`. Used by
    * the t_winnow_overlap and q_decontaminate oracles. */
  private def winnowSelCtes(p: String, source: String): String =
    s"""${p}docs2 AS (SELECT doc_id, text AS t, len(text) AS n FROM $source),
       |${p}cps AS (SELECT doc_id, n, list_transform(range(n), i -> unicode(substr(t, CAST(i+1 AS INT), 1))) AS cp FROM ${p}docs2 WHERE n > 0),
       |${p}hs AS (SELECT doc_id, greatest(n - 16 + 1, 1) AS m,
       |  list_transform(range(greatest(n - 16 + 1, 1)), i ->
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(least(16, n)), j -> CAST(cp[CAST(i+j+1 AS INT)] AS BIGINT))), (acc, c) -> (acc * 31 + c) % 2147483647)) AS h
       |  FROM ${p}cps),
       |${p}hpos AS (SELECT doc_id, m, unnest(h) AS hv, unnest(range(len(h))) AS i FROM ${p}hs),
       |${p}wins AS (SELECT doc_id, i, m, min(hv) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wmin FROM ${p}hpos),
       |${p}sel AS (SELECT DISTINCT doc_id, wmin AS fp FROM ${p}wins WHERE i <= greatest(m - 16, 0))""".stripMargin

  /** Shared md5-affine LSH CTE chain (toks → grams → hashes → sigs →
    * banded → capped → cand → est) re-deriving the whole candidate
    * pipeline in DuckDB; used by the d_minhash_lsh oracle and the
    * composed d_lsh_jaccard_verify oracle. */
  private def md5LshOracleCtes(numHashes: Int, bands: Int, cap: Int): String = {
    val p = Dedup.md5MinhashP
    val rows = numHashes / bands
    val sigList = Dedup.md5MinhashSeeds(numHashes).map { case (a, b) =>
      s"list_min(list_transform(h, x -> (x * $a + $b) % $p))"
    }.mkString("[\n    ", ",\n    ", "]")
    val bandSelects = (0 until bands).map { b =>
      val key = (1 to rows).map(r => s"CAST(sig[${b * rows + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
       |      ELSE [array_to_string(t, ' ')] END AS g
       |  FROM toks),
       |hashes AS (
       |  SELECT doc_id,
       |    list_transform(g, s ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5(s), k+1, 1)) - 1 AS BIGINT))),
       |        (acc, d) -> acc * 16 + d) % $p) AS h
       |  FROM grams),
       |sigs AS (SELECT doc_id, $sigList AS sig FROM hashes),
       |banded AS (
       |  $bandSelects),
       |capped AS (
       |  SELECT band, bkey, doc_id FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM banded)
       |  WHERE bsz <= $cap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT cand.id_a, cand.id_b,
       |    CAST(len(list_filter(range($numHashes), i -> sa.sig[i+1] = sb.sig[i+1])) AS DOUBLE)
       |      / $numHashes.0 AS est_jaccard
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = cand.id_a
       |  JOIN sigs sb ON sb.doc_id = cand.id_b)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d_minhash_md5_sig" -> {
      val sigCols = Dedup.md5MinhashSeeds(8).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(h, x -> (x * $a + $b) % ${Dedup.md5MinhashP})) AS sig_$i"
      }.mkString(",\n  ")
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |grams AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= 2
         |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
         |      ELSE [array_to_string(t, ' ')] END AS g
         |  FROM toks),
         |hashes AS (
         |  SELECT doc_id,
         |    list_transform(g, s ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5(s), k+1, 1)) - 1 AS BIGINT))),
         |        (acc, d) -> acc * 16 + d) % ${Dedup.md5MinhashP}) AS h
         |  FROM grams)
         |SELECT doc_id,
         |  $sigCols
         |FROM hashes ORDER BY doc_id""".stripMargin
    },
    "d_minhash_lsh" ->
      s"""WITH ${md5LshOracleCtes(32, 8, 200)}
         |SELECT id_a, id_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // the composed scale path: LSH candidates (est >= threshold) joined
    // back to the distinct gram-hash sets for EXACT Jaccard
    "d_lsh_jaccard_verify" ->
      s"""WITH ${md5LshOracleCtes(32, 8, 200)},
         |gsets AS (SELECT doc_id, list_distinct(h) AS hs FROM hashes)
         |SELECT * FROM (
         |  SELECT e.id_a, e.id_b,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE) AS jaccard
         |  FROM est e
         |  JOIN gsets a ON a.doc_id = e.id_a
         |  JOIN gsets b ON b.doc_id = e.id_b
         |  WHERE e.est_jaccard >= 0.5)
         |WHERE jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "d_simhash" -> {
      val p = Dedup.md5MinhashP
      val simBitTerms = (0 until 31).map { b =>
        s"(CASE WHEN 2 * len(list_filter(h, x -> (x // ${1L << b}) % 2 = 1)) - len(h) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("\n  + ")
      val quarterSelects = (0 until 4).map { q =>
        s"SELECT doc_id, sig, $q AS q, (sig >> ${q * 8}) & 255 AS qkey FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |hashes AS (
         |  SELECT doc_id,
         |    list_transform(t, s ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5(s), k+1, 1)) - 1 AS BIGINT))),
         |        (acc, d) -> acc * 16 + d) % $p) AS h
         |  FROM toks),
         |sigs AS (
         |  SELECT doc_id,
         |    CASE WHEN len(h) > 0 THEN $simBitTerms ELSE 0 END AS sig
         |  FROM hashes),
         |keyed AS (
         |  $quarterSelects),
         |capped AS (
         |  SELECT q, qkey, doc_id, sig FROM (
         |    SELECT *, count(*) OVER (PARTITION BY q, qkey) AS bsz FROM keyed)
         |  WHERE bsz <= 200)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM capped a JOIN capped b
         |  ON a.q = b.q AND a.qkey = b.qkey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 10
         |ORDER BY id_a, id_b, hamming""".stripMargin
    },
    "d_simhash_md5" -> {
      val bitTerms = (0 until 31).map { b =>
        s"(CASE WHEN 2 * len(list_filter(h, x -> (x // ${1L << b}) % 2 = 1)) - len(h) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |hashes AS (
         |  SELECT doc_id,
         |    list_transform(t, s ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5(s), k+1, 1)) - 1 AS BIGINT))),
         |        (acc, d) -> acc * 16 + d) % ${Dedup.md5MinhashP}) AS h
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN len(h) > 0 THEN $bitTerms ELSE 0 END AS simhash31
         |FROM hashes ORDER BY doc_id""".stripMargin
    },
    "t_length_percentiles" ->
      """SELECT source,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.9) AS p90,
        |  quantile_cont(n_chars, 0.99) AS p99,
        |  count(*) AS n
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_clean_corpus" ->
      s"""WITH toks AS (
        |  SELECT doc_id, text, $tokensSql AS t FROM documents),
        |scored AS (
        |  SELECT doc_id, text,
        |    ((CASE WHEN len(t) BETWEEN 8 AND 4096 THEN 1.0 WHEN len(t) > 0 THEN 0.5 ELSE 0.0 END)
        |     + (CASE WHEN coalesce(CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) END, 0.0) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN coalesce(CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END, 0.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
        |     + coalesce(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) END, 0.0)) / 4.0 AS quality_score
        |  FROM toks),
        |survivors AS (
        |  SELECT doc_id, quality_score,
        |    md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS fp
        |  FROM scored WHERE quality_score >= 0.5)
        |SELECT doc_id, quality_score FROM (
        |  SELECT doc_id, quality_score, min(doc_id) OVER (PARTITION BY fp) AS keeper
        |  FROM survivors)
        |WHERE doc_id = keeper ORDER BY doc_id""".stripMargin,
    // the seven-stage corpus-prep chain re-derived as one CTE pipeline:
    // quality+exact-dedup survivors, all-pairs Jaccard on the CLEANED
    // corpus, recursive-CTE transitive closure, winnow decontamination vs
    // the eval slice, the two independent md5 bucket families (split salt
    // 'graft', sample salt 'mix'), and the chunk expansion carrying
    // (source, split)
    "q_corpus_pipeline" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, text, $tokensSql AS t FROM documents),
        |scored AS (
        |  SELECT doc_id, source, text,
        |    ((CASE WHEN len(t) BETWEEN 8 AND 4096 THEN 1.0 WHEN len(t) > 0 THEN 0.5 ELSE 0.0 END)
        |     + (CASE WHEN coalesce(CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) END, 0.0) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN coalesce(CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END, 0.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
        |     + coalesce(CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) END, 0.0)) / 4.0 AS quality_score
        |  FROM toks),
        |cleaned AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      min(doc_id) OVER (PARTITION BY fp) AS keeper
        |    FROM (
        |      SELECT doc_id, source, text,
        |        md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS fp
        |      FROM scored WHERE quality_score >= 0.5))
        |  WHERE doc_id = keeper),
        |ctoks AS (SELECT doc_id, source, $tokensSql AS t FROM cleaned),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM ctoks),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r)),
        |deduped AS (
        |  SELECT * FROM cleaned WHERE doc_id NOT IN (SELECT id FROM losers)),
        |${winnowSelCtes("c", "deduped")},
        |${winnowSelCtes("e", "(SELECT * FROM documents WHERE doc_id % 50 = 0)")},
        |contaminated AS (
        |  SELECT c.doc_id FROM csel c
        |  JOIN (SELECT DISTINCT fp FROM esel) e ON c.fp = e.fp
        |  GROUP BY c.doc_id HAVING count(*) >= 3),
        |sampled AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN sb < 9800 THEN 'train'
        |         WHEN sb < 9900 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id, source, text,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('graft:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |        (acc, d) -> acc * 16 + d) % 10000 AS sb,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |        (acc, d) -> acc * 16 + d) % 10000 AS mb
        |    FROM deduped
        |    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
        |  WHERE mb < CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 0
        |    WHEN 'src2' THEN 10000 ELSE 5000 END),
        |stoks AS (SELECT doc_id, source, split, $tokensSql AS t FROM sampled),
        |smeta AS (SELECT doc_id, source, split, t, len(t) AS n,
        |    CASE WHEN len(t) = 0 THEN 0
        |         WHEN len(t) <= 32 THEN 1
        |         ELSE (len(t) - 32 + 23) // 24 + 1 END AS nc
        |  FROM stoks),
        |schunks AS (SELECT doc_id, source, split, t, n, unnest(range(nc)) AS chunk_id FROM smeta)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  array_to_string(t[CAST(chunk_id * 24 + 1 AS INT) : CAST(least(chunk_id * 24 + 32, n) AS INT)], ' ') AS chunk_text,
        |  CAST(least(32, n - chunk_id * 24) AS INT) AS n_chunk_tokens,
        |  source, split
        |FROM schunks ORDER BY doc_id, chunk_id""".stripMargin,
    // z-order re-derived: the same min/max scalars, integer-// long cuts
    // and IEEE double cuts with identical parenthesization, CASE-sum bins,
    // shift/mask interleave
    "q_zorder_layout" -> {
      def binSum(v: String, cut: Int => String): String =
        (1 to 15).map(i => s"(CASE WHEN $v >= ${cut(i)} THEN 1 ELSE 0 END)")
          .mkString("(", " + ", ")")
      val bu = binSum("user_id", i => s"(ulo + (uhi - ulo + 1) * $i // 16)")
      val bv = binSum("value", i => s"(vlo + (vhi - vlo) * $i / 16.0)")
      val z = (0 until 4).flatMap { j =>
        Seq(s"((bu >> $j) & 1) * ${1L << (j * 2)}",
          s"((bv >> $j) & 1) * ${1L << (j * 2 + 1)}")
      }.mkString(" + ")
      s"""WITH st AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         |    min(value) AS vlo, max(value) AS vhi FROM events),
         |b AS (SELECT event_id, $bu AS bu, $bv AS bv
         |  FROM events CROSS JOIN st)
         |SELECT event_id, CAST($z AS BIGINT) AS zval
         |FROM b ORDER BY event_id""".stripMargin
    },
    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB's NATIVE ASOF LEFT JOIN is the oracle for the composed
    // union+window implementation — two independent constructions
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |errs AS (
        |  SELECT event_id AS err_id, user_id, ts AS err_ts, value AS err_value
        |  FROM events WHERE event_type = 'error'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT c.event_id, c.user_id, c.ts, c.value,
        |  e.err_id AS asof_err_id, e.err_value AS asof_err_value
        |FROM clicks c ASOF LEFT JOIN errs e
        |  ON c.user_id = e.user_id AND c.ts >= e.err_ts
        |ORDER BY c.event_id""".stripMargin,
    "q_range_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, date_trunc('minute', ts) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |errs AS (
        |  SELECT event_id AS err_id, user_id, date_trunc('minute', ts) AS err_ts
        |  FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.ts, c.value, e.err_id AS range_err_id
        |FROM clicks c JOIN errs e
        |  ON c.user_id = e.user_id
        |  AND c.ts >= e.err_ts AND c.ts <= e.err_ts + INTERVAL 14400 SECOND
        |ORDER BY c.event_id, range_err_id""".stripMargin,
    "t_text_profile" ->
      s"""WITH toks AS (
        |  SELECT doc_id, text, $tokensSql AS t FROM documents)
        |SELECT doc_id,
        |  len(t) AS n_tokens,
        |  CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) END AS distinct_ratio,
        |  CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |  CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) END AS stopword_ratio,
        |  CASE
        |    WHEN len(list_filter(['der','die','das','und','ist'], w -> list_contains(t, w))) = greatest(
        |      len(list_filter(['der','die','das','und','ist'], w -> list_contains(t, w))),
        |      len(list_filter(['the','and','of','is','a'], w -> list_contains(t, w))),
        |      len(list_filter(['el','la','los','es','y'], w -> list_contains(t, w))),
        |      len(list_filter(['le','la','les','est','et'], w -> list_contains(t, w))))
        |     AND greatest(
        |      len(list_filter(['der','die','das','und','ist'], w -> list_contains(t, w))),
        |      len(list_filter(['the','and','of','is','a'], w -> list_contains(t, w))),
        |      len(list_filter(['el','la','los','es','y'], w -> list_contains(t, w))),
        |      len(list_filter(['le','la','les','est','et'], w -> list_contains(t, w)))) > 0
        |    THEN 'de'
        |    WHEN len(list_filter(['the','and','of','is','a'], w -> list_contains(t, w))) = greatest(
        |      len(list_filter(['the','and','of','is','a'], w -> list_contains(t, w))),
        |      len(list_filter(['el','la','los','es','y'], w -> list_contains(t, w))),
        |      len(list_filter(['le','la','les','est','et'], w -> list_contains(t, w))))
        |     AND len(list_filter(['the','and','of','is','a'], w -> list_contains(t, w))) > 0
        |    THEN 'en'
        |    WHEN len(list_filter(['el','la','los','es','y'], w -> list_contains(t, w))) = greatest(
        |      len(list_filter(['el','la','los','es','y'], w -> list_contains(t, w))),
        |      len(list_filter(['le','la','les','est','et'], w -> list_contains(t, w))))
        |     AND len(list_filter(['el','la','los','es','y'], w -> list_contains(t, w))) > 0
        |    THEN 'es'
        |    WHEN len(list_filter(['le','la','les','est','et'], w -> list_contains(t, w))) > 0
        |    THEN 'fr'
        |    ELSE 'und'
        |  END AS lang_pred,
        |  md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS fingerprint
        |FROM toks ORDER BY doc_id""".stripMargin,
    "d_exact_dup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents),
        |fp AS (
        |  SELECT doc_id, md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS fp
        |  FROM all_docs)
        |SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM fp GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    "d_ngram_jaccard" -> allPairsJaccardOracleSql,
    // pinned count-join twin: the same all-pairs ground truth verifies
    // both exact engines (see the queries-map comment)
    "d_jaccard_countjoin" -> allPairsJaccardOracleSql,
    // bounded variant takes the exact path at gate scale (blocks ≤ 1000
    // docs), so the oracle is the same all-pairs SQL
    "d_ngram_jaccard_bounded" -> allPairsJaccardOracleSql,
    // the clustering fixpoint re-derived as a transitive closure: same
    // pair CTEs as d_ngram_jaccard, symmetric edges, recursive reachability,
    // cluster = min reachable id
    "d_dup_clusters" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, $tokensSql AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
        |SELECT id, cluster, count(*) OVER (PARTITION BY cluster) AS cluster_size
        |FROM cl ORDER BY cluster, id""".stripMargin,
    // the dedup decision: drop every clustered id except the cluster min
    "q_drop_near_dups" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, $tokensSql AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "s_embed_stats" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, b) -> a + b) AS ssum,
        |  sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS l2norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "s_cosine_adjacent" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
        |SELECT a.vec_id AS id_a,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(a.e)), i -> a.e[i+1] * b.e[i+1])), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.e, x -> x * x)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.e, x -> x * x)), (x, y) -> x + y))) AS cosine
        |FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
        |ORDER BY id_a""".stripMargin,
    "m_media_meta" ->
      """WITH h AS (
        |  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || ':' || text) AS hex FROM documents)
        |SELECT doc_id,
        |  320 + (((strpos('0123456789abcdef', hex[1]) - 1) * 16 + (strpos('0123456789abcdef', hex[2]) - 1)) % 5) * 160 AS width,
        |  240 + (((strpos('0123456789abcdef', hex[3]) - 1) * 16 + (strpos('0123456789abcdef', hex[4]) - 1)) % 5) * 120 AS height,
        |  3 AS n_channels, 'fake/rgb8' AS format
        |FROM h ORDER BY doc_id""".stripMargin,
    // regenerates pngBytes' pixel function ((seed*2654435761 + x*31 + y*17)
    // truncated to 24 bits), bins luminance exactly like imageHistogram
    "m_media_feature" ->
      """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS width, 2 + doc_id % 4 AS height
        |  FROM documents),
        |pix AS (
        |  SELECT d.doc_id,
        |    ((d.doc_id * 2654435761 + x.x * 31 + y.y * 17) % 16777216) AS rgb
        |  FROM dims d, generate_series(0, 6) AS x(x), generate_series(0, 4) AS y(y)
        |  WHERE x.x < d.width AND y.y < d.height),
        |bins AS (
        |  SELECT doc_id,
        |    ((((rgb // 65536) % 256) + ((rgb // 256) % 256) + (rgb % 256)) // 3) // 32 AS bin
        |  FROM pix),
        |counts AS (SELECT doc_id, bin, count(*) AS c FROM bins GROUP BY 1, 2),
        |filled AS (
        |  SELECT d.doc_id, d.width, d.height, g.b AS bin, COALESCE(c.c, 0) AS c
        |  FROM dims d CROSS JOIN generate_series(0, 7) AS g(b)
        |  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = g.b)
        |SELECT doc_id, width, height,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS hist
        |FROM filled GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // resized pixel (x,y) samples source (x*width//5, y*height//3) — the
    // deterministic source-pixel formula evaluated at the sampled coords
    "m_media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 2 + doc_id % 6 AS width, 2 + doc_id % 4 AS height
        |  FROM documents),
        |pix AS (
        |  SELECT d.doc_id,
        |    ((d.doc_id * 2654435761 + ((x.x * d.width) // 5) * 31
        |      + ((y.y * d.height) // 3) * 17) % 16777216) AS rgb
        |  FROM dims d, generate_series(0, 4) AS x(x), generate_series(0, 2) AS y(y)),
        |bins AS (
        |  SELECT doc_id,
        |    ((((rgb // 65536) % 256) + ((rgb // 256) % 256) + (rgb % 256)) // 3) // 32 AS bin
        |  FROM pix),
        |counts AS (SELECT doc_id, bin, count(*) AS c FROM bins GROUP BY 1, 2),
        |filled AS (
        |  SELECT d.doc_id, d.width AS src_width, d.height AS src_height,
        |    g.b AS bin, COALESCE(c.c, 0) AS c
        |  FROM dims d CROSS JOIN generate_series(0, 7) AS g(b)
        |  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = g.b)
        |SELECT doc_id, src_width, src_height,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS hist
        |FROM filled GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // fixed series + filter: DuckDB 1.0 lacks lateral column params in
    // generate_series; stepping from 0 then filtering < n is identical
    "m_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, 24 + (doc_id % 2) * 6 AS fps, 1 + doc_id % 5 AS duration_s
        |  FROM documents)
        |SELECT doc_id, fps, duration_s, g.g AS frame_idx
        |FROM m, generate_series(0, 149, 7) AS g(g)
        |WHERE g.g < fps * duration_s
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        |lagged AS (
        |  SELECT user_id, ep,
        |    lag(ep) OVER (PARTITION BY user_id ORDER BY ep) AS prev
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR ep - prev > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM lagged GROUP BY user_id ORDER BY user_id""".stripMargin,
    // interval-join attribution: same-user purchase<-click pairs within
    // the 4-hour lookback; lag via the floor(epoch) idiom (Spark's
    // unix_timestamp truncates to seconds), interval bounds compared at
    // full microsecond precision on both engines
    "q_event_attribution" ->
      """SELECT p.event_id AS left_id, c.event_id AS right_id, p.user_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT) AS lag_s
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 14400 SECONDS
        |ORDER BY left_id, right_id""".stripMargin,
    "q_stream_window" ->
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d_embed_neardup" ->
      """WITH v AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.label AS bkt, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(a.e)), i -> a.e[i+1] * b.e[i+1])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.e, x -> x * x)), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.e, x -> x * x)), (x, y) -> x + y))) AS cosine
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cosine >= 0.2 ORDER BY bkt, id_a, id_b""".stripMargin,
    // the label-free variant re-derives the quantizer in SQL (modulo init,
    // one DECIMAL-exact Lloyd step, ties to the smaller cell — the
    // s_ivf_kmeans_topk machinery) and compares pairwise within cells
    "d_embed_neardup_cells" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings WHERE vec_id < 1500),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 16 AS INT) AS cell FROM v),
         |c1 AS (
         |  SELECT cell, list(m ORDER BY pos) AS c FROM (
         |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM a0)
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |a1 AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c1.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "c1.c")}), c1.cell) AS rn
         |    FROM v CROSS JOIN c1) WHERE rn = 1)
         |SELECT * FROM (
         |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${dot("a.e", "b.e")} / (${sq("a.e")} * ${sq("b.e")}) AS cosine
         |  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.2 ORDER BY cell, id_a, id_b""".stripMargin
    },
    // SemDeDup re-derived: the d_embed_neardup_cells CTE chain for the
    // pairs, then symmetric edges -> recursive transitive closure ->
    // cluster = min reachable id -> drop every clustered id except its
    // cluster's min (survivors = anti-join)
    "d_semdedup" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings WHERE vec_id < 1500),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 16 AS INT) AS cell FROM v),
         |c1 AS (
         |  SELECT cell, list(m ORDER BY pos) AS c FROM (
         |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM a0)
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |a1 AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c1.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "c1.c")}), c1.cell) AS rn
         |    FROM v CROSS JOIN c1) WHERE rn = 1),
         |prs AS (
         |  SELECT * FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      ${dot("a.e", "b.e")} / (${sq("a.e")} * ${sq("b.e")}) AS cosine
         |    FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |  WHERE cosine >= 0.2),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION SELECT id_b, id_a FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         |SELECT vec_id, label FROM v
         |WHERE vec_id NOT IN (SELECT id FROM cl WHERE id <> cluster)
         |ORDER BY vec_id""".stripMargin
    },
    // the scale-shaped variant: full table, 1024 cells, threshold 0.35 —
    // the same CTE chain with the slice filter and modulus swapped
    "d_semdedup_scale" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 1024 AS INT) AS cell FROM v),
         |c1 AS (
         |  SELECT cell, list(m ORDER BY pos) AS c FROM (
         |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM a0)
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |a1 AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c1.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "c1.c")}), c1.cell) AS rn
         |    FROM v CROSS JOIN c1) WHERE rn = 1),
         |prs AS (
         |  SELECT * FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      ${dot("a.e", "b.e")} / (${sq("a.e")} * ${sq("b.e")}) AS cosine
         |    FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |  WHERE cosine >= 0.35),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION SELECT id_b, id_a FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         |SELECT vec_id, label FROM v
         |WHERE vec_id NOT IN (SELECT id FROM cl WHERE id <> cluster)
         |ORDER BY vec_id""".stripMargin
    },
    // ExactSubstr re-derived: zip-unnested 8-token windows, per-gram count
    // + row_number in (doc, pos) order (rn=1 = the surviving occurrence),
    // removed starts per doc, coverage filter over token positions
    "d_exact_substr" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    unnest(range(len(t) - 8 + 1)) AS pos,
         |    unnest(list_transform(range(len(t) - 8 + 1), i ->
         |      array_to_string(t[i+1:i+8], ' '))) AS g
         |  FROM toks WHERE len(t) >= 8),
         |r AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY g) AS cnt,
         |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
         |  FROM w),
         |rem AS (
         |  SELECT doc_id, list(pos) AS starts FROM r
         |  WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id)
         |SELECT toks.doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CAST(CASE WHEN starts IS NULL THEN len(t)
         |    ELSE len(list_filter(range(len(t)), i ->
         |      len(list_filter(starts, s -> i >= s AND i < s + 8)) = 0))
         |    END AS INT) AS n_tokens_kept,
         |  CASE WHEN starts IS NULL THEN array_to_string(t, ' ')
         |    ELSE array_to_string(list_transform(
         |      list_filter(range(len(t)), i ->
         |        len(list_filter(starts, s -> i >= s AND i < s + 8)) = 0),
         |      i -> t[CAST(i + 1 AS INT)]), ' ')
         |    END AS text_dedup
         |FROM toks LEFT JOIN rem USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // any-length spans re-derived: same planted-repeat corpus, 6-token
    // windows with per-gram count + (doc,pos) row_number (rn=1 = the
    // keeper), removed starts per doc; the SPAN SET replays as
    // gaps-and-islands over the covered-position union (pos - rank
    // grouping), string_agg'd in span order — pins the maximal-interval
    // merge (nested tails, the doubled tail's adjacency, the 4-token
    // sub-span staying intact) exactly
    "d_repeat_spans_any" ->
      s"""WITH docs AS (SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 1 THEN text ||
         |        ' alpha beta gamma delta epsilon zeta eta theta'
         |      WHEN doc_id % 11 = 2 THEN text ||
         |        ' alpha beta gamma delta epsilon zeta eta theta' ||
         |        ' iota kappa lambda'
         |      WHEN doc_id % 11 = 3 THEN text ||
         |        ' alpha beta gamma delta epsilon zeta eta theta' ||
         |        ' alpha beta gamma delta epsilon zeta eta theta'
         |      WHEN doc_id % 11 = 4 THEN 'alpha beta gamma delta ' || text
         |      ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, $tokensSql AS t FROM docs),
         |w AS (
         |  SELECT doc_id,
         |    unnest(range(len(t) - 6 + 1)) AS pos,
         |    unnest(list_transform(range(len(t) - 6 + 1), i ->
         |      array_to_string(t[i+1:i+6], ' '))) AS g
         |  FROM toks WHERE len(t) >= 6),
         |r AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY g) AS cnt,
         |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
         |  FROM w),
         |rem AS (
         |  SELECT doc_id, list(pos) AS starts FROM r
         |  WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id),
         |cov AS (
         |  SELECT doc_id, unnest(list_sort(list_distinct(flatten(
         |    list_transform(starts, s -> range(s, s + 6)))))) AS p
         |  FROM rem),
         |isl AS (
         |  SELECT doc_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |  FROM cov),
         |sp AS (SELECT doc_id, min(p) AS s, max(p) AS e
         |  FROM isl GROUP BY doc_id, grp),
         |spa AS (SELECT doc_id,
         |    CAST(count(*) AS INT) AS n_spans,
         |    string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR),
         |      ',' ORDER BY s) AS spans
         |  FROM sp GROUP BY doc_id)
         |SELECT toks.doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CAST(CASE WHEN starts IS NULL THEN len(t)
         |    ELSE len(list_filter(range(len(t)), i ->
         |      len(list_filter(starts, s -> i >= s AND i < s + 6)) = 0))
         |    END AS INT) AS n_tokens_kept,
         |  coalesce(n_spans, 0) AS n_spans, spans,
         |  CASE WHEN starts IS NULL THEN nullif(array_to_string(t, ' '), '')
         |    ELSE nullif(array_to_string(list_transform(
         |      list_filter(range(len(t)), i ->
         |        len(list_filter(starts, s -> i >= s AND i < s + 6)) = 0),
         |      i -> t[CAST(i + 1 AS INT)]), ' '), '')
         |    END AS text_dedup
         |FROM toks LEFT JOIN rem USING (doc_id) LEFT JOIN spa USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // multi-probe variant: assignment keeps rn <= 2 (each vector in its two
    // best cells — the NearestCellsTopKExpr ranking: descending dot,
    // ascending cell), pairs deduped to min(cell) across shared cells
    "d_embed_neardup_probes" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings WHERE vec_id < 1500),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 16 AS INT) AS cell FROM v),
         |c1 AS (
         |  SELECT cell, list(m ORDER BY pos) AS c FROM (
         |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM a0)
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |a1 AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c1.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "c1.c")}), c1.cell) AS rn
         |    FROM v CROSS JOIN c1) WHERE rn <= 2),
         |p AS (
         |  SELECT * FROM (
         |    SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |      ${dot("a.e", "b.e")} / (${sq("a.e")} * ${sq("b.e")}) AS cosine
         |    FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |  WHERE cosine >= 0.2)
         |SELECT cell, id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b, min(cell) AS cell, max(cosine) AS cosine
         |  FROM p GROUP BY id_a, id_b)
         |ORDER BY cell, id_a, id_b""".stripMargin
    },
    // the 1024-cell multi-probe pipeline re-derived at full IVF size: the
    // same CTE chain as d_embed_neardup_probes with 1024 modulo-init cells
    // over the whole table (empty cells drop out of the centroid aggregate
    // on both sides)
    "d_cells1024_probe2" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 1024 AS INT) AS cell FROM v),
         |c1 AS (
         |  SELECT cell, list(m ORDER BY pos) AS c FROM (
         |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
         |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM a0)
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |a1 AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c1.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "c1.c")}), c1.cell) AS rn
         |    FROM v CROSS JOIN c1) WHERE rn <= 2),
         |p AS (
         |  SELECT * FROM (
         |    SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |      ${dot("a.e", "b.e")} / (${sq("a.e")} * ${sq("b.e")}) AS cosine
         |    FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |  WHERE cosine >= 0.35)
         |SELECT cell, id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b, min(cell) AS cell, max(cosine) AS cosine
         |  FROM p GROUP BY id_a, id_b)
         |ORDER BY cell, id_a, id_b""".stripMargin
    },
    "t_term_stats" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents)
        |SELECT token, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_freq
        |FROM toks GROUP BY token ORDER BY token""".stripMargin,
    // sparse TF-IDF cosine pairs re-derived: trigram shingles (same CASE
    // as the Jaccard oracles), tf + df, integer-quantized idf with the
    // df<=50 AND df<N stop-term prune, BIGINT weights/dots/norms, the one
    // double division from exact integers, raw-cosine threshold, 9-dp
    "s_tfidf_pairs" ->
      s"""WITH toksq AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |      ELSE [array_to_string(t, ' ')] END) AS term
        |  FROM toksq),
        |nd AS (SELECT count(*) AS n FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfreq FROM tfq GROUP BY 1),
        |keep AS (SELECT term,
        |    CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(dfreq AS DOUBLE)) * 1000000) AS BIGINT) AS idfq
        |  FROM dfq WHERE dfreq <= 50 AND dfreq < (SELECT n FROM nd)),
        |w AS (SELECT doc_id, tfq.term, tf * idfq AS w
        |  FROM tfq JOIN keep ON tfq.term = keep.term),
        |norms AS (SELECT doc_id, sum(w * w) AS ssq FROM w GROUP BY 1),
        |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    sum(a.w * b.w) AS dot, count(*) AS n_common
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common, round(cosine, 9) AS cosine FROM (
        |  SELECT id_a, id_b, n_common,
        |    CAST(dot AS DOUBLE) / sqrt(CAST(na.ssq AS DOUBLE) * CAST(nb.ssq AS DOUBLE)) AS cosine
        |  FROM dots
        |  JOIN norms na ON dots.id_a = na.doc_id
        |  JOIN norms nb ON dots.id_b = nb.doc_id)
        |WHERE cosine >= 0.04
        |ORDER BY id_a, id_b""".stripMargin,
    // BM25 re-derived: postings with carried doc length, query-restricted
    // document frequencies, the same fixed parenthesization per term,
    // DECIMAL(28,14) per-doc sums, rank by score desc / doc asc
    "t_bpe_train" -> s"WITH ${bpeOracleCtes(12, 1000)}",
    // the train-then-encode composition re-derived: the 12 BPE rounds
    // (chained CTEs, identical to t_bpe_train) yield the merge table,
    // whose merged symbols + letter fallbacks form the vocabulary for
    // the same greedy longest-match walk t_subword_tokenize pins
    "t_bpe_encode" ->
      s"""WITH RECURSIVE ${bpeChainCtes(12, 1000)},
        |toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
        |vocab AS (SELECT DISTINCT v FROM (
        |  SELECT merged AS v FROM bpem
        |  UNION ALL SELECT substr('abcdefghijklmnopqrstuvwxyz', CAST(i + 1 AS INT), 1)
        |    FROM range(26) t2(i))),
        |$subwordWalkCtes,
        |agg AS (SELECT i.doc_id, CAST(sum(seg.n) AS BIGINT) AS n_subwords,
        |    string_agg(seg.acc, ' ' ORDER BY i.widx) AS subword_text
        |  FROM inst i JOIN seg ON i.w = seg.w GROUP BY i.doc_id)
        |SELECT t.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
        |  coalesce(a.subword_text, '') AS subword_text
        |FROM toks t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "t_bm25_topk" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |stats AS (SELECT CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl,
        |    CAST(count(*) AS DOUBLE) AS n FROM toks),
        |post AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
        |  GROUP BY doc_id, dl, term),
        |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(t[1:5])) AS term
        |  FROM toks WHERE doc_id % 100 = 0),
        |dfc AS (SELECT term, count(*) AS dfreq FROM post
        |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
        |scored AS (
        |  SELECT qt.q_id, post.doc_id,
        |    CAST(sum(CAST(
        |      ln((n - CAST(dfreq AS DOUBLE) + 0.5) / (CAST(dfreq AS DOUBLE) + 0.5) + 1.0)
        |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
        |    AS DECIMAL(28,14))) AS DOUBLE) AS score
        |  FROM qt JOIN post ON post.term = qt.term
        |  JOIN dfc ON dfc.term = qt.term
        |  CROSS JOIN stats
        |  GROUP BY qt.q_id, post.doc_id)
        |SELECT q_id, rank, doc_id, ROUND(score, 9) AS score FROM (
        |  SELECT q_id, doc_id, score,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // chunking re-derived: same integer chunk-count formula, 1-based list
    // slices, least-capped tail length
    "t_chunk_docs" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |meta AS (SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) = 0 THEN 0
        |         WHEN len(t) <= 32 THEN 1
        |         ELSE (len(t) - 32 + 23) // 24 + 1 END AS nc
        |  FROM toks),
        |chunks AS (SELECT doc_id, t, n, unnest(range(nc)) AS chunk_id FROM meta)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  array_to_string(t[CAST(chunk_id * 24 + 1 AS INT) : CAST(least(chunk_id * 24 + 32, n) AS INT)], ' ') AS chunk_text,
        |  CAST(least(32, n - chunk_id * 24) AS INT) AS n_chunk_tokens
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
    // packing re-derived: the one-task global-cumsum form (fine at oracle
    // scale), integer floor-division sequence ranges, 1-based list slices
    "t_pack_sequences" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |c AS (SELECT doc_id, t, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS ce FROM nz),
        |s AS (SELECT doc_id, t, n, ce - n AS cs, ce FROM c),
        |x AS (SELECT doc_id, t, cs, ce,
        |    unnest(range(cs // 512, (ce - 1) // 512 + 1)) AS seq_id FROM s),
        |p AS (SELECT doc_id, t, cs, ce, seq_id,
        |    greatest(cs, seq_id * 512) AS ps,
        |    least(ce, (seq_id + 1) * 512) AS pe FROM x)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(ps - seq_id * 512 AS INT) AS seq_offset,
        |  CAST(ps - cs AS INT) AS doc_offset,
        |  CAST(pe - ps AS INT) AS piece_tokens,
        |  array_to_string(t[CAST(ps - cs + 1 AS INT) : CAST(pe - cs AS INT)], ' ') AS piece_text
        |FROM p ORDER BY seq_id, doc_id""".stripMargin,
    // the bigram LM re-derived: reference bigram/context counts, vocabulary
    // scalar, per-instance add-k log-probs with the same parenthesization,
    // DECIMAL per-doc sums, left join keeping <2-token docs at 0 bigrams
    "t_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |rt AS (SELECT t FROM toks WHERE doc_id % 10 = 0),
        |vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
        |  FROM (SELECT unnest(t) AS w FROM rt)),
        |rbg AS (SELECT bg, count(*) AS cnt2 FROM (
        |    SELECT unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS bg
        |    FROM rt WHERE len(t) >= 2) GROUP BY bg),
        |rctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cnt2) AS ctx
        |  FROM rbg GROUP BY 1),
        |inst AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS bg
        |    FROM toks WHERE len(t) >= 2)),
        |scored AS (
        |  SELECT i.doc_id,
        |    ln((CAST(coalesce(rbg.cnt2, 0) AS DOUBLE) + 0.5) /
        |       (CAST(coalesce(rctx.ctx, 0) AS DOUBLE) + 0.5 * (v + 1.0))) AS logp
        |  FROM inst i LEFT JOIN rbg ON i.bg = rbg.bg
        |  LEFT JOIN rctx ON i.w1 = rctx.w1
        |  CROSS JOIN vocab),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(logp AS DECIMAL(28,14))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS lm
        |  FROM scored GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
        |  ROUND(agg.lm, 9) AS lm_logprob
        |FROM toks t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the NB classifier re-derived: class token counts, joint vocabulary,
    // identical (cnt + k) / (N + k(V+1)) parenthesization, per-instance
    // DECIMAL(28,14) quantization of the ln difference, unseen constant
    "t_nb_quality" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
        |pc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(t) AS w FROM toks WHERE source = 'src0') GROUP BY w),
        |nc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(t) AS w FROM toks WHERE source = 'src1') GROUP BY w),
        |st AS (SELECT
        |    CAST((SELECT coalesce(sum(c), 0) FROM pc) AS DOUBLE) AS np,
        |    CAST((SELECT coalesce(sum(c), 0) FROM nc) AS DOUBLE) AS nn,
        |    CAST((SELECT count(*) FROM (SELECT w FROM pc UNION SELECT w FROM nc)) AS DOUBLE) AS v),
        |lo AS (SELECT u.w,
        |    ln((CAST(coalesce(pc.c, 0) AS DOUBLE) + 0.5) / (np + 0.5 * (v + 1.0))) -
        |    ln((CAST(coalesce(nc.c, 0) AS DOUBLE) + 0.5) / (nn + 0.5 * (v + 1.0))) AS lo
        |  FROM (SELECT w FROM pc UNION SELECT w FROM nc) u
        |  LEFT JOIN pc ON u.w = pc.w LEFT JOIN nc ON u.w = nc.w
        |  CROSS JOIN st),
        |unseen AS (SELECT
        |    ln(0.5 / (np + 0.5 * (v + 1.0))) -
        |    ln(0.5 / (nn + 0.5 * (v + 1.0))) AS lo FROM st),
        |inst AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |scored AS (SELECT i.doc_id,
        |    coalesce(lo.lo, (SELECT lo FROM unseen)) AS lo
        |  FROM inst i LEFT JOIN lo ON i.w = lo.w),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CAST(lo AS DECIMAL(28,14))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE) AS s
        |  FROM scored GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.n_tokens, 0) AS n_tokens,
        |  ROUND(agg.s, 9) AS nb_logodds
        |FROM toks t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the repetition metrics re-derived: per-doc gram counts via unnest,
    // integer-ratio coverages, the same least-capped doubles and keep rule
    "t_repetition_filter" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |base AS (SELECT doc_id, len(t) AS n, t FROM toks),
        |ug AS (SELECT doc_id, max(c) AS ug_max FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(t) AS g FROM base) GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |bg AS (SELECT doc_id, max(c) AS bg_max,
        |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS bg_dup FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS g
        |      FROM base WHERE len(t) >= 2) GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, n AS n_tokens,
        |  CASE WHEN n > 0 THEN CAST(coalesce(ug_max, 0) AS DOUBLE) / n ELSE 0.0 END AS top_unigram_frac,
        |  least(CAST(1.0 AS DOUBLE), CASE WHEN n > 0 THEN CAST(coalesce(bg_max, 0) * 2 AS DOUBLE) / n ELSE 0.0 END) AS top_bigram_frac,
        |  least(CAST(1.0 AS DOUBLE), CASE WHEN n > 0 THEN CAST(coalesce(bg_dup, 0) * 2 AS DOUBLE) / n ELSE 0.0 END) AS dup_bigram_frac,
        |  (CASE WHEN n > 0 THEN CAST(coalesce(ug_max, 0) AS DOUBLE) / n ELSE 0.0 END) <= CAST(0.09 AS DOUBLE)
        |    AND least(CAST(1.0 AS DOUBLE), CASE WHEN n > 0 THEN CAST(coalesce(bg_dup, 0) * 2 AS DOUBLE) / n ELSE 0.0 END) <= CAST(0.2 AS DOUBLE) AS keep
        |FROM base b LEFT JOIN ug USING (doc_id) LEFT JOIN bg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t_token_freq_score" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
        |tf AS (SELECT token, count(*) AS total_freq FROM toks GROUP BY token)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(tf.total_freq) AS DOUBLE) / count(*) AS mean_tok_freq
        |FROM toks t JOIN tf ON t.token = tf.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // stratified sampling re-derived: same md5 bucket, per-source rate
    // thresholds
    "q_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('graft:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) % 10000 AS b
        |  FROM documents)
        |WHERE b < CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 0
        |  WHEN 'src2' THEN 10000 ELSE 5000 END
        |ORDER BY doc_id""".stripMargin,
    // hybrid dedup re-derived: both detectors' pair CTEs (the
    // q_drop_near_dups gram-Jaccard chain + the d_embed_neardup cosine
    // chain), tagged union, recursive transitive closure, min-id cluster,
    // per-signal incident-edge counts
    "q_hybrid_dedup" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, $tokensSql AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |tpairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.05),
        |v AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |spairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(a.e)), i -> a.e[i+1] * b.e[i+1])), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.e, x -> x * x)), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.e, x -> x * x)), (x, y) -> x + y))) AS cosine
        |    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |  WHERE cosine >= 0.2),
        |tagged AS (
        |  SELECT id_a, id_b, 'text' AS sig FROM tpairs
        |  UNION ALL SELECT id_a, id_b, 'semantic' FROM spairs),
        |uedges AS (SELECT DISTINCT id_a, id_b FROM tagged),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM uedges
        |  UNION SELECT id_b, id_a FROM uedges),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |clus AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |perid AS (SELECT id,
        |    CAST(sum(CASE WHEN sig = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text_edges,
        |    CAST(sum(CASE WHEN sig = 'semantic' THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_edges
        |  FROM (SELECT id_a AS id, sig FROM tagged
        |    UNION ALL SELECT id_b, sig FROM tagged) GROUP BY id)
        |SELECT c.cluster, c.id,
        |  count(*) OVER (PARTITION BY c.cluster) AS cluster_size,
        |  p.n_text_edges, p.n_sem_edges
        |FROM clus c JOIN perid p USING (id)
        |ORDER BY cluster, id""".stripMargin,
    // unicode canonicalization: same decomposed-suffix construction via
    // chr(), utf8proc nfc_normalize + the same control-strip regex ('g'
    // flag: DuckDB replaces first match only by default), md5 of the
    // normalized bytes — byte-for-byte parity with Java's Normalizer
    "t_unicode_nfc" ->
      """SELECT doc_id, len(raw) AS n_raw, len(c) AS n_clean, md5(c) AS h
        |FROM (SELECT doc_id, raw,
        |    regexp_replace(nfc_normalize(raw),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS c
        |  FROM (SELECT doc_id,
        |      text || ' caf' || chr(101) || chr(769) || chr(7) AS raw
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,
    // JSON prop extraction re-derived with the regex equivalent for this
    // payload shape ({"k": N}) — the gate compares VALUES, not parsers;
    // a row whose props lacks a numeric k counts as missing on both sides
    "q_json_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(sum(v) AS BIGINT) AS sum_v, min(v) AS min_v, max(v) AS max_v
        |FROM (SELECT event_type,
        |    CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS v
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // epoch upsampling re-derived: same md5 fold, full copies via
    // unnest(range(nfull + frac-survival)), epoch index from the range
    "q_epoch_upsample" ->
      """SELECT doc_id, source, CAST(unnest(range(n)) AS INT) AS epoch FROM (
        |  SELECT doc_id, source,
        |    (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 1 ELSE 1 END)
        |    + (CASE WHEN
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('graft:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |          (acc, d) -> acc * 16 + d) % 10000
        |        < CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 4000 WHEN 'src2' THEN 0 ELSE 5000 END
        |      THEN 1 ELSE 0 END) AS n
        |  FROM documents)
        |WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin,
    // per-row split assignment re-derived: the same 60-bit md5 fold the
    // dedup oracles use, mod 10000, CASE over the cumulative thresholds
    // token-budget sampling re-derived with the same 60-bit md5 integer
    // ('budget:' salt), the per-stratum cumsum as a plain window (fine at
    // oracle scale — the one-task form the Spark plan avoids), inclusive
    // whole-doc budget test
    "q_token_budget" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len($tokensSql) AS INT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('budget:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE source WHEN 'src0' THEN 700
        |                                WHEN 'src1' THEN 0 ELSE 900 END
        |ORDER BY doc_id""".stripMargin,
    // the temperature mix re-derived: per-source sqrt(token count)
    // weights, ordered-fold denominator (ascending source — the exact
    // fold order the Scala side uses, so the doubles are bit-identical),
    // floored budgets, then the q_token_budget cumsum discipline
    "q_temperature_mix" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len($tokensSql) AS INT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('budget:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) AS h
        |  FROM documents),
        |w AS (SELECT source, sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS wt
        |  FROM t GROUP BY source),
        |den AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(wt ORDER BY source)), (a, b) -> a + b) AS den FROM w),
        |b AS (SELECT source, CAST(floor(2000 * (wt / den.den)) AS BIGINT) AS budget
        |  FROM w CROSS JOIN den),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
        |FROM c JOIN b ON c.source = b.source
        |WHERE c.cum_tokens <= b.budget
        |ORDER BY c.doc_id""".stripMargin,
    // the contamination matrix re-derived: the shared winnowing CTE chain
    // over documents + the planted slice, distinct (source, fp), pairwise
    // shared counts, complete pair grid with zero fill
    "t_overlap_matrix" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text, 'planted' AS source
        |  FROM documents WHERE doc_id < 40),
        |${winnowSelCtes("o", "all_docs")},
        |sf AS (SELECT DISTINCT d.source, o.fp
        |  FROM osel o JOIN all_docs d ON o.doc_id = d.doc_id),
        |tot AS (SELECT source, count(*) AS n_fps FROM sf GROUP BY source),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS shared_fps
        |  FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY a.source, b.source),
        |pairs AS (SELECT ta.source AS source_a, tb.source AS source_b,
        |    ta.n_fps AS fps_a, tb.n_fps AS fps_b
        |  FROM tot ta, tot tb WHERE ta.source < tb.source)
        |SELECT p.source_a, p.source_b,
        |  coalesce(sh.shared_fps, 0) AS shared_fps, p.fps_a, p.fps_b,
        |  CAST(coalesce(sh.shared_fps, 0) AS DOUBLE) /
        |    CAST(p.fps_a + p.fps_b - coalesce(sh.shared_fps, 0) AS DOUBLE) AS jaccard
        |FROM pairs p LEFT JOIN sh
        |  ON p.source_a = sh.source_a AND p.source_b = sh.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin,
    // the composed training-mix re-derived end to end: span-dedup CTEs
    // (kept as token LISTS — join/split roundtrips exactly since tokens
    // are nonempty and space-free), NB filter CTEs over the deduped
    // slices, per-source budget cumsum in md5 order ('budget:' salt),
    // global pack cumsum + piece explode
    "q_training_mix" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(range(len(t) - 8 + 1)) AS pos,
        |    unnest(list_transform(range(len(t) - 8 + 1), i ->
        |      array_to_string(t[i+1:i+8], ' '))) AS g
        |  FROM toks WHERE len(t) >= 8),
        |r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM w),
        |rem AS (SELECT doc_id, list(pos) AS starts FROM r
        |  WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id),
        |es AS (SELECT toks.doc_id, source,
        |    CASE WHEN starts IS NULL THEN t
        |      ELSE list_transform(list_filter(range(len(t)), i ->
        |        len(list_filter(starts, s -> i >= s AND i < s + 8)) = 0),
        |        i -> t[CAST(i + 1 AS INT)]) END AS t2
        |  FROM toks LEFT JOIN rem USING (doc_id)),
        |nz AS (SELECT * FROM es WHERE len(t2) > 0),
        |pc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(t2) AS w FROM nz WHERE source = 'src0') GROUP BY w),
        |nc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(t2) AS w FROM nz WHERE source = 'src1') GROUP BY w),
        |st AS (SELECT
        |    CAST((SELECT coalesce(sum(c), 0) FROM pc) AS DOUBLE) AS np,
        |    CAST((SELECT coalesce(sum(c), 0) FROM nc) AS DOUBLE) AS nn,
        |    CAST((SELECT count(*) FROM (SELECT w FROM pc UNION SELECT w FROM nc)) AS DOUBLE) AS v),
        |lo AS (SELECT u.w,
        |    ln((CAST(coalesce(pc.c, 0) AS DOUBLE) + 0.5) / (np + 0.5 * (v + 1.0))) -
        |    ln((CAST(coalesce(nc.c, 0) AS DOUBLE) + 0.5) / (nn + 0.5 * (v + 1.0))) AS lo
        |  FROM (SELECT w FROM pc UNION SELECT w FROM nc) u
        |  LEFT JOIN pc ON u.w = pc.w LEFT JOIN nc ON u.w = nc.w
        |  CROSS JOIN st),
        |un AS (SELECT ln(0.5 / (np + 0.5 * (v + 1.0))) -
        |    ln(0.5 / (nn + 0.5 * (v + 1.0))) AS lo FROM st),
        |inst AS (SELECT doc_id, unnest(t2) AS w FROM nz),
        |sc AS (SELECT i.doc_id, coalesce(lo.lo, (SELECT lo FROM un)) AS lo
        |  FROM inst i LEFT JOIN lo ON i.w = lo.w),
        |nbagg AS (SELECT doc_id,
        |    CAST(sum(CAST(lo AS DECIMAL(28,14))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE) AS s
        |  FROM sc GROUP BY doc_id),
        |keep AS (SELECT nz.doc_id, nz.source, nz.t2
        |  FROM nz JOIN nbagg USING (doc_id) WHERE nbagg.s >= -0.02),
        |hh AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('budget:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) AS h
        |  FROM keep),
        |cb AS (SELECT k.doc_id, k.source, k.t2,
        |    CAST(sum(len(k.t2)) OVER (PARTITION BY k.source ORDER BY hh.h, k.doc_id) AS BIGINT) AS cum
        |  FROM keep k JOIN hh USING (doc_id)),
        |mix AS (SELECT doc_id, t2 FROM cb
        |  WHERE cum <= CASE source WHEN 'src2' THEN 300
        |                           WHEN 'src3' THEN 0 ELSE 600 END),
        |pz AS (SELECT doc_id, t2 AS t, len(t2) AS n FROM mix WHERE len(t2) > 0),
        |pcum AS (SELECT doc_id, t, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS ce FROM pz),
        |ps AS (SELECT doc_id, t, n, ce - n AS cs, ce FROM pcum),
        |px AS (SELECT doc_id, t, cs, ce,
        |    unnest(range(cs // 128, (ce - 1) // 128 + 1)) AS seq_id FROM ps),
        |pp AS (SELECT doc_id, t, cs, ce, seq_id,
        |    greatest(cs, seq_id * 128) AS p0,
        |    least(ce, (seq_id + 1) * 128) AS pe FROM px)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(p0 - seq_id * 128 AS INT) AS seq_offset,
        |  CAST(p0 - cs AS INT) AS doc_offset,
        |  CAST(pe - p0 AS INT) AS piece_tokens,
        |  array_to_string(t[CAST(p0 - cs + 1 AS INT) : CAST(pe - cs AS INT)], ' ') AS piece_text
        |FROM pp ORDER BY seq_id, doc_id""".stripMargin,
    // importance resampling re-derived: the NB log-odds CTEs with a SUM
    // per doc, the same 60-bit md5 fold ('dsir:' salt) → uniform →
    // Gumbel, ORDER BY key DESC LIMIT 200, re-sorted by doc_id
    "q_importance_resample" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
        |pc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(t) AS w FROM toks WHERE source = 'src0') GROUP BY w),
        |nc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(t) AS w FROM toks WHERE source = 'src1') GROUP BY w),
        |st AS (SELECT
        |    CAST((SELECT coalesce(sum(c), 0) FROM pc) AS DOUBLE) AS np,
        |    CAST((SELECT coalesce(sum(c), 0) FROM nc) AS DOUBLE) AS nn,
        |    CAST((SELECT count(*) FROM (SELECT w FROM pc UNION SELECT w FROM nc)) AS DOUBLE) AS v),
        |lo AS (SELECT u.w,
        |    ln((CAST(coalesce(pc.c, 0) AS DOUBLE) + 0.5) / (np + 0.5 * (v + 1.0))) -
        |    ln((CAST(coalesce(nc.c, 0) AS DOUBLE) + 0.5) / (nn + 0.5 * (v + 1.0))) AS lo
        |  FROM (SELECT w FROM pc UNION SELECT w FROM nc) u
        |  LEFT JOIN pc ON u.w = pc.w LEFT JOIN nc ON u.w = nc.w
        |  CROSS JOIN st),
        |unseen AS (SELECT
        |    ln(0.5 / (np + 0.5 * (v + 1.0))) -
        |    ln(0.5 / (nn + 0.5 * (v + 1.0))) AS lo FROM st),
        |inst AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |scored AS (SELECT i.doc_id,
        |    coalesce(lo.lo, (SELECT lo FROM unseen)) AS lo
        |  FROM inst i LEFT JOIN lo ON i.w = lo.w),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CAST(lo AS DECIMAL(28,14))) AS DOUBLE) AS w
        |  FROM scored GROUP BY doc_id),
        |h AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) AS h
        |  FROM documents),
        |keyed AS (SELECT t.doc_id,
        |    CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
        |    coalesce(agg.w, 0.0) AS logratio,
        |    coalesce(agg.w, 0.0) -
        |      ln(-ln((CAST(h.h AS DOUBLE) + 1.0) / 1152921504606846977.0)) AS gumbel_key
        |  FROM toks t LEFT JOIN agg USING (doc_id) JOIN h USING (doc_id)),
        |top AS (SELECT * FROM keyed
        |  ORDER BY ROUND(gumbel_key, 9) DESC, doc_id LIMIT 200)
        |SELECT doc_id, n_tokens, ROUND(logratio, 9) AS logratio,
        |  ROUND(gumbel_key, 9) AS gumbel_key
        |FROM top ORDER BY doc_id""".stripMargin,
    // shuffle-sharding re-derived: shard = the same 60-bit md5 integer
    // ('shuffle:' salt) mod 8, position = row_number in (h, id) order - 1
    "q_shuffle_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS INT) AS shard_pos
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_split_assign" ->
      """SELECT doc_id, b AS split_bucket,
        |  CASE WHEN b < 9800 THEN 'train'
        |       WHEN b < 9900 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('graft:' || CAST(doc_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
        |      (acc, d) -> acc * 16 + d) % 10000 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // the same plant + redaction cascade in RE2 syntax ('g' = replace all,
    // Spark's default)
    "t_redact_pii" ->
      """WITH planted AS (
        |  SELECT doc_id, concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |    '@example.com or +1 555 01', lpad(CAST(doc_id AS VARCHAR), 4, '0'),
        |    ' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 ref 9',
        |    lpad(CAST(doc_id AS VARCHAR), 9, '0')) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d() -]{6,}\d', '<PHONE>', 'g'),
        |    '\b\d{9,}\b', '<ID>', 'g') AS redacted
        |FROM planted ORDER BY doc_id""".stripMargin,
    // winnowing re-derived in SQL: per-position Horner base-31 gram hashes
    // (same residues as the kernel's rolling recurrence), sliding window-
    // of-16 minima via a frame window function (partial frame at the end
    // covers the m <= w single-fingerprint case), distinct per doc, hot-
    // fingerprint cap, inverted-index pair counts
    "t_winnow_overlap" ->
      s"""WITH ${winnowSelCtes("", "documents")},
        |capped AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS c FROM sel) WHERE c <= 50),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // decontamination: corpus + eval fingerprint CTEs (same winnow chain),
    // shared-count >= 3 per corpus doc against the eval set, anti-join
    "q_decontaminate" ->
      s"""WITH ${winnowSelCtes("c", "documents")},
        |${winnowSelCtes("e", "(SELECT * FROM documents WHERE doc_id % 50 = 0)")},
        |contaminated AS (
        |  SELECT c.doc_id FROM csel c
        |  JOIN (SELECT DISTINCT fp FROM esel) e ON c.fp = e.fp
        |  GROUP BY c.doc_id HAVING count(*) >= 3)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,
    // the Bloom route is exact (prefilter has no false negatives, the
    // verify join kills false positives), so its oracle is the same
    // winnow-chain anti-join — only the parameters differ
    "q_decon_bloom" ->
      s"""WITH ${winnowSelCtes("c", "documents")},
        |${winnowSelCtes("e", "(SELECT * FROM documents WHERE doc_id % 37 = 0)")},
        |contaminated AS (
        |  SELECT c.doc_id FROM csel c
        |  JOIN (SELECT DISTINCT fp FROM esel) e ON c.fp = e.fp
        |  GROUP BY c.doc_id HAVING count(*) >= 2)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,
    // the SRP pipeline re-derived in SQL: per-bit centered-residue
    // hyperplane dots (exact BIGINT arithmetic, doubles folded in kernel
    // order), equal-width band extraction by integer div/mod, the same
    // bucket cap, pair dedup, and exact-cosine verify
    "d_embed_srp_lsh" -> {
      val nBits = 32
      val bands = 4
      val width = nBits / bands
      val seeds = graft.functions.TextHashExprs.affineSeeds(nBits)
      val p = graft.functions.TextHashExprs.AffineP
      val h = (p - 1L) / 2L
      val bitTerms = seeds.zipWithIndex.map { case ((a, b), k) =>
        s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(range(len(e)), j -> e[j+1] * CAST(($a * (j+1) + $b) % $p - $h AS DOUBLE))),
           |    (x, y) -> x + y) >= 0 THEN ${1L << k} ELSE 0 END""".stripMargin
      }.mkString("\n  + ")
      val bandRows = (0 until bands)
        .map(q => s"($q, ${1L << (q * width)})").mkString(", ")
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |sig AS (SELECT vec_id, $bitTerms AS sig FROM v),
         |bands AS (SELECT * FROM (VALUES $bandRows) AS t(q, d)),
         |keyed AS (
         |  SELECT s.vec_id, b.q, (s.sig // b.d) % ${1L << width} AS qkey
         |  FROM sig s CROSS JOIN bands b),
         |capped AS (
         |  SELECT vec_id, q, qkey FROM (
         |    SELECT vec_id, q, qkey, count(*) OVER (PARTITION BY q, qkey) AS bsz
         |    FROM keyed) WHERE bsz <= 200),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM capped a JOIN capped b ON a.q = b.q AND a.qkey = b.qkey
         |    AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT c.id_a, c.id_b,
         |    ${dot("va.e", "vb.e")} / (${sq("va.e")} * ${sq("vb.e")}) AS cosine
         |  FROM cand c
         |  JOIN v va ON va.vec_id = c.id_a
         |  JOIN v vb ON vb.vec_id = c.id_b)
         |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin
    },
    "s_cosine_topk" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(c.e)), i -> c.e[i+1] * q.e[i+1])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(c.e, x -> x * x)), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(q.e, x -> x * x)), (x, y) -> x + y))) AS sim
        |  FROM v c, q WHERE c.vec_id <> q.vec_id)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "s_ivf_kmeans_topk" -> {
      // the full deterministic pipeline re-derived in SQL: modulo init,
      // two Lloyd iterations with DECIMAL-exact means, nProbe cell
      // ranking, exact scoring within probed cells, top-k
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      def centroidsOf(src: String): String =
        s"""SELECT cell, list(m ORDER BY pos) AS c FROM (
           |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
           |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM $src)
           |    GROUP BY cell, pos)
           |  GROUP BY cell""".stripMargin
      def assignBy(cents: String): String =
        s"""SELECT vec_id, e, cell FROM (
           |    SELECT v.vec_id, v.e, $cents.cell,
           |      row_number() OVER (PARTITION BY v.vec_id
           |        ORDER BY -(${dot("v.e", s"$cents.c")}), $cents.cell) AS rn
           |    FROM v CROSS JOIN $cents) WHERE rn = 1""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 16 AS INT) AS cell FROM v),
         |c1 AS (${centroidsOf("a0")}),
         |a1 AS (${assignBy("c1")}),
         |c2 AS (${centroidsOf("a1")}),
         |a2 AS (${assignBy("c2")}),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20),
         |probes AS (
         |  SELECT q_id, qe, cell FROM (
         |    SELECT q.q_id, q.qe, c2.cell,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY -(${dot("q.qe", "c2.c")}), c2.cell) AS rn
         |    FROM q CROSS JOIN c2) WHERE rn <= 4),
         |scored AS (
         |  SELECT p.q_id, a2.vec_id AS n_id,
         |    ${dot("a2.e", "p.qe")} / (${sq("a2.e")} * ${sq("p.qe")}) AS sim
         |  FROM a2 JOIN probes p ON a2.cell = p.cell AND a2.vec_id <> p.q_id)
         |SELECT q_id, rank, n_id, sim FROM (
         |  SELECT q_id, n_id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    // recall@k re-derived end to end: the s_ivf_kmeans_topk CTE chain at
    // nProbe=1 for the approx side, the s_cosine_topk brute-force chain
    // for exact ground truth, hits counted on the (q_id, n_id) join
    "s_ann_recall" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      def centroidsOf(src: String): String =
        s"""SELECT cell, list(m ORDER BY pos) AS c FROM (
           |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
           |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM $src)
           |    GROUP BY cell, pos)
           |  GROUP BY cell""".stripMargin
      def assignBy(cents: String): String =
        s"""SELECT vec_id, e, cell FROM (
           |    SELECT v.vec_id, v.e, $cents.cell,
           |      row_number() OVER (PARTITION BY v.vec_id
           |        ORDER BY -(${dot("v.e", s"$cents.c")}), $cents.cell) AS rn
           |    FROM v CROSS JOIN $cents) WHERE rn = 1""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 16 AS INT) AS cell FROM v),
         |c1 AS (${centroidsOf("a0")}),
         |a1 AS (${assignBy("c1")}),
         |c2 AS (${centroidsOf("a1")}),
         |a2 AS (${assignBy("c2")}),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20),
         |probes AS (
         |  SELECT q_id, qe, cell FROM (
         |    SELECT q.q_id, q.qe, c2.cell,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY -(${dot("q.qe", "c2.c")}), c2.cell) AS rn
         |    FROM q CROSS JOIN c2) WHERE rn <= 1),
         |ascored AS (
         |  SELECT p.q_id, a2.vec_id AS n_id,
         |    ${dot("a2.e", "p.qe")} / (${sq("a2.e")} * ${sq("p.qe")}) AS sim
         |  FROM a2 JOIN probes p ON a2.cell = p.cell AND a2.vec_id <> p.q_id),
         |approx AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |    FROM ascored) WHERE rank <= 5),
         |escored AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dot("c.e", "q.qe")} / (${sq("c.e")} * ${sq("q.qe")}) AS sim
         |  FROM v c, q WHERE c.vec_id <> q.q_id),
         |exact AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |    FROM escored) WHERE rank <= 5),
         |hits AS (SELECT a.q_id, count(*) AS hits
         |  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
         |  GROUP BY a.q_id)
         |SELECT eq.q_id, coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) eq
         |LEFT JOIN hits h ON eq.q_id = h.q_id
         |ORDER BY eq.q_id""".stripMargin
    },
    // the cluster-balanced sample re-derived: one-Lloyd-step modulo-init
    // cells, md5('cluster:'||id) visit order, row_number per cell (= the
    // distributed running count), cap at 10
    "q_cluster_sample" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def centroidsOf(src: String): String =
        s"""SELECT cell, list(m ORDER BY pos) AS c FROM (
           |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
           |    FROM (SELECT cell, unnest(e) AS val, unnest(range(len(e))) AS pos FROM $src)
           |    GROUP BY cell, pos)
           |  GROUP BY cell""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 16 AS INT) AS cell FROM v),
         |c1 AS (${centroidsOf("a0")}),
         |a1 AS (SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, c1.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "c1.c")}), c1.cell) AS rn
         |    FROM v CROSS JOIN c1) WHERE rn = 1),
         |h AS (SELECT vec_id, cell,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('cluster:' || CAST(vec_id AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
         |      (acc, d) -> acc * 16 + d) AS h
         |  FROM a1),
         |r AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS cell_pos
         |  FROM h)
         |SELECT vec_id, cell, cell_pos FROM r WHERE cell_pos <= 10
         |ORDER BY cell, cell_pos""".stripMargin
    },
    // the PQ/ADC pipeline re-derived: per-subspace modulo-init centroids
    // (DECIMAL-exact means), dense position relabel, argmin codes, and the
    // two-term ADC score in subspace order
    "s_pq_adc_topk" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> ($a)[i+1] * ($b)[i+1])), (x, y) -> x + y)"
      def centroidsOf(src: String): String =
        s"""SELECT cell, list(m ORDER BY pos) AS c FROM (
           |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
           |    FROM (SELECT cell, unnest(sub) AS val, unnest(range(len(sub))) AS pos FROM $src)
           |    GROUP BY cell, pos)
           |  GROUP BY cell""".stripMargin
      def codesOf(s: String, b: String): String =
        s"""SELECT vec_id, pos AS code FROM (
           |    SELECT $s.vec_id, $b.pos,
           |      row_number() OVER (PARTITION BY $s.vec_id
           |        ORDER BY -(${dot(s"$s.sub", s"$b.c")}), $b.pos) AS rn
           |    FROM $s CROSS JOIN $b) WHERE rn = 1""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |s0 AS (SELECT vec_id, e[1:32] AS sub FROM v),
         |s1 AS (SELECT vec_id, e[33:64] AS sub FROM v),
         |a0 AS (SELECT vec_id, sub, CAST(vec_id % 8 AS INT) AS cell FROM s0),
         |a1 AS (SELECT vec_id, sub, CAST(vec_id % 8 AS INT) AS cell FROM s1),
         |c0 AS (${centroidsOf("a0")}),
         |c1 AS (${centroidsOf("a1")}),
         |b0 AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS pos, c FROM c0),
         |b1 AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS pos, c FROM c1),
         |k0 AS (${codesOf("s0", "b0")}),
         |k1 AS (${codesOf("s1", "b1")}),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20),
         |scored AS (
         |  SELECT q.q_id, k0.vec_id AS n_id,
         |    ${dot("q.qe[1:32]", "bb0.c")} + ${dot("q.qe[33:64]", "bb1.c")} AS score
         |  FROM q CROSS JOIN k0
         |  JOIN k1 ON k1.vec_id = k0.vec_id
         |  JOIN b0 bb0 ON bb0.pos = k0.code
         |  JOIN b1 bb1 ON bb1.pos = k1.code
         |  WHERE k0.vec_id <> q.q_id)
         |SELECT q_id, rank, n_id, ROUND(score, 9) AS score FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    // the composed IVF-PQ pipeline re-derived end to end: modulo-init
    // coarse centroids (one Lloyd step), argmin cell assignment, exact
    // residuals, per-subspace residual codebooks (modulo init, one step),
    // dense relabel, argmin codes, top-2 probe ranking, and the
    // cdot + LUT0 + LUT1 ADC score in that fold order
    "s_ivfpq_topk" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> ($a)[i+1] * ($b)[i+1])), (x, y) -> x + y)"
      def centroidsOf(src: String, vcol: String): String =
        s"""SELECT cell, list(m ORDER BY pos) AS c FROM (
           |    SELECT cell, pos, CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS m
           |    FROM (SELECT cell, unnest($vcol) AS val, unnest(range(len($vcol))) AS pos FROM $src)
           |    GROUP BY cell, pos)
           |  GROUP BY cell""".stripMargin
      def codesOf(s: String, b: String): String =
        s"""SELECT vec_id, pos AS code FROM (
           |    SELECT $s.vec_id, $b.pos,
           |      row_number() OVER (PARTITION BY $s.vec_id
           |        ORDER BY -(${dot(s"$s.sub", s"$b.c")}), $b.pos) AS rn
           |    FROM $s CROSS JOIN $b) WHERE rn = 1""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |a0 AS (SELECT vec_id, e, CAST(vec_id % 8 AS INT) AS cell FROM v),
         |cc AS (${centroidsOf("a0", "e")}),
         |a1 AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT v.vec_id, v.e, cc.cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY -(${dot("v.e", "cc.c")}), cc.cell) AS rn
         |    FROM v CROSS JOIN cc) WHERE rn = 1),
         |res AS (
         |  SELECT a1.vec_id, a1.cell,
         |    list_transform(range(len(a1.e)), i -> a1.e[i+1] - cc.c[i+1]) AS r
         |  FROM a1 JOIN cc ON cc.cell = a1.cell),
         |s0 AS (SELECT vec_id, r[1:32] AS sub FROM res),
         |s1 AS (SELECT vec_id, r[33:64] AS sub FROM res),
         |pa0 AS (SELECT vec_id, sub, CAST(vec_id % 8 AS INT) AS cell FROM s0),
         |pa1 AS (SELECT vec_id, sub, CAST(vec_id % 8 AS INT) AS cell FROM s1),
         |pc0 AS (${centroidsOf("pa0", "sub")}),
         |pc1 AS (${centroidsOf("pa1", "sub")}),
         |b0 AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS pos, c FROM pc0),
         |b1 AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS pos, c FROM pc1),
         |k0 AS (${codesOf("s0", "b0")}),
         |k1 AS (${codesOf("s1", "b1")}),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20),
         |probes AS (
         |  SELECT q_id, qe, cell, cd FROM (
         |    SELECT q.q_id, q.qe, cc.cell, ${dot("q.qe", "cc.c")} AS cd,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY -(${dot("q.qe", "cc.c")}), cc.cell) AS rn
         |    FROM q CROSS JOIN cc) WHERE rn <= 2),
         |scored AS (
         |  SELECT p.q_id, res.vec_id AS n_id,
         |    p.cd + ${dot("p.qe[1:32]", "bb0.c")} + ${dot("p.qe[33:64]", "bb1.c")} AS score
         |  FROM probes p
         |  JOIN res ON res.cell = p.cell AND res.vec_id <> p.q_id
         |  JOIN k0 ON k0.vec_id = res.vec_id
         |  JOIN k1 ON k1.vec_id = res.vec_id
         |  JOIN b0 bb0 ON bb0.pos = k0.code
         |  JOIN b1 bb1 ON bb1.pos = k1.code)
         |SELECT q_id, rank, n_id, ROUND(score, 9) AS score FROM (
         |  SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    "s_ivf_topk" ->
      """WITH v AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(c.e)), i -> c.e[i+1] * q.e[i+1])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(c.e, x -> x * x)), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(q.e, x -> x * x)), (x, y) -> x + y))) AS sim
        |  FROM v c JOIN q ON c.label = q.label AND c.vec_id <> q.vec_id)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // paragraph dedup re-derived: same plants, disjoint 16-token blocks,
    // count + row_number in (doc, block) order (rn=1 = the keeper),
    // survivors reassembled in block order
    "d_paragraph_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |    array_to_string(($tokensSql)[1:16], ' ') || ' uniqtail' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |toks AS (SELECT doc_id, $tokensSql AS t FROM base),
         |segs AS (
         |  SELECT doc_id,
         |    unnest(range((len(t) + 15) // 16)) AS seg,
         |    unnest(list_transform(range((len(t) + 15) // 16), j ->
         |      array_to_string(t[j*16+1:j*16+16], ' '))) AS g
         |  FROM toks WHERE len(t) > 0),
         |r AS (
         |  SELECT doc_id, seg, g,
         |    count(*) OVER (PARTITION BY g) AS cnt,
         |    row_number() OVER (PARTITION BY g ORDER BY doc_id, seg) AS rn
         |  FROM segs),
         |kept AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS nk,
         |    array_to_string(list(g ORDER BY seg), ' ') AS txt
         |  FROM r WHERE cnt < 2 OR rn = 1 GROUP BY doc_id)
         |SELECT toks.doc_id,
         |  CAST((len(t) + 15) // 16 AS INT) AS n_segs,
         |  coalesce(nk, 0) AS n_segs_kept,
         |  txt AS text_dedup
         |FROM toks LEFT JOIN kept USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // incremental dedup re-derived: canonical fingerprints both sides,
    // min-id-per-fp within the batch, NOT IN the corpus fp set
    "q_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT * FROM documents WHERE source IN ('src0', 'src1')),
        |batch AS (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |    WHERE source NOT IN ('src0', 'src1')
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source, n_chars FROM corpus
        |    WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, source, n_chars FROM documents
        |    WHERE source NOT IN ('src0', 'src1') AND doc_id % 4 = 0),
        |bfp AS (
        |  SELECT doc_id, source, n_chars,
        |    md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS fp
        |  FROM batch),
        |cfp AS (
        |  SELECT DISTINCT md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS fp
        |  FROM corpus),
        |first_in_batch AS (
        |  SELECT * FROM (
        |    SELECT doc_id, source, n_chars, fp,
        |      min(doc_id) OVER (PARTITION BY fp) AS keep
        |    FROM bfp) WHERE doc_id = keep)
        |SELECT doc_id, source, n_chars FROM first_in_batch
        |WHERE fp NOT IN (SELECT fp FROM cfp)
        |ORDER BY doc_id""".stripMargin,
    // leakage-safe split re-derived: the d_dup_clusters closure decides
    // each doc's representative (min reachable id, own id if unpaired),
    // then the q_split_assign md5 bucket of the REPRESENTATIVE
    "q_leakage_safe_split" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, source, $tokensSql AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, source,
         |    list_distinct(CASE WHEN len(t) >= 2
         |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
         |      ELSE [array_to_string(t, ' ')] END) AS g
         |  FROM toks),
         |pairs AS (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
         |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
         |        ELSE 0.0 END AS jaccard
         |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.05),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |keyed AS (
         |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
         |bucketed AS (
         |  SELECT doc_id, split_key,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(15), k -> CAST(strpos('0123456789abcdef', substr(md5('graft:' || CAST(split_key AS VARCHAR)), k+1, 1)) - 1 AS BIGINT))),
         |      (acc, d) -> acc * 16 + d) % 10000 AS b
         |  FROM keyed)
         |SELECT doc_id, split_key, b AS split_bucket,
         |  CASE WHEN b < 9800 THEN 'train'
         |       WHEN b < 9900 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM bucketed ORDER BY doc_id""".stripMargin,
    // int8 scalar quantization re-derived: per-dim min/max grid, round-
    // half-up codes, reconstruction scores folded in ascending-dim order
    "s_sq8_topk" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |g AS (
        |  SELECT pos, min(val) AS mn, (max(val) - min(val)) / 255.0 AS step FROM (
        |    SELECT unnest(e) AS val, unnest(range(len(e))) AS pos FROM v)
        |  GROUP BY pos),
        |grid AS (SELECT list(mn ORDER BY pos) AS mins, list(step ORDER BY pos) AS steps FROM g),
        |codes AS (
        |  SELECT vec_id, list_transform(range(len(e)), i ->
        |    CASE WHEN steps[i+1] = 0 THEN 0
        |      ELSE greatest(0, least(255, CAST(floor((e[i+1] - mins[i+1]) / steps[i+1] + 0.5) AS INT))) END) AS code
        |  FROM v CROSS JOIN grid),
        |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS n_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(len(qe)), i ->
        |        qe[i+1] * (mins[i+1] + c.code[i+1] * steps[i+1]))), (x, y) -> x + y) AS score
        |  FROM q CROSS JOIN codes c CROSS JOIN grid
        |  WHERE c.vec_id <> q.q_id)
        |SELECT q_id, rank, n_id, ROUND(score, 9) AS score FROM (
        |  SELECT q_id, n_id, score,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // char-trigram NB language ID re-derived: per-lang gram counts off the
    // labeled slice (vocab cap mirrored though non-binding: <= 27^3 grams),
    // identical (c+k)/(N+k(V+1)) parenthesization, per-instance
    // DECIMAL(28,14) quantization, argmax via (score DESC, lang ASC)
    "t_lang_id" ->
      s"""WITH tr AS (SELECT lang, lower(text) AS t FROM documents WHERE doc_id % 3 = 0),
        |gi AS (SELECT lang, unnest($charGramsSql) AS g FROM tr),
        |counts AS (SELECT lang, g, count(*) AS c FROM gi GROUP BY lang, g
        |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g ASC) <= 65536),
        |tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS nl FROM counts GROUP BY lang),
        |voc AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS v FROM counts),
        |lo AS (SELECT c2.lang, c2.g,
        |    ln((CAST(c2.c AS DOUBLE) + 0.5) / (tot.nl + 0.5 * (voc.v + 1.0))) AS lp
        |  FROM counts c2 JOIN tot ON c2.lang = tot.lang CROSS JOIN voc),
        |unseen AS (SELECT tot.lang, ln(0.5 / (tot.nl + 0.5 * (voc.v + 1.0))) AS lp
        |  FROM tot CROSS JOIN voc),
        |di AS (SELECT doc_id, lower(text) AS t FROM documents),
        |inst AS (SELECT doc_id, unnest($charGramsSql) AS g FROM di),
        |scored AS (SELECT i.doc_id, u.lang,
        |    CAST(coalesce(lo.lp, u.lp) AS DECIMAL(28,14)) AS lp
        |  FROM inst i CROSS JOIN unseen u
        |  LEFT JOIN lo ON lo.lang = u.lang AND lo.g = i.g),
        |per AS (SELECT doc_id, lang, count(*) AS n, sum(lp) AS s
        |  FROM scored GROUP BY doc_id, lang),
        |best AS (SELECT doc_id, lang, n, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn
        |  FROM per)
        |SELECT d.doc_id, coalesce(b.n, 0) AS n_grams, b.lang AS lang_pred,
        |  ROUND(CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE), 9) AS mean_logp
        |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
        |ORDER BY d.doc_id""".stripMargin,
    // margin twin: identical model/score CTEs, rows rn=1 and rn=2 of the
    // same (s DESC, lang ASC) ranking, exact decimal difference into one
    // 9-dp render division, abstain on the ROUNDED margin
    "t_lang_id_margin" ->
      s"""WITH tr AS (SELECT lang, lower(text) AS t FROM documents WHERE doc_id % 3 = 0),
        |gi AS (SELECT lang, unnest($charGramsSql) AS g FROM tr),
        |counts AS (SELECT lang, g, count(*) AS c FROM gi GROUP BY lang, g
        |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g ASC) <= 65536),
        |tot AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS nl FROM counts GROUP BY lang),
        |voc AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS v FROM counts),
        |lo AS (SELECT c2.lang, c2.g,
        |    ln((CAST(c2.c AS DOUBLE) + 0.5) / (tot.nl + 0.5 * (voc.v + 1.0))) AS lp
        |  FROM counts c2 JOIN tot ON c2.lang = tot.lang CROSS JOIN voc),
        |unseen AS (SELECT tot.lang, ln(0.5 / (tot.nl + 0.5 * (voc.v + 1.0))) AS lp
        |  FROM tot CROSS JOIN voc),
        |di AS (SELECT doc_id, lower(text) AS t FROM documents),
        |inst AS (SELECT doc_id, unnest($charGramsSql) AS g FROM di),
        |scored AS (SELECT i.doc_id, u.lang,
        |    CAST(coalesce(lo.lp, u.lp) AS DECIMAL(28,14)) AS lp
        |  FROM inst i CROSS JOIN unseen u
        |  LEFT JOIN lo ON lo.lang = u.lang AND lo.g = i.g),
        |per AS (SELECT doc_id, lang, count(*) AS n, sum(lp) AS s
        |  FROM scored GROUP BY doc_id, lang),
        |best AS (SELECT doc_id, lang, n, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn
        |  FROM per),
        |sec AS (SELECT doc_id, s AS s2 FROM best WHERE rn = 2)
        |SELECT d.doc_id, coalesce(b.n, 0) AS n_grams, b.lang AS lang_pred,
        |  ROUND(CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE), 9) AS mean_logp,
        |  ROUND(CAST(b.s - sec.s2 AS DOUBLE) / CAST(b.n AS DOUBLE), 9) AS margin,
        |  (coalesce(b.n, 0) = 0 OR (sec.s2 IS NOT NULL AND
        |    ROUND(CAST(b.s - sec.s2 AS DOUBLE) / CAST(b.n AS DOUBLE), 9) < 0.01)) AS abstain
        |FROM documents d
        |LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
        |LEFT JOIN sec ON d.doc_id = sec.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // sequence packing re-derived: the same md5-Horner visit order with
    // doc_id tiebreak, one window prefix sum, // integral division
    "q_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len($tokensSql) AS BIGINT) AS n,
        |    ${md5HornerSql("'pack:' || CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents),
        |c AS (SELECT doc_id, n, h,
        |    sum(n) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, n AS n_tokens, CAST(cum - n AS BIGINT) AS start_offset,
        |  CAST((cum - n) // 512 AS BIGINT) AS pack_id,
        |  (n >= 1 AND (cum - 1) // 512 > (cum - n) // 512) AS crosses
        |FROM c ORDER BY doc_id""".stripMargin,
    // C4 line cleaning re-derived: same literal line-ification, same
    // terminal-punctuation + min-word line rule, same bad-phrase and
    // min-surviving-lines document rules
    "t_c4_clean" ->
      s"""WITH d2 AS (SELECT doc_id,
        |    replace(text, ' spark', '.' || chr(10) || 'spark') AS text
        |  FROM documents),
        |base AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM d2),
        |calc AS (SELECT doc_id, len(ls) AS n_lines,
        |    list_filter(ls, l -> regexp_matches(trim(l), '[.!?"]$$') AND
        |      len(list_filter(string_split_regex(trim(l), ' +'), w -> w <> '')) >= 5) AS kept_lines,
        |    contains(lower(text), 'customer line') AS has_bad_phrase
        |  FROM base)
        |SELECT doc_id, n_lines, len(kept_lines) AS n_kept_lines, has_bad_phrase,
        |  (NOT has_bad_phrase AND len(kept_lines) >= 2) AS kept,
        |  CASE WHEN NOT has_bad_phrase AND len(kept_lines) >= 2
        |    THEN array_to_string(kept_lines, chr(10)) END AS clean_text
        |FROM calc ORDER BY doc_id""".stripMargin,
    // Gopher rules re-derived: identical token/line derivations, every
    // ratio as integer cross-multiplication — no floating point
    "t_gopher_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks,
        |    string_split(text, chr(10)) AS ls FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(toks, w -> len(w))), 0) AS BIGINT) AS sum_word_len,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> starts_with(trim(l), '-') OR
        |      starts_with(trim(l), '*') OR starts_with(trim(l), '•'))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(ls, l -> ends_with(trim(l), '...') OR
        |      ends_with(trim(l), '…'))) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST((length(text) - length(replace(text, '#', ''))) +
        |      (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols,
        |    CAST(len(list_filter(['the','a','key','value','data','table'],
        |      sw -> list_contains(toks, sw))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, sum_word_len, n_lines, n_bullet_lines,
        |  n_ellipsis_lines, n_alpha_words, n_symbols, n_stopwords,
        |  (n_words >= 20 AND n_words <= 100000) AS ok_word_count,
        |  (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words) AS ok_mean_word_len,
        |  (10 * n_symbols <= n_words) AS ok_symbol_ratio,
        |  (10 * n_bullet_lines <= n_lines) AS ok_bullet_lines,
        |  (10 * n_ellipsis_lines <= 3 * n_lines) AS ok_ellipsis_lines,
        |  (5 * n_alpha_words >= 4 * n_words) AS ok_alpha_words,
        |  (n_stopwords >= 2) AS ok_stopwords,
        |  (n_words >= 20 AND n_words <= 100000
        |    AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
        |    AND 10 * n_symbols <= n_words
        |    AND 10 * n_bullet_lines <= n_lines
        |    AND 10 * n_ellipsis_lines <= 3 * n_lines
        |    AND 5 * n_alpha_words >= 4 * n_words
        |    AND n_stopwords >= 2) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    // MassiveText line/paragraph repetition re-derived: the same literal
    // line-ification, duplicate counting by per-segment occurrence scans
    // (list-level O(L^2) — provably equal to the sorted-run fold),
    // identical 9-dp render divisions and integer keep decision
    "t_dup_lines" ->
      s"""WITH d2 AS (SELECT doc_id,
        |    replace(replace(text, ' table', chr(10) || 'table'),
        |      ' batch', chr(10) || chr(10) || 'batch') AS text
        |  FROM documents),
        |seg AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
        |    list_filter(string_split_regex(text, '\\n{2,}'), x -> x <> '') AS ps
        |  FROM d2),
        |c AS (SELECT doc_id,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(ps) AS BIGINT) AS n_paras,
        |    CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) AS BIGINT) AS lc,
        |    CAST(coalesce(list_sum(list_transform(ps, x -> length(x))), 0) AS BIGINT) AS pc,
        |    CAST(len(list_filter(ls, x -> len(list_filter(ls, y -> y = x)) >= 2)) AS BIGINT) AS ld,
        |    CAST(coalesce(list_sum(list_transform(list_filter(ls, x -> len(list_filter(ls, y -> y = x)) >= 2), x -> length(x))), 0) AS BIGINT) AS ldc,
        |    CAST(len(list_filter(ps, x -> len(list_filter(ps, y -> y = x)) >= 2)) AS BIGINT) AS pd,
        |    CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> len(list_filter(ps, y -> y = x)) >= 2), x -> length(x))), 0) AS BIGINT) AS pdc
        |  FROM seg)
        |SELECT doc_id, n_lines, n_paras, ld AS n_dup_lines,
        |  ldc AS dup_line_chars, pd AS n_dup_paras, pdc AS dup_para_chars,
        |  CASE WHEN n_lines > 0 THEN round(CAST(ld AS DOUBLE) / CAST(n_lines AS DOUBLE), 9) ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN lc > 0 THEN round(CAST(ldc AS DOUBLE) / CAST(lc AS DOUBLE), 9) ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN n_paras > 0 THEN round(CAST(pd AS DOUBLE) / CAST(n_paras AS DOUBLE), 9) ELSE 0.0 END AS dup_para_frac,
        |  CASE WHEN pc > 0 THEN round(CAST(pdc AS DOUBLE) / CAST(pc AS DOUBLE), 9) ELSE 0.0 END AS dup_para_char_frac,
        |  (ld * 100 <= n_lines * 30 AND ldc * 100 <= lc * 20
        |    AND pd * 100 <= n_paras * 30 AND pdc * 100 <= pc * 20) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    // boilerplate strip re-derived: same line-ification, count(DISTINCT
    // doc) per exact line, >= minDocs cut, order-preserving string_agg
    // rebuild; zero-line docs surface with '' via the outer left join
    "t_boilerplate_strip" ->
      s"""WITH d2 AS (SELECT doc_id,
        |    replace(text, ' table', chr(10) || 'table') AS text
        |  FROM documents),
        |base AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
        |  FROM d2),
        |ex AS (SELECT doc_id, unnest(ls) AS line,
        |    unnest(range(len(ls))) AS pos FROM base),
        |bp AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM ex GROUP BY line)
        |  WHERE nd >= 15),
        |fl AS (SELECT e.doc_id, e.pos, e.line, b.line IS NOT NULL AS rm
        |  FROM ex e LEFT JOIN bp b ON e.line = b.line),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    CAST(coalesce(sum(CASE WHEN rm THEN length(line) ELSE 0 END), 0) AS BIGINT) AS chars_removed,
        |    coalesce(string_agg(CASE WHEN NOT rm THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        |  FROM fl GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_lines, 0) AS n_lines,
        |  coalesce(n_removed, 0) AS n_removed,
        |  coalesce(chars_removed, 0) AS chars_removed,
        |  coalesce(clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Count-Min heavy hitters re-derived: the same md5-Horner bucket
    // family, the d x w cell grid, min-over-rows estimates, the integer
    // cross-multiplied threshold, (est DESC, token ASC) top-k
    "t_heavy_hitters" ->
      s"""WITH ti AS (SELECT unnest($tokensSql) AS w FROM documents),
        |tc AS (SELECT w, count(*) AS cnt FROM ti GROUP BY w),
        |total AS (SELECT sum(cnt) AS n FROM tc),
        |hashes AS (SELECT w, cnt, r,
        |    ${md5HornerSql("'cms' || CAST(r AS VARCHAR) || ':' || w")} % 512 AS bucket
        |  FROM tc CROSS JOIN (SELECT unnest(range(4)) AS r)),
        |cells AS (SELECT r, bucket, sum(cnt) AS cell FROM hashes GROUP BY r, bucket),
        |est AS (SELECT h.w, h.cnt, min(c.cell) AS est
        |  FROM hashes h JOIN cells c ON h.r = c.r AND h.bucket = c.bucket
        |  GROUP BY h.w, h.cnt)
        |SELECT w AS token, CAST(est AS BIGINT) AS est_count, cnt AS exact_count
        |FROM est CROSS JOIN total
        |WHERE est * 50 >= n * 1
        |ORDER BY est_count DESC, token LIMIT 50""".stripMargin,
    // HLL re-derived: register index/rho off the same 60-bit md5 Horner
    // hash (rho via len(bin(suffix)) — pure integer/string work), integer
    // harmonic sum as powers of two, identical estimate parenthesization
    // and linear-counting branch, 6 dp for the final division/ln ulp
    "t_hll_distinct" ->
      s"""WITH d2 AS (SELECT source, text FROM documents
        |  UNION ALL SELECT '_ids' AS source, 'id' || CAST(doc_id AS VARCHAR) AS text FROM documents),
        |ti AS (SELECT source, unnest($tokensSql) AS w FROM d2),
        |tw AS (SELECT DISTINCT source, w FROM ti),
        |h AS (SELECT source, w, ${md5HornerSql("'hll:' || w")} AS hv FROM tw),
        |regs AS (SELECT source, hv % 64 AS reg,
        |    max(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - len(bin(hv // 64)) END) AS mrho
        |  FROM h GROUP BY source, hv % 64),
        |ag AS (SELECT source, count(*) AS present,
        |    sum((CAST(1 AS BIGINT) << CAST(55 - mrho AS INT))) AS sp
        |  FROM regs GROUP BY source),
        |ex AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
        |  FROM ti GROUP BY source)
        |SELECT a.source, ex.exact_distinct,
        |  ROUND(CASE WHEN (64 - a.present) > 0
        |      AND 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |        CAST(a.sp + (64 - a.present) * 36028797018963968 AS DOUBLE) <= 160e0
        |    THEN 64e0 * ln(64e0 / CAST(64 - a.present AS DOUBLE))
        |    ELSE 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |      CAST(a.sp + (64 - a.present) * 36028797018963968 AS DOUBLE) END, 6) AS hll_est,
        |  CAST(64 - a.present AS BIGINT) AS zero_registers
        |FROM ag a JOIN ex ON a.source = ex.source
        |ORDER BY a.source""".stripMargin,
    "t_hll_merge" ->
      s"""WITH ti AS (SELECT source, unnest($tokensSql) AS w FROM documents),
        |tw AS (SELECT DISTINCT source, w FROM ti),
        |h AS (SELECT source, w, ${md5HornerSql("'hll:' || w")} AS hv FROM tw),
        |regs1 AS (SELECT source, hv % 64 AS reg,
        |    max(CASE WHEN hv // 64 = 0 THEN 55
        |      ELSE 55 - len(bin(hv // 64)) END) AS mrho
        |  FROM h GROUP BY source, hv % 64),
        |regs AS (SELECT reg, max(mrho) AS mrho FROM regs1 GROUP BY reg),
        |ag AS (SELECT count(*) AS present,
        |    sum((CAST(1 AS BIGINT) << CAST(55 - mrho AS INT))) AS sp
        |  FROM regs),
        |ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct FROM ti),
        |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_shards FROM documents)
        |SELECT ns.n_shards, ex.exact_distinct,
        |  ROUND(CASE WHEN (64 - a.present) > 0
        |      AND 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |        CAST(a.sp + (64 - a.present) * 36028797018963968 AS DOUBLE) <= 160e0
        |    THEN 64e0 * ln(64e0 / CAST(64 - a.present AS DOUBLE))
        |    ELSE 0.709e0 * 64e0 * 64e0 * 36028797018963968e0 /
        |      CAST(a.sp + (64 - a.present) * 36028797018963968 AS DOUBLE) END, 6) AS hll_est,
        |  CAST(64 - a.present AS BIGINT) AS zero_registers
        |FROM ag a, ex, ns""".stripMargin,
    // bottom-k quantile sketch re-derived: the SAME salted md5 Horner
    // hash ranks rows, the k smallest are the sample, estimates pick the
    // sample value at rank ceil(q*m) in (v, id) order; exact lower
    // quantiles from cum counts over the value domain ride alongside
    "t_quantile_sketch" ->
      s"""WITH b AS (SELECT event_type AS grp, event_id AS id, value AS v FROM events),
        |h AS (SELECT grp, id, v, ${md5HornerSql("'bkq:' || CAST(id AS VARCHAR)")} AS hv FROM b),
        |rk AS (SELECT grp, id, v,
        |    row_number() OVER (PARTITION BY grp ORDER BY hv, id) AS r FROM h),
        |sv AS (SELECT grp, v,
        |    row_number() OVER (PARTITION BY grp ORDER BY v, id) AS vr,
        |    count(*) OVER (PARTITION BY grp) AS m
        |  FROM rk WHERE r <= 128),
        |qs(q) AS (VALUES (0.25), (0.5), (0.75), (0.9)),
        |est AS (SELECT grp, q, v AS est_v, CAST(m AS BIGINT) AS n_sample
        |  FROM sv CROSS JOIN qs
        |  WHERE vr = greatest(1, CAST(ceil(q * m) AS BIGINT))),
        |tot AS (SELECT grp, count(*) AS n_total FROM b GROUP BY 1),
        |c AS (SELECT grp, v, count(*) AS c FROM b GROUP BY 1, 2),
        |cc AS (SELECT grp, v, sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n FROM c),
        |ex AS (SELECT grp, q, min(v) AS exact_v FROM cc CROSS JOIN qs
        |  WHERE cum >= greatest(1, CAST(ceil(q * n) AS BIGINT)) GROUP BY 1, 2)
        |SELECT est.grp, est.q, est.est_v, ex.exact_v, est.n_sample, tot.n_total
        |FROM est JOIN ex ON est.grp = ex.grp AND est.q = ex.q
        |JOIN tot ON est.grp = tot.grp
        |ORDER BY est.grp, est.q""".stripMargin,
    // PageRank unrolled: identical edge/out-weight derivation, the same
    // ((r * 0.85) * w) / W parenthesization quantized to DECIMAL(28,14)
    // per edge (exact order-free sums), (1.0 - 0.85) written as the
    // SUBTRACTION both engines fold to the same IEEE double — never the
    // 0.15 literal, which is a different number
    "q_page_rank" ->
      s"""WITH pairs AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS s,
        |    's' || CAST(l_suppkey AS VARCHAR) AS d2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |eb AS (SELECT s AS src, d2 AS dst FROM pairs
        |  UNION ALL SELECT d2 AS src, s AS dst FROM pairs),
        |e AS (SELECT src, dst, count(*) AS w FROM eb GROUP BY src, dst),
        |ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
        |n0 AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM n0),
        |${prIterSql("r0", "i1")},
        |${prIterSql("i1", "i2")},
        |${prIterSql("i2", "i3")}
        |SELECT node, ROUND(r, 9) AS rank FROM i3 ORDER BY node""".stripMargin,
    // containment re-derived: same planted half-length copies (integer //
    // truncation both engines), distinct bigram sets, exact intersect
    // sizes, the same unguarded double ratios and greatest() threshold
    "d_containment" -> containmentOracleSql,
    // pinned count-join twin: same planted half-copies, same ground truth
    "d_containment_countjoin" -> containmentOracleSql,
    // centroid outliers re-derived: per-dim DECIMAL(28,14) sums → one
    // double division per dim, list rebuilt in pos order, the house
    // sequential cosine fold, raw-double compare against minCos
    "s_centroid_outliers" ->
      s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |cells AS (SELECT label, pos,
        |    CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |  FROM (SELECT label, unnest(e) AS val, unnest(range(len(e))) AS pos FROM v)
        |  GROUP BY label, pos),
        |cent AS (SELECT label, list(m ORDER BY pos) AS c FROM cells GROUP BY label),
        |sc AS (SELECT v.vec_id, v.label,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(v.e)), i -> v.e[i+1] * c.c[i+1])), (x, y) -> x + y) AS dt,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v.e, x -> x * x)), (x, y) -> x + y)) AS nx,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(c.c, x -> x * x)), (x, y) -> x + y)) AS nc2
        |  FROM v JOIN cent c ON v.label = c.label)
        |SELECT vec_id, label,
        |  CASE WHEN nx * nc2 > 0 THEN ROUND(dt / (nx * nc2), 9) END AS cos_centroid,
        |  CASE WHEN nx * nc2 > 0 THEN ROUND(dt / (nx * nc2), 9) < 0.1 END AS is_outlier
        |FROM sc ORDER BY vec_id""".stripMargin,
    // centroid drift re-derived: same decimal per-dim sums, 9-dp means
    // (identical doubles both engines), re-quantized products, 9-dp edge
    "s_centroid_drift" ->
      s"""WITH v AS (SELECT vec_id, label,
        |    CASE WHEN vec_id % 2 = 0 THEN 'base' ELSE 'cur' END AS snap,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |cells AS (SELECT label, snap, pos,
        |    ROUND(CAST(sum(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS m,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT label, snap, unnest(e) AS val, unnest(range(len(e))) AS pos FROM v)
        |  GROUP BY label, snap, pos),
        |piv AS (SELECT label, pos,
        |    max(CASE WHEN snap = 'base' THEN m END) AS mb,
        |    max(CASE WHEN snap = 'cur' THEN m END) AS mc,
        |    max(CASE WHEN snap = 'base' THEN cnt END) AS nb,
        |    max(CASE WHEN snap = 'cur' THEN cnt END) AS nc
        |  FROM cells GROUP BY label, pos),
        |ag AS (SELECT label, max(nb) AS n_base, max(nc) AS n_cur,
        |    CAST(sum(CAST(mb * mc AS DECIMAL(28,14))) AS DOUBLE) AS dt,
        |    CAST(sum(CAST(mb * mb AS DECIMAL(28,14))) AS DOUBLE) AS b2,
        |    CAST(sum(CAST(mc * mc AS DECIMAL(28,14))) AS DOUBLE) AS c2,
        |    CAST(sum(CAST((mb - mc) * (mb - mc) AS DECIMAL(28,14))) AS DOUBLE) AS d2
        |  FROM piv GROUP BY label)
        |SELECT label, n_base, n_cur,
        |  CASE WHEN b2 > 0 AND c2 > 0
        |    THEN ROUND(dt / (sqrt(b2) * sqrt(c2)), 9) END AS centroid_cos,
        |  CASE WHEN n_base IS NOT NULL AND n_cur IS NOT NULL
        |    THEN ROUND(sqrt(d2), 9) END AS centroid_l2
        |FROM ag ORDER BY label""".stripMargin,
    // novelty re-derived: capped reference gram set (cap mirrored though
    // non-binding), per-doc distinct bigrams, LEFT-JOIN membership count,
    // exact integer division
    "t_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |refg AS (SELECT g, count(*) AS c FROM (
        |    SELECT unnest(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [] END) AS g
        |    FROM toks WHERE doc_id % 5 = 0) GROUP BY g
        |  QUALIFY row_number() OVER (ORDER BY c DESC, g ASC) <= 65536),
        |dg AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |    ELSE [] END)) AS g
        |  FROM toks),
        |per AS (SELECT d2.doc_id, count(*) AS n, count(refg.g) AS seen
        |  FROM dg d2 LEFT JOIN refg ON d2.g = refg.g GROUP BY d2.doc_id)
        |SELECT t.doc_id, coalesce(p.n, 0) AS n_grams, coalesce(p.seen, 0) AS n_seen,
        |  CASE WHEN p.n > 0 THEN CAST(p.n - p.seen AS DOUBLE) / CAST(p.n AS DOUBLE) END AS novelty
        |FROM toks t LEFT JOIN per p USING (doc_id) ORDER BY doc_id""".stripMargin,
    // entropy re-derived as the explode→groupBy form the sorted-run fold
    // is provably equal to: identical (c/n)·ln(c/n) parenthesization,
    // DECIMAL(28,14) per-term quantization, exact order-free sum
    "t_entropy" ->
      s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |inst AS (SELECT doc_id, len(t) AS n, unnest(t) AS w FROM toks),
        |cnts AS (SELECT doc_id, n, w, count(*) AS c FROM inst GROUP BY doc_id, n, w),
        |terms AS (SELECT doc_id,
        |    CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,14)) AS term
        |  FROM cnts),
        |agg AS (SELECT doc_id, CAST(sum(term) AS DOUBLE) AS s FROM terms GROUP BY doc_id)
        |SELECT t.doc_id, len(t.t) AS n_tokens,
        |  CASE WHEN len(t.t) > 0 THEN ROUND(0e0 - a.s, 6) END AS entropy
        |FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // snapshot delta re-derived: same new-corpus derivation, same
    // canonical fingerprint, full-outer join, four-way status CASE
    "q_corpus_diff" ->
      s"""WITH o AS (SELECT doc_id AS id, $fingerprintSql AS fp_old FROM documents),
        |nbase AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 17 = 0),
        |n AS (SELECT doc_id AS id, $fingerprintSql AS fp_new FROM nbase)
        |SELECT coalesce(o.id, n.id) AS id, o.fp_old, n.fp_new,
        |  CASE WHEN o.fp_old IS NULL THEN 'added'
        |       WHEN n.fp_new IS NULL THEN 'removed'
        |       WHEN o.fp_old = n.fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.id = n.id
        |ORDER BY id""".stripMargin,
    // canonical-source selection re-derived: the recursive transitive
    // closure over the same pair family, singleton fallback, priority
    // CASE, (prio, id) row_number winner per cluster
    "q_canonical_source" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, $tokensSql AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |keyed AS (
        |  SELECT d.doc_id AS id, d.source,
        |    coalesce(cl.cluster, d.doc_id) AS cluster_key,
        |    CASE d.source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 ELSE 5 END AS prio
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        |winners AS (
        |  SELECT cluster_key, id AS keep_id FROM (
        |    SELECT cluster_key, id,
        |      row_number() OVER (PARTITION BY cluster_key ORDER BY prio, id) AS rn
        |    FROM keyed) WHERE rn = 1)
        |SELECT k.id, k.source, k.cluster_key, w.keep_id,
        |  k.id = w.keep_id AS keep
        |FROM keyed k JOIN winners w USING (cluster_key)
        |ORDER BY k.id""".stripMargin,
    // matryoshka recall re-derived: both brute-force chains (first-32-dim
    // truncated vs full 64-dim) with the cosine rank ordering, hits join
    "s_matryoshka_recall" -> {
      def dot(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])), (x, y) -> x + y)"
      def sq(a: String): String =
        s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))"
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |vt AS (SELECT vec_id, e[1:32] AS e FROM v),
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 20),
         |qt AS (SELECT vec_id AS q_id, e[1:32] AS qe FROM v WHERE vec_id < 20),
         |ascored AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dot("c.e", "q.qe")} / (${sq("c.e")} * ${sq("q.qe")}) AS sim
         |  FROM vt c, qt q WHERE c.vec_id <> q.q_id),
         |approx AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |    FROM ascored) WHERE rank <= 5),
         |escored AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dot("c.e", "q.qe")} / (${sq("c.e")} * ${sq("q.qe")}) AS sim
         |  FROM v c, q WHERE c.vec_id <> q.q_id),
         |exact AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
         |    FROM escored) WHERE rank <= 5),
         |hits AS (SELECT a.q_id, count(*) AS hits
         |  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.n_id = e.n_id
         |  GROUP BY a.q_id)
         |SELECT eq.q_id, coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT q_id FROM exact) eq
         |LEFT JOIN hits h ON eq.q_id = h.q_id
         |ORDER BY eq.q_id""".stripMargin
    },
    // dedup data card re-derived: planted exact copies, corpus-wide
    // fingerprint collisions, the within-source pair family's distinct
    // endpoints, left-join marks, exact-integer rates
    "q_dedup_report" ->
      s"""WITH base AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 4000000, source, text FROM documents WHERE doc_id % 9 = 0),
        |fps AS (SELECT doc_id AS id, source, $fingerprintSql AS fp FROM base),
        |dupfps AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
        |toks AS (SELECT doc_id, source, $tokensSql AS t FROM base),
        |grams AS (SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |pairs AS (SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.4),
        |near AS (SELECT DISTINCT id FROM (
        |    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |marked AS (SELECT f.source,
        |    CASE WHEN d2.fp IS NOT NULL THEN 1 ELSE 0 END AS ex,
        |    CASE WHEN n2.id IS NOT NULL THEN 1 ELSE 0 END AS nr
        |  FROM fps f
        |  LEFT JOIN (SELECT DISTINCT fp FROM dupfps) d2 ON f.fp = d2.fp
        |  LEFT JOIN near n2 ON f.id = n2.id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(ex) AS BIGINT) AS n_exact_dup,
        |  CAST(sum(nr) AS BIGINT) AS n_near_dup,
        |  CAST(sum(ex) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
        |  CAST(sum(nr) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS near_dup_rate
        |FROM marked GROUP BY source ORDER BY source""".stripMargin,
    // quality data card re-derived: the Gopher rule chain + the entropy
    // chain joined per doc, source aggregation with DECIMAL-quantized
    // entropy mean
    "t_quality_report" ->
      s"""WITH t AS (SELECT doc_id, source, text, $tokensSql AS toks FROM documents),
        |c AS (SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(toks, w -> len(w))), 0) AS BIGINT) AS swl,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS nl,
        |    CAST(len(list_filter(string_split(text, chr(10)), l -> starts_with(trim(l), '-') OR
        |      starts_with(trim(l), '*') OR starts_with(trim(l), '•'))) AS BIGINT) AS nb,
        |    CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(trim(l), '...') OR
        |      ends_with(trim(l), '…'))) AS BIGINT) AS ne,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS na,
        |    CAST((length(text) - length(replace(text, '#', ''))) +
        |      (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS ns,
        |    CAST(len(list_filter(['the','a','key','value','data','table'],
        |      sw -> list_contains(toks, sw))) AS BIGINT) AS nst
        |  FROM t),
        |k AS (SELECT doc_id, source, n_words,
        |    (n_words >= 20 AND n_words <= 100000
        |      AND swl >= 3 * n_words AND swl <= 10 * n_words
        |      AND 10 * ns <= n_words
        |      AND 10 * nb <= nl
        |      AND 10 * ne <= 3 * nl
        |      AND 5 * na >= 4 * n_words
        |      AND nst >= 2) AS keep
        |  FROM c),
        |inst AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS w FROM t),
        |cnts AS (SELECT doc_id, n, w, count(*) AS cc FROM inst GROUP BY doc_id, n, w),
        |terms AS (SELECT doc_id,
        |    CAST((CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,14)) AS term
        |  FROM cnts),
        |ent AS (SELECT t.doc_id,
        |    CASE WHEN len(t.toks) > 0 THEN ROUND(0e0 - a.s, 6) END AS entropy
        |  FROM t LEFT JOIN (SELECT doc_id, CAST(sum(term) AS DOUBLE) AS s
        |    FROM terms GROUP BY doc_id) a USING (doc_id))
        |SELECT k.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(sum(k.n_words) AS BIGINT) AS total_words,
        |  ROUND(CAST(sum(CAST(e.entropy AS DECIMAL(28,14))) AS DOUBLE) /
        |    CAST(count(e.entropy) AS DOUBLE), 9) AS mean_entropy,
        |  CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS keep_rate,
        |  CAST(sum(k.n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_words
        |FROM k JOIN ent e USING (doc_id)
        |GROUP BY k.source ORDER BY k.source""".stripMargin,
    // the composed quality pipeline re-derived as ONE chained query: the
    // C4 CTE feeds cleaned text into the Gopher, entropy and novelty
    // chains (tokenized with a REGEX whitespace split — cleaned text
    // contains newlines, which the plain ' ' split of the raw-text
    // oracles never sees), novelty's reference is the kept %5 slice
    "q_quality_pipeline" ->
      s"""WITH d2 AS (SELECT doc_id,
        |    replace(text, ' spark', '.' || chr(10) || 'spark') AS text
        |  FROM documents),
        |base AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM d2),
        |calc AS (SELECT doc_id,
        |    list_filter(ls, l -> regexp_matches(trim(l), '[.!?"]$$') AND
        |      len(list_filter(string_split_regex(trim(l), ' +'), w -> w <> '')) >= 5) AS kept_lines,
        |    contains(lower(text), 'customer line') AS bad
        |  FROM base),
        |c4 AS (SELECT doc_id, (NOT bad AND len(kept_lines) >= 2) AS c4_kept,
        |    CASE WHEN NOT bad AND len(kept_lines) >= 2
        |      THEN array_to_string(kept_lines, chr(10)) END AS ct
        |  FROM calc),
        |toks AS (SELECT doc_id AS id, ct AS text,
        |    list_filter(string_split_regex(lower(ct), '\\s+'), x -> x <> '') AS t
        |  FROM c4 WHERE c4_kept),
        |g AS (SELECT id,
        |    (len(t) >= 10 AND len(t) <= 100000
        |     AND coalesce(list_sum(list_transform(t, w -> len(w))), 0) >= 3 * len(t)
        |     AND coalesce(list_sum(list_transform(t, w -> len(w))), 0) <= 10 * len(t)
        |     AND 10 * ((length(text) - length(replace(text, '#', ''))) +
        |       (length(text) - length(replace(text, '...', ''))) / 3) <= len(t)
        |     AND 10 * len(list_filter(string_split(text, chr(10)), l ->
        |       starts_with(trim(l), '-') OR starts_with(trim(l), '*') OR
        |       starts_with(trim(l), '•'))) <= len(string_split(text, chr(10)))
        |     AND 10 * len(list_filter(string_split(text, chr(10)), l ->
        |       ends_with(trim(l), '...') OR ends_with(trim(l), '…'))) <= 3 * len(string_split(text, chr(10)))
        |     AND 5 * len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) >= 4 * len(t)
        |     AND len(list_filter(['the','a','key','value','data','table'],
        |       sw -> list_contains(t, sw))) >= 2) AS gopher_keep
        |  FROM toks),
        |inst AS (SELECT id, len(t) AS n, unnest(t) AS w FROM toks),
        |cnts AS (SELECT id, n, w, count(*) AS c FROM inst GROUP BY id, n, w),
        |terms AS (SELECT id,
        |    CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,14)) AS term
        |  FROM cnts),
        |ent AS (SELECT tk.id,
        |    CASE WHEN len(tk.t) > 0 THEN ROUND(0e0 - a.s, 6) END AS entropy
        |  FROM toks tk LEFT JOIN (SELECT id, CAST(sum(term) AS DOUBLE) AS s
        |    FROM terms GROUP BY id) a USING (id)),
        |refg AS (SELECT g FROM (
        |    SELECT g, count(*) AS c FROM (
        |      SELECT unnest(CASE WHEN len(t) >= 2
        |        THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |        ELSE [] END) AS g
        |      FROM toks WHERE id % 5 = 0) GROUP BY g
        |    QUALIFY row_number() OVER (ORDER BY c DESC, g ASC) <= 65536)),
        |dg AS (SELECT id, unnest(list_distinct(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |    ELSE [] END)) AS g
        |  FROM toks),
        |per AS (SELECT dg.id, count(*) AS n, count(refg.g) AS seen
        |  FROM dg LEFT JOIN refg USING (g) GROUP BY dg.id),
        |nv AS (SELECT tk.id,
        |    CASE WHEN p.n > 0 THEN CAST(p.n - p.seen AS DOUBLE) / CAST(p.n AS DOUBLE) END AS novelty
        |  FROM toks tk LEFT JOIN per p USING (id))
        |SELECT c4.doc_id, c4.c4_kept, g.gopher_keep, e.entropy, n2.novelty,
        |  (c4.c4_kept AND coalesce(g.gopher_keep, false)
        |    AND coalesce(e.entropy >= 3.0, false)
        |    AND coalesce(n2.novelty >= 0.1, false)) AS final_keep
        |FROM c4
        |LEFT JOIN g ON c4.doc_id = g.id
        |LEFT JOIN ent e ON c4.doc_id = e.id
        |LEFT JOIN nv n2 ON c4.doc_id = n2.id
        |ORDER BY c4.doc_id""".stripMargin,
    // CCNet buckets re-derived: the t_lm_score LM chain, 9-dp rounded
    // scores, per-source quantile_cont tertiles (the percentile parity
    // pair), the same >= comparisons on rounded values
    "q_ccnet_buckets" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
        |rt AS (SELECT t FROM toks WHERE doc_id % 10 = 0),
        |vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
        |  FROM (SELECT unnest(t) AS w FROM rt)),
        |rbg AS (SELECT bg, count(*) AS cnt2 FROM (
        |    SELECT unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS bg
        |    FROM rt WHERE len(t) >= 2) GROUP BY bg),
        |rctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cnt2) AS ctx
        |  FROM rbg GROUP BY 1),
        |inst AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])) AS bg
        |    FROM toks WHERE len(t) >= 2)),
        |scored AS (
        |  SELECT i.doc_id,
        |    ln((CAST(coalesce(rbg.cnt2, 0) AS DOUBLE) + 0.5) /
        |       (CAST(coalesce(rctx.ctx, 0) AS DOUBLE) + 0.5 * (v + 1.0))) AS logp
        |  FROM inst i LEFT JOIN rbg ON i.bg = rbg.bg
        |  LEFT JOIN rctx ON i.w1 = rctx.w1
        |  CROSS JOIN vocab),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(logp AS DECIMAL(28,14))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS lm
        |  FROM scored GROUP BY doc_id),
        |ds AS (SELECT t.doc_id, t.source, coalesce(agg.n_bigrams, 0) AS n_bigrams,
        |    ROUND(agg.lm, 9) AS lm_logprob
        |  FROM toks t LEFT JOIN agg USING (doc_id)),
        |cuts AS (SELECT source,
        |    quantile_cont(lm_logprob, 0.3333333333333333) AS cut_low,
        |    quantile_cont(lm_logprob, 0.6666666666666666) AS cut_high
        |  FROM ds GROUP BY source)
        |SELECT ds.doc_id, ds.source, ds.n_bigrams, ds.lm_logprob,
        |  CASE WHEN ds.lm_logprob IS NULL THEN NULL
        |       WHEN ds.lm_logprob >= c.cut_high THEN 'head'
        |       WHEN ds.lm_logprob >= c.cut_low THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ds JOIN cuts c USING (source)
        |ORDER BY ds.doc_id""".stripMargin,
    // quality-max election re-derived: same closure chain, winner via
    // (score DESC, id ASC) row_number
    "q_canonical_quality" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, $tokensSql AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) >= 2
        |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
        |      ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM toks),
        |pairs AS (
        |  SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
        |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
        |        ELSE 0.0 END AS jaccard
        |    FROM grams a JOIN grams b ON a.source = b.source AND a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.05),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |keyed AS (
        |  SELECT t2.doc_id AS id, len(t2.t) AS score,
        |    coalesce(cl.cluster, t2.doc_id) AS cluster_key
        |  FROM toks t2 LEFT JOIN cl ON t2.doc_id = cl.id),
        |winners AS (
        |  SELECT cluster_key, id AS keep_id FROM (
        |    SELECT cluster_key, id,
        |      row_number() OVER (PARTITION BY cluster_key ORDER BY score DESC, id ASC) AS rn
        |    FROM keyed) WHERE rn = 1)
        |SELECT k.id, k.score, k.cluster_key, w.keep_id,
        |  k.id = w.keep_id AS keep
        |FROM keyed k JOIN winners w USING (cluster_key)
        |ORDER BY k.id""".stripMargin,
    // subword tokenization re-derived: the same derived vocabulary, the
    // per-(word,pos) longest-match table (max vocab length with the
    // char fallback), a linear recursive walk per distinct word, docs
    // reassembled in word order
    "t_subword_tokenize" ->
      s"""WITH RECURSIVE $subwordSegCtes,
        |agg AS (SELECT i.doc_id, CAST(sum(seg.n) AS BIGINT) AS n_subwords,
        |    string_agg(seg.acc, ' ' ORDER BY i.widx) AS subword_text
        |  FROM inst i JOIN seg ON i.w = seg.w GROUP BY i.doc_id)
        |SELECT t.doc_id, coalesce(a.n_subwords, 0) AS n_subwords,
        |  coalesce(a.subword_text, '') AS subword_text
        |FROM toks t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // tokenizer data card: same segmentation chain, summed per source;
    // fertility/compression are single IEEE divisions of exact BIGINTs
    "t_tokenizer_card" ->
      s"""WITH RECURSIVE $subwordSegCtes,
        |card1 AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS n_tokens,
        |    CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(t, x -> CAST(len(x) AS BIGINT))), (a, b) -> a + b)) AS BIGINT) AS n_chars
        |  FROM toks GROUP BY source),
        |card2 AS (SELECT i.source, CAST(sum(seg.n) AS BIGINT) AS n_subwords
        |  FROM inst i JOIN seg ON i.w = seg.w GROUP BY i.source)
        |SELECT source, n_docs, n_tokens, n_subwords, n_chars,
        |  round(CAST(n_subwords AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS fertility,
        |  round(CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE), 9) AS compression
        |FROM card1 JOIN card2 USING (source)
        |ORDER BY source""".stripMargin,
    // LSH recall report re-derived: the md5 LSH+verify chain (candidate
    // CTEs shared with d_lsh_jaccard_verify) restricted to same-source
    // pairs, exact all-pairs ground truth at the same 0.4 threshold,
    // FULL-OUTER count assembly with the same null semantics
    "d_lsh_recall" ->
      s"""WITH ${md5LshOracleCtes(32, 8, 200)},
         |gsets AS (SELECT doc_id, list_distinct(h) AS hs FROM hashes),
         |ver AS (SELECT id_a, id_b FROM (
         |    SELECT e.id_a, e.id_b,
         |      CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |        / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE) AS j
         |    FROM est e
         |    JOIN gsets a ON a.doc_id = e.id_a
         |    JOIN gsets b ON b.doc_id = e.id_b
         |    WHERE e.est_jaccard >= 0.5)
         |  WHERE j >= 0.4),
         |srcm AS (SELECT doc_id, source FROM documents),
         |vb AS (SELECT sa.source AS blk, v.id_a, v.id_b
         |  FROM ver v
         |  JOIN srcm sa ON v.id_a = sa.doc_id
         |  JOIN srcm sb ON v.id_b = sb.doc_id
         |  WHERE sa.source = sb.source),
         |etoks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
         |egrams AS (SELECT doc_id, source,
         |    list_distinct(CASE WHEN len(t) >= 2
         |      THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
         |      ELSE [array_to_string(t, ' ')] END) AS g
         |  FROM etoks),
         |exact AS (SELECT blk, id_a, id_b FROM (
         |    SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
         |      CASE WHEN len(list_distinct(a.g || b.g)) > 0
         |        THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
         |        ELSE 0.0 END AS jaccard
         |    FROM egrams a JOIN egrams b ON a.source = b.source AND a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.4),
         |e2 AS (SELECT blk, count(*) AS n_exact FROM exact GROUP BY blk),
         |c2 AS (SELECT blk, count(*) AS n_lsh FROM vb GROUP BY blk),
         |h2 AS (SELECT vb.blk, count(*) AS n_hit
         |  FROM vb JOIN exact ON vb.blk = exact.blk
         |    AND vb.id_a = exact.id_a AND vb.id_b = exact.id_b
         |  GROUP BY vb.blk),
         |assembled AS (
         |  SELECT coalesce(e2.blk, c2.blk, h2.blk) AS blk,
         |    coalesce(e2.n_exact, 0) AS n_exact,
         |    coalesce(c2.n_lsh, 0) AS n_lsh,
         |    coalesce(h2.n_hit, 0) AS n_hit
         |  FROM e2
         |  FULL OUTER JOIN c2 ON e2.blk = c2.blk
         |  FULL OUTER JOIN h2 ON coalesce(e2.blk, c2.blk) = h2.blk)
         |SELECT blk, n_exact, n_lsh, n_hit,
         |  CASE WHEN n_exact > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) END AS recall,
         |  CASE WHEN n_lsh > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_lsh AS DOUBLE) END AS "precision"
         |FROM assembled ORDER BY blk""".stripMargin,
    "q_event_funnel" ->
      """WITH base AS (SELECT user_id AS u, ts AS t, event_type AS e FROM events),
        |s1 AS (SELECT u, min(t) AS ct FROM base WHERE e = 'view' GROUP BY u),
        |s2 AS (SELECT b.u, min(b.t) AS ct FROM base b JOIN s1 ON b.u = s1.u AND b.t > s1.ct
        |  WHERE b.e = 'click' GROUP BY b.u),
        |s3 AS (SELECT b.u, min(b.t) AS ct FROM base b JOIN s2 ON b.u = s2.u AND b.t > s2.ct
        |  WHERE b.e = 'purchase' GROUP BY b.u),
        |counts AS (
        |  SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1) AS users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |SELECT step, event_type, users,
        |  round(CAST(users AS DOUBLE) / (SELECT users FROM counts WHERE step = 1), 9) AS conv_from_first,
        |  round(CAST(users AS DOUBLE) / lag(users) OVER (ORDER BY step), 9) AS conv_from_prev
        |FROM counts ORDER BY step""".stripMargin,
    "q_funnel_nullkey" ->
      """WITH base AS (
        |  SELECT user_id AS u, ts AS t, event_type AS e FROM events
        |  UNION ALL
        |  SELECT NULL AS u, ts AS t, event_type AS e FROM events
        |  WHERE event_id % 13 = 0),
        |s1 AS (SELECT u, min(t) AS ct FROM base WHERE e = 'view' GROUP BY u),
        |s2 AS (SELECT b.u, min(b.t) AS ct FROM base b
        |  JOIN s1 ON b.u IS NOT DISTINCT FROM s1.u AND b.t > s1.ct
        |  WHERE b.e = 'click' GROUP BY b.u),
        |s3 AS (SELECT b.u, min(b.t) AS ct FROM base b
        |  JOIN s2 ON b.u IS NOT DISTINCT FROM s2.u AND b.t > s2.ct
        |  WHERE b.e = 'purchase' GROUP BY b.u),
        |counts AS (
        |  SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1) AS users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |SELECT step, event_type, users,
        |  round(CAST(users AS DOUBLE) / (SELECT users FROM counts WHERE step = 1), 9) AS conv_from_first,
        |  round(CAST(users AS DOUBLE) / lag(users) OVER (ORDER BY step), 9) AS conv_from_prev
        |FROM counts ORDER BY step""".stripMargin,
    "q_cohort_retention" ->
      """WITH weeks AS (SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |cohort AS (SELECT u, min(w) AS c FROM weeks GROUP BY u),
        |sizes AS (SELECT c, count(*) AS cohort_size FROM cohort GROUP BY c),
        |act AS (SELECT cohort.c AS c,
        |    CAST(floor(date_diff('day', cohort.c, weeks.w) / 7) AS INTEGER) AS week_offset,
        |    count(DISTINCT weeks.u) AS active_users
        |  FROM weeks JOIN cohort ON weeks.u = cohort.u
        |  WHERE floor(date_diff('day', cohort.c, weeks.w) / 7) <= 4
        |  GROUP BY 1, 2)
        |SELECT strftime(act.c, '%Y-%m-%d') AS cohort_week, week_offset,
        |  active_users, cohort_size,
        |  round(CAST(active_users AS DOUBLE) / cohort_size, 9) AS retention
        |FROM act JOIN sizes ON act.c = sizes.c
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q_event_transitions" ->
      """WITH nexted AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |counts AS (SELECT from_type, to_type, count(*) AS n
        |  FROM nexted WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 9) AS p
        |FROM counts ORDER BY from_type, to_type""".stripMargin,
    "v_orc_sink" ->
      """SELECT doc_id, md5(text) AS h, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s_filtered_ann" ->
      """WITH v AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(c.e)), i -> c.e[i+1] * q.e[i+1])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(c.e, x -> x * x)), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(q.e, x -> x * x)), (x, y) -> x + y))) AS sim
        |  FROM v c JOIN q ON c.label = q.label AND c.vec_id <> q.vec_id
        |  WHERE c.vec_id % 2 = 0)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "t_keywords_tfidf" ->
      s"""WITH toksq AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |      ELSE [array_to_string(t, ' ')] END) AS term
        |  FROM toksq),
        |nd AS (SELECT count(*) AS n FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfreq FROM tfq GROUP BY 1),
        |keep AS (SELECT term,
        |    CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(dfreq AS DOUBLE)) * 1000000) AS BIGINT) AS idfq
        |  FROM dfq WHERE dfreq <= 50 AND dfreq < (SELECT n FROM nd)),
        |w AS (SELECT doc_id, tfq.term, tf * idfq AS w
        |  FROM tfq JOIN keep ON tfq.term = keep.term)
        |SELECT doc_id, rank, term, w FROM (
        |  SELECT doc_id, term, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term ASC) AS rank
        |  FROM w)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_apply_changes" ->
      """WITH changes AS (
        |  SELECT doc_id, 'D' AS op, 1 AS seq, text, lang, source, n_chars
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 'U', 1, upper(text), lang, source, n_chars
        |    FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id, 'U', 2, text || ' rev2', lang, source, n_chars
        |    FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 10000000, 'I', 1, text || ' v2', lang, source, n_chars
        |    FROM documents WHERE doc_id % 10 = 2),
        |latest AS (
        |  SELECT doc_id, arg_max(op, seq) AS op, arg_max(text, seq) AS text,
        |    arg_max(lang, seq) AS lang, arg_max(source, seq) AS source,
        |    arg_max(n_chars, seq) AS n_chars
        |  FROM changes GROUP BY doc_id),
        |merged AS (
        |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.op,
        |    CASE WHEN l.doc_id IS NULL THEN s.text ELSE l.text END AS text,
        |    CASE WHEN l.doc_id IS NULL THEN s.lang ELSE l.lang END AS lang,
        |    CASE WHEN l.doc_id IS NULL THEN s.source ELSE l.source END AS source,
        |    CASE WHEN l.doc_id IS NULL THEN s.n_chars ELSE l.n_chars END AS n_chars
        |  FROM documents s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id)
        |SELECT doc_id, md5(text) AS h, lang, source, n_chars
        |FROM merged WHERE op IS NULL OR op <> 'D'
        |ORDER BY doc_id""".stripMargin,
    "v_schema_merge" ->
      """SELECT doc_id, md5(text) AS h, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(NULL AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000, NULL, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_sliding_window" ->
      """WITH slots AS (
        |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', event_type, value FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM slots GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_triangle_count" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS p1, b.pk AS p2 FROM li a
        |  JOIN li b ON a.ok = b.ok AND b.ln = a.ln + 1 AND a.pk <> b.pk),
        |und AS (SELECT DISTINCT least(p1, p2) AS u, greatest(p1, p2) AS v FROM e0),
        |nodes AS (SELECT count(DISTINCT n) AS c FROM (
        |  SELECT u AS n FROM und UNION ALL SELECT v FROM und)),
        |tri AS (SELECT count(*) AS c FROM und e1
        |  JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT (SELECT c FROM nodes) AS n_nodes,
        |  (SELECT count(*) FROM und) AS n_edges,
        |  (SELECT c FROM tri) AS n_triangles""".stripMargin,
    "t_token_pmi" ->
      s"""WITH docs2 AS (SELECT doc_id,
        |    text || ' kw' || CAST(doc_id % 401 AS VARCHAR)
        |         || ' kz' || CAST(doc_id % 401 AS VARCHAR) AS text
        |  FROM documents),
        |toksq AS (SELECT doc_id, $tokensSql AS t FROM docs2),
        |postings AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM toksq),
        |nd AS (SELECT count(*) AS n FROM documents),
        |dfq AS (SELECT term, count(*) AS dfreq FROM postings
        |  GROUP BY 1 HAVING count(*) <= 200),
        |kept AS (SELECT doc_id, postings.term, dfreq
        |  FROM postings JOIN dfq ON postings.term = dfq.term),
        |pairs AS (SELECT a.term AS term_a, b.term AS term_b,
        |    count(*) AS c_ab, min(a.dfreq) AS df_a, min(b.dfreq) AS df_b
        |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT term_a, term_b, c_ab,
        |  round(ln(CAST((SELECT n FROM nd) * c_ab AS DOUBLE)
        |    / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi
        |FROM pairs ORDER BY term_a, term_b""".stripMargin,
    "v_partitioned_write" ->
      """SELECT doc_id, md5(text) AS h, source
        |FROM documents WHERE source = 'src1' ORDER BY doc_id""".stripMargin,
    "v_jsonl_source" ->
      """SELECT doc_id, md5(text) AS h, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_rolling_features" ->
      """SELECT user_id, event_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |  round(CAST(sum(CAST(value AS DECIMAL(14,2))) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling_mean
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "t_winsorize" ->
      """WITH cuts AS (SELECT source,
        |    quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY 1)
        |SELECT doc_id AS id, d.source, n_chars AS v,
        |  round(greatest(lo, least(hi, CAST(n_chars AS DOUBLE))), 6) AS v_winsorized
        |FROM documents d JOIN cuts ON d.source = cuts.source
        |ORDER BY id""".stripMargin,
    "s_knn_graph" ->
      """WITH v AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(len(c.e)), i -> c.e[i+1] * q.e[i+1])), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(q.e, x -> x * x)), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(c.e, x -> x * x)), (x, y) -> x + y))) AS sim
        |  FROM v q JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "t_hashing_tfidf" ->
      s"""WITH toksq AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |      ELSE [array_to_string(t, ' ')] END) AS term
        |  FROM toksq),
        |nd AS (SELECT count(*) AS n FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfreq FROM tfq GROUP BY 1),
        |keep AS (SELECT term,
        |    CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(dfreq AS DOUBLE)) * 1000000) AS BIGINT) AS idfq
        |  FROM dfq WHERE dfreq <= 50 AND dfreq < (SELECT n FROM nd)),
        |w AS (SELECT doc_id,
        |    CAST(${md5HornerSql("'feat:' || tfq.term")} % 64 AS INTEGER) AS dim,
        |    tf * idfq AS w
        |  FROM tfq JOIN keep ON tfq.term = keep.term)
        |SELECT doc_id, dim, CAST(sum(w) AS BIGINT) AS weight FROM w
        |GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    "q_ab_ttest" ->
      """WITH pu AS (SELECT user_id AS u,
        |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS m
        |  FROM events GROUP BY 1),
        |pv AS (SELECT CAST(u % 2 AS INTEGER) AS variant, count(*) AS n,
        |    CAST(sum(m) AS DOUBLE) AS s, CAST(sum(m * m) AS DOUBLE) AS ss
        |  FROM pu GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN variant = 0 THEN n END) AS n0,
        |    max(CASE WHEN variant = 1 THEN n END) AS n1,
        |    max(CASE WHEN variant = 0 THEN s END) AS s0,
        |    max(CASE WHEN variant = 1 THEN s END) AS s1,
        |    max(CASE WHEN variant = 0 THEN ss END) AS ss0,
        |    max(CASE WHEN variant = 1 THEN ss END) AS ss1
        |  FROM pv)
        |SELECT n0, n1,
        |  round(s0 / n0, 6) AS mean0, round(s1 / n1, 6) AS mean1,
        |  round(((s1 / n1) - (s0 / n0))
        |    / sqrt((((ss1 - (s1 * s1) / n1) / (n1 - 1)) / n1)
        |         + (((ss0 - (s0 * s0) / n0) / (n0 - 1)) / n0)), 6) AS t_stat
        |FROM w""".stripMargin)

  /** DuckDB form of [[graft.ops.TextAnalysis.fingerprint]]. */
  private def fingerprintSql: String =
    "md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g'))"

  /** DuckDB equivalent of [[graft.ops.TextAnalysis.charGrams]] (n = 3)
    * over a column `t` already lowercased. */
  private def charGramsSql: String =
    "list_transform(range(greatest(len(t) - 2, 0)), i -> substr(t, CAST(i + 1 AS INT), 3))"

  /** The md5 Horner fold (60-bit salted hash) — DuckDB form of
    * `conv(substring(md5(x), 1, 15), 16, 10)`. */
  private def md5HornerSql(sExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(15), hk -> CAST(strpos('0123456789abcdef', substr(md5($sExpr), hk+1, 1)) - 1 AS BIGINT))),
       |      (acc, hd) -> acc * 16 + hd)""".stripMargin

  /** One unrolled PageRank iteration CTE: ranks `out` from ranks `prev`
    * over the shared e/ow/n0 CTEs. */
  private def prIterSql(prev: String, out: String): String =
    s"""$out AS (SELECT n0.node,
       |    (1.0 - 0.85) + coalesce(CAST(c.c AS DOUBLE), 0.0) AS r
       |  FROM n0 LEFT JOIN (
       |    SELECT e.dst AS node,
       |      sum(CAST(((r.r * 0.85) * CAST(e.w AS DOUBLE)) / CAST(ow.ow AS DOUBLE) AS DECIMAL(28,14))) AS c
       |    FROM e JOIN $prev r ON e.src = r.node JOIN ow ON e.src = ow.src
       |    GROUP BY e.dst) c ON n0.node = c.node)""".stripMargin
}
