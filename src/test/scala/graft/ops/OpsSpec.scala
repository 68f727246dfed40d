package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property tests for the pipeline operators beyond what the DuckDB
  * oracle pins: top-k invariants, multimodal plumbing equivalence, span
  * removal, and batch == stream for the stateless kernels. */
class OpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact-substr span removal: keeper survives, spans cut, full-eat → null") {
    val df = docs(
      1L -> "a b c d e f",       // keeper of "a b c"/"b c d" — untouched
      2L -> "a b c d x y",       // loses spans at 0 and 1 → keeps "x y"
      3L -> "z z z z z z z",     // within-doc repeat: keeps only pos 0
      4L -> "q r",               // shorter than n — untouched
      5L -> "p q r",             // keeper of "p q r"
      6L -> "p q r")             // fully eaten → null text
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.removeRepeatedSpans(d, "doc_id", "text", n = 3)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
        .toMap
    val out = run(df)
    assert(out(1L) == ((6, 6, "a b c d e f")))
    assert(out(2L) == ((6, 2, "x y")))
    assert(out(3L) == ((7, 1, "z")))
    assert(out(4L) == ((2, 2, "q r")))
    assert(out(5L) == ((3, 3, "p q r")))
    assert(out(6L) == ((3, 0, null)))
    // invariant to input partitioning (keeper = global (doc, pos) min, not
    // an order-dependent accident)
    assert(run(df.repartition(5)) == out)
  }

  test("any-length span removal: maximal merge, nesting, adjacency, keeper") {
    val df = docs(
      1L -> "a b c d e f g h",           // keeper of every repeated gram
      2L -> "x y a b c d e f g h z w",   // the 8-token repeat nested at 2..9
      3L -> "a b c d q r s t a b c d",   // self-repeat -> two disjoint spans
      4L -> "c d e f",                   // a 4-token sub-repeat, fully eaten
      5L -> "a b c d a b c d")           // doubled -> ADJACENT windows merge
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.removeRepeatedSpansAnyLength(d, "doc_id", "text", minLen = 4)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4), r.getString(5))))
        .toMap
    val out = run(df)
    // doc 1 holds every gram's globally-first occurrence — untouched
    assert(out(1L) == ((8, 8, 0, null, "a b c d e f g h")))
    // doc 2: duplicated windows start at 2..6, coverage 2..9 = ONE
    // maximal span (the length-8 repeat, not five length-4 cuts)
    assert(out(2L) == ((12, 4, 1, "2-9", "x y z w")))
    // doc 3: "a b c d" repeats at 0 and 8 — two disjoint maximal spans
    assert(out(3L) == ((12, 4, 2, "0-3,8-11", "q r s t")))
    // doc 4: one 4-token repeat covers everything -> null text
    assert(out(4L) == ((4, 0, 1, "0-3", null)))
    // doc 5: windows at 0 and 4 are ADJACENT ([0,4)∪[4,8)) -> one span
    assert(out(5L) == ((8, 0, 1, "0-7", null)))
    // partition invariance (keeper = global (doc, pos) min)
    assert(run(df.repartition(5)) == out)
  }

  test("bruteForceTopK: k rows per query, self excluded, rank 1 is the max") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3).collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 3)
      assert(!rows.exists(_.getAs[Long]("n_id") == q)) // self excluded
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }) // descending
    }
  }

  test("ivfTopK results are a subset of brute-force candidates restricted to the cell") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", "label",
      q, "vec_id", "embedding", "label", k = 5).collect()
    val qLabel = q.select("label").collect()(0).getInt(0)
    val cellIds = e.filter(col("label") === qLabel).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => cellIds.contains(r.getAs[Long]("n_id"))))
  }

  test("cell-bucketed embedding near-dup finds every exact duplicate with no label column") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // append exact duplicates of the first 30 vectors under shifted ids
    val dups = e.filter(col("vec_id") < 30)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
    val corpus = e.unionByName(dups)
    val pairs = Dedup.embeddingNearDupPairsByCell(corpus, "vec_id", "embedding",
      nCells = 8, threshold = 0.9999)
    val found = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors quantize to the same cell (one deterministic argmin
    // kernel), so every duplicate pair MUST surface; random 0.9999-cosine
    // pairs between distinct vectors do not exist in this corpus
    val expected = (0L until 30L).map(i => (i, i + 100000L)).toSet
    assert(found == expected)
    // reported cosines are the true values (≈1 for exact duplicates)
    assert(pairs.select(min(col("cosine"))).head.getDouble(0) > 0.9999)

    // multi-probe recall widening: probing EVERY cell degenerates to the
    // exact all-pairs comparison (every pair shares a cell), and the
    // single-probe pairs are a subset of any wider probe budget
    val thr = 0.15
    val allPairs = Dedup.embeddingNearDupPairs(
      corpus.withColumn("one", lit(1)), "vec_id", "embedding", "one", thr)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def byCell(p: Int) = Dedup.embeddingNearDupPairsByCell(corpus, "vec_id",
      "embedding", nCells = 8, threshold = thr, probes = p)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = byCell(1); val p8 = byCell(8)
    assert(p8 == allPairs)
    assert(p1.subsetOf(p8))
  }

  test("IVF index persists partitioned by cell and searches identically after load") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (assigned, centroids) = IvfIndex.build(e, "vec_id", "embedding", nCells = 8)
    val dir = graft.queries.TempDirs.create("ivf").toString
    IvfIndex.save(assigned, centroids, dir)
    // on-disk inverted file: one directory per cell (partition pruning =
    // a probe reads only its cells' files)
    val cellDirs = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty && cellDirs.subsetOf(
      (0 until 8).map(c => s"cell=$c").toSet))

    val (loaded, loadedCentroids) = IvfIndex.load(spark, dir)
    assert(loadedCentroids == centroids)
    val queries = e.filter(col("vec_id") < 10)
    def run(a: org.apache.spark.sql.DataFrame, c: Seq[(Int, Seq[Double])]) =
      IvfIndex.search(a, c, queries, "vec_id", "embedding", k = 5, nProbe = 3)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(run(loaded, loadedCentroids) == run(assigned, centroids))
  }

  test("IVF index: deterministic build, sane recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (assigned, centroids) = IvfIndex.build(e, "vec_id", "embedding", nCells = 8)
    assert(centroids.map(_._1).distinct.length == centroids.length)
    assert(assigned.select("cell").distinct().count() <= 8)
    // determinism: rebuilding yields identical assignments
    val (assigned2, _) = IvfIndex.build(e, "vec_id", "embedding", nCells = 8)
    assert(assigned.select("id", "cell").exceptAll(assigned2.select("id", "cell")).count() == 0)

    val queries = e.filter(col("vec_id") < 10)
    val ivf = IvfIndex.search(assigned, centroids, queries, "vec_id", "embedding",
      k = 5, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@5 with nProbe=3/8 was $recall") // random unit vecs: partial recall expected
    assert(ivf.size == 50) // k results per query

    // sample-trained quantizer: Lloyd runs on ~half the corpus, the full
    // corpus still gets assigned, and search keeps comparable recall
    val (assignedS, centroidsS) = IvfIndex.build(e, "vec_id", "embedding",
      nCells = 8, trainFraction = 0.5)
    assert(assignedS.count() == e.count()) // full corpus assigned once
    val ivfS = IvfIndex.search(assignedS, centroidsS, queries, "vec_id", "embedding",
      k = 5, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recallS = ivfS.intersect(brute).size.toDouble / brute.size
    assert(recallS >= 0.3, s"sample-trained recall@5 was $recallS")
    assert(ivfS.size == 50)

    // iters=0: no Lloyd refinement — the init assignment is returned
    // as-is, with centroids (init-cell means) still usable by search
    val (assigned0, centroids0) = IvfIndex.build(e, "vec_id", "embedding",
      nCells = 8, iters = 0)
    assert(assigned0.count() == e.count())
    assert(centroids0.nonEmpty && centroids0.map(_._1).distinct.length == centroids0.length)
    val ivf0 = IvfIndex.search(assigned0, centroids0, queries, "vec_id", "embedding",
      k = 5, nProbe = 8)
    assert(ivf0.count() == 50)

    // iters=0 + trainFraction<1: centroids come from the FULL corpus, so
    // every populated init cell stays probeable even if the train sample
    // missed it entirely
    val (assigned0S, centroids0S) = IvfIndex.build(e, "vec_id", "embedding",
      nCells = 8, iters = 0, trainFraction = 0.2)
    val populated = assigned0S.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(populated.subsetOf(centroids0S.map(_._1).toSet),
      s"cells $populated not all covered by centroids ${centroids0S.map(_._1)}")
  }

  test("multimodal: real PNG payloads decode width/height from actual bytes") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val pngs = Multimodal.pngPayloads(spark, d, "doc_id")
    val decoded = Multimodal.decodeImages(spark, pngs, "doc_id").collect()
    assert(decoded.nonEmpty)
    val payloads = pngs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("payload")).toMap
    decoded.foreach { r =>
      assert(r.meta.format == "image/png")
      assert(r.meta.width == 2 + (r.doc_id % 6).toInt) // true decoded size
      assert(r.meta.height == 2 + (r.doc_id % 4).toInt)
      assert(r.meta.nChannels == 3)
      // the feature is the REAL pixel histogram, not the byte-fold stub:
      // normalized (sums to 1) and equal to a local decode of the payload
      assert(math.abs(r.feature.sum - 1.0f) < 1e-5)
      val local = Multimodal.imageHistogram(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payloads(r.doc_id))))
      assert(r.feature.sameElements(local))
      assert(!r.feature.sameElements(Multimodal.featureStub(payloads(r.doc_id))))
    }
  }

  test("multimodal: nearest-neighbor resize uses the exact integer pixel map") {
    // 2×2 source with distinct pixels
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x111111); img.setRGB(1, 0, 0x222222)
    img.setRGB(0, 1, 0x333333); img.setRGB(1, 1, 0x444444)
    // downscale to 1×1 → picks src(0·2/1, 0·2/1) = (0,0)
    val one = Multimodal.resizeNearest(img, 1, 1)
    assert((one.getRGB(0, 0) & 0xffffff) == 0x111111)
    // upscale to 4×4 → dst(x,y) samples src(x·2/4, y·2/4) = (x/2, y/2)
    val four = Multimodal.resizeNearest(img, 4, 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert((four.getRGB(x, y) & 0xffffff) == (img.getRGB(x / 2, y / 2) & 0xffffff))
    // coordinate map is Long-safe: x·srcW here reaches 39999·60000 ≈ 2.4e9
    // > Int.MaxValue — Int math would index negative and throw
    val wide = new java.awt.image.BufferedImage(60000, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    wide.setRGB(59998, 0, 0xABCDEF)
    val shrunk = Multimodal.resizeNearest(wide, 40000, 1)
    assert((shrunk.getRGB(39999, 0) & 0xffffff) == 0xABCDEF) // 39999·60000/40000 = 59998

    // distributed path: real decode → resize → histogram of RESIZED raster
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val pngs = Multimodal.pngPayloads(spark, d, "doc_id")
    val resized = Multimodal.resizeImages(spark, pngs, "doc_id", 5, 3).collect()
    val payloads = pngs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("payload")).toMap
    resized.foreach { r =>
      assert(r.width == 5 && r.height == 3)
      assert(r.meta.width == 2 + (r.doc_id % 6).toInt) // source dims survive
      assert(math.abs(r.feature.sum - 1.0f) < 1e-5)
      val local = Multimodal.imageHistogram(Multimodal.resizeNearest(
        javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payloads(r.doc_id))), 5, 3))
      assert(r.feature.sameElements(local))
    }
  }

  test("multimodal: a custom MediaCodec plugs in without operator changes") {
    // a "codec" for a made-up RAWB format: magic 'RAWB', then w, h bytes,
    // then w*h gray pixels — stands in for a javacv audio/video decoder
    object RawbCodec extends Multimodal.MediaCodec {
      def decode(p: Array[Byte]) = {
        if (p.length > 6 && p(0) == 'R' && p(1) == 'A' && p(2) == 'W' && p(3) == 'B') {
          val w = p(4) & 0xff
          val h = p(5) & 0xff
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until h; x <- 0 until w) {
            val g = p(6 + y * w + x) & 0xff
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
          }
          Some((Multimodal.MediaMeta(w, h, 1, "rawb/gray8"), img))
        } else Multimodal.ImageIoCodec.decode(p) // chain to the default
      }
    }
    import spark.implicits._
    def rawb(id: Long): Array[Byte] = {
      val (w, h) = (2 + (id % 3).toInt, 2)
      Array[Byte]('R', 'A', 'W', 'B', w.toByte, h.toByte) ++
        Array.tabulate(w * h)(i => ((id * 37 + i * 11) % 256).toByte)
    }
    val df = (1L to 10L).map(id => (id, rawb(id))).toDF("doc_id", "payload")
    val decoded = Multimodal.decodeImages(spark, df, "doc_id",
      codec = RawbCodec).collect()
    decoded.foreach { r =>
      assert(r.meta.format == "rawb/gray8")
      assert(r.meta.width == 2 + (r.doc_id % 3).toInt && r.meta.height == 2)
      assert(math.abs(r.feature.sum - 1.0f) < 1e-5) // REAL histogram path
    }
    // unrecognized payloads still fall back to the deterministic pair
    val junk = Seq((99L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)))
      .toDF("doc_id", "payload")
    val fb = Multimodal.decodeImages(spark, junk, "doc_id",
      codec = RawbCodec).collect().head
    assert(fb.meta.format == "fake/rgb8")
    // resize flows through the same seam
    val rz = Multimodal.resizeImages(spark, df, "doc_id", 4, 4,
      codec = RawbCodec).collect()
    assert(rz.forall(r => r.width == 4 && r.meta.format == "rawb/gray8"))
  }

  test("multimodal: partition-batched decode matches the expression path") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    // a deterministic synthetic binary payload per document
    val withPayload = d.withColumn("payload", to_binary(sha2(concat(
      col("doc_id").cast("string"), lit(":"), col("text")), 256), lit("hex")))
    val decoded = Multimodal.decodeImages(spark, withPayload, "doc_id")
      .toDF().select(col("doc_id"), col("meta.width").as("width"), col("meta.height").as("height"))
    val exprPath = Multimodal.decodeMetaExpr(d, "doc_id").select("doc_id", "width", "height")
    assert(decoded.exceptAll(exprPath).count() == 0)
    assert(exprPath.exceptAll(decoded).count() == 0)
    // feature vectors: fixed shape, deterministic
    val feats = Multimodal.decodeImages(spark, withPayload, "doc_id").collect()
    assert(feats.forall(_.feature.length == 8))
  }

  test("sliding window agg: streaming form matches the batch form") {
    val src = graft.queries.TempDirs.create("slide").toString
    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    events.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName("slide_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
        "SELECT event_type, sum(n) AS n FROM slide_test GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Streaming.slidingWindowStatsBatch(events, "10 minutes", "5 minutes")
      .groupBy("event_type").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    // each event lands in exactly len/slide = 2 windows
    val tumbling = Streaming.windowStatsBatch(events, "5 minutes")
      .agg(sum("n")).collect().head.getLong(0)
    assert(batch.values.sum == 2 * tumbling)
  }

  test("sessionRowsStream: closed sessions == batch sessionize rows (batch == stream)") {
    val src = graft.queries.TempDirs.create("sess").toString
    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts", "event_id")
    // split by TIME (per-user ordered arrival — the documented lateness
    // contract); the cut lands mid-month so it splits open sessions
    val cutExpr = unix_timestamp(col("ts")) < 1705363200L
    events.filter(cutExpr).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    events.filter(!cutExpr).write.mode("append").parquet(src)
    val q = Streaming.sessionRowsStream(spark, src, schema, "user_id", "ts",
      gapSeconds = 1800L, queryName = "sess_rows_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT * FROM sess_rows_test")
      .collect().map(_.toString).sorted.toSeq
    // batch rows MINUS each user's final (still-open) session
    val batch = graft.ops.Behavior.sessionize(events, "user_id", "ts",
        "event_id", gapSeconds = 1800L)
      .withColumn("__mx", max(col("session_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("session_id") < col("__mx")).drop("__mx")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("sessionize: gap-based session counts per user") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:01:00"), // session 1
      (1L, "2024-01-01 02:00:00"), // session 2 (gap > 30 min)
      (2L, "2024-01-01 00:00:00")) // one session
      .toDF("user_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
    val out = Streaming.sessionizeBatch(df, gapSeconds = 1800)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2L, 3L))
    assert(out(2L) == (1L, 1L))
  }

  test("text quality: clean prose scores higher than repetitive junk") {
    val df = docs(
      1L -> "the quick brown fox jumps over a lazy dog and runs to the river in the morning light",
      2L -> "spam spam spam spam spam spam spam spam spam spam spam spam")
    val scores = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(2L))
  }

  test("splitAssign: exhaustive, deterministic, proportional, rand()-free") {
    import spark.implicits._
    val ids = (0L until 5000L).toDF("id")
    val out = Pipeline.splitAssign(ids, "id")
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000L) // every row assigned exactly once
    assert(counts("train") > 4700 && counts("train") < 4950)
    assert(counts.getOrElse("validation", 0L) > 10)
    assert(counts.getOrElse("test", 0L) > 10)
    // same ids, different order/partitioning → identical assignments
    val again = Pipeline.splitAssign(
        ids.orderBy(col("id").desc).repartition(7), "id")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = out.select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again)
    val ex = intercept[IllegalArgumentException] {
      Pipeline.splitAssign(ids, "id", Seq("train" -> 0.5, "test" -> 0.2))
    }
    assert(ex.getMessage.contains("sum to 1"))
  }

  test("stratified sampling: exact rate semantics, nesting, no shuffle") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, s"src${i % 4}"))
      .toDF("id", "source")
    val out = Pipeline.sampleByStratum(df, "id", "source",
      Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.3), defaultRate = 0.5)
    val bySrc = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src0"))
    assert(bySrc("src1") == 1000)
    // md5 buckets are uniform-ish: 0.3 of 1000 within a loose band
    assert(bySrc("src2") > 200 && bySrc("src2") < 400)
    assert(bySrc("src3") > 400 && bySrc("src3") < 600)
    // a smaller rate's survivors nest inside a larger rate's
    val r03 = Pipeline.sampleByStratum(df, "id", "source",
      Map(), defaultRate = 0.3).select("id").collect().map(_.getLong(0)).toSet
    val r05 = Pipeline.sampleByStratum(df, "id", "source",
      Map(), defaultRate = 0.5).select("id").collect().map(_.getLong(0)).toSet
    assert(r03.subsetOf(r05))
    // deterministic under reshuffled input, and a pure filter (no exchange)
    val again = Pipeline.sampleByStratum(df.repartition(7), "id", "source",
      Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.3), defaultRate = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("chunking: stride windows, partial tail, full coverage, empty docs") {
    val df = docs(
      1L -> (1 to 10).map(i => s"w$i").mkString(" "), // n=10: chunks at 0,4
      2L -> "a b c",                                  // n=3 <= chunk: one
      3L -> "")                                       // nothing
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 8, strideTokens = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3)))
      .toMap
    assert(out.keySet == Set((1L, 0), (1L, 1), (2L, 0)))
    assert(out((1L, 0)) == (((1 to 8).map(i => s"w$i").mkString(" "), 8)))
    assert(out((1L, 1)) == (((5 to 10).map(i => s"w$i").mkString(" "), 6)))
    assert(out((2L, 0)) == (("a b c", 3)))
    // every token covered: union of chunk tokens == doc tokens
    val covered = out.collect { case ((1L, _), (txt, _)) => txt.split(" ") }
      .flatten.toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
    // zero shuffles
    assert(!TextAnalysis.chunkDocuments(df, "doc_id", "text", 8, 4)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("packing: straddling docs, exact boundaries, empty docs, coverage") {
    // stream: d1=5 d2=3 d4=8 d5=4 tokens (d3 empty) → cum 5,8,16,20; C=8
    // cuts: d1 [0,5) seq0; d2 [5,8) seq0 (ends ON the boundary);
    // d4 [8,16) seq1 exactly full; d5 [16,20) seq2
    val df = docs(
      1L -> "a b c d e",
      2L -> "f g h",
      3L -> "",
      4L -> "i j k l m n o p",
      5L -> "q r s t")
    val out = graft.ops.Pipeline.packSequences(df, "doc_id", "text",
        capacity = 8, buckets = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))
      .toMap
    assert(out.keySet == Set((1L, 0L), (2L, 0L), (4L, 1L), (5L, 2L)))
    assert(out((1L, 0L)) == ((0, 0, 5, "a b c d e")))
    assert(out((2L, 0L)) == ((5, 0, 3, "f g h")))
    assert(out((4L, 1L)) == ((0, 0, 8, "i j k l m n o p")))
    assert(out((5L, 2L)) == ((0, 0, 4, "q r s t")))
  }

  test("packing: a doc larger than capacity spans multiple sequences") {
    val df = docs(
      1L -> "p q r",                                       // [0,3)
      2L -> (1 to 20).map(i => s"w$i").mkString(" "))      // [3,23): seqs 0-2
    val out = graft.ops.Pipeline.packSequences(df, "doc_id", "text",
        capacity = 8, buckets = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))
      .toMap
    assert(out.keySet == Set((1L, 0L), (2L, 0L), (2L, 1L), (2L, 2L)))
    assert(out((2L, 0L)) == ((3, 0, 5, (1 to 5).map(i => s"w$i").mkString(" "))))
    assert(out((2L, 1L)) == ((0, 5, 8, (6 to 13).map(i => s"w$i").mkString(" "))))
    assert(out((2L, 2L)) == ((0, 13, 7, (14 to 20).map(i => s"w$i").mkString(" "))))
    // full coverage: pieces of doc 2 concatenate back to its token stream
    val joined = out.toSeq.filter(_._1._1 == 2L).sortBy(_._1._2)
      .map(_._2._4).mkString(" ")
    assert(joined == (1 to 20).map(i => s"w$i").mkString(" "))
    // every sequence except the last is exactly full
    val perSeq = out.toSeq.groupBy(_._1._2)
      .map { case (s, ps) => s -> ps.map(_._2._3).sum }
    assert(perSeq == Map(0L -> 8, 1L -> 8, 2L -> 7))
  }

  test("packing is bucket-count invariant and avoids a one-task window") {
    import spark.implicits._
    val df = (1L to 60L).map(i =>
        i -> (1 to (i % 7 + 1).toInt).map(j => s"t${i}_$j").mkString(" "))
      .toDF("doc_id", "text")
    def run(b: Int) = graft.ops.Pipeline.packSequences(
        df, "doc_id", "text", capacity = 16, buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getString(5))).toSet
    val one = run(1)
    assert(run(4) == one && run(13) == one && one.nonEmpty)
    // the corpus-side running sum is partitioned by bucket — no empty-
    // partition windowspec over the base rows (only the tiny per-bucket
    // offsets window is global)
    val plan = graft.ops.Pipeline.packSequences(df, "doc_id", "text",
      capacity = 16, buckets = 4).queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__rs_b"))
  }

  // the 60-bit md5 integer the sampling/ordering ops derive their
  // determinism from, recomputed driver-side
  private def md5h(salt: String, id: Long): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)

  test("token budget: md5-order whole-doc prefix, inclusive edge, zero budget") {
    import spark.implicits._
    val rows = (1L to 40L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      (i, src, (1 to (i % 5 + 1).toInt).map(j => s"w${i}_$j").mkString(" "))
    } ++ Seq((101L, "c", "x y z"), (102L, "c", "x y z"), (103L, "c", "x y z"))
    val df = rows.toDF("doc_id", "source", "text").repartition(7)
    val budgets = Map("a" -> 30L, "c" -> 6L)
    // driver-side expectation: per source, visit in (md5h, id) order,
    // keep while the inclusive cumsum fits
    val expect = rows.groupBy(_._2).flatMap { case (src, rs) =>
      val budget = budgets.getOrElse(src, 25L)
      var cum = 0L
      rs.sortBy(r => (md5h("budget", r._1), r._1)).flatMap { r =>
        val n = r._3.split(" ").length
        cum += n
        if (cum <= budget) Some((r._1, src, n, cum)) else None
      }
    }.toSet
    val out = graft.ops.Pipeline.sampleToTokenBudget(df, "doc_id", "text",
        "source", budgets, defaultBudget = 25L, buckets = 5)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(out == expect)
    // the 'c' stratum pins the INCLUSIVE edge deterministically: 3 docs of
    // 3 tokens against budget 6 — the doc landing exactly ON the budget
    // survives, the next is dropped
    assert(out.count(_._2 == "c") == 2)
    assert(out.filter(_._2 == "c").map(_._4) == Set(3L, 6L))
    // zero budget drops the stratum entirely
    val zero = graft.ops.Pipeline.sampleToTokenBudget(df, "doc_id", "text",
      "source", Map("a" -> 0L), defaultBudget = 1000000L)
    assert(zero.filter(col("source") === "a").count() == 0)
    assert(zero.filter(col("source") === "b").count() == 20)
  }

  test("shuffle shards: md5 assignment, dense 0-based positions, invariance") {
    import spark.implicits._
    val df = (1L to 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame, buckets: Int) =
      graft.ops.Pipeline.shuffleShards(d, "doc_id", numShards = 4,
        buckets = buckets)
        .select("doc_id", "shard", "shard_pos")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val out = run(df, 5)
    // driver-side recompute: shard = h mod 4, pos = rank in (h, id) order
    val expect = (1L to 60L).map(i => (i, md5h("shuffle", i)))
      .groupBy(t => (t._2 % 4).toInt).flatMap { case (shard, ids) =>
        ids.sortBy(t => (t._2, t._1)).zipWithIndex.map {
          case ((id, _), pos) => (id, shard, pos)
        }
      }.toSet
    assert(out == expect)
    // positions are dense 0..n-1 within every shard
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3) == (0 until rs.size).toSet)
    }
    // invariant to input partitioning and bucket count
    assert(run(df.repartition(13), 1) == out && run(df.coalesce(1), 7) == out)
    // a different salt is an independent reshuffle of the same corpus
    val re = graft.ops.Pipeline.shuffleShards(df, "doc_id", numShards = 4,
        salt = "epoch2")
      .select("doc_id", "shard", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(re != out && re.map(_._1) == out.map(_._1))
  }

  test("chunking is stateless: batch == stream, two micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      1L -> (1 to 20).map(i => s"w$i").mkString(" "),
      2L -> "short doc",
      3L -> "", // empty doc: no chunks in either mode
      4L -> (1 to 9).map(i => s"x$i").mkString(" "))
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.chunkDocuments(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", 8, 4)
      .writeStream.format("memory").queryName("chunk_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))
    val streamed = spark.table("chunk_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.chunkDocuments(rows.toDF("doc_id", "text"),
      "doc_id", "text", 8, 4).collect().map(key).toMap
    assert(streamed == batch && batch.nonEmpty)
    assert(!streamed.keys.exists(_._1 == 3L))
  }

  test("chunking carries pass-through columns without extra shuffles") {
    import spark.implicits._
    val df = Seq((1L, "srcA", "train", (1 to 10).map(i => s"w$i").mkString(" ")),
        (2L, "srcB", "test", "tiny"))
      .toDF("doc_id", "source", "split", "text")
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text", 8, 4,
      carryCols = Seq("source", "split"))
    assert(out.columns.toSeq == Seq("doc_id", "chunk_id", "chunk_text",
      "n_chunk_tokens", "source", "split"))
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getString(4), r.getString(5))).toSet
    assert(rows == Set((1L, 0, "srcA", "train"), (1L, 1, "srcA", "train"),
      (2L, 0, "srcB", "test")))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("corpusPrep composes the seven stages with the right interactions") {
    import spark.implicits._
    val dup = (1 to 40).map(i => s"tok$i").mkString(" ")
    val good = (1 to 40).map(i => s"uniq${i}word").mkString(" ")
    val evalText = (100 to 140).map(i => s"evaltok$i").mkString(" ")
    val docs = Seq(
      (1L, "srcA", dup),       // near-dup cluster {1,2}: 1 survives
      (2L, "srcA", dup + " extraone extratwo exthree efour efive esix"),
      (3L, "srcA", good),      // clean unique doc: survives
      (4L, "srcA", evalText),  // contaminated vs eval set: dropped
      (5L, "srcA", "a a a a a a a a a a a a a a a a"), // quality 0.52: dropped
      (6L, "srcB", good + " tail"), // srcB sampled at rate 0
      (50L, "srcEval", evalText)) // the eval slice (id % 50 == 0)
      .toDF("doc_id", "source", "text")
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
    val out = Pipeline.corpusPrep(docs, "doc_id", "text", "source", evalSet,
      minQuality = 0.55, jaccardThreshold = 0.3,
      sampleRates = Map("srcB" -> 0.0), defaultRate = 1.0,
      chunkTokens = 16, strideTokens = 8)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 lost to near-dedup (keep 1), 4 to decontamination, 5 to quality,
    // 6 to sampling, 50 to self-decontamination (full eval overlap)
    assert(ids == Set(1L, 3L))
    val cols = out.columns.toSeq
    assert(cols == Seq("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens",
      "source", "split"))
    // every kept doc chunks fully: 40 tokens -> ceil((40-16)/8)+1 = 4 chunks
    val byDoc = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.values.forall(_ == 4L))
  }

  test("stratified sampling is a stateless filter: batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0L until 300L).map(i => (i, s"src${i % 3}"))
    val mem = MemoryStream[(Long, String)]
    val q = Pipeline.sampleByStratum(
        mem.toDF().toDF("id", "source"), "id", "source",
        Map("src0" -> 0.0, "src1" -> 0.4), defaultRate = 0.8)
      .writeStream.format("memory").queryName("sample_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(100): _*); q.processAllAvailable()
    mem.addData(rows.drop(100): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sample_stream_test")
      .collect().map(_.getLong(0)).toSet
    val batch = Pipeline.sampleByStratum(rows.toDF("id", "source"), "id",
        "source", Map("src0" -> 0.0, "src1" -> 0.4), defaultRate = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("repetition filter: coverages are exact integer ratios; keep splits") {
    val df = docs(
      // 8 tokens, "spam spam" bigram 3x (positions overlap), top token 4x
      1L -> "spam spam spam spam then something else here",
      // 6 distinct tokens, no repeated gram
      2L -> "one two three four five six",
      3L -> "") // empty doc: all fractions 0, kept
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    assert(out(1L) == ((8, 4.0 / 8, 2 * 3.0 / 8, 2 * 3.0 / 8, false)))
    assert(out(2L) == ((6, 1.0 / 6, 2 * 1.0 / 6, 0.0, false)))
    assert(out(3L)._5 && out(3L)._2 == 0.0)
    // partition invariance, and a shuffle-free narrow plan
    val again = TextAnalysis.repetitionStats(df.repartition(5), "doc_id", "text")
    val againMap = again
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    assert(againMap == out)
    assert(!TextAnalysis.repetitionStats(df, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("repetition filter is stateless: batch == stream, no state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      1L -> "spam spam spam spam then something else here",
      2L -> "one two three four five six",
      3L -> "a b a b a b a b")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.repetitionStats(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("rep_stream_test")
      .outputMode("append").start()
    // two micro-batches: per-row metrics must not depend on batch grouping
    mem.addData(rows.take(1): _*); q.processAllAvailable()
    mem.addData(rows.drop(1): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rep_stream_test").collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    val batch = TextAnalysis.repetitionStats(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    assert(streamed == batch && streamed.size == 3)
  }

  test("lmScore matches a driver-side bigram LM with add-k smoothing") {
    val ref = docs(
      10L -> "the cat sat on the mat",
      20L -> "the dog sat on the rug")
    val corpus = docs(
      1L -> "the cat sat",      // all bigrams seen
      2L -> "the zebra ran",    // unseen bigrams, seen + unseen contexts
      3L -> "single",           // no bigrams: null score
      4L -> "")                 // empty doc: null score
    val k = 0.5
    // driver-side LM over the reference
    val refToks = Seq("the cat sat on the mat", "the dog sat on the rug")
      .map(_.split(" ").toSeq)
    val vocabN = refToks.flatten.distinct.size // 8
    val c2 = refToks.flatMap(t => t.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).map { case (g, v) => g -> v.size }
    val ctx = c2.groupBy(_._1.split(" ")(0)).map { case (w, m) => w -> m.values.sum }
    def logp(bg: String): Double = {
      val w1 = bg.split(" ")(0)
      math.log((c2.getOrElse(bg, 0).toDouble + k) /
        (ctx.getOrElse(w1, 0).toDouble + k * (vocabN + 1.0)))
    }
    def want(text: String): Option[(Long, Double)] = {
      val bgs = text.split(" ").filter(_.nonEmpty).toSeq.sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")).toSeq
      if (bgs.isEmpty) None
      else Some(bgs.size.toLong -> {
        val s = bgs.map(b => scala.math.BigDecimal(logp(b))
          .setScale(14, scala.math.BigDecimal.RoundingMode.HALF_UP)).sum
        s.doubleValue / bgs.size
      })
    }
    val got = TextAnalysis.lmScore(corpus, "doc_id", "text", ref, "text", k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L) == ((2L, Some(want("the cat sat").get._2))))
    assert(got(2L) == ((2L, Some(want("the zebra ran").get._2))))
    assert(got(3L) == ((0L, None)))
    assert(got(4L) == ((0L, None)))
    // seen text scores strictly higher than unseen text
    assert(got(1L)._2.get > got(2L)._2.get)
    // partition invariance (DECIMAL sums are order-safe)
    val again = TextAnalysis.lmScore(corpus.repartition(7), "doc_id", "text",
        ref, "text", k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(again == got)
  }

  test("nbQualityScore matches a driver-side naive-Bayes model") {
    val pos = docs(10L -> "good clear prose with structure",
      20L -> "clear good writing")
    val neg = docs(30L -> "spam spam junk junk junk", 40L -> "junk spam")
    val corpus = docs(
      1L -> "good clear writing",   // all-positive tokens
      2L -> "spam junk spam",       // all-negative tokens
      3L -> "good mystery junk",    // mixed + unseen
      4L -> "")                     // empty: null score
    val k = 0.5
    val pToks = Seq("good clear prose with structure", "clear good writing")
      .flatMap(_.split(" "))
    val nToks = Seq("spam spam junk junk junk", "junk spam").flatMap(_.split(" "))
    val pCnt = pToks.groupBy(identity).map { case (w, v) => w -> v.size }
    val nCnt = nToks.groupBy(identity).map { case (w, v) => w -> v.size }
    val v = (pToks ++ nToks).distinct.size.toDouble
    def lo(w: String): Double =
      math.log((pCnt.getOrElse(w, 0).toDouble + k) / (pToks.size + k * (v + 1.0))) -
        math.log((nCnt.getOrElse(w, 0).toDouble + k) / (nToks.size + k * (v + 1.0)))
    def want(text: String): Option[Double] = {
      val ts = text.split(" ").filter(_.nonEmpty).toSeq
      if (ts.isEmpty) None
      else Some(ts.map(w => scala.math.BigDecimal(lo(w))
        .setScale(14, scala.math.BigDecimal.RoundingMode.HALF_UP)).sum
        .doubleValue / ts.size)
    }
    val got = TextAnalysis.nbQualityScore(corpus, "doc_id", "text",
        pos, "text", neg, "text", k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, want("good clear writing"))))
    assert(got(2L) == ((3L, want("spam junk spam"))))
    assert(got(3L) == ((3L, want("good mystery junk"))))
    assert(got(4L) == ((0L, None)))
    // the classifier separates: curated-like > junk-like, mixed between
    assert(got(1L)._2.get > got(3L)._2.get && got(3L)._2.get > got(2L)._2.get)
    // zero joins, zero shuffles: no Exchange anywhere in the plan
    val plan = TextAnalysis.nbQualityScore(corpus, "doc_id", "text",
      pos, "text", neg, "text", k).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("zorder: exact Morton interleave, null lane, clustered-write plan") {
    import spark.implicits._
    val df = Seq((0L, 0.0), (3L, 0.0), (0L, 3.0), (3L, 3.0), (2L, 1.0))
      .toDF("a", "b")
    val cuts = (c: String) => Array(lit(1), lit(2), lit(3)) // bins 0..3 at bits=2
    val z = graft.ops.Layout.zvalue(
      Seq(col("a") -> cuts("a"), col("b").cast("int") -> cuts("b")), bits = 2)
    val got = df.select(col("a"), col("b"), z.as("z")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)) -> r.getLong(2)).toMap
    def morton(x: Int, y: Int): Long =
      (0 until 2).map(j => (((x >> j) & 1) << (2 * j)) |
        (((y >> j) & 1) << (2 * j + 1))).sum.toLong
    assert(got((0L, 0.0)) == morton(0, 0) && got((3L, 0.0)) == morton(3, 0))
    assert(got((0L, 3.0)) == morton(0, 3) && got((3L, 3.0)) == morton(3, 3))
    assert(got((2L, 1.0)) == morton(2, 1))
    // nulls bin to lane 0 deterministically
    val nz = Seq((Option.empty[Long], 2.0)).toDF("a", "b")
      .select(graft.ops.Layout.zvalue(
        Seq(col("a") -> cuts("a"), col("b").cast("int") -> cuts("b")),
        bits = 2).as("z")).head.getLong(0)
    assert(nz == morton(0, 2))
    // the clustered write range-partitions on zval
    val plan = df.withColumn("zval", z).repartitionByRange(2, col("zval"))
      .sortWithinPartitions("zval").queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(zval"))
  }

  test("assembleTrainingMix: budget counts DEDUPED tokens, stages compose") {
    import spark.implicits._
    // doc 1 and 2 share an 8-token span (2 loses it: 12 -> 4 tokens);
    // doc 4's source gets budget 0 and must vanish before packing
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq(
      (1L, s"$span a b c d", "A"),
      (2L, s"$span e f g h", "A"),
      (3L, "u1 u2 u3 u4 u5 u6", "A"),
      (4L, "v1 v2 v3 v4", "B")).toDF("doc_id", "text", "source")
    val out = graft.ops.Pipeline.assembleTrainingMix(df, "doc_id", "text",
        "source", spanN = 8, posSource = "A", negSource = "B",
        minLogOdds = -100.0, budgets = Map("B" -> 0L),
        defaultBudget = 1000L, capacity = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getString(5)))
    // zero-budget source B is gone; A survives in full
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    // doc 2 contributes its DEDUPED 4 tokens (span cut), not 12: total
    // stream = 12 + 4 + 6 = 22 tokens -> pieces of 4, last piece 2
    assert(out.map(_._5).sum == 22)
    assert(out.forall(_._5 <= 4))
    // per-doc coverage: piece_tokens reassemble each surviving doc exactly
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(perDoc == Map(1L -> 12, 2L -> 4, 3L -> 6))
    // doc 2's pieces carry the deduped text only
    val d2 = out.filter(_._1 == 2L).sortBy(_._2).flatMap(_._6.split(" "))
    assert(d2.toSeq == Seq("e", "f", "g", "h"))
  }

  test("assembleTrainingMix: span-dedup subtree materialized ONCE, lineage cut") {
    import spark.implicits._
    val df = (1L to 40L).map(i =>
        (i, (1 to 20).map(j => s"w${(i * 7 + j) % 13}").mkString(" "),
          if (i % 2 == 0) "A" else "B"))
      .toDF("doc_id", "text", "source")
    def build() = graft.ops.Pipeline.assembleTrainingMix(df, "doc_id",
      "text", "source", spanN = 8, posSource = "A", negSource = "B",
      minLogOdds = -100.0, budgets = Map.empty, defaultBudget = 1000L,
      capacity = 16)
    // The round-8 plan re-executed the ExactSubstr subtree ~4x (two NB
    // collects + the pack order-statistics pass + the final job). Now the
    // dedup output and the budget-mixed survivors are materialized, so the
    // FINAL plan's lineage is cut: every leaf is a materialized scan, and
    // the heavy span-removal operators (posexplode window generation, the
    // gram Window, the source join) appear nowhere in it.
    val out = build()
    val optimized = out.queryExecution.optimizedPlan
    val plan = optimized.toString
    assert(!plan.contains("posexplode"), s"span-dedup lineage not cut:\n$plan")
    // the only join left is the pack stage's tiny broadcast of bucket
    // offsets — the id-keyed source join lives behind the materialization
    assert(optimized.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.rightHint.isEmpty && j.hint.leftHint.isEmpty => j
    }.isEmpty, s"non-broadcast join in the final plan:\n$plan")
    val leaves = optimized.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.getClass.getSimpleName.contains("LogicalRDD")),
      s"expected only materialized-scan leaves, got ${leaves.map(_.nodeName)}")
    // Execution-count evidence (job counts are meaningless under AQE —
    // every query stage is its own job): an accumulator bumped per
    // SOURCE row proves the raw corpus is read only while building the
    // materialized stages, and NEVER again by the NB collects, the pack
    // order-statistics pass, or the final job. Round 8's unmaterialized
    // plan re-scanned the source in all of them.
    val scans = spark.sparkContext.longAccumulator("graft_test_src_scans")
    val bump = udf { (s: String) => scans.add(1); true }
    val counted = df.filter(bump(col("text")))
    val mixed = graft.ops.Pipeline.assembleTrainingMix(counted, "doc_id",
      "text", "source", spanN = 8, posSource = "A", negSource = "B",
      minLogOdds = -100.0, budgets = Map.empty, defaultBudget = 1000L,
      capacity = 16)
    // materialization is eager, so all source reads have happened by now:
    // the span-dedup plan reads the source a small constant number of
    // times (gram generation + reassembly + the id->source join branch)
    val afterBuild = scans.value
    assert(afterBuild >= 40L && afterBuild <= 5L * 40,
      s"source scanned ${afterBuild / 40.0}x at build — expected the one " +
        "materialization pass (<= 5 plan branches)")
    assert(mixed.collect().length > 0)
    assert(scans.value == afterBuild,
      s"final job re-read the raw source: ${scans.value} vs $afterBuild")
    // cluster-durable form: materializePath writes real parquet stages and
    // produces identical output
    val tmp = graft.queries.TempDirs.create("mix").toString
    val viaPath = graft.ops.Pipeline.assembleTrainingMix(df, "doc_id",
      "text", "source", spanN = 8, posSource = "A", negSource = "B",
      minLogOdds = -100.0, budgets = Map.empty, defaultBudget = 1000L,
      capacity = 16, materializePath = Some(tmp))
    assert(new java.io.File(s"$tmp/span_dedup").exists())
    assert(new java.io.File(s"$tmp/mixed").exists())
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getString(5))
    assert(viaPath.collect().map(key).sortBy(k => (k._2, k._1)).toSeq ==
      out.collect().map(key).sortBy(k => (k._2, k._1)).toSeq)
  }

  test("trainingMix per-stage report rides the materialized frames") {
    import spark.implicits._
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq(
      (1L, s"$span a b c d", "A"),
      (2L, s"$span e f g h", "A"),
      (3L, "u1 u2 u3 u4 u5 u6", "A"),
      (4L, "v1 v2 v3 v4", "B")).toDF("doc_id", "text", "source")
    val st = graft.ops.Pipeline.assembleTrainingMixStaged(df, "doc_id",
      "text", "source", spanN = 8, posSource = "A", negSource = "B",
      minLogOdds = -100.0, budgets = Map("B" -> 0L), defaultBudget = 1000L,
      capacity = 4)
    val rep = st.report.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // span_dedup: doc 2 loses its 8-token span → A = 12 + 4 + 6 tokens
    assert(rep(("span_dedup", "A")) == ((3L, 22L)))
    assert(rep(("span_dedup", "B")) == ((1L, 4L)))
    // the -100 log-odds floor keeps everything
    assert(rep(("quality_filter", "A")) == ((3L, 22L)))
    assert(rep(("quality_filter", "B")) == ((1L, 4L)))
    // zero budget eliminates B entirely; A fits its budget in full
    assert(rep(("token_budget", "A")) == ((3L, 22L)))
    assert(!rep.contains(("token_budget", "B")))
    // accounting is FREE of pipeline re-execution: every leaf of the
    // report plan is a materialized scan
    assert(st.report.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")))
    // and the exposed packed frame is the assembleTrainingMix output
    assert(st.packed.columns.toSeq.take(2) == Seq("doc_id", "seq_id"))
  }

  test("importanceResample: partition-invariant and engine-exact at the boundary") {
    val corpus = docs((1L to 60L).map(i =>
      i -> (1 to 12).map(j => s"t${(i + j) % 9}").mkString(" ")): _*)
    val target = docs(900L -> "t0 t1 t2 t3", 901L -> "t1 t2")
    val raw = docs(950L -> "t5 t6 t7 t8", 951L -> "t7 t8")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Pipeline.importanceResample(df, "doc_id", "text",
        target, "text", raw, "text", sampleSize = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSeq
    val base = run(corpus)
    assert(base.length == 20)
    // partitioning cannot change the sample: the Gumbel keys are pure
    // functions of (salt, id) and the top-k merge is order-insensitive
    assert(run(corpus.repartition(7)) == base)
    assert(run(corpus.coalesce(1)) == base)
    // the SELECTION key is the 9-dp-rounded gumbel_key (ties by id): a
    // 1-ulp ln() difference between engines cannot flip membership unless
    // it crosses a 5e-10 rounding boundary — pin the ordering contract by
    // recomputing the selection driver-side from the full corpus's keys
    val all = graft.ops.Pipeline.importanceResample(corpus, "doc_id",
      "text", target, "text", raw, "text", sampleSize = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val expect = all.sortBy { case (id, k) =>
      (-BigDecimal(k).setScale(9, BigDecimal.RoundingMode.HALF_UP), id) }
      .take(20).map(_._1).toSet
    assert(base.map(_._1).toSet == expect)
  }

  test("importanceResample: deterministic Gumbel-top-k, tilted toward target") {
    val target = docs(100L -> "alpha beta gamma delta", 101L -> "alpha beta gamma")
    val raw = docs(200L -> "noise junk clutter spam", 201L -> "junk spam noise")
    // weight spans ±tens of nats (20 strongly-classed tokens per doc), so
    // the bounded Gumbel noise cannot flip target-like below raw-like
    val corpus = docs(
      (1L to 10L).map(i => i -> Seq.fill(10)("alpha beta").mkString(" ")) ++
        (11L to 20L).map(i => i -> Seq.fill(10)("junk spam").mkString(" ")): _*)
    def run(salt: String, k: Int) =
      graft.ops.Pipeline.importanceResample(corpus, "doc_id", "text",
        target, "text", raw, "text", sampleSize = k, salt = salt)
    val out = run("dsir", 8).collect()
    assert(out.length == 8)
    // every sampled doc is target-like, none raw-like
    assert(out.map(_.getLong(0)).forall(id => id >= 1L && id <= 10L))
    // deterministic: a second run is identical, row for row
    assert(run("dsir", 8).collect().toSeq == out.toSeq)
    // a different salt is an independent redraw: same sample size, keys move
    val re = run("epoch2", 8).collect()
    assert(re.length == 8 &&
      re.map(_.getDouble(3)).toSet != out.map(_.getDouble(3)).toSet)
    // sampleSize >= corpus returns everything
    assert(run("dsir", 50).count() == 20)
    // global top-k compiles to TakeOrderedAndProject, never a full sort
    val plan = run("dsir", 8).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("lmScore: multibyte tokens order and look up correctly in the kernel") {
    // ü (2 bytes), 中/文 (3 bytes), асдф (cyrillic) — keys whose unsigned
    // byte order differs from UTF-16 char order exercise the kernel's
    // sorted-array binary search; 'zz' sorts between the multibyte keys'
    // first bytes and plain ASCII
    val ref = docs(
      10L -> "über zz über 中文 中文 асдф",
      20L -> "zz über асдф zz")
    val corpus = docs(
      1L -> "über zz über 中文", // seen bigrams
      2L -> "中文 асдф zz näin") // mixed seen/unseen
    val k = 0.25
    val refToks = Seq("über zz über 中文 中文 асдф", "zz über асдф zz")
      .map(_.split(" ").toSeq)
    val vocabN = refToks.flatten.distinct.size
    val c2 = refToks.flatMap(t => t.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).map { case (g, v) => g -> v.size }
    val ctx = c2.groupBy(_._1.split(" ")(0)).map { case (w, m) => w -> m.values.sum }
    def score(text: String): Double = {
      val bgs = text.split(" ").toSeq.sliding(2).map(_.mkString(" ")).toSeq
      val s = bgs.map { bg =>
        val w1 = bg.split(" ")(0)
        scala.math.BigDecimal(math.log((c2.getOrElse(bg, 0).toDouble + k) /
          (ctx.getOrElse(w1, 0).toDouble + k * (vocabN + 1.0))))
          .setScale(14, scala.math.BigDecimal.RoundingMode.HALF_UP)
      }.sum
      s.doubleValue / bgs.size
    }
    val got = TextAnalysis.lmScore(corpus, "doc_id", "text", ref, "text", k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((3L, score("über zz über 中文"))))
    assert(got(2L) == ((3L, score("中文 асдф zz näin"))))
  }

  test("PII redaction: typed placeholders, cascade order, clean text untouched") {
    val df = docs(
      1L -> "mail me at jane.doe+spam@mail.example.org today",
      2L -> "server 192.168.001.42 and phone +44 (020) 7946-0958 end",
      3L -> "account 123456789012 but short 12345678 stays",
      4L -> "no pii in this sentence at all")
    val out = df.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> today")
    assert(out(2L) == "server <IP> and phone <PHONE> end")
    assert(out(3L) == "account <ID> but short 12345678 stays")
    assert(out(4L) == "no pii in this sentence at all")
  }

  test("nbQualityScore is stateless: batch == stream, two micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pos = docs(100L -> "good clear prose", 101L -> "clear good words")
    val neg = docs(200L -> "junk spam junk", 201L -> "spam noise")
    val rows = Seq(1L -> "good clear text here", 2L -> "spam junk noise",
      3L -> "", 4L -> "good junk mixed words")
    val mem = MemoryStream[(Long, String)]
    // the model trains from the STATIC slices at plan-build time; scoring
    // is one stateless kernel projection, so the streaming ingest path can
    // run the same operator unchanged
    val q = TextAnalysis.nbQualityScore(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", pos, "text", neg, "text")
      .writeStream.format("memory").queryName("nb_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val streamed = spark.table("nb_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.nbQualityScore(rows.toDF("doc_id", "text"),
      "doc_id", "text", pos, "text", neg, "text").collect().map(key).toMap
    assert(streamed == batch && batch.size == 4)
    assert(streamed(3L) == ((0L, None)))
  }

  test("lmScore is stateless: batch == stream, two micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ref = docs(100L -> "the quick fox jumps", 101L -> "the quick dog")
    val rows = Seq(1L -> "the quick fox", 2L -> "unseen words only",
      3L -> "solo", 4L -> "the quick dog jumps")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.lmScore(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", ref, "text")
      .writeStream.format("memory").queryName("lm_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val streamed = spark.table("lm_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.lmScore(rows.toDF("doc_id", "text"),
      "doc_id", "text", ref, "text").collect().map(key).toMap
    assert(streamed == batch && batch.size == 4)
    // <2-token doc surfaces with n_bigrams = 0 and a null score both ways
    assert(streamed(3L) == ((0L, None)))
  }

  test("nb/lm vocab caps: deterministic top-N training counts, unseen beyond") {
    // maxVocab = 2 keeps only each class's two most frequent tokens
    // (count desc, token asc) — every other token scores as unseen. The
    // cap never binds at gate scale; this pins its semantics + tie-break.
    val pos = docs(1L -> "aa aa aa bb bb cc")  // keep aa(3), bb(2); drop cc
    val neg = docs(2L -> "xx xx yy")           // keep xx(2), yy(1)
    val corpus = docs(10L -> "aa cc", 11L -> "cc cc")
    def score(maxVocab: Int) = {
      val s = TextAnalysis.nbLogOddsStruct(spark,
        TextAnalysis.tokens(col("text")), pos, "text", neg, "text", 0.5,
        maxVocab)
      corpus.select(col("doc_id"), s.getField("lo_sum").cast("double"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val capped = score(2)
    val full = score(1 << 16)
    // doc 11 (all out-of-cap tokens) folds to 2x the unseen constant;
    // under the full vocab cc is a trained positive token, so they differ
    assert(capped != full)
    // the capped model is still deterministic and order-invariant
    assert(score(2) == capped)
    // ties: bb(2) vs cc(...) — with counts aa=3,bb=2,cc=1 there is no tie;
    // force one: maxVocab=1 keeps only aa (count desc, token asc)
    val one = score(1)
    assert(one(10L) != capped(10L))
  }

  test("zorder layout: predicates on the NON-leading dimension skip files") {
    // 4096 rows over a 64x64 (a, b) grid, b decorrelated from a. Written
    // as 16 range-partitioned files, a z-ordered file covers a ~16x16
    // tile in BOTH dimensions, while a lexicographic (a, b) sort leaves
    // every file spanning b's full range — so a predicate on b alone
    // prunes most z-ordered files and NO lexicographic ones. Per-file
    // min/max intersection is exactly the statistic parquet row-group
    // pruning uses; measuring it directly keeps the evidence engine-
    // version-independent.
    val n = 4096
    val base = spark.range(n).select(
      (col("id") % 64).as("a"),
      pmod(xxhash64(col("id")), lit(64)).as("b"))
    val bits = 6 // 64 bins per dimension, 2 dims * 6 bits = 12-bit z
    val cuts = graft.ops.Layout.longCuts(0L, 63L, bits)
    val tmp = graft.queries.TempDirs.create("z").toString
    base.withColumn("zval", graft.ops.Layout.zvalue(
        Seq(col("a") -> cuts, col("b") -> cuts), bits))
      .repartitionByRange(16, col("zval")).sortWithinPartitions("zval")
      .write.parquet(s"$tmp/zorder")
    base.repartitionByRange(16, col("a"), col("b"))
      .sortWithinPartitions("a", "b")
      .write.parquet(s"$tmp/lex")
    def fileRanges(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("a0"), max("a").as("a1"),
        min("b").as("b0"), max("b").as("b1"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val zf = fileRanges(s"$tmp/zorder")
    val lf = fileRanges(s"$tmp/lex")
    assert(zf.length == 16 && lf.length == 16)
    // b in [8, 15]: files whose [b0, b1] intersects the range must be read
    def hitB(fs: Array[(Long, Long, Long, Long)]) =
      fs.count { case (_, _, b0, b1) => b0 <= 15 && b1 >= 8 }
    // a in [8, 15]: the leading dimension prunes under BOTH layouts
    def hitA(fs: Array[(Long, Long, Long, Long)]) =
      fs.count { case (a0, a1, _, _) => a0 <= 15 && a1 >= 8 }
    info(s"files read of 16 — b-range: zorder=${hitB(zf)} lex=${hitB(lf)}; " +
      s"a-range: zorder=${hitA(zf)} lex=${hitA(lf)}")
    assert(hitB(lf) == 16, s"lex layout should read all files on b, read ${hitB(lf)}")
    assert(hitB(zf) <= 8, s"z layout should skip most files on b, read ${hitB(zf)}")
    assert(hitA(zf) <= 8 && hitA(lf) <= 8,
      s"leading-dim pruning lost: z=${hitA(zf)} lex=${hitA(lf)}")
  }

  test("annRecall: full probe → 1.0; missing queries → 0; partial counts") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (assigned, centroids) = IvfIndex.build(e, "vec_id", "embedding",
      nCells = 8)
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5)
    // probing every cell IS brute force → recall exactly 1.0 per query
    val full = IvfIndex.search(assigned, centroids, q, "vec_id", "embedding",
      k = 5, nProbe = 8)
    val r1 = Similarity.annRecall(full, exact, k = 5).collect()
    assert(r1.length == 10 && r1.forall(_.getAs[Double]("recall") == 1.0))
    // a query entirely absent from approx scores 0, not a dropped row
    val partial = full.filter(col("q_id") =!= 3L)
    val r0 = Similarity.annRecall(partial, exact, k = 5)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall"))
      .toMap
    assert(r0(3L) == 0.0 && r0.size == 10)
    // hand-built: 2 of 3 approx ids are in the exact set → 2/3... with k=3
    import spark.implicits._
    val ap = Seq((1L, 10L), (1L, 11L), (1L, 99L)).toDF("q_id", "n_id")
    val ex = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("q_id", "n_id")
    val rp = Similarity.annRecall(ap, ex, k = 3).collect()
    assert(rp.length == 1 && rp(0).getAs[Long]("hits") == 2L &&
      rp(0).getAs[Double]("recall") == 2.0 / 3.0)
  }

  test("temperatureBudgets: α=1 natural, α→sqrt compresses, sum ≤ total") {
    import spark.implicits._
    // src a: 90 tokens, src b: 10 tokens
    val df = Seq(
      (1L, ("w " * 90).trim, "a"), (2L, ("w " * 10).trim, "b"))
      .toDF("doc_id", "text", "source")
    val b1 = Pipeline.temperatureBudgets(df, "text", "source", 1000L, alpha = 1.0)
    assert(b1 == Map("a" -> 900L, "b" -> 100L)) // α=1: natural proportions
    val bh = Pipeline.temperatureBudgets(df, "text", "source", 1000L)
    // α=0.5: sqrt(90)/(sqrt(90)+sqrt(10)) = 3/4 exactly (sqrt(9)=3, sqrt(1)=1)
    assert(bh == Map("a" -> 750L, "b" -> 250L))
    assert(bh.values.sum <= 1000L && b1.values.sum <= 1000L)
    // sampleByTemperature == sampleToTokenBudget with the derived budgets
    val viaTemp = Pipeline.sampleByTemperature(df, "doc_id", "text", "source",
      totalBudget = 1000L).select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBudget = Pipeline.sampleToTokenBudget(df, "doc_id", "text", "source",
      bh, defaultBudget = 0L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaTemp == viaBudget)
    // empty corpus: zero budgets, no crash
    assert(Pipeline.temperatureBudgets(df.limit(0), "text", "source", 100L)
      .isEmpty)
  }

  test("clusterBalancedSample: cap honored, deterministic, partition-invariant") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s1 = Pipeline.clusterBalancedSample(e, "vec_id", "embedding",
      nCells = 8, perCellCap = 5L)
    val byCell = s1.groupBy("cell").count().collect()
    assert(byCell.forall(_.getAs[Long]("count") <= 5L))
    assert(s1.select("cell_pos").collect()
      .forall(r => r.getLong(0) >= 1L && r.getLong(0) <= 5L))
    // sample ids are a subset of the corpus, each at its built cell
    val (assigned, _) = IvfIndex.build(e, "vec_id", "embedding", nCells = 8,
      iters = 1) // the operator's default quantizer
    val mismatched = s1.join(assigned.select(col("id").as("vec_id"),
        col("cell").as("built_cell")), Seq("vec_id"))
      .filter(col("cell") =!= col("built_cell")).count()
    assert(mismatched == 0L)
    // partition layout cannot change the sample (md5 order, literal cuts)
    val s2 = Pipeline.clusterBalancedSample(e.repartition(17), "vec_id",
      "embedding", nCells = 8, perCellCap = 5L)
    assert(s1.exceptAll(s2).count() == 0L && s2.exceptAll(s1).count() == 0L)
    // a different salt redraws: same cells+cap, generally different members
    val s3 = Pipeline.clusterBalancedSample(e, "vec_id", "embedding",
      nCells = 8, perCellCap = 5L, salt = "other")
    assert(s3.groupBy("cell").count().collect()
      .forall(_.getAs[Long]("count") <= 5L))
  }

  test("sourceOverlapMatrix: planted overlap counted, clean pairs zero-filled") {
    import spark.implicits._
    val shared = "the identical forty-plus-codepoint sentence both sources carry verbatim"
    val df = Seq(
      (1L, shared + " plus a-side framing around it", "a"),
      (2L, shared + " and different b-side context here", "b"),
      (3L, "entirely unrelated c content with its own vocabulary and nothing shared", "c"))
      .toDF("doc_id", "text", "source")
    val m = TextAnalysis.sourceOverlapMatrix(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("shared_fps"), r.getAs[Double]("jaccard"))).toMap
    assert(m.size == 3) // complete pair grid: (a,b) (a,c) (b,c)
    assert(m(("a", "b"))._1 > 0L, "planted verbatim overlap must fingerprint-collide")
    assert(m(("a", "c"))._1 == 0L && m(("b", "c"))._1 == 0L)
    assert(m(("a", "c"))._2 == 0.0)
    val (sh, j) = m(("a", "b"))
    // jaccard = shared / (|A| + |B| - shared), recomputed from the parts
    val row = TextAnalysis.sourceOverlapMatrix(df, "text", "source")
      .filter(col("source_a") === "a" && col("source_b") === "b").collect()(0)
    val expect = sh.toDouble /
      (row.getAs[Long]("fps_a") + row.getAs[Long]("fps_b") - sh).toDouble
    assert(j == expect)
  }

  test("dedupSegments: first occurrence wins, partial removal, full-eat → null") {
    // segTokens=2 blocks: doc 1 = [a b][c d], doc 2 = full copy (all dup),
    // doc 3 = shares block [a b] then unique tail, doc 4 = unique
    val df = docs(
      1L -> "a b c d",
      2L -> "a b c d",
      3L -> "a b q r",
      4L -> "u v w")
    val out = Dedup.dedupSegments(df, "doc_id", "text", segTokens = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((2, 2, "a b c d")))     // keeper doc untouched
    assert(out(2L)._2 == 0 && out(2L)._3 == null) // full copy fully eaten
    assert(out(3L) == ((2, 1, "q r")))         // shared block cut, tail kept
    assert(out(4L) == ((2, 2, "u v w")))       // unique doc: 2 blocks (short tail)
    // within-doc repeats dedup too: the SECOND [x y] block is a later
    // occurrence of the first
    val rep = Dedup.dedupSegments(docs(9L -> "x y x y"), "doc_id", "text", 2)
      .collect()(0)
    assert(rep.getInt(2) == 1 && rep.getString(3) == "x y")
    // partition layout cannot change the outcome
    val a = Dedup.dedupSegments(df.repartition(7), "doc_id", "text", 2)
    val b = Dedup.dedupSegments(df, "doc_id", "text", 2)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("incrementalDedup: within-batch min-id wins, corpus collisions drop") {
    val corpus = docs(1L -> "old news article body", 2L -> "another old doc")
    val batch = docs(
      10L -> "fresh content one",
      11L -> "old news article body", // already in corpus → dropped
      12L -> "fresh content one",     // within-batch dup of 10 → dropped
      13L -> "fresh content two")
    val kept = Pipeline.incrementalDedup(batch, "doc_id", "text",
      corpus, "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 13L))
    // idempotence: merging the survivors then re-ingesting the same batch
    // yields nothing new
    val merged = corpus.unionByName(
      batch.filter(col("doc_id").isin(10L, 13L)))
    assert(Pipeline.incrementalDedup(batch, "doc_id", "text",
      merged, "text").count() == 0L)
  }

  test("leakageSafeSplit: a dup family shares its representative's split") {
    import spark.implicits._
    val df = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    // 2-3-4 one family (via 2-3, 3-4), 1 and 5 singletons
    val pairs = Seq((2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Pipeline.leakageSafeSplit(df, "doc_id", pairs, "id_a", "id_b")
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(2L)._1 == 2L && out(3L)._1 == 2L && out(4L)._1 == 2L)
    assert(out(3L)._2 == out(2L)._2 && out(4L)._2 == out(2L)._2)
    assert(out(1L)._1 == 1L && out(5L)._1 == 5L)
    // singletons agree with plain splitAssign (same salt, same buckets)
    val plain = Pipeline.splitAssign(df, "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L)._2 == plain(1L) && out(5L)._2 == plain(5L))
    assert(out(2L)._2 == plain(2L)) // the family takes the MIN id's split
  }

  test("sq8: codes in range, reconstruction within half a step, search sane") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, -1.0f, 0.5f)),
      (2L, Array(0.1f, 0.9f, -0.8f, 0.4f)),
      (3L, Array(-1.0f, 0.0f, 1.0f, -0.5f)),
      (4L, Array(0.05f, 0.95f, -0.9f, 0.45f))).toDF("vec_id", "embedding")
    val p = SqIndex.train(vecs, "embedding")
    assert(p.mins.length == 4 && p.steps.forall(_ >= 0.0))
    val codes = SqIndex.encode(vecs, "vec_id", "embedding", p)
    val all = codes.select(explode(col("code"))).collect().map(_.getInt(0))
    assert(all.forall(c => c >= 0 && c <= 255))
    // round-half-up: reconstruction error <= step/2 per dimension
    val rows = codes.join(vecs, codes("id") === vecs("vec_id"))
      .select(col("code"), Similarity.toDouble(col("embedding")).as("x"))
      .collect()
    rows.foreach { r =>
      val code = r.getSeq[Int](0); val x = r.getSeq[Double](1)
      (0 until 4).foreach { d =>
        val dq = p.mins(d) + code(d) * p.steps(d)
        assert(math.abs(dq - x(d)) <= p.steps(d) / 2 + 1e-12,
          s"dim $d: |$dq - ${x(d)}| > step/2")
      }
    }
    // ADC scores are DOT products (the PQ convention): vec 2's max-dot
    // neighbor is vec 1 (2·1 = 1.9 > 2·4 = 1.76), despite 4 being the
    // closer point — assert the exact ADC ranking
    val top = SqIndex.searchAdc(codes, p,
      vecs.filter(col("vec_id") === 2L), "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("n_id")).toSeq == Seq(1L, 4L, 3L))
    // partition invariance
    val t1 = SqIndex.searchAdc(SqIndex.encode(vecs.repartition(5), "vec_id",
      "embedding", p), p, vecs, "vec_id", "embedding", k = 2)
    val t2 = SqIndex.searchAdc(codes, p, vecs, "vec_id", "embedding", k = 2)
    assert(t1.exceptAll(t2).count() == 0L && t2.exceptAll(t1).count() == 0L)
  }

  test("cmsHeavyHitters: est >= exact always, exact when the grid is wide") {
    val df = docs(
      1L -> "aa aa aa aa bb bb cc dd",
      2L -> "aa bb bb cc cc cc ee ff")
    // wide grid, 8 distinct tokens: collisions are possible but min-over-4
    // independent rows makes them vanishingly unlikely at width 4096
    val hh = Sketch.cmsHeavyHitters(df, "text", depth = 4, width = 4096,
      phiNum = 1, phiDen = 1000, k = 100).collect()
    val byTok = hh.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byTok("aa") == (5L, 5L) && byTok("bb") == (4L, 4L) &&
      byTok("cc") == (4L, 4L))
    hh.foreach(r => assert(r.getLong(1) >= r.getLong(2), s"under-estimate: $r"))
    // degenerate 1x1 grid: every estimate collapses to the total count
    val all1 = Sketch.cmsHeavyHitters(df, "text", depth = 1, width = 1,
      phiNum = 1, phiDen = 1000, k = 100).collect()
    assert(all1.forall(_.getLong(1) == 16L))
    // threshold: phi = 1/4 of 16 tokens = 4 occurrences
    val top = Sketch.cmsHeavyHitters(df, "text", depth = 4, width = 4096,
      phiNum = 1, phiDen = 4, k = 100).collect()
    assert(top.map(_.getString(0)).toSet == Set("aa", "bb", "cc"))
    // partition invariance
    val a = Sketch.cmsHeavyHitters(df.repartition(7), "text", 4, 512, 1, 1000, 100)
    val b = Sketch.cmsHeavyHitters(df, "text", 4, 512, 1, 1000, 100)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("hllDistinct: both estimate branches land near exact, partition-invariant") {
    import spark.implicits._
    // small group (30 distinct): the linear-counting branch;
    // big group (5000 distinct): the raw-estimate branch
    val small = (0 until 30).map(i => ("s", s"tok$i"))
    val big = (0 until 5000).map(i => ("b", s"id$i"))
    val df = (small ++ big).toDF("source", "text")
    val out = Sketch.hllDistinct(df, "source", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    val sEst = out("s").getAs[Double]("hll_est")
    val bEst = out("b").getAs[Double]("hll_est")
    assert(out("s").getAs[Long]("exact_distinct") == 30L)
    assert(out("b").getAs[Long]("exact_distinct") == 5000L)
    // HLL with m=64 has ~13% standard error; allow 3 sigma
    assert(math.abs(sEst - 30.0) / 30.0 < 0.4, s"small est $sEst")
    assert(math.abs(bEst - 5000.0) / 5000.0 < 0.4, s"big est $bEst")
    assert(out("s").getAs[Long]("zero_registers") > 0)
    val a = Sketch.hllDistinct(df.repartition(7), "source", "text")
    val b2 = Sketch.hllDistinct(df, "source", "text")
    assert(a.exceptAll(b2).count() == 0L && b2.exceptAll(a).count() == 0L)
  }

  test("pageRank: matches a driver-side reference with the same quantization") {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "a"), ("a", "b"))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // reference: same edge weights, same ((r*0.85)*w)/W parenthesization,
    // same HALF_UP DECIMAL(28,14) quantization, exact decimal sums
    val w = Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("c", "a") -> 1L)
    val ow = Map("a" -> 2L, "b" -> 1L, "c" -> 1L)
    def step(r: Map[String, Double]): Map[String, Double] = {
      val inflow = w.toSeq.groupBy(_._1._2).map { case (dst, es) =>
        dst -> es.map { case ((s, _), wt) =>
          JBD.valueOf(((r(s) * 0.85) * wt.toDouble) / ow(s).toDouble)
            .setScale(14, RoundingMode.HALF_UP)
        }.reduce(_ add _)
      }
      Seq("a", "b", "c").map(n => n ->
        ((1.0 - 0.85) + inflow.get(n).map(_.doubleValue).getOrElse(0.0))).toMap
    }
    val want = step(step(step(Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0))))
    Seq("a", "b", "c").foreach(n =>
      assert(got(n) == want(n), s"$n: ${got(n)} != ${want(n)}"))
    // c has no in-edges: rank is exactly the teleport mass
    assert(got("c") == 1.0 - 0.85)
    // partition invariance
    val a = Graph.pageRank(edges.repartition(5), "src", "dst", 3)
    val b = Graph.pageRank(edges, "src", "dst", 3)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("triangleCount: hand-counted graphs, hubs, dedup, self-loops") {
    import spark.implicits._
    // K4 has 4 triangles; an extra pendant edge adds none; parallel
    // edges and self-loops must not inflate anything
    val k4 = for { i <- 1 to 4; j <- 1 to 4 if i < j } yield (i.toLong, j.toLong)
    val edges = (k4 ++ Seq((4L, 5L), (4L, 5L), (2L, 1L), (3L, 3L)))
      .toDF("src", "dst")
    val r = Graph.triangleCount(edges, "src", "dst").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (5L, 7L, 4L))
    // star graph (hub): zero triangles despite the hub's degree
    val star = (2 to 30).map(i => (1L, i.toLong)).toDF("src", "dst")
    assert(Graph.triangleCount(star, "src", "dst")
      .collect().head.getLong(2) == 0L)
    // partition invariance
    val p = Graph.triangleCount(edges.repartition(7), "src", "dst")
      .collect().head
    assert((p.getLong(0), p.getLong(1), p.getLong(2)) == (5L, 7L, 4L))
  }

  test("tokenPmi: exact counts, df cap, pair floor, per-doc guard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york pizza"),
      (2L, "new york subway"),
      (3L, "new jersey"),
      (4L, "old york"),
      (5L, "filler filler")).toDF("doc_id", "text")
    val out = Retrieval.tokenPmi(docs, "doc_id",
        split(col("text"), " "), maxDf = 10, minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // only (new, york) co-occurs >= 2 times: c_ab=2, df_new=3, df_york=3
    assert(out.toSeq == Seq(("new", "york", 2L,
      BigDecimal(math.log(5.0 * 2 / 9.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // df cap: capping at 2 removes 'new' and 'york' (df 3) entirely
    val capped = Retrieval.tokenPmi(docs, "doc_id",
      split(col("text"), " "), maxDf = 2, minPairCount = 2)
    assert(capped.count() == 0L)
    // per-doc kept-terms guard raises
    val ex = intercept[Exception] {
      Retrieval.tokenPmi(docs, "doc_id", split(col("text"), " "),
        maxDf = 10, minPairCount = 1, maxTermsPerDoc = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("kept")))
  }

  test("langIdClassify: separable alphabets classify right, ties break to the smaller lang") {
    import spark.implicits._
    val labeled = Seq(("xx", "aaab aaba abaa baaa aabb"),
      ("yy", "zzzy zzyz zyzz yzzz zzyy")).toDF("lang", "t")
    val corpus = Seq((1L, "aaab abaa"), (2L, "zzzy zyzz"), (3L, "aaaa zzzz"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.langIdClassify(corpus, "doc_id", "text",
      labeled, "lang", "t", n = 3).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "xx" && got(2L) == "yy")
    // identical training slices => every doc's scores tie exactly; the
    // argmax must break toward the lexicographically smaller language
    val tied = Seq(("mm", "aaab aaba"), ("kk", "aaab aaba")).toDF("lang", "t")
    val g2 = TextAnalysis.langIdClassify(corpus, "doc_id", "text",
      tied, "lang", "t", n = 3).collect().map(_.getString(2)).toSet
    assert(g2 == Set("kk"))
    // empty text => 0 grams, null prediction
    val g3 = TextAnalysis.langIdClassify(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text",
      labeled, "lang", "t", n = 3).collect()(0)
    assert(g3.getInt(1) == 0 && g3.isNullAt(2))
  }

  test("c4LineFilter: line rules, bad phrase, min surviving lines") {
    import spark.implicits._
    val df = Seq(
      // 2 good lines (>=3 words + terminal punct), 1 short, 1 unterminated
      (1L, "one two three four.\nshort.\nfive six seven eight!\nno terminal punct here"),
      // bad phrase anywhere kills the doc even with good lines
      (2L, "one two three four.\nlorem ipsum five six seven."),
      // only 1 surviving line < minLines=2
      (3L, "one two three four.\nnothing else"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(df, "doc_id", "text",
      minLineWords = 3, badPhrases = Seq("lorem ipsum"), minLines = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("kept"))
    assert(out(1L).getAs[Int]("n_kept_lines") == 2)
    assert(out(1L).getAs[String]("clean_text") ==
      "one two three four.\nfive six seven eight!")
    assert(out(2L).getAs[Boolean]("has_bad_phrase") && !out(2L).getAs[Boolean]("kept"))
    assert(out(2L).isNullAt(out(2L).fieldIndex("clean_text")))
    assert(!out(3L).getAs[Boolean]("kept"))
  }

  test("gopherQualityStats: integer-ratio rule boundaries") {
    import spark.implicits._
    val df = Seq(
      (1L, "the a one two three four five six seven eight"), // 10 words, all ok
      (2L, "the a # # one two three four five six"),         // 2 symbols in 10 words: 20% > 10%
      (3L, "ab cd ef gh ij kl mn op qr st"))                 // mean len 2 < 3; no stopwords
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityStats(df, "doc_id", "text",
      minWords = 5, maxWords = 100,
      stopwords = Seq("the", "a", "of")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("ok_symbol_ratio") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("ok_mean_word_len"))
    assert(!out(3L).getAs[Boolean]("ok_stopwords"))
    // boundary: exactly 10% symbols passes (integer cross-multiplication)
    val b = Seq((4L, "# one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val ob = TextAnalysis.gopherQualityStats(b, "doc_id", "text", 5, 100,
      Seq("one")).collect()(0)
    assert(ob.getAs[Long]("n_symbols") == 1L &&
      ob.getAs[Long]("n_words") == 10L &&
      ob.getAs[Boolean]("ok_symbol_ratio"))
  }

  test("blockedJaccardPairs == ngramJaccardPairs (exact inverted-index count join)") {
    import spark.implicits._
    // two blocks, near-dup families + unrelated docs; low threshold so
    // many candidate pairs survive the prefix join in both blocks
    val rows = Seq(
      (1L, "b1", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "b1", "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "b1", "alpha beta gamma kappa lambda mu nu xi"),
      (4L, "b1", "wholly different tokens with separate vocabulary here"),
      (5L, "b2", "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "b2", "alpha beta gamma delta omicron pi rho sigma"),
      (7L, "b2", "tau upsilon phi chi psi omega tau upsilon"))
      .toDF("doc_id", "blk0", "text")
    for (t <- Seq(0.1, 0.5)) {
      val exact = Dedup.ngramJaccardPairs(rows, "doc_id", "text", "blk0",
        n = 2, threshold = t).orderBy("blk", "id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val pf = Dedup.blockedJaccardPairs(rows, "doc_id", "text",
        "blk0", n = 2, threshold = t).orderBy("blk", "id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(pf.toSeq == exact.toSeq, s"threshold $t: $pf vs $exact")
      assert(exact.nonEmpty)
    }
  }

  test("containmentPairs: prefix doc scores containment 1.0, Jaccard threshold would miss it") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val prefix = "alpha beta gamma delta epsilon"
    val df = docs(1L -> long, 2L -> prefix,
        3L -> "wholly different tokens with separate vocabulary entirely")
      .withColumn("blk", lit("b"))
    val out = Dedup.containmentPairs(df, "doc_id", "text", "blk",
      n = 2, threshold = 0.9).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    // B (the prefix) is fully contained in A; A is not contained in B
    assert(r.getAs[Double]("cont_b_in_a") == 1.0)
    assert(r.getAs[Double]("cont_a_in_b") == 4.0 / 19.0)
    assert(r.getAs[Int]("n_b") == 4 && r.getAs[Int]("inter") == 4)
    // the same pair's Jaccard is 4/19 — under any symmetric 0.5 threshold
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", "blk",
      n = 2, threshold = 0.5).collect()
    assert(jac.isEmpty)
    // partition invariance
    val a = Dedup.containmentPairs(df.repartition(5), "doc_id", "text", "blk", 2, 0.9)
    val b2 = Dedup.containmentPairs(df, "doc_id", "text", "blk", 2, 0.9)
    assert(a.exceptAll(b2).count() == 0L && b2.exceptAll(a).count() == 0L)
  }

  test("centroidOutliers: opposed vector flags, zero vector yields null cosine") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), "g"),
      (2L, Array(0.9f, 0.1f), "g"),
      (3L, Array(-1.0f, 0.0f), "g"), // opposed to the group mass
      (4L, Array(0.0f, 0.0f), "g")   // zero norm → null cosine
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding", "label",
      minCos = 0.5).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("cos_centroid") > 0.5 &&
      !out(1L).getAs[Boolean]("is_outlier"))
    assert(out(3L).getAs[Double]("cos_centroid") < 0 &&
      out(3L).getAs[Boolean]("is_outlier"))
    assert(out(4L).isNullAt(out(4L).fieldIndex("cos_centroid")) &&
      out(4L).isNullAt(out(4L).fieldIndex("is_outlier")))
    val a = Similarity.centroidOutliers(df.repartition(3), "vec_id",
      "embedding", "label", 0.5)
    val b = Similarity.centroidOutliers(df, "vec_id", "embedding", "label", 0.5)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("noveltyScore: exact seen fraction over distinct bigrams; cap makes grams unseen") {
    val ref = docs(100L -> "aa bb cc dd")        // ref bigrams: aa bb, bb cc, cc dd
    val corpus = docs(
      1L -> "aa bb cc dd",        // all 3 distinct bigrams seen → novelty 0
      2L -> "aa bb zz yy",        // bigrams: aa bb (seen), bb zz, zz yy → 2/3 novel
      3L -> "solo")               // no bigrams → null novelty
    val out = TextAnalysis.noveltyScore(corpus, "doc_id", "text", ref, "text",
      n = 2).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_seen") == 3L &&
      out(1L).getAs[Double]("novelty") == 0.0)
    assert(out(2L).getAs[Long]("n_seen") == 1L &&
      out(2L).getAs[Double]("novelty") == 2.0 / 3.0)
    assert(out(3L).getAs[Long]("n_grams") == 0L &&
      out(3L).isNullAt(out(3L).fieldIndex("novelty")))
    // cap = 1 keeps only the most frequent ref gram (count desc, gram asc
    // → 'aa bb' wins the all-tie on gram order): doc 1 sees only 1 of 3
    val capped = TextAnalysis.noveltyScore(corpus, "doc_id", "text", ref,
      "text", n = 2, maxRefGrams = 1).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_seen")).toMap
    assert(capped(1L) == 1L)
  }

  test("tokenEntropy: matches the closed form, zero for a one-note doc") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val out = TextAnalysis.tokenEntropy(
      docs(1L -> "aa aa bb", 2L -> "xx xx xx", 3L -> ""),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r).toMap
    def q(c: Long, n: Long): JBD = {
      val p = c.toDouble / n.toDouble
      JBD.valueOf(p * Math.log(p)).setScale(14, RoundingMode.HALF_UP)
    }
    val want = BigDecimal(0.0) - (BigDecimal(q(2, 3)) + BigDecimal(q(1, 3)))
    val got = out(1L).getAs[Double]("entropy")
    assert(math.abs(got - want.toDouble) < 1e-6, s"$got vs $want")
    // all-identical tokens: entropy exactly +0.0 (never -0.0)
    assert(out(2L).getAs[Double]("entropy") == 0.0 &&
      !out(2L).getAs[Double]("entropy").equals(-0.0))
    assert(out(3L).getAs[Int]("n_tokens") == 0 &&
      out(3L).isNullAt(out(3L).fieldIndex("entropy")))
  }

  test("corpusDiff: all four statuses, fingerprint-insensitive to punctuation noise") {
    val oldDf = docs(1L -> "alpha beta", 2L -> "gamma delta", 3L -> "keep me")
    val newDf = docs(1L -> "alpha, beta!", // canonical fp identical
      2L -> "gamma delta CHANGED", 4L -> "brand new doc")
    val out = graft.ops.Pipeline.corpusDiff(oldDf, newDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added"))
  }

  test("canonicalBySource: priority beats id, singletons survive, default is worst") {
    import spark.implicits._
    val d = Seq((1L, "raw"), (2L, "clean"), (3L, "raw"), (9L, "unlisted"))
      .toDF("doc_id", "source")
    // cluster {1,2,3} via a chain; 9 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = graft.ops.Pipeline.canonicalBySource(d, "doc_id", "source",
      pairs, "id_a", "id_b", Map("clean" -> 0, "raw" -> 1)).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    // 'clean' (prio 0) wins the cluster although id 1 is smaller
    assert(out(1L) == ((2L, false)) && out(2L) == ((2L, true)) &&
      out(3L) == ((2L, false)))
    assert(out(9L) == ((9L, true))) // singleton keeps itself
    // tie on priority falls back to min id
    val out2 = graft.ops.Pipeline.canonicalBySource(d, "doc_id", "source",
      pairs, "id_a", "id_b", Map("clean" -> 1, "raw" -> 1)).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out2(1L) == 1L && out2(2L) == 1L && out2(3L) == 1L)
  }

  test("matryoshkaRecall: identical prefix dims give recall 1.0, hostile tail lowers it") {
    import spark.implicits._
    // tail dims dominate the full-dim ranking but vanish when truncated
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 9.0f)),
      (2L, Array(1.0f, 0.1f, 0.0f, -9.0f)),
      (3L, Array(0.9f, 0.0f, 0.0f, 9.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 1L)
    val full = Similarity.matryoshkaRecall(corpus, "vec_id", "embedding",
      q, "vec_id", "embedding", dims = 4, k = 2).collect()(0)
    assert(full.getAs[Double]("recall") == 1.0) // dims=all ≡ exact
    val r2 = Similarity.matryoshkaRecall(corpus, "vec_id", "embedding",
      q, "vec_id", "embedding", dims = 2, k = 2).collect()(0)
    assert(r2.getAs[Double]("recall") < 1.0)
  }

  test("dedupReport: exact and near rates per source, exact-integer divisions") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", "same same text here"), (2L, "a", "same same text here"),
      (3L, "a", "unique alpha beta gamma"), (4L, "b", "other words entirely now"))
      .toDF("doc_id", "source", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = graft.ops.Pipeline.dedupReport(d, "doc_id", "text", "source",
      pairs, "id_a", "id_b").collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_docs") == 3L && a.getAs[Long]("n_exact_dup") == 2L &&
      a.getAs[Long]("n_near_dup") == 2L)
    assert(a.getAs[Double]("exact_dup_rate") == 2.0 / 3.0)
    val b = out("b")
    assert(b.getAs[Long]("n_exact_dup") == 0L &&
      b.getAs[Double]("near_dup_rate") == 0.0)
  }

  test("corpusQualityReport: keep-rate and means per source") {
    import spark.implicits._
    val d = Seq(
      (1L, "s1", "the a one two three four five six"), // 8 words, keeps
      (2L, "s1", "xx yy"),                             // too short
      (3L, "s2", "the a seven eight nine ten eleven twelve"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.corpusQualityReport(d, "doc_id", "text", "source",
      minWords = 5, maxWords = 100, stopwords = Seq("the", "a", "of"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") == 2L && s1.getAs[Long]("n_keep") == 1L)
    assert(s1.getAs[Double]("keep_rate") == 0.5)
    assert(s1.getAs[Long]("total_words") == 10L)
    assert(s1.getAs[Double]("mean_words") == 5.0)
    // all-distinct tokens: entropy = ln(n); mean over the two docs
    val h8 = math.log(8.0); val h2 = math.log(2.0)
    val wantS1 = (BigDecimal(h8).setScale(9, BigDecimal.RoundingMode.HALF_UP) +
      BigDecimal(h2).setScale(9, BigDecimal.RoundingMode.HALF_UP)).toDouble / 2.0
    assert(math.abs(s1.getAs[Double]("mean_entropy") - wantS1) < 1e-6)
    assert(out("s2").getAs[Double]("keep_rate") == 1.0)
  }

  test("subwordTokenize: greedy longest-match, char fallback, word order preserved") {
    val df = docs(1L -> "abcbc xyz", 2L -> "")
    val out = TextAnalysis.subwordTokenize(df, "doc_id", "text",
      Seq("abc", "ab", "a", "bc")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    // 'abcbc': longest-first takes 'abc' then 'bc' (never 'ab');
    // 'xyz' has no vocab cover -> three single-char fallbacks
    assert(out(1L) == ((5, "abc bc x y z")))
    assert(out(2L) == ((0, "")))
    // a vocab word longer than the remainder never matches past the end
    val o2 = TextAnalysis.subwordTokenize(docs(3L -> "ab"), "doc_id", "text",
      Seq("abc", "ab")).collect()(0)
    assert(o2.getString(2) == "ab")
  }

  test("subwordTokenize: differential vs a naive driver-side greedy reference") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val alphabet = "abcd"
    def randWord() = (0 until (1 + rng.nextInt(7)))
      .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    val vocab = (0 until 40).map(_ => randWord()).distinct
    val docsRows = (0 until 60).map(i =>
      (i.toLong, (0 until (1 + rng.nextInt(5))).map(_ => randWord()).mkString(" ")))
    def naive(text: String): Seq[String] = {
      val vs = vocab.toSet
      text.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var p = 0
        while (p < w.length) {
          val max = math.min(w.length - p, vocab.map(_.length).max)
          val hit = (max to 1 by -1).map(l => w.substring(p, p + l))
            .find(vs.contains)
          val piece = hit.getOrElse(w.substring(p, p + 1))
          out += piece; p += piece.length
        }
        out.toSeq
      }
    }
    val got = TextAnalysis.subwordTokenize(docsRows.toDF("doc_id", "text"),
      "doc_id", "text", vocab).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    docsRows.foreach { case (id, text) =>
      val want = naive(text)
      assert(got(id) == ((want.length, want.mkString(" "))),
        s"doc $id: ${got(id)} != $want")
    }
  }

  test("subwordTokenize is stateless: batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vocab = Seq("abc", "ab", "bc")
    val rows = Seq(1L -> "abcbc ab", 2L -> "", 3L -> "xyz")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.subwordTokenize(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", vocab)
      .writeStream.format("memory").queryName("subword_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getInt(1), r.getString(2))
    val streamed = spark.table("subword_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.subwordTokenize(rows.toDF("doc_id", "text"),
      "doc_id", "text", vocab).collect().map(key).toMap
    assert(streamed == batch && batch.size == 3)
  }

  test("lshRecallReport: hit/missed/absent blocks, exact-integer ratios, null not fake 1.0") {
    import spark.implicits._
    // block a: identical pair (LSH must find) + a disjoint-vocab moderate
    // pair at bigram-jaccard 3/7 ≈ 0.43 (exact ground truth at 0.4, but
    // killed by estThreshold=0.99 → a measured miss); block b: only a
    // moderate pair → zero LSH pairs → precision null, recall 0.0;
    // block c: a singleton → absent from the report entirely
    val docs = Seq(
      (1L, "alpha beta gamma delta", "a"),
      (2L, "alpha beta gamma delta", "a"),
      (3L, "p q r s t u", "a"),
      (4L, "p q r s x y", "a"),
      (5L, "m n o w v z", "b"),
      (6L, "m n o w k j", "b"),
      (7L, "lonely single document here", "c"))
      .toDF("doc_id", "text", "src")
    val rep = Dedup.lshRecallReport(docs, "doc_id", "text", "src",
        n = 2, threshold = 0.4, numHashes = 32, bands = 8,
        estThreshold = 0.99, maxBucketSize = 200)
      .orderBy("blk").collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = rep(0)
    assert((a.getLong(1), a.getLong(2), a.getLong(3)) == ((2L, 1L, 1L)))
    assert(a.getDouble(4) == 0.5 && a.getDouble(5) == 1.0)
    val b = rep(1)
    assert((b.getLong(1), b.getLong(2), b.getLong(3)) == ((1L, 0L, 0L)))
    assert(b.getDouble(4) == 0.0 && b.isNullAt(5))
  }

  test("canonicalByQuality: highest score wins the cluster, ties fall to min id") {
    import spark.implicits._
    val d = Seq((1L, 5), (2L, 9), (3L, 9), (9L, 1))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = graft.ops.Pipeline.canonicalByQuality(d, "doc_id", "score",
      pairs, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    // 2 and 3 tie on score 9: the smaller id (2) wins
    assert(out(1L) == ((2L, false)) && out(2L) == ((2L, true)) &&
      out(3L) == ((2L, false)))
    assert(out(9L) == ((9L, true))) // singleton survives
  }

  test("noveltyScore is stateless: batch == stream (static reference)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ref = docs(100L -> "aa bb cc dd")
    val rows = Seq(1L -> "aa bb cc dd", 2L -> "aa bb zz yy", 3L -> "solo")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.noveltyScore(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", ref, "text", n = 2)
      .writeStream.format("memory").queryName("novelty_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val streamed = spark.table("novelty_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.noveltyScore(rows.toDF("doc_id", "text"),
      "doc_id", "text", ref, "text", n = 2).collect().map(key).toMap
    assert(streamed == batch && batch.size == 3)
    assert(streamed(3L)._3.isEmpty)
  }

  test("perplexityBuckets: per-source tertiles, fluent reference text heads, short doc null") {
    import spark.implicits._
    val ref = docs(100L -> "the quick fox jumps over the lazy dog")
    val corpus = Seq(
      (1L, "s", "the quick fox jumps"),     // pure reference bigrams → head
      (2L, "s", "the quick dog sleeps"),    // partially seen
      (3L, "s", "zz yy xx ww vv"),          // all unseen → tail
      (4L, "s", "solo"))                    // no bigrams → null bucket
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.perplexityBuckets(corpus, "doc_id", "text",
      "source", ref, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("bucket")).toMap
    assert(out(1L) == "head" && out(3L) == "tail")
    assert(out(4L) == null)
    // with three scored docs the tertiles put exactly one doc per bucket
    assert(out(2L) == "middle")
  }

  test("qualityPipeline: Gopher runs on the CLEANED text, stage nulls for dropped docs") {
    // doc 1: raw text has 14 words (Gopher-on-raw would pass minWords=8),
    // but C4 keeps only the two terminated lines -> cleaned text has 8
    // words and still passes; the junk line is gone from the entropy too
    val df = docs(
      1L -> "one two three four.\nfive six seven eight.\njunk junk junk junk junk junk",
      2L -> "lorem ipsum one two three four.\nfive six seven eight.", // bad phrase
      3L -> "unterminated line with many words here")                 // 0 kept lines
    val out = TextAnalysis.qualityPipeline(df, "doc_id", "text",
      minLineWords = 3, badPhrases = Seq("lorem ipsum"), minLines = 2,
      minWords = 8, maxWords = 100, stopwords = Seq("one", "five", "three"),
      minEntropy = 1.0, refModulo = 1000, n = 2, minNovelty = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("c4_kept"))
    assert(out(1L).getAs[Boolean]("gopher_keep")) // 8 cleaned words, 3 stopwords
    // entropy is over the CLEANED 8 distinct words: exactly ln(8)
    assert(math.abs(out(1L).getAs[Double]("entropy") - math.log(8.0)) < 1e-6)
    assert(out(1L).getAs[Boolean]("final_keep")) // refModulo=1000: novelty 1.0
    // dropped docs: stage columns null, final_keep false (never null)
    for (id <- Seq(2L, 3L)) {
      assert(!out(id).getAs[Boolean]("c4_kept"))
      assert(out(id).isNullAt(out(id).fieldIndex("gopher_keep")))
      assert(out(id).isNullAt(out(id).fieldIndex("entropy")))
      assert(!out(id).getAs[Boolean]("final_keep"))
    }
  }

  test("c4LineFilter is stateless: batch == stream, two micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(1L -> "one two three four.\nshort.", 2L -> "lorem ipsum bad.",
      3L -> "a b c d.\ne f g h!\nx y z w?")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.c4LineFilter(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", minLineWords = 3, badPhrases = Seq("lorem ipsum"),
        minLines = 2)
      .writeStream.format("memory").queryName("c4_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getBoolean(3), r.getBoolean(4))
    val streamed = spark.table("c4_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.c4LineFilter(rows.toDF("doc_id", "text"),
      "doc_id", "text", 3, Seq("lorem ipsum"), 2).collect().map(key).toMap
    assert(streamed == batch && batch.size == 3)
  }

  test("gopherQualityStats is stateless: batch == stream, two micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(1L -> "the a one two three four five six seven eight",
      2L -> "tiny", 3L -> "ab cd ef gh ij kl mn op qr st")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.gopherQualityStats(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", minWords = 5, maxWords = 100,
        stopwords = Seq("the", "a", "of"))
      .writeStream.format("memory").queryName("gopher_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getAs[Boolean]("keep"))
    val streamed = spark.table("gopher_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.gopherQualityStats(rows.toDF("doc_id", "text"),
      "doc_id", "text", 5, 100, Seq("the", "a", "of")).collect().map(key).toMap
    assert(streamed == batch && batch.size == 3)
  }

  test("langIdClassify scoring is stateless: batch == stream (static labeled slice)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val labeled = Seq(("xx", "aaab aaba abaa"), ("yy", "zzzy zzyz zyzz"))
      .toDF("lang", "t")
    val rows = Seq(1L -> "aaab", 2L -> "zzzy", 3L -> "")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.langIdClassify(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", labeled, "lang", "t", n = 3)
      .writeStream.format("memory").queryName("langid_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*); q.processAllAvailable()
    mem.addData(rows.drop(2): _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getString(2)))
    val streamed = spark.table("langid_stream_test").collect().map(key).toMap
    val batch = TextAnalysis.langIdClassify(rows.toDF("doc_id", "text"),
      "doc_id", "text", labeled, "lang", "t", n = 3).collect().map(key).toMap
    assert(streamed == batch && batch.size == 3)
    assert(streamed(1L)._2.contains("xx") && streamed(2L)._2.contains("yy"))
  }

  test("epoch upsampling: exact copy counts, sampler consistency, invariance") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Pipeline.epochUpsample(docs, "doc_id", "source",
      Map("src0" -> 2.3, "src1" -> 0.4), defaultEpochs = 1.0)
    val counts = out.groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver recompute: nfull + md5-bucket fractional survival
    val expected = docs.select("doc_id", "source").collect().map { r =>
      val (id, src) = (r.getLong(0), r.getString(1))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 10000
      val (nf, fb) = src match {
        case "src0" => (2, 3000); case "src1" => (0, 4000); case _ => (1, 0)
      }
      id -> (nf + (if (b < fb) 1 else 0)).toLong
    }.toMap
    assert(counts == expected.filter(_._2 > 0))
    // epoch indices are dense 0..n-1
    val eps = out.filter(col("doc_id") === expected.find(_._2 == 3L).get._1)
      .select("epoch").collect().map(_.getInt(0)).sorted.toSeq
    assert(eps == Seq(0, 1, 2))
    // an e<1 stratum IS sampleByStratum at that rate (same salt, same rows)
    val frac = out.filter(col("source") === "src1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = Pipeline.sampleByStratum(docs.filter(col("source") === "src1"),
        "doc_id", "source", Map("src1" -> 0.4))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(frac == sampled)
    // partition invariance
    val again = Pipeline.epochUpsample(docs.repartition(13), "doc_id",
        "source", Map("src0" -> 2.3, "src1" -> 0.4), defaultEpochs = 1.0)
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("attribution interval join: exact pairs, far edge excluded") {
    import spark.implicits._

    def ts(min: Int, sec: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
    // user 1: two clicks then a purchase (both in window), a late click
    // (after the purchase — excluded), and a click exactly at the far edge
    // (excluded: strict >). user 2: click then purchase. user 3: purchase
    // with no clicks.
    val rows = Seq(
      (1L, 1L, "click", ts(0)), (2L, 1L, "click", ts(5)),
      (3L, 2L, "click", ts(6)),
      (4L, 1L, "purchase", ts(10)), (5L, 1L, "click", ts(11)),
      (6L, 3L, "purchase", ts(12)),
      (7L, 2L, "purchase", ts(14)),
      (8L, 4L, "click", ts(0)), (9L, 4L, "purchase", ts(20)))

    val batch = Streaming.attributionJoinBatch(
        rows.toDF("event_id", "user_id", "event_type", "ts"),
        "purchase", "click", lookbackSeconds = 1200) // 20-min lookback
      .select("left_id", "right_id", "user_id", "lag_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // exact expected pairs: purchase 4 <- clicks 1,2; purchase 7 <- click 3;
    // user 4's click at 10:00 vs purchase at 10:20 is EXACTLY the far edge
    // (strict >) and must not pair
    assert(batch == Set(
      (4L, 1L, 1L, 600L), (4L, 2L, 1L, 300L), (7L, 3L, 2L, 480L)))
  }

  test("unicode clean: NFC composes, controls strip, dedup unifies") {
    import spark.implicits._
    val composed = "caf\u00e9 data"
    val decomposed = "cafe\u0301 data"
    val withCtl = "caf\u00e9\u0000 da\u0007ta" // NUL + BEL stripped
    val df = Seq((1L, composed), (2L, decomposed), (3L, withCtl))
      .toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.unicodeClean(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == composed)           // already-NFC fast path: unchanged
    assert(out(2L) == composed)           // decomposed composes
    assert(out(3L) == composed)        // controls vanish
    // the operator's purpose: exact-dedup fingerprints unify post-clean
    val fps = df.select(TextAnalysis.fingerprint(
      TextAnalysis.unicodeClean(col("text")))).collect().map(_.getString(0))
    assert(fps.distinct.length == 1)
    val fpsRaw = df.select(TextAnalysis.fingerprint(col("text")))
      .collect().map(_.getString(0))
    assert(fpsRaw.distinct.length == 3)   // without it: three "documents"
    // idempotence
    val twice = df.select(TextAnalysis.unicodeClean(
      TextAnalysis.unicodeClean(col("text"))).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == df.select(TextAnalysis.unicodeClean(col("text")))
      .collect().map(_.getString(0)).toSeq)
  }

  test("jsonPropStats: malformed and non-numeric values count as missing") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"k": 5, "tag": "a"}"""),
      (2L, """{"k": -3}"""),
      (3L, """not json at all"""),
      (4L, """{"k": "not a number"}""")).toDF("id", "props")
    // missing counts malformed and non-numeric values alike
    val stats = Semistructured.jsonPropStats(
        df.withColumn("g", lit("x")), "props", "k", "g").collect().head
    assert(stats.getLong(1) == 4L && stats.getLong(2) == 2L &&
      stats.getLong(3) == 2L && stats.getLong(4) == -3L && stats.getLong(5) == 5L)
  }

  test("attribution join plans as a hash join on the user key, no BNLJ") {
    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val plan = Streaming.attributionJoinBatch(events, "purchase", "click",
      14400).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("HashJoin"), plan.take(600))
  }

  test("dupLineStats: hand grid for line/para dup and char fractions") {
    val df = docs(
      // lines [x, y, x, "z z", "z z"]: 4 dup occurrences, 8 dup chars of
      // 9; paras ["x\ny\nx", "z z\nz z"]: no dup
      1L -> "x\ny\nx\n\nz z\nz z",
      2L -> "a\nb",
      3L -> "")
    val out = TextAnalysis.dupLineStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 5L && r1.getLong(2) == 2L) // n_lines, n_paras
    assert(r1.getLong(3) == 4L && r1.getLong(4) == 8L) // dup lines/chars
    assert(r1.getLong(5) == 0L && r1.getLong(6) == 0L) // para dups
    assert(r1.getDouble(7) == 0.8 && math.abs(
      r1.getDouble(8) - 8.0 / 9.0) < 1e-9)
    assert(!r1.getBoolean(11)) // 80% dup lines > 30% threshold
    assert(out(2L).getBoolean(11) && out(2L).getLong(3) == 0L)
    val r3 = out(3L)
    assert(r3.getLong(1) == 0L && r3.getDouble(7) == 0.0 &&
      r3.getBoolean(11))
    // partition invariance + shuffle-free narrow plan
    val again = TextAnalysis.dupLineStats(df.repartition(4), "doc_id",
      "text").collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(again == out.map { case (k, r) => k -> r.toSeq })
    assert(!TextAnalysis.dupLineStats(df, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("dupLineStats is stateless: batch == stream, no state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(1L -> "x\ny\nx\n\nz z\nz z", 2L -> "a\nb", 3L -> "")
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.dupLineStats(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("dup_lines_stream_test")
      .outputMode("append").start()
    mem.addData(rows.take(1): _*); q.processAllAvailable()
    mem.addData(rows.drop(1): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dup_lines_stream_test").collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val batch = TextAnalysis.dupLineStats(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(streamed == batch && streamed.size == 3)
  }

  test("boilerplateStrip: frequent lines stripped, order kept, '' floor") {
    val df = docs(
      1L -> "nav\nreal one\nnav",   // nav in 3 docs -> boilerplate
      2L -> "first\nnav\nsecond",
      3L -> "nav",                  // only boilerplate -> '' survives
      4L -> "solo text",
      5L -> "")                     // no lines at all
    val out = TextAnalysis.boilerplateStrip(df, "doc_id", "text",
        minDocs = 3)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((3L, 2L, 6L, "real one")))
    assert(out(2L) == ((3L, 1L, 3L, "first\nsecond")))
    assert(out(3L) == ((1L, 1L, 3L, "")))
    assert(out(4L) == ((1L, 0L, 0L, "solo text")))
    assert(out(5L) == ((0L, 0L, 0L, "")))
    // guard: a boilerplate set past maxBoilerplate raises in-plan
    val two = docs(6L -> "a\nb", 7L -> "a\nb") // two lines in 2 docs each
    val ex = intercept[Exception] {
      TextAnalysis.boilerplateStrip(two, "doc_id", "text", minDocs = 2,
        maxBoilerplate = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("maxBoilerplate")), msgs(ex))
  }

  test("sequencePack: offsets partition the token stream, crosses exact") {
    val df = docs(
      1L -> "a b c d e",      // 5 tokens
      2L -> "f g h",          // 3
      3L -> "",               // 0: occupies nothing, never crosses
      4L -> "i j k l m n o p")// 8
    val out = Pipeline.sequencePack(df, "doc_id", "text", seqLen = 4)
      .select("doc_id", "n_tokens", "start_offset", "pack_id", "crosses")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // offsets tile [0, 16) with no overlap: sorted starts + sizes chain
    val chain = out.values.toSeq.sortBy(_._2)
    assert(chain.head._2 == 0L && chain.map(_._1).sum == 16L)
    chain.sliding(2).toSeq.collect { case Seq(a, b) => (a, b) }
      .foreach { case (a, b) => assert(a._2 + a._1 == b._2) }
    out.values.foreach { case (n, start, pack, crosses) =>
      assert(pack == start / 4)
      assert(crosses == (n >= 1 && (start + n - 1) / 4 > pack))
    }
    assert(!out(3L)._4 && out(3L)._1 == 0L)
    // deterministic: same hash order on re-run and under repartition
    val again = Pipeline.sequencePack(df.repartition(3), "doc_id", "text",
        seqLen = 4)
      .select("doc_id", "n_tokens", "start_offset", "pack_id", "crosses")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(again == out)
    // seqLen = 1: every multi-token doc crosses
    Pipeline.sequencePack(df, "doc_id", "text", seqLen = 1)
      .select("n_tokens", "crosses").collect().foreach { r =>
        assert(r.getBoolean(1) == (r.getLong(0) >= 2)) }
  }

  test("langIdMargin: runner-up margin, abstain convention, k=1 edge") {
    import spark.implicits._
    val labeled = Seq(("en", "the cat sat on the mat the end"),
      ("fr", "le chat et le chien sont la")).toDF("lang", "text")
    val corpus = docs(1L -> "the cat and the dog", 2L -> "le chat le chat",
      3L -> "")
    val out = TextAnalysis.langIdMargin(corpus, "doc_id", "text", labeled,
        "lang", "text", marginTau = 0.01)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(2) == "en" && out(2L).getString(2) == "fr")
    // margin present and non-negative for scored docs; abstain on empty
    Seq(1L, 2L).foreach { id =>
      assert(!out(id).isNullAt(4) && out(id).getDouble(4) >= 0.0) }
    assert(out(3L).isNullAt(4) && out(3L).getBoolean(5))
    // prediction agrees with langIdClassify on the same model
    val plain = TextAnalysis.langIdClassify(corpus, "doc_id", "text",
        labeled, "lang", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    Seq(1L, 2L).foreach(id => assert(plain(id) == out(id).getString(2)))
    // single-language model: no runner-up -> margin null, no abstain for
    // docs with grams (the sole candidate stands)
    val solo = TextAnalysis.langIdMargin(corpus, "doc_id", "text",
        labeled.filter(col("lang") === "en"), "lang", "text",
        marginTau = 10.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(solo(1L).isNullAt(4) && !solo(1L).getBoolean(5))
    assert(solo(3L).getBoolean(5))
  }

  test("weightedQuantiles: integer cross-multiplied pick, w<=0 dropped") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1, 1L), ("g1", 2, 1L), ("g1", 3, 1L), ("g1", 4, 1L),
      ("g1", 5, 100L),              // the middle token lives in v=5
      ("g1", 99, 0L),               // zero weight: excluded
      ("g2", 10, 2L), ("g2", 20, 2L))
      .toDF("g", "v", "w")
    val out = Stats.weightedQuantiles(df, "g", "v", "w")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(out(("g1", "1/2")) == ((5.0, 104L)))
    assert(out(("g1", "1/4")) == ((5.0, 104L)))
    assert(out(("g1", "3/4")) == ((5.0, 104L)))
    // g2: cum(10)=2, tw=4: 2*2 >= 4 -> median 10; 2*4 >= 3*4 false -> 20
    assert(out(("g2", "1/2")) == ((10.0, 4L)))
    assert(out(("g2", "3/4")) == ((20.0, 4L)))
    // unweighted percentile would say ~3 for g1's median: the weighted
    // answer must differ on this grid or the op is not discriminating
    assert(out(("g1", "1/2"))._1 != 3.0)
  }
}
