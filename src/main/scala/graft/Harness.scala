package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** What the harness mains (`Bench`, `ScaleBench`, `StageAudit`, `Verify`,
  * `ExplainAudit`) share: the session they run in, the gate selection, the
  * untimed warm-up and the timed run of one gate. Each harness keeps only
  * its own reporting. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** The harness session: `local[cores]` with as many shuffle partitions
    * (the 100 TB design point scaled to local mode), AQE with runtime
    * partition coalescing, UTC, no UI, WARN logs. `conf` adds keys or
    * overrides these. */
  def session(cores: String, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The named gates in the order given, each once; with no name, every
    * gate in name order. An unknown name is rejected before anything runs. */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1)
    else names.distinct.map(n => n -> all(n))
  }

  /** Untimed warm-up: JVM/JIT, codegen compilation and parquet footer reads
    * otherwise land on whichever gate is timed first. The scans and kernels
    * are warmed for the tables present under `dir` only; the image codec,
    * the adtl groupBy parse and the window/md5/decimal families need no
    * table. Nothing is cached: every timed gate still pays its own scan. A
    * warm-up that fails silently never warms its codegen path, so every
    * failure is logged. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    def present(t: String) = new java.io.File(s"$dir/$t.parquet").exists()
    def warm(label: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable => System.err.println(s"[harness] warm-up '$label' failed: $e")
      }
    Seq("lineitem", "orders", "documents", "embeddings").filter(present).foreach { t =>
      warm(s"scan $t")(spark.read.parquet(s"$dir/$t.parquet").count())
    }
    // events.parquet's timestamp form varies by data generation: it is
    // read through Tables.events, never raw
    if (present("events")) warm("events groupBy")(graft.queries.Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1))).count())
    // the regex/md5 and array-fold codegen paths the text and embedding
    // gates share
    if (present("documents")) warm("fingerprint")(
      spark.read.parquet(s"$dir/documents.parquet").limit(64)
        .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp").count().count())
    if (present("embeddings")) warm("embedding fold") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet").limit(64)
      val v = graft.ops.Similarity.toDouble(col("embedding"))
      e.select((graft.ops.Similarity.norm(v) +
        aggregate(v, lit(0.0), (a, x) => a + x)).as("s")).agg(sum("s")).count()
    }
    // ImageIO class-init + PNG codec JIT otherwise lands inside the first
    // media gate's time (encode + decode of one tiny raster)
    warm("imageio codec") {
      graft.ops.Multimodal.decodeFull(graft.ops.Multimodal.pngBytes(2, 2, 1L))
      ()
    }
    // the adtl groupBy gates compile window/object-hash-agg codegen the
    // first time one runs; without this the compile cost floats onto
    // whichever groupBy gate the order puts first (combined 0.82↔1.11 s,
    // lastnotnull 0.33↔0.74 s)
    warm("adtl groupBy parse") {
      import spark.implicits._
      val tiny = Seq(
        ("u1", 1L, "purchase", "1.00", "2024-01-01"),
        ("u1", 2L, "error", "2.00", "2024-01-02"),
        ("u2", 3L, "purchase", "3.00", "2024-01-03"))
        .toDF("uid", "eid", "etype", "val", "eday")
      val spec =
        """{
          |  "adtl": {"name": "warm", "description": "w", "tables": {
          |    "a": {"kind": "groupBy", "groupBy": "uid", "aggregation": "lastNotNull"},
          |    "b": {"kind": "groupBy", "groupBy": "uid", "aggregation": "applyCombinedType"}}},
          |  "a": {"uid": {"field": "uid"},
          |        "lastp": {"field": "val", "if": {"etype": "purchase"}}},
          |  "b": {"uid": {"field": "uid"},
          |        "d0": {"combinedType": "min", "fields": [{"field": "eday"}]},
          |        "ets": {"combinedType": "set", "excludeWhen": "none",
          |                "fields": [{"field": "etype"}]}}
          |}""".stripMargin
      val parsed = graft.adtl.AdtlParser.fromJsonString(spec)
        .parseDataFrame(spark, tiny, orderCol = Some("eid"))
      parsed("a").count(); parsed("b").count()
    }
    // the cumulative-window, md5-to-long, decimal-sum and collect-fold
    // families on spark.range data (~1 s)
    warm("window/md5/decimal") {
      import org.apache.spark.sql.expressions.Window
      val t = spark.range(0L, 200000L).select(
        (col("id") % 37L).as("g"), col("id"),
        (col("id") % 101L).cast("double").as("v"))
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = t.groupBy("g", "v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("mx", max(col("cum")).over(Window.partitionBy(col("g"))))
      val m = t
        .withColumn("h", conv(substring(md5(
          concat(lit("warm:"), col("id").cast("string"))), 1, 15),
          16, 10).cast("long"))
        .withColumn("dv", col("v").cast("decimal(14,2)"))
        .groupBy("g").agg(sum(col("dv")).cast("decimal(38,2)").as("s"),
          max(col("h")).as("mh"), collect_list(col("v")).as("vs"))
        .select(col("g"), col("s"), col("mh"),
          aggregate(col("vs"), lit(0.0), (a, x) => a + x).as("fold"))
      cum.join(m, Seq("g")).agg(count(lit(1))).count()
    }
  }

  /** One timed run: seconds from build to the end of the write, and rows. */
  final case class Timed(secs: Double, rows: Long)

  /** Build the gate and evaluate it in full with a noop-sink write, its row
    * count observed in the same pass (no second job). A `count()` action
    * would let Catalyst prune every computed column and eliminate
    * row-preserving left joins, so narrow row-preserving operators, or one
    * whose last step left-joins summaries back onto its spine, would time
    * as near-empty scans (q_bootstrap_ci: 0.5 s under count(), 4.8 s real).
    * A gate that throws returns its failure and no time. */
  def run(build: => DataFrame): Either[Throwable, Timed] =
    try {
      val t0 = System.nanoTime()
      val rows = new Observation()
      build.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Right(Timed(secs, rows.get("n").asInstanceOf[Long]))
    } catch { case e: Throwable => Left(e) }
}
