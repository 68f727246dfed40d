package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query (or the ones named as
  * arguments) against SPARK_GRAFT_SF_DIR and prints two JSON lines, the
  * live per-query map {"metric":"bench_full",...,"queries":{...}} and
  * last the compact {"metric":"total_summary","value":N,...,"failed":[...]}.
  * A query that throws is left out of the totals, listed under "failed",
  * and makes the process exit 1.
  * Config mirrors the 100TB design point scaled to local mode: shuffle
  * partitions = cores, AQE on (runtime coalescing + skew handling).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/JIT, codegen compilation, and parquet footer
    // reads otherwise land entirely on the alphabetically-first query.
    // Nothing is cached — every timed query still pays its own scan.
    locally {
      import org.apache.spark.sql.functions._
      // A warmup that fails silently never warms its codegen path, hiding
      // real regressions — log every failure loudly.
      def warm(label: String)(body: => Unit): Unit =
        try body catch {
          case e: Throwable =>
            System.err.println(s"[bench] warmup '$label' failed: $e")
        }
      // events.parquet stores TIMESTAMP(NANOS) which the vanilla reader
      // rejects — it must go through Tables.events (nanosAsLong read).
      Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
        warm(s"scan $t")(spark.read.parquet(s"$sfDir/$t.parquet").count())
      }
      warm("events groupBy")(graft.queries.Tables.events(spark, sfDir)
        .groupBy("user_id").agg(count(lit(1))).count())
      // compile the regex/md5 and array-fold codegen paths the text and
      // embedding queries share (first use otherwise pays JIT+codegen)
      warm("fingerprint")(spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp").count().count())
      warm("embedding fold") {
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        val v = graft.ops.Similarity.toDouble(col("embedding"))
        e.select((graft.ops.Similarity.norm(v) +
          aggregate(v, lit(0.0), (a, x) => a + x)).as("s")).agg(sum("s")).count()
      }
      // ImageIO class-init + PNG codec JIT otherwise lands inside the first
      // media query's timing (encode+decode of one tiny raster, no data)
      warm("imageio codec") {
        val png = graft.ops.Multimodal.pngBytes(2, 2, 1L)
        graft.ops.Multimodal.decodeFull(png)
        ()
      }
      // the adtl groupBy queries compile window/object-hash-agg codegen the
      // first time one runs — without this the compile cost floats onto
      // whichever groupBy query the sort order puts first (r2/r3 bench
      // jitter: combined 0.82↔1.11 s, lastnotnull 0.33↔0.74 s)
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
    }
    // Optional args restrict the run to the named queries (still in sorted
    // order) — the regression-attribution mode: time a query alone vs after
    // its alphabetical neighbors without editing the suite. The driver
    // passes no args and gets the full suite.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else {
        val unknown = args.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(args.toSet).toMap
      }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // Force FULL evaluation with a noop-sink write (the ScaleBench
      // discipline): a count() action lets Catalyst eliminate
      // row-preserving LEFT joins and prune computed columns, so an
      // operator whose last step left-joins summary frames back onto a
      // row-preserving spine (bootstrap CI, funnel latency since round
      // 12) would time as a near-empty plan — round 12 measured
      // q_bootstrap_ci at a phantom 0.5 s under count() vs 4.8 s real.
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    // a failed query is never timed into the record: it is listed by name
    // and fails the run
    val passed = results.collect { case (name, secs, true) => name -> secs }
    val failed = results.collect { case (name, _, false) => name }
    // Locale.ROOT: a comma-decimal default locale would emit "1,234" and
    // make the JSON line unparseable.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = passed.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = passed.map(_._2).sum
    // Full per-query map on its OWN line: tools/bench_ab.sh and local
    // iteration consume this one.
    val benchFullLine =
      s"""{"metric":"bench_full","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // The LAST line is the artifact of record, json-parsed whole within a
    // ~2000-char stdout tail, so it carries the scalars only — the
    // 265-query map (~7 KB) stays on the bench_full line above.
    val cpusJson = // env value; quote it unless it is a plain integer
      if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus else "\"" + cpus + "\""
    val summaryLine =
      s"""{"metric":"total_summary","value":${r3(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"cpus":$cpusJson,"sf":"$sfDir"}"""
    // Stop Spark BEFORE printing: with verbatim stdout passthrough a late
    // shutdown log line must never land after the record lines. A failed
    // stop is reported, never allowed to swallow the record.
    try spark.stop() catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] spark.stop() failed: $e")
    }
    println(benchFullLine)
    println(summaryLine)
    Console.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
