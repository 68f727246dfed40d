package graft

/** Benchmark main: runs every SparkEntry query (or the ones named as
  * arguments) against SPARK_GRAFT_SF_DIR and prints two JSON lines, the
  * live per-query map {"metric":"bench_full",...,"queries":{...}} and
  * last the compact {"metric":"total_summary","value":N,...,"failed":[...]}.
  * A query that throws is left out of the totals, listed under "failed",
  * and makes the process exit 1.
  * Session, warm-up and runner are Harness's (shuffle partitions = cores,
  * AQE on, a noop-sink write per query).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional args restrict the run to the named queries (still in sorted
    // order) — the regression-attribution mode: time a query alone vs after
    // its alphabetical neighbors without editing the suite. The driver
    // passes no args and gets the full suite.
    val selected = Harness.select(args.toSeq).sortBy(_._1)
    val spark = Harness.session(cpus)
    Harness.warmUp(spark, sfDir)
    val results = selected.map { case (name, fn) =>
      val run = Harness.run(fn(spark, sfDir))
      run.left.foreach(e => System.err.println(s"[bench] $name failed: ${e.getMessage}"))
      name -> run
    }
    // a failed query is never timed into the record: it is listed by name
    // and fails the run
    val passed = results.collect { case (name, Right(t)) => name -> t.secs }
    val failed = results.collect { case (name, Left(_)) => name }
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
