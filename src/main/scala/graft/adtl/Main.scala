package graft.adtl

import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's `adtl parse` / `adtl check`
  * surface (/root/reference/src/adtl/cli.py):
  *
  *   adtlspark parse <spec.toml|json> <data.csv> [-o prefix]
  *       [--format csv|parquet] [--include-def file ...] [--encoding enc]
  *       [--save-report report.json]
  *   adtlspark check <spec.toml|json> <data.csv>
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(1) }
    args(0) match {
      case "parse" => parseCmd(args.drop(1))
      case "check" => checkCmd(args.drop(1))
      case other => System.err.println(s"Unknown command: $other"); usage(); sys.exit(1)
    }
  }

  private def usage(): Unit =
    System.err.println(
      """usage: adtlspark parse <spec> <data.csv> [-o prefix] [--format csv|parquet]
        |                      [--parquet] [--include-def file] [--encoding enc]
        |                      [--save-report file] [--include-transform provider-or-class]
        |                      [-q|--quiet] [-v|--verbose] [-p|--parallel]
        |       adtlspark check <spec> [data.csv]""".stripMargin)

  /** true when this process (not an embedding caller) owns the session. */
  private[adtl] def ownsSession: Boolean = SparkSession.getActiveSession.isEmpty &&
    SparkSession.getDefaultSession.isEmpty

  /** The CLIs' session (this one's and `adtlspark-autoparser`'s): master
    * `SPARK_MASTER` (default `local[*]`), `SPARK_SHUFFLE_PARTITIONS`
    * shuffle partitions (default 32), UTC, no UI, WARN logs. */
  private[adtl] def session(appName: String = "adtlspark"): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parseCmd(args: Array[String]): Unit = {
    var spec: Option[String] = None
    var data: Option[String] = None
    var output: Option[String] = None
    var format = "csv"
    var encoding = "UTF-8"
    var includeDefs = List.empty[String]
    var saveReport: Option[String] = None
    var includeTransform: Option[String] = None
    var verbose = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-o" | "--output" => output = Some(args(i + 1)); i += 2
        case "--format" =>
          format = args(i + 1)
          if (format != "csv" && format != "parquet") {
            System.err.println(s"Invalid format: $format")
            usage(); sys.exit(1)
          }
          i += 2
        case "--parquet" => format = "parquet"; i += 1
        case "--encoding" => encoding = args(i + 1); i += 2
        case "--include-def" => includeDefs :+= args(i + 1); i += 2
        case "--save-report" => saveReport = Some(args(i + 1)); i += 2
        case "--include-transform" => includeTransform = Some(args(i + 1)); i += 2
        case "-v" | "--verbose" => verbose = true; i += 1
        // -q tunes the reference's progress bar; there is none here
        case "-q" | "--quiet" => i += 1
        case "-p" | "--parallel" =>
          // reference: multiprocessing fan-out. Spark execution is always
          // parallel (local[*] threads or cluster executors) — accepted as
          // a no-op for drop-in CLI compatibility.
          Console.err.println("note: --parallel is a no-op; Spark runs parallel by default")
          i += 1
        case a if spec.isEmpty => spec = Some(a); i += 1
        case a if data.isEmpty => data = Some(a); i += 1
        case a => System.err.println(s"Unexpected argument: $a"); sys.exit(1)
      }
    }
    (spec, data) match {
      case (Some(sp), Some(df)) =>
        val owned = ownsSession
        val spark = session()
        val registry = includeTransform
          .map(Transformations.registryWith)
          .getOrElse(Transformations.newRegistry())
        val parser = AdtlParser.fromFile(sp, includeDefs, registry)
        // -v diagnostics re-consult the parse input after the write: cache
        // it so they never re-scan the source
        if (verbose) parser.withCachedInput()
        val tables = parser.parseCsv(spark, df, encoding)
        parser.save(tables, output.getOrElse(parser.spec.header.name), format)
        // diagnostics reuse the parse's cached groupBy input — the opt-in
        // flag must not cost a second full source scan at 100 TB
        if (verbose) printOverwriteWarnings(parser.overwriteCounts())
        val report = parser.report(tables)
        // reference parity: --save-report replaces the printed report
        if (saveReport.isEmpty) printReport(report)
        saveReport.foreach { path =>
          // the reference's report JSON shape (cli.py:79-89 merges run
          // context into parser.report, then json.dump(sort_keys=True)):
          // encoding/file/include_defs/parser + total/total_valid per
          // table + validation_errors only for tables that had any
          def obj(fields: Seq[String]): String =
            fields.mkString("{\n", ",\n", "\n}")
          def kv(k: String, v: String, ind: String = "  "): String =
            s"$ind${q(k)}: $v"
          val ts = report.toSeq.sortBy(_._1)
          val json = obj(Seq(
            kv("encoding", q(encoding)),
            kv("file", q(df)),
            kv("include_defs",
              includeDefs.map(q).mkString("[", ", ", "]")),
            kv("parser", q(sp)),
            kv("total", ts.map { case (t, (_, total, _)) =>
              s"${q(t)}: $total" }.mkString("{", ", ", "}")),
            kv("total_valid", ts.map { case (t, (valid, _, _)) =>
              s"${q(t)}: $valid" }.mkString("{", ", ", "}")),
            kv("validation_errors", ts.collect {
              case (t, (_, _, errors)) if errors.nonEmpty =>
                s"${q(t)}: " + errors.toSeq.sortBy(_._1).map { case (m, c) =>
                  s"${q(m)}: $c" }.mkString("{", ", ", "}")
            }.mkString("{", ", ", "}"))))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
        }
        if (owned) spark.stop()
      case _ => usage(); sys.exit(1)
    }
  }

  /** show_report format parity (parser.py:845-863): Python's `{x:%}` ratio
    * formatting is six decimals + '%'. */
  private[adtl] def printReport(
      report: Map[String, (Long, Long, Map[String, Long])]): Unit = {
    if (report.nonEmpty) {
      println("\n|table       \t|valid\t|total\t|percentage_valid|")
      println("|---------------|-------|-------|----------------|")
      report.foreach { case (t, (valid, total, _)) =>
        val pct = if (total > 0) f"${100.0 * valid / total}%.6f%%" else "-"
        println(f"|$t%-14s\t|$valid\t|$total\t|$pct |")
      }
      println()
      report.foreach { case (t, (_, _, errors)) =>
        if (errors.nonEmpty) {
          println(s"## $t\n")
          errors.toSeq.sortBy(-_._2).foreach { case (m, c) => println(s"* $c: $m") }
          println()
        }
      }
    }
  }

  /** Aggregate counterpart of the reference's per-group overwrite warning
    * (parser.py:608-615) — counts instead of group payloads. */
  private[adtl] def printOverwriteWarnings(
      counts: Map[String, Map[String, Long]]): Unit =
    counts.foreach { case (t, attrs) =>
      attrs.toSeq.sortBy(_._1).filter(_._2 > 0).foreach { case (a, n) =>
        Console.err.println(
          s"Warning: Multiple rows of data found for $a in table '$t' " +
            s"without a combinedType listed. Data being overwritten in $n group(s).")
      }
    }

  private def checkCmd(args: Array[String]): Unit = {
    if (args.length < 1) { usage(); sys.exit(1) }
    val owned = ownsSession
    val spark = session()
    val parser = AdtlParser.fromFile(args(0)) // validates the spec
    if (args.length < 2) {
      // data file is optional, as in the reference (check_mapping data=None
      // path, python_interface.py:86-88): spec-only validation
      println("OK: specification is valid")
      if (owned) spark.stop()
      return
    }
    val df = spark.read.option("header", "true").csv(args(1))
    val (unmapped, absent) = parser.checkSpecFields(df.columns.toSeq)
    if (absent.nonEmpty) {
      println(s"ERROR: fields in spec but missing from data: ${absent.toList.sorted.mkString(", ")}")
    }
    if (unmapped.nonEmpty) {
      println(s"WARNING: data columns not mapped by spec: ${unmapped.toList.sorted.mkString(", ")}")
    }
    if (absent.isEmpty && unmapped.isEmpty) println("OK: spec and data fields match")
    if (owned) spark.stop()
    if (absent.nonEmpty) sys.exit(1)
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
