package graft.adtl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The validation report: counts observed on the sink write, the one-job
  * aggregation for frames that were not written, and their agreement with
  * a direct `groupBy(adtl_valid, adtl_error)` over the same frame. */
class ReportSpec extends SparkSpec {

  private def strDf(cols: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_: _*)), 2), schema)
  }

  /** Spec dir with four tables: a oneToOne table whose schema uses
    * required/enum/type/pattern/format:date, a oneToMany table with a
    * discriminator-dispatched oneOf (the "misc" entry has no validator), a
    * groupBy table, and an unvalidated constant table. */
  private def specDir(extraHeader: String = ""): String = {
    val dir = java.nio.file.Files.createTempDirectory("adtlreport")
    def put(name: String, body: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), body.stripMargin)
    put("subject.json",
      """{
        |  "required": ["sid", "sex"],
        |  "properties": {
        |    "sid": {"type": "string", "pattern": "^S[0-9]+$"},
        |    "sex": {"enum": ["male", "female"]},
        |    "age": {"type": "integer"},
        |    "enrolled": {"format": "date"}
        |  }
        |}""")
    put("obs.json",
      """{
        |  "required": ["name"],
        |  "properties": {"name": {"type": "string"}, "value": {}},
        |  "oneOf": [
        |    {"properties": {"name": {"const": "temp"}, "value": {"type": "number"}},
        |     "required": ["value"]},
        |    {"properties": {"name": {"const": "cough"}, "value": {"enum": ["yes", "no"]}},
        |     "required": ["value"]}
        |  ]
        |}""")
    put("visit.json",
      """{
        |  "required": ["sid", "age"],
        |  "properties": {"sid": {"type": "string"}, "age": {"type": "integer"}}
        |}""")
    put("spec.json",
      s"""{
        |  "adtl": {"name": "r", "description": "report"$extraHeader, "tables": {
        |    "subject": {"kind": "oneToOne", "schema": "subject.json"},
        |    "obs": {"kind": "oneToMany", "discriminator": "name", "schema": "obs.json"},
        |    "visit": {"kind": "groupBy", "groupBy": "sid", "aggregation": "lastNotNull",
        |      "schema": "visit.json"},
        |    "meta": {"kind": "constant"}}},
        |  "subject": {
        |    "sid": {"field": "sid"}, "sex": {"field": "sex"},
        |    "age": {"field": "age"}, "enrolled": {"field": "enrolled"}},
        |  "obs": [
        |    {"name": "temp", "sid": {"field": "sid"}, "value": {"field": "temp"}},
        |    {"name": "cough", "sid": {"field": "sid"}, "value": {"field": "cough"}},
        |    {"name": "misc", "sid": {"field": "sid"}, "value": {"field": "misc"}}
        |  ],
        |  "visit": {"sid": {"field": "sid"}, "age": {"field": "age"}},
        |  "meta": {"version": "1"}
        |}""")
    dir.toString
  }

  private val cols = Seq("sid", "sex", "age", "enrolled", "temp", "cough", "misc")
  // one row per first-failing subject check, in schema order
  private val rows = Seq(
    Seq("S1", "male", "41", "2022-01-02", "38.5", "yes", ""),
    Seq("S2", "robot", "41", "2022-01-02", "hot", "maybe", "m1"),
    Seq("S3", "male", "x", "2022-01-02", "37.0", "no", ""),
    Seq("X4", "male", "41", "2022-01-02", "", "", "m2"),
    Seq("S5", "female", "7", "2022-13-40", "36.6", "yes", "m3"),
    Seq("", "female", "33", "2022-02-03", "", "", ""),
    Seq("S1", "male", "", "2022-01-02", "", "", ""))

  /** The report computed by one direct groupBy over each frame. */
  private def direct(tables: Map[String, DataFrame]): Map[String, (Long, Long, Map[String, Long])] =
    tables.collect { case (t, df) if df.columns.contains("adtl_valid") =>
      val counts = df.groupBy("adtl_valid", "adtl_error").count().collect()
      val valid = counts.filter(r => !r.isNullAt(0) && r.getBoolean(0)).map(_.getLong(2)).sum
      val errors = counts.filter(r => !r.isNullAt(1)).map(r => r.getString(1) -> r.getLong(2)).toMap
      t -> (valid, counts.map(_.getLong(2)).sum, errors)
    }

  private def outDir(): String =
    java.nio.file.Files.createTempDirectory("adtlreport-out").toString

  test("report after save reads the observed writes: no job, equals the direct aggregation") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    val tables = p.parseDataFrame(spark, strDf(cols, rows))
    p.save(tables, s"${outDir()}/r")
    val noFallback = tables - "obs"
    val (observed, jobs) = jobsIn(p.report(noFallback))
    assert(jobs == 0)
    assert(observed == direct(noFallback))
    assert(observed.keySet == Set("subject", "visit")) // meta has no schema
    // every message kind reaches the report
    val subjectErrors = observed("subject")._3.keySet
    Seq("data must contain ['sid', 'sex'] properties", "data.sex must be one of",
      "data.age must be integer", "data.sid must match pattern",
      "data.enrolled must be date").foreach { m =>
      assert(subjectErrors.exists(_.startsWith(m)), s"$m not in $subjectErrors")
    }
    assert(observed("subject")._1 == 2)
    assert(observed("visit")._2 == 5) // S1, S2, S3, X4, S5
  }

  test("a validated constant table is collected on the driver with its report observed: it equals the direct aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("adtlreport")
    java.nio.file.Files.writeString(dir.resolve("meta.json"),
      """{"required": ["version", "site"], "properties": {"version": {"type": "string"}}}""")
    java.nio.file.Files.writeString(dir.resolve("spec.json"),
      """{"adtl": {"name": "r", "description": "report", "tables": {
        |   "meta": {"kind": "constant", "schema": "meta.json"}}},
        | "meta": {"version": "1"}}""".stripMargin)
    val p = AdtlParser.fromFile(s"$dir/spec.json")
    val tables = p.parseDataFrame(spark, strDf(cols, rows))
    val (_, writeJobs) = jobsIn(p.save(tables, s"${outDir()}/r"))
    // observed metrics never fold to a local relation: one collect job
    assert(writeJobs == 1)
    val (observed, jobs) = jobsIn(p.report(tables))
    assert(jobs == 0)
    assert(observed == direct(tables))
    assert(observed == Map("meta" ->
      ((0L, 1L, Map("data must contain ['version', 'site'] properties" -> 1L)))))
  }

  test("tables of a small source file are collected on the driver: their reports are observed") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    val src = java.nio.file.Files.createTempFile("adtlreport", ".csv")
    java.nio.file.Files.writeString(src,
      (cols +: rows).map(_.mkString(",")).mkString("", "\n", "\n"))
    val tables = p.parseCsv(spark, src.toString)
    p.save(tables, s"${outDir()}/r")
    val (observed, jobs) = jobsIn(p.report(tables - "obs"))
    assert(jobs == 0)
    assert(observed == direct(tables - "obs"))
    assert(p.report(tables) == direct(tables))
  }

  test("oneOf fallback messages: counted on the write, named by one filtered groupBy") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    val tables = p.parseDataFrame(spark, strDf(cols, rows))
    p.save(tables, s"${outDir()}/r")
    val obs = Map("obs" -> tables("obs"))
    val (observed, jobs) = jobsIn(p.report(obs))
    assert(jobs > 0) // the fallback rows exist, so their messages are looked up
    assert(observed == direct(obs))
    val errors = observed("obs")._3
    assert(errors("No validator found for attribute 'misc' in table 'obs'") == 3)
    assert(errors("data.value must be number") == 1)
    assert(errors("data.value must be one of ['yes', 'no']") == 1)
  }

  test("a table that was never written is aggregated in one query") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    val tables = p.parseDataFrame(spark, strDf(cols, rows))
    p.writeCsv(tables, "visit", s"${outDir()}/visit")
    val both = Map("subject" -> tables("subject"), "visit" -> tables("visit"))
    val (observed, jobs) = jobsIn(p.report(both))
    // subject's agg: AQE runs its shuffle-map stage and its result stage
    // as two jobs; visit comes from its write
    assert(jobs == 2)
    assert(observed == direct(both))
    // a derived frame is not the written instance: aggregated, not observed
    val derived = Map("visit" -> tables("visit").filter("sid = 'S1'"))
    val (fromDerived, derivedJobs) = jobsIn(p.report(derived))
    assert(derivedJobs > 0)
    assert(fromDerived == direct(derived))
    assert(fromDerived("visit")._2 == 1)
  }

  test("an empty written table reports zeros") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    // no group key survives: the groupBy table is empty
    val tables = p.parseDataFrame(spark, strDf(cols, rows.map("" +: _.tail)))
    p.save(tables, s"${outDir()}/r")
    val visit = Map("visit" -> tables("visit"))
    val (observed, jobs) = jobsIn(p.report(visit))
    assert(jobs == 0)
    assert(observed == Map("visit" -> ((0L, 0L, Map.empty[String, Long]))))
  }

  test("skipValidation tables stay out of the report") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    val tables = p.parseDataFrame(spark, strDf(cols, rows), skipValidation = true)
    p.save(tables, s"${outDir()}/r")
    assert(p.report(tables).isEmpty)
  }

  test("a failing write records nothing: report afterwards still returns correct counts") {
    // returnUnmatched blocks parquet before anything runs
    val p = AdtlParser.fromFile(s"${specDir(""", "returnUnmatched": true""")}/spec.json")
    val tables = p.parseDataFrame(spark, strDf(cols, rows))
    intercept[IllegalArgumentException](p.writeParquet(tables, "subject", s"${outDir()}/s"))
    // a write whose Spark job fails: the output path's parent is a file
    val blocker = java.nio.file.Files.createTempFile("adtlreport", ".blocker").toString
    intercept[Exception](p.writeCsv(tables, "visit", s"$blocker/visit"))
    assert(p.report(tables) == direct(tables))
  }

  test("one parser, two parses: each report counts its own parse") {
    val p = AdtlParser.fromFile(s"${specDir()}/spec.json")
    val first = p.parseDataFrame(spark, strDf(cols, rows))
    p.save(first, s"${outDir()}/a")
    val firstReport = p.report(first)
    assert(firstReport == direct(first))
    val second = p.parseDataFrame(spark, strDf(cols, rows.take(2)))
    p.save(second, s"${outDir()}/b")
    val secondReport = p.report(second)
    assert(secondReport == direct(second))
    assert(secondReport("subject")._2 == 2)
    // the first parse's frames were not the second parse's writes
    assert(p.report(first) == firstReport)
  }
}
