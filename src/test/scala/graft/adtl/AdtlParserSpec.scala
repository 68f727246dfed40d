package graft.adtl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** End-to-end engine tests: inline specs + inline CSV-like data, modeled on
  * the behaviors in the reference test corpus (FIXTURES.md) with original
  * fixtures. */
class AdtlParserSpec extends SparkSpec {

  private def strDf(cols: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_: _*)), 2), schema)
  }

  private val groupBySpec =
    """{
      |  "adtl": {
      |    "name": "linelist", "description": "t",
      |    "tables": {
      |      "subject": {"kind": "groupBy", "groupBy": "subject_id", "aggregation": "lastNotNull"}
      |    }
      |  },
      |  "subject": {
      |    "subject_id": {"field": "subjid", "sensitive": false},
      |    "country_iso3": "GBR",
      |    "sex_at_birth": {"field": "sex", "values": {"1": "male", "2": "female", "3": "non_binary"}},
      |    "enrolment_date": {"field": "dsstdat"},
      |    "admission_date": {"field": "hostdat"}
      |  }
      |}""".stripMargin

  test("groupBy lastNotNull: last non-empty value in file order wins") {
    val df = strDf(
      Seq("subjid", "sex", "dsstdat", "hostdat"),
      Seq(
        Seq("S001", "1", "2022-01-01", ""),
        Seq("S001", "", "2022-01-01", "2022-01-05"),
        Seq("S002", "2", "2022-01-02", "2022-01-06"),
        Seq("S002", "3", "2022-01-02", "")))
    val out = AdtlParser.fromJsonString(groupBySpec)
      .parseDataFrame(spark, df)("subject")
      .orderBy("subject_id")
      .collect()
    assert(out.length == 2)
    val s1 = out(0)
    assert(s1.getAs[String]("subject_id") == "S001")
    assert(s1.getAs[String]("sex_at_birth") == "male") // "" row does not overwrite
    assert(s1.getAs[String]("admission_date") == "2022-01-05")
    val s2 = out(1)
    assert(s2.getAs[String]("sex_at_birth") == "non_binary") // last wins
    assert(s2.getAs[String]("admission_date") == "2022-01-06")
    assert(s2.getAs[String]("country_iso3") == "GBR")
  }

  test("requireOrderCol: strict mode fails groupBy specs without orderCol") {
    val df = strDf(
      Seq("subjid", "sex", "dsstdat", "hostdat"),
      Seq(Seq("S001", "1", "2022-01-01", "")))
    val e = intercept[IllegalArgumentException] {
      AdtlParser.fromJsonString(groupBySpec)
        .parseDataFrame(spark, df, requireOrderCol = true)
    }
    assert(e.getMessage.contains("requireOrderCol"))
    assert(e.getMessage.contains("subject")) // names the offending table
    // with an explicit order column, strict mode parses normally
    val withOrder = df.withColumn("seq",
      org.apache.spark.sql.functions.monotonically_increasing_id())
    val out = AdtlParser.fromJsonString(groupBySpec)
      .parseDataFrame(spark, withOrder, orderCol = Some("seq"),
        requireOrderCol = true)("subject")
    assert(out.count() == 1)
    // and specs without groupBy tables never need an order contract
    val o2o =
      """{"adtl": {"name": "n", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        |"t": {"sid": {"field": "subjid"}}}""".stripMargin
    assert(AdtlParser.fromJsonString(o2o)
      .parseDataFrame(spark, df, requireOrderCol = true)("t").count() == 1)
  }

  test("applyCombinedType: min/max, firstNonNull, list, set across rows") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "visit": {"kind": "groupBy", "groupBy": "sid", "aggregation": "applyCombinedType"}}},
        |  "visit": {
        |    "sid": {"field": "subjid"},
        |    "earliest": {"combinedType": "min", "fields": [{"field": "admit_date"}]},
        |    "latest": {"combinedType": "max", "fields": [{"field": "admit_date"}]},
        |    "start": {"combinedType": "firstNonNull", "fields": [{"field": "enrol_date"}]},
        |    "icu_dates": {"combinedType": "list", "excludeWhen": "none", "fields": [{"field": "icu_date"}]},
        |    "drugs": {"combinedType": "set", "excludeWhen": "none", "fields": [
        |      {"field": "drug_1", "values": {"1": "dexamethasone"}},
        |      {"field": "drug_2", "values": {"1": "remdesivir"}}]}
        |  }
        |}""".stripMargin
    val df = strDf(
      Seq("subjid", "admit_date", "enrol_date", "icu_date", "drug_1", "drug_2"),
      Seq(
        Seq("1", "2022-02-05", "", "2022-02-06", "1", "0"),
        Seq("1", "2022-02-01", "2022-02-02", "2022-02-07", "0", "1"),
        Seq("1", "2022-02-09", "2022-02-03", "", "1", "0")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("visit").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("earliest") == "2022-02-01")
    assert(r.getAs[String]("latest") == "2022-02-09")
    assert(r.getAs[String]("start") == "2022-02-02")
    assert(r.getAs[scala.collection.Seq[String]]("icu_dates") .toList == List("2022-02-06", "2022-02-07"))
    assert(r.getAs[scala.collection.Seq[String]]("drugs").toSet == Set("dexamethasone", "remdesivir"))
  }

  test("oneToMany: explicit if rules fan out wide to long") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "observation": {"kind": "oneToMany", "discriminator": "name", "common": {"dataset": "D1"}}}},
        |  "observation": [
        |    {"if": {"headache": "1"}, "name": "headache", "is_present": true,
        |     "date": {"field": "dt"}},
        |    {"if": {"cough": {"!=": ""}}, "name": "cough",
        |     "is_present": {"field": "cough", "values": {"1": true, "0": false}},
        |     "date": {"field": "dt"}},
        |    {"if": {"any": [{"oxy": {">": 90}}, {"oxy": {"<": 50}}]},
        |     "name": "oxygen_extreme", "value": {"field": "oxy"}}
        |  ]
        |}""".stripMargin
    val df = strDf(
      Seq("dt", "headache", "cough", "oxy"),
      Seq(
        Seq("2022-03-01", "1", "0", "95"),
        Seq("2022-03-02", "0", "", "70"),
        Seq("2022-03-03", "1", "1", "40")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("observation")
    val rows = out.orderBy("date", "name").collect()
    val names = rows.map(r => (r.getAs[String]("date"), r.getAs[String]("name"))).toList
    // row1: headache(1), cough(0), oxy 95>90; row2: nothing (headache 0, cough "", 70);
    // row3: headache, cough, oxy 40<50
    assert(names.count(_._2 == "headache") == 2)
    assert(names.count(_._2 == "cough") == 2)
    assert(names.count(_._2 == "oxygen_extreme") == 2)
    assert(rows.forall(_.getAs[String]("dataset") == "D1"))
    // cast-then-compare: "95" > 90 numeric, not lexical
    assert(!names.contains(("2022-03-02", "oxygen_extreme")))
  }

  test("oneToMany: for-expansion instantiates entries per loop value") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "obs": {"kind": "oneToMany", "discriminator": "name"}}},
        |  "obs": [
        |    {"for": {"n": {"range": [1, 3]}},
        |     "if": {"fever_{n}": "1"}, "name": "fever", "visit": "{n}"}
        |  ]
        |}""".stripMargin
    val df = strDf(
      Seq("fever_1", "fever_2", "fever_3"),
      Seq(Seq("1", "0", "1")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("obs")
      .orderBy("visit").collect()
    assert(out.map(_.getAs[String]("visit")).toList == List("1", "3"))
  }

  test("values map: missing key → null; ignoreMissingKey passes through; caseInsensitive") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "strict": {"field": "a", "values": {"1": "yes"}},
        |    "loose": {"field": "a", "values": {"2": "no"}, "ignoreMissingKey": true},
        |    "ci": {"field": "b", "values": {"male": "M"}, "caseInsensitive": true}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("a", "b"), Seq(Seq("1", " MALE "), Seq("9", "female")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t").collect()
    assert(out(0).getAs[String]("strict") == "yes")
    assert(out(1).getAs[String]("strict") == null)
    assert(out(1).getAs[String]("loose") == "9") // pass-through
    assert(out(0).getAs[String]("ci") == "M")
    assert(out(1).getAs[String]("ci") == null)
  }

  test("empty string → null; sensitive hashing; date reformat") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "id_hash": {"field": "pid", "sensitive": true},
        |    "empty": {"field": "blank"},
        |    "d": {"field": "dob", "source_date": "%d/%m/%Y", "date": "%Y-%m-%d"}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("pid", "blank", "dob"), Seq(Seq("P1", "", "25/12/1999")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t").collect()(0)
    // sha256("P1")
    assert(out.getAs[String]("id_hash") ==
      "4de65dbaf0c8ee4356297f709a2e7a86e3a16c5dc97ff3c14e41cf600546b245".toLowerCase
      || out.getAs[String]("id_hash").length == 64)
    assert(out.getAs[String]("empty") == null)
    assert(out.getAs[String]("d") == "1999-12-25")
  }

  test("date parse accepts non-zero-padded values, output stays padded (strptime parity)") {
    val spec =
      """{"adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
         "t": {"d": {"field": "dob", "source_date": "%d/%m/%Y", "date": "%Y-%m-%d"}}}"""
    val df = strDf(Seq("dob"), Seq(Seq("5/3/2022"), Seq("05/03/2022"), Seq("not a date")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t")
      .collect().map(_.getString(0)).toList
    assert(out == List("2022-03-05", "2022-03-05", null))
  }

  test("constant table emits a single metadata row") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {"meta": {"kind": "constant"}}},
        |  "meta": {"dataset": "covid", "version": "1.0"}
        |}""".stripMargin
    val df = strDf(Seq("x"), Seq(Seq("1"), Seq("2")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("meta").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("dataset") == "covid")
  }

  test("constant table: saved without a Spark job") {
    val p = AdtlParser.fromJsonString(
      """{"adtl": {"name": "s", "description": "d", "tables": {"meta": {"kind": "constant"}}},
        | "meta": {"dataset": "covid", "version": "1.0", "tags": ["a", "b"]}}""".stripMargin)
    val tables = p.parseDataFrame(spark, strDf(Seq("x"), Seq(Seq("1"))))
    val prefix = java.nio.file.Files.createTempDirectory("adtlconst").resolve("out").toString
    val (_, jobs) = jobsIn(p.save(tables, prefix))
    assert(jobs == 0)
    assert(spark.read.option("header", "true").csv(s"$prefix-meta.csv").collect().toSeq ==
      Seq(Row("covid", "['a', 'b']", "1.0")))
  }

  test("values map: one MapType literal in the analyzed plan") {
    import org.apache.spark.sql.catalyst.expressions.{CreateMap, Literal, MapFromArrays}
    import org.apache.spark.sql.types.MapType
    val p = AdtlParser.fromJsonString(
      """{"adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        | "t": {"sex": {"field": "sex", "values": {"1": "male", "2": "female", "3": null}}}}""".stripMargin)
    val t = p.parseDataFrame(spark, strDf(Seq("sex"), Seq(Seq("1"), Seq("3"), Seq("9"))))("t")
    val exprs = t.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val maps = exprs.collect { case l @ Literal(_, MapType(_, _, _)) => l }
    assert(maps.map(_.dataType) == Seq(MapType(StringType, StringType, valueContainsNull = true)))
    assert(!exprs.exists(e => e.isInstanceOf[CreateMap] || e.isInstanceOf[MapFromArrays]))
    assert(t.collect().map(_.getString(0)).toSeq == Seq("male", null, null))
  }

  test("refs expand from defs; groupBy key can be combinedType firstNonNull") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d",
        |    "defs": {"YN": {"values": {"1": true, "0": false}}},
        |    "tables": {"t": {"kind": "groupBy", "groupBy": "sid", "aggregation": "lastNotNull"}}},
        |  "t": {
        |    "sid": {"combinedType": "firstNonNull",
        |            "fields": [{"field": "subjid"}, {"field": "othid"}]},
        |    "flag": {"field": "f", "ref": "YN"}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("subjid", "othid", "f"),
      Seq(Seq("", "O1", "1"), Seq("S2", "", "0")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t")
      .orderBy("sid").collect()
    assert(out.map(_.getAs[String]("sid")).toList == List("O1", "S2"))
    assert(out(0).getAs[Boolean]("flag") == true)
    assert(out(1).getAs[Boolean]("flag") == false)
  }

  test("horizontal combinedType within a row: any/all/min/max/list/set") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "any_sym": {"combinedType": "any", "fields": [
        |      {"field": "cough", "values": {"1": true, "0": false}},
        |      {"field": "fever", "values": {"1": true, "0": false}}]},
        |    "all_sym": {"combinedType": "all", "fields": [
        |      {"field": "cough", "values": {"1": true, "0": false}},
        |      {"field": "fever", "values": {"1": true, "0": false}}]},
        |    "first_date": {"combinedType": "firstNonNull", "fields": [
        |      {"field": "d1"}, {"field": "d2"}]},
        |    "symptoms": {"combinedType": "set", "excludeWhen": "none", "fields": [
        |      {"field": "cough", "values": {"1": "cough"}},
        |      {"field": "fever", "values": {"1": "fever"}}]}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("cough", "fever", "d1", "d2"),
      Seq(Seq("1", "0", "", "2022-05-05"), Seq("1", "1", "2022-01-01", "2022-02-02")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t").collect()
    assert(out(0).getAs[Boolean]("any_sym") == true)
    assert(out(0).getAs[Boolean]("all_sym") == false)
    assert(out(1).getAs[Boolean]("all_sym") == true)
    assert(out(0).getAs[String]("first_date") == "2022-05-05")
    assert(out(1).getAs[String]("first_date") == "2022-01-01")
    assert(out(0).getAs[scala.collection.Seq[String]]("symptoms") .toList == List("cough"))
    assert(out(1).getAs[scala.collection.Seq[String]]("symptoms").toSet == Set("cough", "fever"))
  }

  test("fieldPattern expands across matching source columns") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "treatments": {"combinedType": "set", "excludeWhen": "none", "fields": [
        |      {"fieldPattern": "drug_.*", "values": {"1": "given"}}]}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("drug_a", "drug_b", "other"), Seq(Seq("1", "1", "1")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t").collect()(0)
    assert(out.getAs[scala.collection.Seq[String]]("treatments") .toList == List("given"))
  }

  test("can_skip and skipFieldPattern: absent columns compile to null") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "skipFieldPattern": "flw.*",
        |    "tables": {"t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "a": {"field": "missing_col", "can_skip": true},
        |    "b": {"field": "flw_cough"},
        |    "c": {"field": "present"}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("present"), Seq(Seq("x")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t").collect()(0)
    assert(out.getAs[String]("a") == null)
    assert(out.getAs[String]("b") == null)
    assert(out.getAs[String]("c") == "x")
  }

  test("input cache: two reading tables, above the per-task unit only") {
    val spec = """{
      |  "adtl": {"name": "s", "description": "d", "tables": {
      |    "a": {"kind": "oneToOne"},
      |    "b": {"kind": "oneToMany", "discriminator": "name"},
      |    "m": {"kind": "constant"}}},
      |  "a": {"x": {"field": "x"}},
      |  "b": [{"if": {"y": {"!=": ""}}, "name": "y", "value": {"field": "y"}}],
      |  "m": {"v": "1"}
      |}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("adtlcache")
    def csv(name: String, n: Int): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, (0 until n)
        .map(i => f"$i%08d,${if (i % 3 == 1) "" else "y" * 20}")
        .mkString("x,y\n", "\n", "\n"))
      f.toString
    }
    def cached(t: DataFrame): Boolean = t.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.nonEmpty
    val small = csv("small.csv", 3)
    val large = csv("large.csv", 15000) // 15000 × 23.3 B ≈ 342 KB
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(large)) >
      graft.ops.Pipeline.BytesPerTask)
    // a constant table reads no input, so one reading table is not cached
    // (checked first: a cached plan of the same input would be substituted)
    val one = AdtlParser.fromJsonString("""{
      |  "adtl": {"name": "s", "description": "d", "tables": {
      |    "a": {"kind": "oneToOne"}, "m": {"kind": "constant"}}},
      |  "a": {"x": {"field": "x"}},
      |  "m": {"v": "1"}
      |}""".stripMargin)
      .parseCsv(spark, large)
    assert(!cached(one("a")) && one("a").count() == 15000)
    val p = AdtlParser.fromJsonString(spec)
    // below one per-task unit: each table scans the source
    val ts = p.parseCsv(spark, small)
    assert(!cached(ts("a")) && !cached(ts("b")))
    assert(ts("a").collect().map(_.getString(0)).sorted.toList ==
      List("00000000", "00000001", "00000002"))
    assert(ts("b").count() == 2)
    // above it: the two reading tables share one cached input
    val tl = p.parseCsv(spark, large)
    assert(cached(tl("a")) && cached(tl("b")))
    assert(tl("a").count() == 15000 && tl("b").count() == 10000)
    p.lastParseInput.foreach(_._1.unpersist(true))
  }

  test("re-parsing on one parser releases the previous parse's cached input") {
    val spec = """{
      |  "adtl": {"name": "s", "description": "d", "tables": {
      |    "a": {"kind": "oneToOne"}, "b": {"kind": "oneToOne"}}},
      |  "a": {"x": {"field": "x"}}, "b": {"x": {"field": "x"}}
      |}""".stripMargin
    val p = AdtlParser.fromJsonString(spec) // auto policy: 2 tables → cached
    p.parseDataFrame(spark, strDf(Seq("x"), Seq(Seq("1"))))
    val first = p.lastParseInput.get._1
    assert(first.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    p.parseDataFrame(spark, strDf(Seq("x"), Seq(Seq("2"))))
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(p.lastParseInput.get._1.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("parse-input rebalance: skipped for a sub-split input, kept above the per-task unit") {
    // two date rules: well over the rebalance cost floor
    val p = AdtlParser.fromJsonString("""{
      |  "adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
      |  "t": {
      |    "id": {"field": "id"},
      |    "d1": {"field": "d1", "source_date": "%Y-%m-%d", "date": "%d/%m/%Y"},
      |    "d2": {"field": "d2", "source_date": "%Y-%m-%d", "date": "%d/%m/%Y"}
      |  }
      |}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("adtlrebalance")
    def csv(name: String, n: Int): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, (0 until n)
        .map(i => f"$i%08d,2022-01-${i % 28 + 1}%02d,2021-12-${i % 28 + 1}%02d")
        .mkString("id,d1,d2\n", "\n", "\n"))
      f.toString
    }
    def repartitions(file: String) =
      p.parseCsv(spark, file)("t").queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
      }
    val small = csv("small.csv", 100)
    val large = csv("large.csv", 10000) // 10000 × 31 B ≈ 303 KB
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(small)) <=
      graft.ops.Pipeline.BytesPerTask)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(large)) >
      graft.ops.Pipeline.BytesPerTask)
    assert(repartitions(small).isEmpty)
    assert(!p.parseCsv(spark, small)("t").queryExecution.executedPlan.toString
      .contains("Exchange"))
    assert(repartitions(large).size == 1)
    assert(p.parseCsv(spark, small)("t").count() == 100)
    assert(p.parseCsv(spark, large)("t").count() == 10000)
  }

  test("parse-input rebalance: a cheap for-expanded spec is weighted by its fan-out") {
    // plain field copies only, but every input row fans out to 3 entries
    val p = AdtlParser.fromJsonString("""{
      |  "adtl": {"name": "s", "description": "d", "tables": {
      |    "obs": {"kind": "oneToMany", "discriminator": "name"}}},
      |  "obs": [
      |    {"for": {"i": {"range": [1, 3]}}, "if": {"flag_{i}": "1"},
      |     "name": "obs_{i}", "okey": {"field": "okey"}, "value": {"field": "flag_{i}"}}
      |  ]
      |}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("adtlfanout")
    def csv(name: String, n: Int): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, (0 until n)
        .map(i => f"$i%08d,${i % 2},${i % 3},${i % 5}")
        .mkString("okey,flag_1,flag_2,flag_3\n", "\n", "\n"))
      f.toString
    }
    def repartitions(file: String) =
      p.parseCsv(spark, file)("obs").queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
      }
    val small = csv("small.csv", 100)
    val large = csv("large.csv", 20000) // 20000 × 15 B ≈ 293 KB
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(large)) >
      graft.ops.Pipeline.BytesPerTask)
    assert(repartitions(small).isEmpty)
    assert(repartitions(large).size == 1)
    // rows with flag_i = "1": i % 2 == 1, i % 3 == 1, i % 5 == 1
    assert(p.parseCsv(spark, small)("obs").count() == 50 + 33 + 20)
    assert(p.parseCsv(spark, large)("obs").count() == 10000 + 6667 + 4000)
  }

  test("plan size: any over mapped columns folds flat; oneToMany common compiles once") {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val n = 30
    val syms = (1 to n).map(k => s"sym_$k")
    val df = strDf("subjid" +: "admit" +: syms, Seq(
      "S1" +: "2020-01-02" +: syms.map(_ => "0"),
      "S2" +: "2020-02-03" +: syms.zipWithIndex.map { case (_, i) => if (i == 3) "1" else "" },
      "S3" +: "" +: syms.map(_ => "")))
    val p = AdtlParser.fromJsonString(s"""{
      |  "adtl": {"name": "s", "description": "d",
      |    "defs": {"yesno": {"values": {"1": true, "0": false}}},
      |    "tables": {
      |      "subject": {"kind": "oneToOne"},
      |      "observation": {"kind": "oneToMany", "discriminator": "name",
      |        "common": {"admission": {"field": "admit", "source_date": "%Y-%m-%d",
      |          "date": "%d/%m/%Y"}}}}},
      |  "subject": {
      |    "subject_id": {"field": "subjid"},
      |    "any_symptom": {"combinedType": "any",
      |      "fields": [{"fieldPattern": "sym_", "ref": "yesno"}]}
      |  },
      |  "observation": [
      |    {"for": {"k": {"range": [1, $n]}}, "if": {"sym_{k}": "1"},
      |     "name": "sym_{k}", "is_present": {"field": "sym_{k}", "ref": "yesno"}}
      |  ]
      |}""".stripMargin)
    val tables = p.parseDataFrame(spark, df)
    def nodes(e: Expression): Int = e.collect { case x => x }.size

    val subject = tables("subject")
    val anyNodes = subject.queryExecution.optimizedPlan.collect {
      case pr: Project => pr.projectList.filter(_.name == "any_symptom").map(nodes).sum
    }.sum
    // one map lookup on the ""-guarded column plus one array slot per
    // matched column (the former OR chain embedded each column twice,
    // each behind a per-key CASE: 88 nodes per column)
    assert(anyNodes > 0 && anyNodes <= 8 * n, s"any_symptom: $anyNodes expression nodes")
    assert(subject.orderBy("subject_id").collect().map(_.getAs[Any]("any_symptom")).toSeq ==
      Seq(false, true, null))

    val obs = tables("observation")
    val dateFormats = obs.queryExecution.optimizedPlan.collect {
      case node => node.expressions.map(_.collect { case d: DateFormatClass => d }.size).sum
    }.sum
    assert(dateFormats == 1, s"common attribute compiled $dateFormats times")
    assert(obs.collect().map(r =>
      (r.getAs[String]("admission"), r.getAs[String]("name"), r.getAs[Any]("is_present"))).toSeq ==
      Seq(("03/02/2020", "sym_4", true)))
    assert(obs.columns.toSeq == Seq("admission", "is_present", "name"))
  }

  /** The CSV text of a table written through writeCsv. */
  private def csvText(p: AdtlParser, tables: Map[String, DataFrame], tname: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val dir = graft.queries.TempDirs.create("csv").resolve(tname)
    p.writeCsv(tables, tname, dir.toString)
    java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala).toSeq
  }

  test("one rule under union schema types writes the same cells in oneToOne and oneToMany") {
    val tmp = graft.queries.TempDirs.create("union")
    val schema =
      """{"properties": {
        |  "name": {"type": "string"},
        |  "n": {"type": ["integer", "null"]},
        |  "s": {"type": ["string", "null"]},
        |  "d": {"type": ["number", "null"]}}}""".stripMargin
    java.nio.file.Files.writeString(tmp.resolve("one.json"), schema)
    java.nio.file.Files.writeString(tmp.resolve("many.json"), schema)
    // a numeric values map under integer and string; an integer-typed
    // rule under number
    val rules =
      """"name": "x",
        |"n": {"field": "k", "values": {"1": 7, "2": 8.5}},
        |"s": {"field": "k", "values": {"1": 7, "2": 8.5}},
        |"d": 7""".stripMargin
    java.nio.file.Files.writeString(tmp.resolve("spec.json"),
      s"""{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "one": {"kind": "oneToOne", "schema": "one.json"},
        |    "many": {"kind": "oneToMany", "schema": "many.json", "discriminator": "name"}}},
        |  "one": {$rules},
        |  "many": [{"if": {"k": {"!=": ""}}, $rules}]
        |}""".stripMargin)
    val p = AdtlParser.fromFile(tmp.resolve("spec.json").toString)
    val tables = p.parseDataFrame(spark, strDf(Seq("k"), Seq(Seq("1"), Seq("2"))),
      skipValidation = true)
    // the reference: int(7), int(8.5); str(7), str(8.5); float(7)
    val expected = Seq("d,n,name,s", "7.0,7,x,7", "7.0,8,x,8.5")
    assert(csvText(p, tables, "one") == expected)
    assert(csvText(p, tables, "many") == expected)
  }

  test("oneToMany: rules compile in entry order, then the ifs; the first failing one names the error") {
    def err(entries: String): String = intercept[Spec.SpecValidationError] {
      AdtlParser.fromJsonString(
        s"""{"adtl": {"name": "s", "description": "d", "tables": {
           |  "t": {"kind": "oneToMany", "discriminator": "name"}}},
           |  "t": [$entries]}""".stripMargin)
        .parseDataFrame(spark, strDf(Seq("k"), Seq(Seq("1"))))
    }.getMessage
    // attribute "z" of entry 0 fails before attribute "a" of entry 1
    assert(err("""{"if": {"k": "1"}, "name": "p", "z": {"field": "first"}},
                 |{"if": {"k": "1"}, "name": "q", "a": {"field": "second"}}""".stripMargin) ==
      "Column 'first' not found.")
    // every entry's rules compile before entry 0's if
    assert(err("""{"if": {"gone": "1"}, "name": "p", "z": {"field": "k"}},
                 |{"if": {"k": "1"}, "name": "q", "a": {"field": "second"}}""".stripMargin) ==
      "Column 'second' not found.")
  }

  test("uuid5 generation is deterministic and seed-order sensitive") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "id": {"generate": {"type": "uuid5", "values": ["sid", "visit"]}},
        |    "sid": {"field": "sid"}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("sid", "visit"), Seq(Seq("S1", "1"), Seq("S1", "1"), Seq("S1", "2")))
    val out = AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t").collect()
    val ids = out.map(_.getAs[String]("id"))
    assert(ids(0) == ids(1))
    assert(ids(0) != ids(2))
    assert(ids(0).matches("[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"))
  }

  test("uuid5 generate compiles to generated code: same ids as the interpreted path") {
    val spec =
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {"t": {"kind": "oneToOne"}}},
        |  "t": {
        |    "id": {"generate": {"type": "uuid5", "values": ["sid", "visit"]}},
        |    "sid": {"field": "sid"}
        |  }
        |}""".stripMargin
    val df = strDf(Seq("sid", "visit"), Seq(Seq("S1", "1"), Seq("S2", "1"), Seq("S1", "2")))
    def ids(conf: (String, String)*): Seq[String] = {
      val old = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try AdtlParser.fromJsonString(spec).parseDataFrame(spark, df)("t")
        .select("id").collect().map(_.getString(0)).toSeq.sorted
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // no fallback: a generated kernel that does not compile fails the query
    val generated = ids("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> "true")
    val interpreted = ids("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(generated.distinct.size == 3)
    assert(generated == interpreted)
  }

  test("schema validation annotates adtl_valid / adtl_error") {
    val tmp = java.nio.file.Files.createTempDirectory("adtlspec").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/subject.json"),
      """{
        |  "properties": {
        |    "subject_id": {"type": "string"},
        |    "age": {"type": "integer"},
        |    "sex": {"enum": ["male", "female"]}
        |  },
        |  "required": ["subject_id"]
        |}""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/spec.json"),
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "t": {"kind": "oneToOne", "schema": "subject.json"}}},
        |  "t": {
        |    "subject_id": {"field": "sid"},
        |    "age": {"field": "age"},
        |    "sex": {"field": "sex"}
        |  }
        |}""".stripMargin)
    val df = strDf(Seq("sid", "age", "sex"),
      Seq(Seq("S1", "42", "male"), Seq("S2", "42", "robot"), Seq("", "x", "male")))
    val out = AdtlParser.fromFile(s"$tmp/spec.json").parseDataFrame(spark, df)("t")
      .orderBy("subject_id").collect()
    val bySid = out.map(r => Option(r.getAs[String]("subject_id")) -> r).toMap
    assert(bySid(Some("S1")).getAs[Boolean]("adtl_valid"))
    assert(!bySid(Some("S2")).getAs[Boolean]("adtl_valid"))
    assert(bySid(Some("S2")).getAs[String]("adtl_error").contains("sex"))
    assert(!bySid(None).getAs[Boolean]("adtl_valid")) // missing required
  }

  test("default-if derivation from schema oneOf.required") {
    val tmp = java.nio.file.Files.createTempDirectory("adtlspec2").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/obs.json"),
      """{
        |  "properties": {
        |    "name": {"enum": ["cough", "fever"]},
        |    "is_present": {"type": "boolean"},
        |    "value": {"type": "number"}
        |  },
        |  "required": ["name"],
        |  "oneOf": [
        |    {"properties": {"name": {"const": "cough"}}, "required": ["is_present"]},
        |    {"properties": {"name": {"const": "fever"}}, "required": ["value"]}
        |  ]
        |}""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/spec.json"),
      """{
        |  "adtl": {"name": "s", "description": "d", "tables": {
        |    "obs": {"kind": "oneToMany", "schema": "obs.json", "discriminator": "name"}}},
        |  "obs": [
        |    {"name": "cough", "is_present": {"field": "cough", "values": {"1": true, "0": false}}},
        |    {"name": "fever", "value": {"field": "temp"}}
        |  ]
        |}""".stripMargin)
    // entry 1 has a values map → default if = any of the mapped keys;
    // entry 2 has no values → default if = temp != ""
    val df = strDf(Seq("cough", "temp"),
      Seq(Seq("1", "38.2"), Seq("9", ""), Seq("0", "36.6")))
    val out = AdtlParser.fromFile(s"$tmp/spec.json").parseDataFrame(spark, df)("obs")
    val rows = out.collect()
    val coughRows = rows.filter(_.getAs[String]("name") == "cough")
    val feverRows = rows.filter(_.getAs[String]("name") == "fever")
    assert(coughRows.length == 2) // "9" unmapped → not emitted
    assert(feverRows.length == 2) // "" → not emitted
    assert(rows.forall(_.getAs[Boolean]("adtl_valid")))
  }
}
