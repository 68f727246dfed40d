package graft.adtl

import graft.SparkSpec
import graft.adtl.autoparser.MappingParser

/** G5 against the reference's own fixture: animals_mapping.csv +
  * animals.schema.json must produce the rule tree committed in
  * test_parser_generator.ambr::test_create_parser. */
class MappingParserGoldenSpec extends SparkSpec {

  private val golden = "src/test/resources/golden/autoparser"

  test("golden: wide-table parser generation reproduces the snapshot tree") {
    val rows = MappingParser.rowsFromCsv(spark, s"$golden/animals_mapping.csv")
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(s"$golden/animals.schema.json"))
    val (body, defs) = MappingParser.wideTable(rows, schema)

    val expected: Spec.Raw = Map(
      "age_months" -> Map("description" -> "Age in Months", "field" -> "AgeMois         "),
      "age_years" -> Map("description" -> "Age in Years", "field" -> "AgeAns"),
      "case_status" -> Map("caseInsensitive" -> true, "description" -> "Case Status",
        "field" -> "StatusCas",
        "values" -> Map("décédé" -> "dead", "vivant" -> "alive")),
      "chipped" -> Map("description" -> "Microchipped", "field" -> "Micropucé",
        "ref" -> "Y/N/NK"),
      "classification" -> Map("caseInsensitive" -> true, "description" -> "Classification",
        "field" -> "Classicfication ",
        "values" -> Map("amphibie" -> "amphibian", "autre" -> "", "fish" -> "fish",
          "mammifère" -> "mammal", "oiseau" -> "bird", "poisson" -> "fish",
          "rept" -> "reptile")),
      "country_iso3" -> "",
      "identity" -> Map("description" -> "Identity", "field" -> "Identité"),
      "loc_admin_1" -> Map("description" -> "Province", "field" -> "Province"),
      "name" -> Map("description" -> "Full Name", "field" -> "Nom complet "),
      "notification_date" -> Map("description" -> "Notification Date",
        "field" -> "DateNotification"),
      "pet" -> Map("description" -> "Pet Animal", "field" -> "AnimalDeCompagnie",
        "ref" -> "Y/N/NK"),
      "sex" -> Map("caseInsensitive" -> true, "description" -> "Gender",
        "field" -> "Sexe", "values" -> Map("f" -> "female", "m" -> "male")),
      "underlying_conditions" -> Map("caseInsensitive" -> true,
        "description" -> "Preexisting Conditions", "field" -> "ConditionsPreexistantes",
        "type" -> "enum_list",
        "values" -> Map("arthrite" -> "arthritis", "convulsions" -> "seizures",
          "diabète" -> "diabetes", "problèmes d'échelle" -> "skin problems",
          "vomir" -> "vomiting")))

    assert(body.keySet == expected.keySet)
    expected.foreach { case (k, v) =>
      assert(body(k) == v, s"rule for '$k': ${body(k)}")
    }
    assert(defs("Y/N/NK") == Map("caseInsensitive" -> true,
      "values" -> Map("oui" -> true, "non" -> false)))

    // and the generated spec actually RUNS through the engine
    val spec: Spec.Raw = Map(
      "adtl" -> Map("name" -> "animals", "description" -> "generated",
        "defs" -> defs,
        "tables" -> Map("animals" -> Map("kind" -> "oneToOne"))),
      "animals" -> body)
    val parser = AdtlParser.fromSpec(spec)
    val data = spark.read.option("header", "true")
      .csv(s"$golden/animal_data.csv")
    val out = parser.parseDataFrame(spark, data)("animals")
    assert(out.count() == 30)
    val first = out.orderBy("identity").collect()(0)
    assert(first.getAs[String]("identity") == "A001")
    assert(first.getAs[String]("classification") == "mammal")
    assert(first.getAs[Boolean]("chipped")) // Oui → Y/N/NK ref → true
  }

  test("generated spec round-trips through TOML serialization") {
    val rows = MappingParser.rowsFromCsv(spark, s"$golden/animals_mapping.csv")
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(s"$golden/animals.schema.json"))
    val (body, defs) = MappingParser.wideTable(rows, schema)
    val spec: Spec.Raw = Map(
      "adtl" -> Map("name" -> "animals", "description" -> "generated",
        "defs" -> defs,
        "tables" -> Map("animals" -> Map("kind" -> "oneToOne"))),
      "animals" -> body)
    val toml = graft.adtl.autoparser.SpecGenerator.toToml(spec)
    val reloaded = AdtlParser.fromTomlString(toml)
    val direct = AdtlParser.fromSpec(spec)
    val data = spark.read.option("header", "true").csv(s"$golden/animal_data.csv")
    val a = direct.parseDataFrame(spark, data)("animals")
    val b = reloaded.parseDataFrame(spark, data)("animals")
    assert(a.columns.toList == b.columns.toList)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("golden: long-table (oneToMany) generation reproduces the snapshot") {
    val rows = MappingParser.genericRowsFromCsv(spark, s"$golden/long-animal-mapper.csv")
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(s"$golden/vet-obs.schema.json"))
    val cfg = MappingParser.LongTableConfig(
      commonFields = List("animal_id", "visit_date", "clinic"),
      variableCol = "observation",
      valueCols = List("string_value", "boolean_value", "numeric_value"),
      constantOverrides = Map("clinic" -> true)) // test_make_table's update
    val entries = MappingParser.longTable(rows, schema, cfg)
    assert(entries == List(
      Map("observation" -> "weight", "numeric_value" -> Map("field" -> "weight_kg"),
        "animal_id" -> Map("field" -> "subjid"), "visit_date" -> Map("field" -> "date"),
        "clinic" -> "jericho", "vet_name" -> "Dr. Lopez"),
      Map("observation" -> "temperature",
        "numeric_value" -> Map("field" -> "temperature_C"),
        "animal_id" -> Map("field" -> "subjid"), "visit_date" -> Map("field" -> "date"),
        "clinic" -> "jericho", "vet_name" -> "Dr. Kamau"),
      Map("observation" -> "vaccinated",
        "boolean_value" -> Map("field" -> "vacc_status",
          "values" -> Map("true" -> true, "false" -> false), "caseInsensitive" -> true),
        "animal_id" -> Map("field" -> "subjid"), "visit_date" -> Map("field" -> "date"),
        "clinic" -> "jericho", "vet_name" -> "Dr. Lopez"),
      Map("observation" -> "behavioural_issue",
        "string_value" -> Map("field" -> "reported_issues"),
        "animal_id" -> Map("field" -> "subjid"), "visit_date" -> Map("field" -> "date"),
        "clinic" -> "jericho", "vet_name" -> "Dr. Lopez")))
  }

  test("long-table mapping validation errors match the reference") {
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(s"$golden/vet-obs.schema.json"))
    val cfg = MappingParser.LongTableConfig(
      List("animal_id"), "observation", List("string_value"))
    val e1 = intercept[IllegalArgumentException](MappingParser.longTable(
      List(Map("source_field" -> "x", "value_col" -> "string_value")), schema, cfg))
    assert(e1.getMessage.contains(
      "must not contain NaN values in 'observation' column."))
    val e2 = intercept[IllegalArgumentException](MappingParser.longTable(
      List(Map("source_field" -> "x", "observation" -> "o")), schema, cfg))
    assert(e2.getMessage.contains("NaN values in the 'value_col' column."))
  }

  test("value-mapping string parser edge cases (util.py docstring)") {
    assert(MappingParser.parseMappedValues("oui=True | non=False | blah=None") ==
      Map("oui" -> true, "non" -> false, "blah" -> ""))
    assert(MappingParser.parseMappedValues("vivant=alive | décédé=dead | =None") ==
      Map("vivant" -> "alive", "décédé" -> "dead"))
    assert(MappingParser.parseMappedValues(" = | poisson=fish") ==
      Map("poisson" -> "fish"))
    assert(MappingParser.parseMappedValues(
      "ecouvillon+croûte=[swab, crust] | ecouvillon=[swab]") ==
      Map("ecouvillon+croûte" -> List("swab", "crust"), "ecouvillon" -> List("swab")))
    intercept[IllegalArgumentException](
      MappingParser.parseMappedValues("novalue | a=b"))
    // trailing delimiter keeps its empty chunk (re.split semantics) → raises
    intercept[IllegalArgumentException](
      MappingParser.parseMappedValues("oui=True |"))
    // the reference's `if "[" and "]" in v` is truthy on ']' alone
    assert(MappingParser.parseMappedValues("a=swab] | b=x") ==
      Map("a" -> List("swab"), "b" -> "x"))
  }

  test("duplicate target_field rows raise like the reference's groupby") {
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(s"$golden/animals.schema.json"))
    val dup = List(
      MappingParser.MappingRow("name", Some("d1"), Some("s1"), None),
      MappingParser.MappingRow("name", Some("d2"), Some("s2"), None))
    val e = intercept[NotImplementedError](MappingParser.wideTable(dup, schema))
    assert(e.getMessage == "CombinedType not supported")
  }

  test("combineDuplicates: multi-source rows emit a firstNonNull block " +
      "that TOML round-trips (beyond reference parity)") {
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(s"$golden/animals.schema.json"))
    val dup = List(
      MappingParser.MappingRow("name", Some("primary"), Some("s1"), None),
      // each source keeps its OWN value map
      MappingParser.MappingRow("name", Some("fallback"), Some("s2"),
        Some("oui=x | non=y")),
      MappingParser.MappingRow("age_years", None, Some("AgeAns"), None))
    val (body, _) = MappingParser.wideTable(dup, schema,
      combineDuplicates = true)
    val rule = body("name").asInstanceOf[Spec.Raw]
    assert(rule("combinedType") == "firstNonNull")
    val fields = rule("fields").asInstanceOf[List[Spec.Raw]]
    // mapping-row order = firstNonNull priority
    assert(fields.map(_("field")) == List("s1", "s2"))
    assert(fields(0).get("values").isEmpty)
    assert(fields(1)("values") == Map("oui" -> "x", "non" -> "y"))
    // single-source fields are untouched
    assert(body("age_years").asInstanceOf[Spec.Raw]("field") == "AgeAns")
    // the emitted TOML parses back with the block intact — i.e. the
    // generated spec is executable by the engine's C2 row-combine
    val toml = graft.adtl.autoparser.SpecGenerator.toToml(Map("t" -> body))
    val back = TomlParser.parse(toml)("t").asInstanceOf[Spec.Raw]
    val parsed = back("name").asInstanceOf[Spec.Raw]
    assert(parsed("combinedType") == "firstNonNull")
    assert(parsed("fields").asInstanceOf[List[Spec.Raw]]
      .map(_("field")) == List("s1", "s2"))
  }

  test("combine_duplicates config: the FULL generated parser file carries " +
      "the firstNonNull block and executes end-to-end") {
    import graft.adtl.autoparser.{AutoparserConfig, ParserGenerator}
    val dir = graft.queries.TempDirs.create("combine")
    def write(name: String, text: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, text)
      p.toString
    }
    val schemaPath = write("t.schema.json",
      """{"properties": {"name": {"type": ["string", "null"]},
        |  "age_years": {"type": ["number", "null"]}},
        | "required": ["name"]}""".stripMargin)
    val mappingPath = write("map.csv",
      "target_field,source_description,source_field,value_mapping\n" +
        "name,Primary,NomPrincipal,\n" +
        "name,Fallback,NomSecondaire,\n" +
        "age_years,Age,AgeAns,\n")
    // the config switch parses (reference-parity default is false)
    assert(!AutoparserConfig.fromRaw(Map("language" -> "fr",
      "schemas" -> Map("t" -> schemaPath))).combineDuplicates)
    val cfg = AutoparserConfig.fromRaw(Map(
      "name" -> "dup", "language" -> "fr",
      "schemas" -> Map("t" -> schemaPath),
      "combine_duplicates" -> true))
    assert(cfg.combineDuplicates)
    val outPath = ParserGenerator.createParser(spark, cfg,
      Map("t" -> mappingPath), "dup",
      output = Some(dir.resolve("dup.toml").toString))
    val toml = SpecLoader.readUtf8(outPath)
    // golden: the duplicate-target block in the serialized file
    assert(toml.contains("combinedType = \"firstNonNull\""),
      s"generated TOML lacks the block:\n$toml")
    assert(toml.contains("field = \"NomPrincipal\"") &&
      toml.contains("field = \"NomSecondaire\""))
    // and the generated FILE executes: firstNonNull takes the fallback
    // source exactly when the primary is empty (P6 ""→null)
    val parser = AdtlParser.fromFile(outPath)
    import spark.implicits._
    val data = Seq(
      ("Rex", "Backup", "3"),
      ("", "Backup2", "4"))
      .toDF("NomPrincipal", "NomSecondaire", "AgeAns")
    val out = parser.parseDataFrame(spark, data)("t")
      .orderBy("age_years").collect()
    assert(out.map(_.getAs[String]("name")).toSeq == Seq("Rex", "Backup2"))
  }
}
