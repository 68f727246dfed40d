package graft.adtl

import graft.SparkSpec
import graft.adtl.autoparser.{AutoparserConfig, DictReader, MappingParser}

/** G6 config-file loader against the reference's own fixtures
  * (tests/test_autoparser/test_config.{toml,py} and
  * src/adtl/autoparser/config/autoparser.toml; studied, not copied). */
class AutoparserConfigSpec extends SparkSpec {

  private val golden = "src/test/resources/golden/autoparser"

  test("golden: test_config.toml loads with the reference's field values") {
    val cfg = AutoparserConfig.load(s"$golden/test_config.toml")
    assert(cfg.name == "config file for testing")
    assert(cfg.language == "en")
    assert(cfg.schemas == Map(
      "animals" -> "tests/test_autoparser/schemas/animals.schema.json"))
    assert(cfg.columnMappings == AutoparserConfig.DefaultColumnMappings)
    assert(cfg.choiceDelimiter == "," && cfg.choiceDelimiterMap == "=")
    assert(cfg.numRefs == 3 && cfg.maxCommonCount == 8)
    assert(cfg.minCommonFrequency.isEmpty)
    assert(cfg.llmProvider.contains("openai") && cfg.llmModel.isEmpty)
    assert(cfg.longTables.isEmpty)
  }

  test("golden: the shipped example config fails its own long_tables check") {
    // autoparser.toml declares long_tables.attribute/event but only a
    // linelist schema — the reference's validator rejects it
    // (config.py:127-135); faithful parity includes that
    val e = intercept[IllegalArgumentException](
      AutoparserConfig.load(s"$golden/autoparser_default.toml"))
    assert(e.getMessage.contains("in 'long_tables' not found in 'schemas'"))
  }

  test("long_tables parse into LongTableConfig (common_cols / common_fields)") {
    val toml =
      """language = "en"
        |[schemas]
        |  attribute = "schemas/a.json"
        |  event = "schemas/e.json"
        |[long_tables.attribute]
        |  variable_col = "attribute"
        |  value_cols = ["value_bool", "value_num", "value"]
        |  [long_tables.attribute.common_fields]
        |    subjid = "usubjid"
        |    dataset_id = "studyid"
        |[long_tables.event]
        |  common_cols = ["subjid", "dataset_id"]
        |  variable_col = "attribute"
        |  value_cols = ["value"]
        |""".stripMargin
    val cfg = AutoparserConfig.fromRaw(TomlParser.parse(toml))
    assert(cfg.longTables("attribute") == MappingParser.LongTableConfig(
      commonFields = List("subjid", "dataset_id"),
      variableCol = "attribute",
      valueCols = List("value_bool", "value_num", "value")))
    assert(cfg.longTableCommonValues("attribute") ==
      Map("subjid" -> "usubjid", "dataset_id" -> "studyid"))
    assert(cfg.longTables("event").commonFields == List("subjid", "dataset_id"))
    assert(cfg.longTableCommonValues("event").isEmpty)
  }

  test("validation error parity (test_config.py)") {
    def base(extra: (String, Any)*): Map[String, Any] = Map(
      "language" -> "en",
      "schemas" -> Map("animals" -> "schemas/animals.schema.json")) ++ extra
    val cm = Map(
      "source_field" -> "Field Name",
      "source_description" -> "Description",
      "source_type" -> "Field Type")

    val e1 = intercept[IllegalArgumentException](AutoparserConfig.fromRaw(
      base("column_mappings" -> (cm ++ Map(
        "common_values" -> "Common Values", "choices" -> "Choices")))))
    assert(e1.getMessage ==
      "Only one from 'common values' and 'choices' can be set at once")

    val e2 = intercept[IllegalArgumentException](AutoparserConfig.fromRaw(
      base("column_mappings" -> (cm ++ Map(
        "common_values" -> null, "choices" -> null)))))
    assert(e2.getMessage ==
      "Either 'common values' or 'choices' must be set in column mappings")

    val e3 = intercept[IllegalArgumentException](AutoparserConfig.fromRaw(
      base("long_tables" -> Map("animals" -> Map(
        "variable_col" -> "var", "value_cols" -> List("value"),
        "common_cols" -> List("id"),
        "common_fields" -> Map("id" -> "subjid"))))))
    assert(e3.getMessage ==
      "Only one from 'common_cols' and 'common_fields' can be set at once")

    val e4 = intercept[IllegalArgumentException](AutoparserConfig.fromRaw(
      base("long_tables" -> Map("vet_info" -> Map(
        "variable_col" -> "var", "value_cols" -> List("value"),
        "common_cols" -> List("id"))))))
    assert(e4.getMessage == "Table 'vet_info' in 'long_tables' not found in 'schemas'")

    val e5 = intercept[IllegalArgumentException](AutoparserConfig.fromRaw(
      Map("schemas" -> Map("a" -> "s.json"))))
    assert(e5.getMessage.startsWith("language"))

    val e6 = intercept[IllegalArgumentException](
      AutoparserConfig.load("invalid_format.csv"))
    assert(e6.getMessage == "Unsupported config file format: .csv")
  }

  test("config drives DictReader end to end (column mappings + delimiters)") {
    val dir = graft.queries.TempDirs.create("apc").toFile.getAbsolutePath
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/cfg.toml"),
      s"""language = "fr"
         |[schemas]
         |  animals = "$golden/animals.schema.json"
         |[column_mappings]
         |  source_field = "Field Name"
         |  source_type = "Field Type"
         |  source_description = "Description"
         |  common_values = "Common Values"
         |""".stripMargin)
    val cfg = AutoparserConfig.load(s"$dir/cfg.toml")
    // a dictionary under the default headers the config maps from
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/dd.csv"),
      "Field Name,Description,Field Type,Common Values\n" +
        "Identité,Identifier,string,\n" +
        "Province,Province name,string,\"Equateur, Orientale, Katanga\"\n")
    val entries = cfg.dictionary(spark, s"$dir/dd.csv")
    assert(entries.map(_.sourceField) == List("Identité", "Province"))
    assert(entries(1).commonValues.contains(
      List("equateur", "orientale", "katanga")))
  }
}
