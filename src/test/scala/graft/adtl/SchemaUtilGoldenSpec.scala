package graft.adtl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ports of the reference's schema/util test tables: convert_to_schema_type
  * (test_util.py), get_date_fields + make_fields_optional (test_parser.py),
  * and check_spec_fields (test_spec_checks.py). The oneOf expansion tests
  * (expand_schema) have no direct analogue — per-discriminator dispatch is
  * a compiled when-chain, behaviorally covered by the long-oneof golden
  * test. */
class SchemaUtilGoldenSpec extends SparkSpec {

  private def coerce(value: String, target: String): Any = {
    val compiler = new RuleCompiler(Seq("v"),
      Spec.Header(Map("name" -> "t", "description" -> "d")), Set.empty,
      Transformations.newRegistry(), Uuid5.NamespaceDns)
    val df = spark.createDataFrame(
      java.util.List.of(Row(value)),
      StructType(Seq(StructField("v", StringType, nullable = true))))
    val out = df.select(
      compiler.compile(Map("field" -> "v"), "x", Some(target)).col.as("r")).collect()(0)
    if (out.isNullAt(0)) null else out.get(0)
  }

  test("convert_to_schema_type coercions (string-union rendering)") {
    assert(coerce("123", "string") == "123")
    assert(coerce("123.12", "integer") == "123") // int(round(float))
    assert(coerce("true", "boolean") == "true") // boolean: no caster, unchanged
    assert(coerce("15", "number") == "15.0") // Python float rendering
    // failures keep the raw value (reference returns it unchanged)
    assert(coerce("fish", "integer") == "fish")
    assert(coerce("fish", "number") == "fish")
  }

  test("get_date_fields: by name and by format") {
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(
      "src/test/resources/golden/parsers/test.schema.json"))
    assert(Normalize.dateFields(schema).toSet ==
      Set("enrolment_date", "admission_date"))
  }

  test("make_fields_optional: required, oneOf, anyOf trimming") {
    val schema = SpecLoader.parseJson(SpecLoader.readUtf8(
      "src/test/resources/golden/schemas/epoch-oneOf.schema.json"))
    assert(schema("required") == List("epoch", "id", "text"))
    assert(Normalize.makeFieldsOptional(schema, List("text"))("required") ==
      List("epoch", "id"))
    assert(Normalize.makeFieldsOptional(schema, List("field_not_present"))("required") ==
      List("epoch", "id", "text"))
    assert(Normalize.makeFieldsOptional(schema, List("sex"))("oneOf") ==
      List(Map("required" -> Nil), Map("required" -> List("sex_at_birth"))))
    assert(!Normalize.makeFieldsOptional(schema, List("sex", "sex_at_birth"))
      .contains("oneOf"))
    assert(schema("anyOf") == List(
      Map("required" -> List("sex", "epoch")),
      Map("required" -> List("sex_at_birth", "epoch"))))
    assert(Normalize.makeFieldsOptional(schema, List("epoch"))("anyOf") ==
      List(Map("required" -> List("sex")), Map("required" -> List("sex_at_birth"))))
    assert(Normalize.makeFieldsOptional(schema, List("sex", "sex_at_birth"))("anyOf") ==
      List(Map("required" -> List("epoch"))))
  }

  test("check_spec_fields: extra and absent data columns") {
    val p = AdtlParser.fromFile("src/test/resources/golden/parsers/groupBy.json")
    assert(Spec.specFields(p.spec.tableRules) ==
      Set("sex", "subjid", "dsstdat", "hostdat"))
    val (extra1, absent1) = p.checkSpecFields(
      Seq("subjid", "sex", "dsstdat", "hostdat", "extra_field"))
    assert(extra1 == Set("extra_field") && absent1 == Set.empty)
    val (extra2, absent2) = p.checkSpecFields(Seq("subjid", "dsstdat", "hostdat"))
    assert(extra2 == Set.empty && absent2 == Set("sex"))
  }
}
