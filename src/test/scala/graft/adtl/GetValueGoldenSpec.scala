package graft.adtl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import Spec.Raw

/** The reference's own test_get_value.py tables
  * (tests/test_adtl/test_get_value.py), evaluated through the compiled
  * Column pipeline over one-row string frames (CSV semantics — typed
  * Python inputs become their str() forms, same results).
  *
  * Documented divergence: the reference raises per-row ValueErrors for
  * unconvertible unit values; a distributed plan cannot throw per row, so
  * those become nulls (or pass through under returnUnmatched).
  */
class GetValueGoldenSpec extends SparkSpec {

  private def header: Spec.Header =
    Spec.Header(Map("name" -> "t", "description" -> "d"))

  private def eval(row: Map[String, String], rule: Any): Any = {
    val cols = row.keys.toSeq
    val compiler = new RuleCompiler(cols, header, Set.empty,
      Transformations.newRegistry(), Uuid5.NamespaceDns)
    Uuid5Expr.register(spark)
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(cols.map(row): _*)), schema)
    val out = df.select(compiler.compile(rule, "x", None).col.as("r")).collect()(0)
    if (out.isNullAt(0)) null else out.get(0)
  }

  private def parseIf(row: Map[String, String], cond: Raw): Boolean = {
    val cols = row.keys.toSeq
    val compiler = new RuleCompiler(cols, header, Set.empty,
      Transformations.newRegistry(), Uuid5.NamespaceDns)
    val schema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(cols.map(row): _*)), schema)
    df.select(compiler.compileIf(cond).as("r")).collect()(0).getBoolean(0)
  }

  private def render(a: Any): Any = a match {
    case null => null
    case b: Boolean => if (b) "True" else "False"
    case s: scala.collection.Seq[_] =>
      s.map(x => if (x == null) null else String.valueOf(x)).toList
    case d: Double => if (d == math.floor(d)) s"${d.toLong}" else d.toString
    case v => String.valueOf(v)
  }

  private val mappingRule: Raw = Map("field" -> "diabetes_mhyn",
    "values" -> Map("1" -> true, "2" -> false, "3" -> null))

  test("single-field rules") {
    assert(eval(Map("diabetes_mhyn" -> "1"), mappingRule) == true)
    assert(render(eval(Map("diabetes_mhyn" -> "1"),
      Map("field" -> "diabetes_mhyn"))) == "1")
    assert(eval(Map("z" -> ""), "CONST") == "CONST")
    assert(render(eval(Map("id" -> "1"), Map("field" -> "id"))) == "1")
    assert(eval(Map("id" -> "1"), Map("field" -> "id", "sensitive" -> true)) ==
      "6b86b273ff34fce19d6b804eff5a3f5747ada4eaa22f1d49c01e52ddb7875b4b")
  }

  test("ignoreMissingKey and caseInsensitive values maps") {
    val imk: Raw = Map("field" -> "diabetes_mhyn",
      "values" -> Map("type 1" -> "E10", "type 2" -> "E11"),
      "ignoreMissingKey" -> true)
    assert(eval(Map("diabetes_mhyn" -> "type 1"), imk) == "E10")
    assert(eval(Map("diabetes_mhyn" -> "gestational"), imk) == "gestational")
    val ci: Raw = Map("field" -> "diabetes_mhyn",
      "values" -> Map("Type 1" -> "E10", "TYPE 2" -> "E11"),
      "caseInsensitive" -> true)
    assert(eval(Map("diabetes_mhyn" -> "type 2"), ci) == "E11")
    assert(eval(Map("diabetes_mhyn" -> "TYPE 1"), ci) == "E10")
  }

  private val conditionalRow = Map("outcome_date" -> "2022-01-01", "outcome_type" -> "4")

  test("field-level if") {
    assert(eval(conditionalRow, Map("field" -> "outcome_date",
      "if" -> Map("outcome_type" -> 4L))) == "2022-01-01")
    assert(eval(conditionalRow, Map("field" -> "outcome_date",
      "if" -> Map("outcome_type" -> Map("<" -> 4L)))) == null)
  }

  test("unit conversion with rule-valued source_unit") {
    val rule: Raw = Map("field" -> "age", "unit" -> "years",
      "source_unit" -> Map("field" -> "age_unit",
        "values" -> Map("1" -> "months", "2" -> "years")))
    assert(eval(Map("age" -> "18", "age_unit" -> "1"), rule) == 1.5)
    assert(eval(Map("age" -> "18", "age_unit" -> "2"), rule) == 18.0)
  }

  test("date reformat") {
    assert(eval(Map("outcome_date" -> "02/05/2022"),
      Map("field" -> "outcome_date", "source_date" -> "%d/%m/%Y",
        "date" -> "%m/%d/%Y")) == "05/02/2022")
    assert(eval(Map("outcome_date" -> "02/05/2022"),
      Map("field" -> "outcome_date", "source_date" -> "%d/%m/%Y")) == "2022-05-02")
    assert(eval(Map("outcome_date" -> "2022-05-02"),
      Map("field" -> "outcome_date", "source_date" -> "%d/%m/%Y")) == null)
  }

  test("can_skip on absent and present columns") {
    val rule: Raw = Map("field" -> "aidshiv_mhyn",
      "values" -> Map("1" -> true, "0" -> false), "can_skip" -> true)
    assert(eval(Map("aidshiv" -> "1"), rule) == null) // column absent → skip
    assert(eval(Map("aidshiv_mhyn" -> "1"), rule) == true)
    assert(eval(Map("aidshiv_mhyn" -> "2"), rule) == null) // unmapped
  }

  test("enum_list") {
    val rule: Raw = Map("field" -> "symptoms", "type" -> "enum_list",
      "values" -> Map("high temp" -> "fever", "head pain" -> "headache"))
    assert(render(eval(Map("symptoms" -> "[high temp, head pain]"), rule)) ==
      List("fever", "headache"))
    assert(render(eval(Map("symptoms" -> "[high temp, fatigue]"), rule)) ==
      List("fever", null))
    val imk = rule + ("ignoreMissingKey" -> true)
    assert(render(eval(Map("symptoms" -> "[high temp, fatigue]"), imk)) ==
      List("fever", "fatigue"))
    assert(render(eval(Map("symptoms" -> "[high temp; fatigue]"), imk)) ==
      List("high temp; fatigue"))
  }

  private val liverDisease = List(
    Map("field" -> "modliv", "values" -> Map("1" -> true, "0" -> false, "2" -> null)),
    Map("field" -> "mildliver", "values" -> Map("1" -> true, "0" -> false, "2" -> null)))

  test("combinedType any/all/list") {
    val any: Raw = Map("combinedType" -> "any", "fields" -> liverDisease)
    val all: Raw = Map("combinedType" -> "all", "fields" -> liverDisease)
    assert(eval(Map("modliv" -> "1", "mildliver" -> "0"), any) == true)
    assert(eval(Map("modliv" -> "", "mildliver" -> ""), any) == null)
    assert(eval(Map("modliv" -> "1", "mildliver" -> "0"), all) == false)
    val list: Raw = Map("combinedType" -> "list", "fields" -> liverDisease)
    assert(render(eval(Map("modliv" -> "1", "mildliver" -> "0"), list)) ==
      List("True", "False"))
    val pat: Raw = Map("combinedType" -> "list", "fields" -> List(
      Map("fieldPattern" -> ".*liv.*",
        "values" -> Map("1" -> true, "0" -> false, "2" -> null))))
    assert(render(eval(Map("modliv" -> "1", "mildliver" -> "0"), pat)) ==
      List("True", "False"))
    assert(render(eval(Map("modliv" -> "1", "mildliver" -> "3"),
      pat + ("excludeWhen" -> "none"))) == List("True"))
    assert(render(eval(Map("modliv" -> "1", "mildliver" -> "3"), pat)) ==
      List("True", null))
  }

  test("combinedType firstNonNull") {
    val rule: Raw = Map("combinedType" -> "firstNonNull",
      "fields" -> List(Map("field" -> "first"), Map("field" -> "second")))
    assert(render(eval(Map("first" -> "1", "second" -> ""), rule)) == "1")
    assert(render(eval(Map("first" -> "1", "second" -> "2"), rule)) == "1")
    assert(render(eval(Map("first" -> "2", "second" -> "1"), rule)) == "2")
    assert(render(eval(Map("first" -> "", "second" -> "3"), rule)) == "3")
    assert(render(eval(Map("first" -> "False", "second" -> "True"), rule)) == "False")
    assert(render(eval(Map("first" -> "", "second" -> "False"), rule)) == "False")
    assert(eval(Map("first" -> "", "second" -> ""), rule) == null)
  }

  test("combinedType min/max over dates") {
    val min: Raw = Map("combinedType" -> "min", "fields" -> List(
      Map("field" -> "admission_date"), Map("field" -> "enrolment_date")))
    val max = min + ("combinedType" -> "max")
    val both = Map("admission_date" -> "2020-05-05", "enrolment_date" -> "2020-05-19")
    val one = Map("admission_date" -> "2020-05-05", "enrolment_date" -> "")
    val none = Map("admission_date" -> "", "enrolment_date" -> "")
    assert(eval(both, min) == "2020-05-05")
    assert(eval(both, max) == "2020-05-19")
    assert(eval(one, min) == "2020-05-05")
    assert(eval(one, max) == "2020-05-05")
    assert(eval(none, min) == null)
    assert(eval(none, max) == null)
  }

  test("combinedType set with excludeWhen none (checkbox columns)") {
    val fields = for {
      prefix <- List("antiviral_cmtrt", "daily_antiviral_cmtrt", "overall_antiviral_cmtrt")
      (i, drug) <- List("1" -> "Ribavirin", "2" -> "Lopinavir/Ritonvir", "3" -> "Interferon alpha")
    } yield Map("field" -> s"${prefix}___$i", "values" -> Map("1" -> drug))
    val rule: Raw = Map("combinedType" -> "set", "excludeWhen" -> "none",
      "fields" -> fields)
    val row = Map(
      "antiviral_cmtrt___1" -> "0", "antiviral_cmtrt___2" -> "1", "antiviral_cmtrt___3" -> "0",
      "daily_antiviral_cmtrt___1" -> "0", "daily_antiviral_cmtrt___2" -> "1",
      "daily_antiviral_cmtrt___3" -> "1",
      "overall_antiviral_cmtrt___1" -> "0", "overall_antiviral_cmtrt___2" -> "0",
      "overall_antiviral_cmtrt___3" -> "1")
    assert(render(eval(row, rule)).asInstanceOf[List[String]].sorted ==
      List("Interferon alpha", "Lopinavir/Ritonvir"))
  }

  test("parse_if comparison table") {
    val p = Map("pathogen" -> "covid 19")
    assert(parseIf(p, Map("pathogen" -> Map("=~" -> ".*covid.*"))))
    assert(!parseIf(p, Map("pathogen" -> Map("=~" -> ".*SARS-?CoV-?2.*"))))
    assert(parseIf(Map("pathogen" -> "sars cov 2"),
      Map("pathogen" -> Map("=~" -> ".*SARS[- ]CoV[- ]2.*"))))
    assert(parseIf(Map("pathogen" -> "sars-cov 2"),
      Map("pathogen" -> Map("=~" -> ".*SARS[- ]CoV[- ]2.*"))))
    assert(parseIf(Map("pathogen" -> "coronavírus"),
      Map("pathogen" -> Map("=~" -> ".*coronav[ií]rus.*"))))
    assert(parseIf(conditionalRow, Map("outcome_type" -> 4L)))
    assert(!parseIf(conditionalRow, Map("not" -> Map("outcome_type" -> 4L))))
    assert(parseIf(conditionalRow, Map("outcome_type" -> Map("==" -> 4L))))
    assert(!parseIf(conditionalRow, Map("outcome_type" -> 3L)))
    assert(parseIf(conditionalRow, Map("outcome_type" -> Map(">" -> 2L))))
    assert(parseIf(conditionalRow, Map("outcome_type" -> Map("<" -> 10L))))
    assert(parseIf(conditionalRow, Map("outcome_type" -> Map("<=" -> 4L))))
    assert(parseIf(conditionalRow, Map("outcome_type" -> Map(">=" -> 4L))))
    assert(!parseIf(conditionalRow, Map("outcome_type" -> Map("!=" -> 4L))))
    // int literal vs a date string: int("2022-01-01") fails → False
    assert(!parseIf(conditionalRow, Map("outcome_date" -> Map("==" -> 2022L))))
    assert(!parseIf(conditionalRow, Map("outcome_date" -> 2022L)))
    assert(parseIf(conditionalRow, Map("any" -> List(
      Map("outcome_type" -> Map(">" -> 2L)),
      Map("outcome_date" -> Map("<" -> "2022"))))))
    assert(!parseIf(conditionalRow, Map("all" -> List(
      Map("outcome_type" -> Map(">" -> 2L)),
      Map("outcome_date" -> Map("<" -> "2022"))))))
  }

  test("parse_if errors") {
    val e = intercept[Spec.SpecValidationError](
      parseIf(Map("outcome_type" -> "1"), Map("outcome_type" -> Map("<>" -> 5L))))
    assert(e.getMessage.contains("Unrecognized operand"))
    val e2 = intercept[Spec.SpecValidationError](
      parseIf(Map("dt" -> "2022-02-05"), Map("headache_v2" -> "1")))
    assert(e2.getMessage.contains("Column 'headache_v2' not found."))
  }

  test("list excludeWhen variants") {
    val row = Map("mildliv" -> "0", "modliv" -> "2")
    val base: Raw = Map("combinedType" -> "list",
      "fields" -> List(Map("field" -> "mildliv"), Map("field" -> "modliv")))
    assert(render(eval(row, base)) == List("0", "2"))
    assert(render(eval(row, base + ("excludeWhen" -> "false-like"))) == List("2"))
    assert(render(eval(row, base + ("excludeWhen" -> "none"))) == List("0", "2"))
    assert(render(eval(row, base + ("excludeWhen" -> List(2L)))) == List("0"))
  }

  test("combinedType over wordSubstituteSet sub-arrays") {
    def wsRule(ct: String): Raw = Map("combinedType" -> ct, "fields" -> List(
      Map("field" -> "corticost", "apply" -> Map("function" -> "wordSubstituteSet",
        "params" -> List(List("Metil?corten", "Prednisone"),
          List("Decadron", "Dexamethasone")))),
      Map("field" -> "corticost_v2", "apply" -> Map("function" -> "wordSubstituteSet",
        "params" -> List(List("Cortisonal", "Cortisonal"),
          List("Dexa", "Dexamethasone"))))))
    assert(render(eval(Map("corticost" -> "", "corticost_v2" -> "Dexa"),
      wsRule("set"))).asInstanceOf[List[String]].toSet ==
      Set(null, "Dexamethasone"))
    assert(render(eval(Map("corticost" -> "Decadron", "corticost_v2" -> "Dexa"),
      wsRule("set"))) == List("Dexamethasone"))
    assert(render(eval(Map("corticost" -> "", "corticost_v2" -> "Cortisonal"),
      wsRule("firstNonNull"))) == "Cortisonal")
  }

  test("rule errors match reference messages") {
    assert(intercept[Spec.SpecValidationError](
      eval(Map("age" -> "a"), Map.empty[String, Any]))
      .getMessage.contains("Could not return value for"))
    assert(intercept[IllegalArgumentException](
      eval(Map("brthdtc" -> "2020-02-04", "dsstdat" -> "2023-04-06"),
        Map("field" -> "brthdtc", "apply" -> Map("function" -> "undefinedFunction",
          "params" -> List("$dsstdat")))))
      .getMessage.contains("Error using a data transformation"))
    assert(intercept[Spec.SpecValidationError](
      eval(Map("modliv" -> "1", "mildliv" -> "2"),
        Map("combinedType" -> "list", "excludeWhen" -> 5L,
          "fields" -> List(Map("field" -> "modliv"), Map("field" -> "mildliv")))))
      .getMessage.contains("excludeWhen rule should be 'none', 'false-like', or a list of values"))
    assert(intercept[Spec.SpecValidationError](
      eval(Map("mildliv" -> "0"), Map("combinedType" -> "collage",
        "fields" -> List.empty[Any])))
      .getMessage.contains("Unknown"))
  }

  test("generate: uuid5 against NAMESPACE_DNS and unknown method") {
    val row = Map("a" -> "fish", "b" -> "dog", "c" -> "horse", "d" -> "cat")
    assert(eval(row, Map("generate" -> Map("type" -> "uuid5",
      "values" -> List("a", "d")))) == "bb6519f5-e547-53bc-800c-fefc7135565e")
    val dt = eval(row, Map("generate" -> Map("type" -> "datetime")))
    assert(dt.toString.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}[+-]\d{2}:\d{2}"""))
    assert(intercept[Spec.SpecValidationError](
      eval(row, Map("generate" -> Map("type" -> "unknown"))))
      .getMessage.contains("Unknown generation method"))
  }
}
