package graft.adtl

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.adtl.autoparser.AutoparserMain

/** adtl-autoparser CLI parity: the deterministic subcommands run end to end
  * on the reference's own fixtures (create-dict / format-dict /
  * create-parser; create-mapping is the scoped-out LLM stage). */
class AutoparserCliSpec extends SparkSpec {

  private val golden = new java.io.File(
    "src/test/resources/golden/autoparser").getAbsolutePath
  private lazy val tmp = {
    spark // CLI reuses the suite session
    graft.queries.TempDirs.create("apcli").toFile.getAbsolutePath
  }

  test("create-dict infers a dictionary with config column names") {
    AutoparserMain.main(Array("create-dict", s"$golden/animal_data.csv",
      "-o", s"$tmp/dd"))
    val lines = Files.readAllLines(Paths.get(s"$tmp/dd.csv"))
    assert(lines.get(0) == "Field Name,Field Type,Common Values")
    assert(lines.size > 5)
    assert(lines.stream().anyMatch(_.startsWith("Identité,")))
  }

  test("format-dict normalizes a dictionary to typed parquet") {
    Files.writeString(Paths.get(s"$tmp/user_dd.csv"),
      "Field Name,Description,Field Type,Common Values\n" +
        "alive,Alive,string,\"Oui, NON, oui\"\n" +
        "age,Age in years,number,\n")
    AutoparserMain.main(Array("format-dict", s"$tmp/user_dd.csv",
      "-o", s"$tmp/fmt.parquet"))
    val back = spark.read.parquet(s"$tmp/fmt.parquet")
    assert(back.columns.toList == List("source_field", "source_description",
      "source_type", "common_values", "choices"))
    val alive = back.filter(org.apache.spark.sql.functions
      .col("source_field") === "alive").collect()(0)
    assert(alive.getSeq[String](alive.fieldIndex("common_values")).toList ==
      List("oui", "non"))
  }

  test("create-parser generates a loadable TOML parser from a wide mapping") {
    Files.writeString(Paths.get(s"$tmp/cfg.toml"),
      s"""language = "fr"
         |[schemas]
         |  animals = "animals.schema.json"
         |""".stripMargin)
    AutoparserMain.main(Array("create-parser",
      s"$golden/animals_mapping.csv", golden,
      "-o", s"$tmp/gen_animals", "--description", "generated by test",
      "-c", s"$tmp/cfg.toml"))
    val parser = AdtlParser.fromFile(s"$tmp/gen_animals.toml")
    assert(parser.spec.header.name == s"$tmp/gen_animals")
    assert(parser.spec.header.returnUnmatched)
    val data = spark.read.option("header", "true")
      .csv(s"$golden/animal_data.csv")
    val out = parser.parseDataFrame(spark, data)("animals")
    assert(out.count() == 30)
    val first = out.orderBy("identity").collect()(0)
    assert(first.getAs[String]("identity") == "A001")
    assert(first.getAs[String]("classification") == "mammal")
  }
}
