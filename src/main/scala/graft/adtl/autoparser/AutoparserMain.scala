package graft.adtl.autoparser

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's `adtl-autoparser` subcommand tree
  * (/root/reference/src/adtl/autoparser/__init__.py:36-78; studied, not
  * copied). The deterministic stages run distributed; `create-mapping` is
  * the LLM stage SURVEY §2.9 scopes out and exits with a clear message.
  *
  *   adtlspark-autoparser create-dict <data> [-c config] [-o name]
  *   adtlspark-autoparser format-dict <data_dict> [-c config] [-o name]
  *   adtlspark-autoparser create-parser <mappings> <schema_path>
  *       [-o name] [--description d] [-c config]
  */
object AutoparserMain {

  private def usage(): Unit = System.err.println(
    """usage: adtlspark-autoparser <create-dict|format-dict|create-mapping|create-parser> ...
      |  create-dict <data> [-c config.toml] [-o name]     infer a data dictionary
      |  format-dict <data_dict> [-c config.toml] [-o name] normalize + validate a dictionary
      |  create-parser <mappings.csv> <schema_path> [-o name] [--description d] [-c config.toml]
      |  create-mapping                                     (LLM stage - not supported)""".stripMargin)

  private def session(): SparkSession = graft.adtl.Main.session("adtlspark-autoparser")

  /** No config file → the reference's defaults (column mappings, counts). */
  private def configOr(path: Option[String]): AutoparserConfig = path match {
    case Some(p) => AutoparserConfig.load(p)
    case None => AutoparserConfig(
      name = "autoparser", description = "defaults", language = "en",
      schemas = Map.empty, columnMappings = AutoparserConfig.DefaultColumnMappings,
      choiceDelimiter = ",", choiceDelimiterMap = "=", numRefs = 3,
      maxCommonCount = 25, minCommonFrequency = None,
      longTables = Map.empty, longTableCommonValues = Map.empty,
      llmProvider = None, llmModel = None)
  }

  /** Python csv.writer minimal quoting. */
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def writeCsv(path: String, header: Seq[String],
      rows: Seq[Seq[String]]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (header +: rows).map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n"))

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(1) }
    val rest = args.drop(1)
    args(0) match {
      case "create-dict" => createDictCmd(rest)
      case "format-dict" => formatDictCmd(rest)
      case "create-parser" => createParserCmd(rest)
      case "create-mapping" =>
        System.err.println(
          "create-mapping drives an LLM to propose source->schema field " +
            "mappings; network providers are out of scope for this CLI " +
            "(zero egress). Programmatic use: implement graft.adtl." +
            "autoparser.LlmClient (or use CannedLlmClient) and call " +
            "Mapper.createWideMapping / createLongMapping, then feed the " +
            "result to create-parser.")
        sys.exit(1)
      case other =>
        System.err.println(s"Unknown subcommand: $other"); usage(); sys.exit(1)
    }
  }

  private def parseFlags(args: Array[String],
      flagKeys: Set[String]): (List[String], Map[String, String]) = {
    var positional = List.empty[String]
    var flags = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case f if flagKeys.contains(f) => flags += f -> args(i + 1); i += 2
        case p => positional :+= p; i += 1
      }
    }
    (positional, flags)
  }

  private def createDictCmd(args: Array[String]): Unit = {
    val (pos, flags) = parseFlags(args, Set("-c", "--config", "-o", "--output"))
    if (pos.isEmpty) { usage(); sys.exit(1) }
    val owned = graft.adtl.Main.ownsSession
    val spark = session()
    val cfg = configOr(flags.get("-c").orElse(flags.get("--config")))
    val df = graft.sources.DataReader.readData(spark, pos.head)
    val dict = DictWriter.createDict(spark, df, cfg.maxCommonCount,
      cfg.minCommonFrequency)
    // output columns carry the config's user-facing names (dict_writer.py:58)
    val out = flags.get("-o").orElse(flags.get("--output")).getOrElse("datadict")
    def colName(std: String) = cfg.columnMappings.getOrElse(std, std)
    writeCsv(s"$out.csv",
      Seq(colName("source_field"), colName("source_type"), colName("common_values")),
      dict.map(f => Seq(f.name, f.fieldType, f.commonValues.mkString(", "))))
    println(s"Data dictionary saved to '$out.csv'")
    if (owned) spark.stop()
  }

  private def formatDictCmd(args: Array[String]): Unit = {
    val (pos, flags) = parseFlags(args, Set("-c", "--config", "-o", "--output"))
    if (pos.isEmpty) { usage(); sys.exit(1) }
    val owned = graft.adtl.Main.ownsSession
    val spark = session()
    val cfg = configOr(flags.get("-c").orElse(flags.get("--config")))
    val entries = cfg.dictionary(spark, pos.head)
    // the reference saves parquet ('formatted_data_dict.parquet',
    // dict_reader.py:157-172); Spark's parquet output is a directory
    val out = flags.get("-o").orElse(flags.get("--output"))
      .getOrElse("formatted_data_dict.parquet")
    import spark.implicits._
    entries.map(e => (e.sourceField, e.sourceDescription, e.sourceType,
        e.commonValues, e.choices))
      .toDF("source_field", "source_description", "source_type",
        "common_values", "choices")
      .coalesce(1).write.mode("overwrite").parquet(out)
    println(s"Formatted data dictionary saved to '$out'")
    if (owned) spark.stop()
  }

  private def createParserCmd(args: Array[String]): Unit = {
    val (pos, flags) = parseFlags(args,
      Set("-c", "--config", "-o", "--output", "--description"))
    if (pos.size < 2) { usage(); sys.exit(1) }
    val owned = graft.adtl.Main.ownsSession
    val spark = session()
    val cfg = configOr(flags.get("-c").orElse(flags.get("--config")))
    val name = flags.get("-o").orElse(flags.get("--output")).getOrElse("globalhealth")
    val path = ParserGenerator.createParser(spark, cfg,
      Map("__single__" -> pos.head), name,
      flags.get("--description"), schemaDir = Some(pos(1)))
    println(s"Parser saved to '$path'")
    if (owned) spark.stop()
  }
}
