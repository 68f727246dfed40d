package graft.adtl

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame

/** The adtl file I/O layer: readCsv's driver-side header read against
  * Spark's own header inference, and the sinks' in-process permissions
  * against the stock local filesystem. */
class CsvIoSpec extends SparkSpec {

  private val parser = AdtlParser.fromJsonString("""{
    |  "adtl": {"name": "s", "description": "d", "tables": {
    |    "t": {"kind": "oneToOne"}}},
    |  "t": {"id": {"field": "id"}, "v": {"field": "v"},
    |        "n": {"field": "n", "apply": {"function": "getFloat"}}}
    |}""".stripMargin)

  private def tmp(): Path = Files.createTempDirectory("adtlcsvio")

  /** Spark's header inference — the reader readCsv used before it read
    * the header itself, and the reference it must match. */
  private def inferred(file: String, encoding: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false")
      .option("encoding", encoding).option("multiLine", "false").csv(file)

  /** readCsv(file) against the inference reader: same schema, same rows
    * in the same order; returns the jobs building the frame ran. */
  private def parity(file: String, encoding: String = "UTF-8"): Int = {
    val (got, jobs) = jobsIn(parser.readCsv(spark, file, encoding))
    val want = inferred(file, encoding)
    assert(got.schema == want.schema, file)
    assert(got.collect().toSeq == want.collect().toSeq, file)
    jobs
  }

  private def write(dir: Path, name: String, text: String,
      charset: java.nio.charset.Charset = UTF_8): String =
    Files.write(dir.resolve(name), text.getBytes(charset)).toString

  test("readCsv: one file's header is read without a job, as Spark's inference reads it") {
    val d = tmp()
    val files = Seq(
      // duplicates differing only in case, and an empty header cell
      write(d, "dup.csv", "a,A,,b,b\n1,2,3,4,5\n6,,8,9,10\n"),
      // a quoted header cell with an embedded comma
      write(d, "quoted.csv", "\"x,y\",z\n\"1,2\",3\n"),
      // leading blank and whitespace-only lines
      write(d, "blank.csv", "\n\n  \nname,age\nann,3\n"),
      // a UTF-8 byte-order mark
      write(d, "bom.csv", "\uFEFFname,age\nann,3\n"),
      write(d, "header_only.csv", "p,q\n"))
    files.foreach(f => assert(parity(f) == 0, f))
    // a latin-1 file read with its encoding
    val latin = write(d, "latin.csv", "nom,caf\u00e9\nx,cr\u00e8me\n", ISO_8859_1)
    assert(parity(latin, "ISO-8859-1") == 0)
    assert(parser.readCsv(spark, latin, "ISO-8859-1").columns.toSeq == Seq("nom", "caf\u00e9"))
    // a gzip file: the codec comes from the extension
    val gz = d.resolve("data.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write("g,h\n1,2\n3,4\n".getBytes(UTF_8)) finally out.close()
    assert(parity(gz.toString) == 0)
    assert(parser.readCsv(spark, gz.toString).count() == 2)
    // the renamed header of the first file, as Spark names it
    assert(parser.readCsv(spark, files.head).columns.toSeq == Seq("a0", "A1", "_c2", "b3", "b4"))
  }

  test("readCsv: a directory, a glob and an empty file keep Spark's inference") {
    val d = tmp()
    val sub = Files.createDirectory(d.resolve("parts"))
    write(sub, "1.csv", "a,b\n1,2\n")
    write(sub, "2.csv", "a,b\n3,4\n")
    assert(parity(sub.toString) > 0)
    assert(parity(s"$sub/*.csv") > 0)
    assert(parser.readCsv(spark, sub.toString).count() == 2)
    parity(write(d, "empty.csv", ""))
  }

  test("parseCsv on one file builds its tables without a Spark job") {
    val f = write(tmp(), "in.csv", "id,v,n\n1,x,2.5\n2,,\n")
    val (tables, jobs) = jobsIn(parser.parseCsv(spark, f))
    assert(jobs == 0)
    assert(tables("t").count() == 2)
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Every entry under `dir` (itself included) as (relative name with the
    * write's uuid masked, POSIX permissions). */
  private def layout(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.toSeq.map { p =>
      root.relativize(p).toString.replaceAll(Uuid, "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.sortBy(_._1)
  }

  /** The CSV sink as a plain Spark write through the stock filesystem. */
  private def stockCsv(df: DataFrame, path: String): Unit =
    parser.renderForCsv(df).coalesce(1).write.mode("overwrite")
      .option("header", "true").option("emptyValue", "").csv(path)

  /** Every file under `dir` as (relative name with the uuid masked, bytes). */
  private def contents(dir: String): Seq[(String, Seq[Byte])] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.map { p =>
      root.relativize(p).toString.replaceAll(Uuid, "<uuid>") -> Files.readAllBytes(p).toSeq
    }.sortBy(_._1)
  }

  /** `write` and the stock writer leave the same files, permissions and
    * bytes in `dir`/csv and `dir`/csv_stock; returns the jobs `write` ran. */
  private def csvParity(d: Path, write: String => Unit, stock: String => Unit): Int = {
    val (_, jobs) = jobsIn(write(s"$d/csv"))
    stock(s"$d/csv_stock")
    assert(layout(s"$d/csv") == layout(s"$d/csv_stock"))
    assert(contents(s"$d/csv") == contents(s"$d/csv_stock"))
    assert(contents(s"$d/csv").map(_._1) == Seq(
      "._SUCCESS.crc", ".part-00000-<uuid>-c000.csv.crc", "_SUCCESS", "part-00000-<uuid>-c000.csv"))
    jobs
  }

  test("sinks: same files and POSIX permissions as the stock local filesystem") {
    val d = tmp()
    val tables = parser.parseDataFrame(spark, spark.createDataFrame(Seq(
      ("1", "x", "2.5"), ("2", "", "bad"))).toDF("id", "v", "n"))
    // a table over an in-memory input folds to a local relation
    assert(csvParity(d, parser.writeCsv(tables, "t", _), stockCsv(tables("t"), _)) == 0)
    // a table over a CSV file keeps the Spark write
    val src = tmp()
    val fromFile = parser.parseCsv(spark,
      write(src, "in.csv", "id,v,n\n1,x,2.5\n2,,bad\n3,\"a,b\",\n"))
    assert(csvParity(src, parser.writeCsv(fromFile, "t", _), stockCsv(fromFile("t"), _)) > 0)
    parser.writeParquet(tables, "t", s"$d/pq")
    tables("t").write.mode("overwrite").parquet(s"$d/pq_stock")
    for (kind <- Seq("csv", "pq")) {
      val got = layout(s"$d/$kind")
      assert(got == layout(s"$d/${kind}_stock"), kind)
      val names = got.map(_._1)
      assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"), kind)
      assert(names.exists(_.startsWith("part-")) && names.exists(_.startsWith(".part-")), kind)
    }
    def partBytes(dir: String): Seq[Seq[Byte]] = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
      .map(Files.readAllBytes(_).toSeq)
    assert(partBytes(s"$d/csv") == partBytes(s"$d/csv_stock"))
    assert(partBytes(s"$d/pq") == partBytes(s"$d/pq_stock"))
  }

  /** A constant table whose values need CSV quoting and Python rendering. */
  private val constant = AdtlParser.fromJsonString("""{
    |  "adtl": {"name": "s", "description": "d", "tables": {
    |    "c": {"kind": "constant"}}},
    |  "c": {"comma": "a,b", "quote": "say \"hi\"", "newline": "line1\nline2",
    |        "empty": "", "accents": "S\u00e3o Paulo \u00e9t\u00e9 \u4e2d", "flag": true,
    |        "off": false, "count": 42, "ratio": 2.5, "tags": ["x", "1", "y z"], "none": []}
    |}""".stripMargin)

  test("csv sink: a constant table is written on the driver, as the stock writer writes it") {
    import org.apache.spark.sql.functions.{array, lit}
    val tables = constant.parseDataFrame(spark, spark.range(1).toDF())
    // the columns of the literal row it replaces: names (sorted),
    // types, nullability
    assert(tables("c").schema == spark.range(1).select(
      lit("S\u00e3o Paulo \u00e9t\u00e9 \u4e2d").as("accents"), lit("a,b").as("comma"),
      lit(42L).as("count"), lit("").as("empty"), lit(true).as("flag"),
      lit("line1\nline2").as("newline"), array().as("none"), lit(false).as("off"),
      lit("say \"hi\"").as("quote"), lit(2.5).as("ratio"),
      array(lit("x"), lit("1"), lit("y z")).as("tags")).schema)
    val d = tmp()
    assert(csvParity(d, constant.writeCsv(tables, "c", _), stockCsv(tables("c"), _)) == 0)
    assert(new String(contents(s"$d/csv").last._2.toArray, UTF_8) ==
      "accents,comma,count,empty,flag,newline,none,off,quote,ratio,tags\n" +
      "S\u00e3o Paulo \u00e9t\u00e9 \u4e2d,\"a,b\",42,,True,\"line1\nline2\",[],False," +
      "\"say \\\"hi\\\"\",2.5,\"['x', 1, 'y z']\"\n")
  }

  test("csv sink: an empty frame is written on the driver, header only") {
    val empty = spark.createDataFrame(Seq.empty[(String, String, String)]).toDF("id", "v", "n")
    val tables = parser.parseDataFrame(spark, empty)
    assert(csvParity(tmp(), parser.writeCsv(tables, "t", _), stockCsv(tables("t"), _)) == 0)
  }

  test("csv sink: the driver write overwrites an existing output directory") {
    val d = tmp()
    val tables = parser.parseDataFrame(spark, spark.createDataFrame(Seq(
      ("1", "x", "2.5"))).toDF("id", "v", "n"))
    val meta = constant.parseDataFrame(spark, spark.range(1).toDF())
    // the earlier output is a Spark write of another table, with a
    // subdirectory of its own
    for (out <- Seq("csv", "csv_stock")) {
      stockCsv(tables("t").repartition(2), s"$d/$out")
      Files.createDirectories(Paths.get(s"$d/$out/nested/deeper"))
    }
    assert(csvParity(d, constant.writeCsv(meta, "c", _), stockCsv(meta("c"), _)) == 0)
  }

  test("csv sink: the driver write refreshes data cached from its path") {
    val out = tmp().resolve("out").toString
    def rows(n: Int) = parser.parseDataFrame(spark,
      spark.createDataFrame((1 to n).map(i => (s"$i", "x", "1"))).toDF("id", "v", "n"))
    parser.writeCsv(rows(2), "t", out)
    val cached = spark.read.option("header", "true").csv(out).cache()
    try {
      assert(cached.count() == 2)
      assert(jobsIn(parser.writeCsv(rows(3), "t", out))._2 == 0)
      assert(cached.count() == 3)
    } finally cached.unpersist()
  }

  test("csv sink: an output path under a file fails as the stock writer fails") {
    val blocker = Files.createFile(tmp().resolve("blocker"))
    val tables = constant.parseDataFrame(spark, spark.range(1).toDF())
    val target = s"$blocker/out"
    val got = intercept[Exception](constant.writeCsv(tables, "c", target))
    val want = intercept[Exception](stockCsv(tables("c"), target))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
    assert(Files.isRegularFile(blocker))
  }

  test("csv sink: a driver write that fails leaves no part file") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val out = tmp().resolve("out")
    // the first row is written, the second fails while the part file is open
    val schema = StructType(Seq(StructField("n", IntegerType)))
    val rows = LazyList.tabulate(2)(i =>
      if (i == 0) InternalRow(1) else throw new IllegalStateException("row 2"))
    intercept[IllegalStateException](AdtlParser.writeLocalCsv(spark, schema, rows, out.toString))
    assert(Files.list(out).iterator().asScala.isEmpty)
  }

  test("NioLocalFileSystem sets permissions in-process and reads them back") {
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    try {
      val d = tmp()
      val file = Files.createFile(d.resolve("f"))
      for (target <- Seq(file, Files.createDirectory(d.resolve("sub"))))
        for (mode <- Seq("700", "755", "644", "600")) {
          val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
          fs.setPermission(new org.apache.hadoop.fs.Path(target.toUri), perm)
          assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(target)) ==
            perm.toString, s"$target $mode")
        }
      // a sticky bit has no java.nio form: Hadoop's own chmod sets it
      val sticky = new org.apache.hadoop.fs.Path(d.resolve("sub").toUri)
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(fs.getFileStatus(sticky).getPermission.getStickyBit)
    } finally fs.close()
  }
}
