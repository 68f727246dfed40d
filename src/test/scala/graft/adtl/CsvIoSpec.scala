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

  /** Every entry under `dir` (itself included) as (relative name with the
    * write's uuid masked, POSIX permissions). */
  private def layout(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    Files.walk(root).iterator().asScala.toSeq.map { p =>
      root.relativize(p).toString.replaceAll(uuid, "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.sortBy(_._1)
  }

  test("sinks: same files and POSIX permissions as the stock local filesystem") {
    val d = tmp()
    val tables = parser.parseDataFrame(spark, spark.createDataFrame(Seq(
      ("1", "x", "2.5"), ("2", "", "bad"))).toDF("id", "v", "n"))
    parser.writeCsv(tables, "t", s"$d/csv")
    parser.renderForCsv(tables("t")).coalesce(1).write.mode("overwrite")
      .option("header", "true").option("emptyValue", "").csv(s"$d/csv_stock")
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
