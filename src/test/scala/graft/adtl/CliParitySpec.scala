package graft.adtl

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import graft.SparkSpec

/** CLI surface parity with the reference's argparse tree
  * (/root/reference/src/adtl/cli.py:10-102; studied, not copied):
  * -v/--verbose overwrite warnings, -q/--quiet, -p/--parallel (no-op),
  * --parquet, and `check` with the data file optional. */
class CliParitySpec extends SparkSpec {

  private def withErrCapture(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withErr(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  private def withOutCapture(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  private lazy val tmp = {
    spark // CLI reuses the suite session (ownsSession is false)
    val dir = graft.queries.TempDirs.create("cli").toFile.getAbsolutePath
    Files.writeString(java.nio.file.Paths.get(s"$dir/spec.toml"),
      """[adtl]
        |  name = "ow"
        |  description = "overwrite demo"
        |[adtl.tables.t]
        |  kind = "groupBy"
        |  groupBy = "sid"
        |  aggregation = "lastNotNull"
        |[t.sid]
        |  field = "sid"
        |[t.val]
        |  field = "v"
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.csv"),
      "sid,v\n1,a\n1,b\n2,c\n")
    dir
  }

  test("parse -v prints aggregate overwrite warnings") {
    val err = withErrCapture(withOutCapture {
      Main.main(Array("parse", s"$tmp/spec.toml", s"$tmp/data.csv",
        "-o", s"$tmp/ov", "-v"))
    })
    assert(err.contains("Warning: Multiple rows of data found for val in " +
      "table 't' without a combinedType listed. Data being overwritten in 1 group(s)."))
  }

  test("parse -q and -p are accepted; -p notes the no-op") {
    val err = withErrCapture(withOutCapture {
      Main.main(Array("parse", s"$tmp/spec.toml", s"$tmp/data.csv",
        "-o", s"$tmp/qp", "-q", "-p"))
    })
    assert(err.contains("--parallel is a no-op"))
    assert(!err.contains("Data being overwritten")) // warnings need -v
  }

  test("parse --parquet writes parquet like --format parquet") {
    withOutCapture {
      Main.main(Array("parse", s"$tmp/spec.toml", s"$tmp/data.csv",
        "-o", s"$tmp/pq", "--parquet"))
    }
    val out = spark.read.parquet(s"$tmp/pq-t.parquet")
    assert(out.count() == 2)
  }

  test("parse --save-report replaces the printed report (cli.py:79-89)") {
    val out = withOutCapture {
      Main.main(Array("parse", s"$tmp/spec.toml", s"$tmp/data.csv",
        "-o", s"$tmp/sr", "--save-report", s"$tmp/report.json"))
    }
    assert(!out.contains("percentage_valid"))
    val json = Files.readString(java.nio.file.Paths.get(s"$tmp/report.json"))
    // the reference's report keys (test_adtl_cli.py::test_parse_save_report)
    List("encoding", "file", "include_defs", "parser", "total",
      "total_valid", "validation_errors").foreach { k =>
      assert(json.contains("\"" + k + "\":"), s"missing report key $k")
    }
    assert(json.contains("\"encoding\": \"UTF-8\""))
    assert(json.contains(s"$tmp/data.csv"))
  }

  test("--save-report totals come from a validated table (epoch fixture)") {
    val golden = "src/test/resources/golden"
    withOutCapture {
      Main.main(Array("parse", s"$golden/parsers/epoch.json",
        s"$golden/sources/epoch.csv", "-o", s"$tmp/ep",
        "--save-report", s"$tmp/epoch-report.json"))
    }
    val json = Files.readString(java.nio.file.Paths.get(s"$tmp/epoch-report.json"))
    // reference expectation: total {"table": 2}, total_valid {"table": 2},
    // no validation errors
    assert(json.contains("\"total\": {\"table\": 2}"))
    assert(json.contains("\"total_valid\": {\"table\": 2}"))
    assert(json.contains("\"validation_errors\": {}"))
  }

  test("parse rejects an unknown --format: usage and exit 1, nothing written") {
    // sys.exit ends the JVM, so the CLI runs in a child process
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.adtl.Main", "parse", s"$tmp/spec.toml", s"$tmp/data.csv",
      "-o", s"$tmp/xl", "--format", "xlsx")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 1, out)
    assert(out.contains("Invalid format: xlsx"), out)
    assert(out.contains("usage: adtlspark parse"), out)
    assert(!new java.io.File(s"$tmp/xl-t.csv").exists())
  }

  test("check with no data file validates the spec only") {
    val out = withOutCapture {
      Main.main(Array("check", s"$tmp/spec.toml"))
    }
    assert(out.contains("OK: specification is valid"))
  }
}
