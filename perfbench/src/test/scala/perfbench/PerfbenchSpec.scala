package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {
  private def tmp(): Path = Files.createTempDirectory("perfbench-test")

  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  test("the generator writes identical bytes for a seed, other bytes for another seed") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    Gen.siteBatches(a, 7L, 2); Gen.siteBatches(b, 7L, 2); Gen.siteBatches(c, 8L, 2)
    assert(contents(a).nonEmpty)
    assert(contents(a) == contents(b), "same seed, different bytes")
    assert(contents(a) != contents(c), "different seeds, same bytes")
  }

  test("self time is duration minus the union of child intervals") {
    // root 0..100 with children 10..30, 20..40 (overlapping) and 90..120
    // (clipped at 100); grandchild 12..18 inside the first child
    val spans = Seq(
      Span(0, "file", -1, 0, 100, 0, ""),
      Span(1, "adtl.parse", 0, 10, 30, 0, ""),
      Span(2, "adtl.sink", 0, 20, 40, 0, ""),
      Span(3, "adtl.report", 0, 90, 120, 0, ""),
      Span(4, "adtl.spec", 1, 12, 18, 0, ""))
    val self = Spans.selfTimes(spans)
    assert(self(0) == 100 - 30 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 20)
    assert(self(3) == 30)
    assert(self(4) == 6)
    assert(Spans.selfByName(spans)("adtl.parse") == 14)
  }

  /** A tiny end-to-end site_batches run; `tamper` edits the truth. */
  private def tinyRun(tamper: Map[String, String] => Map[String, String]): Boolean = {
    val data = tmp()
    Gen.siteBatches(data, 3L, 1)
    val truthFile = data.resolve("truth.tsv")
    Out.writeTsv(truthFile, tamper(Out.readTsv(truthFile)))
    val args = Main.Args("site_batches", 3L, 0.01, trace = false, data, tmp(), 2, 4)
    val bench = new Bench(args, System.currentTimeMillis())
    try bench.run() finally bench.stop()
  }

  test("a tiny-seed run passes every output check") {
    assert(tinyRun(identity))
  }

  test("a wrong expected value fails the run") {
    assert(!tinyRun(t =>
      t.updated("file.0.subject.rows", (t("file.0.subject.rows").toLong - 1).toString)))
    // a validated table the report leaves out
    assert(!tinyRun(t => t.updated("file.0.observation.valid", "0")))
  }

  test("the report check wants every validated table of the truth") {
    val truth = Map("subject.rows" -> "3", "subject.valid" -> "2", "subject.error.e" -> "1")
    assert(Checks.report(Map("subject" -> (2L, 3L, Map("e" -> 1L))), truth).isEmpty)
    assert(Checks.report(Map.empty, truth) == Seq("report lacks table subject"))
    assert(Checks.report(Map("subject" -> (2L, 3L, Map("e" -> 1L)),
      "x" -> (0L, 0L, Map.empty[String, Long])), truth) == Seq("report has unexpected table x"))
  }

  test("a gate's output is checked against the recorded one") {
    val fp = new java.math.BigDecimal("12345")
    val exp = Map("g" -> (7L, "12345"))
    assert(Checks.gate("g", 7L, fp, exp).isEmpty)
    assert(Checks.gate("g", 7L, java.math.BigDecimal.ONE, exp).nonEmpty)
    assert(Checks.gate("g", 6L, fp, exp).nonEmpty)
    assert(Checks.gate("other", 7L, fp, exp).nonEmpty)
  }
}
