package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks against the generator's ground truth. Each returns the
  * list of mismatches (empty when the output is right). */
object Checks {
  type Report = Map[String, (Long, Long, Map[String, Long])]

  /** Data files of a Spark output directory (no checksums, no markers). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_.toString)

  def bytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum

  /** Split one line of Spark's CSV output (quote '"', escape '\'). */
  def splitCsv(line: String): Array[String] = {
    val out = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var i = 0; var quoted = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < line.length) { cur += line.charAt(i + 1); i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.toArray
  }

  /** Stream the rows of every CSV part file, with the header's index. */
  def foreachRow(dir: Path)(f: (Map[String, Int], Array[String]) => Unit): Unit =
    dataFiles(dir).foreach { p =>
      val lines = Files.lines(p, UTF_8).iterator().asScala
      if (lines.hasNext) {
        val idx = splitCsv(lines.next()).zipWithIndex.toMap
        lines.foreach(l => f(idx, splitCsv(l)))
      }
    }

  /** A site table's counts against the truth under `file.<n>.<table>.`:
    * rows, valid rows and errors (tables with `adtl_valid`), comorbidity
    * flags (subject) and the constant `dataset_id` (meta). */
  def siteTable(table: String, dir: Path, truth: Map[String, String], file: Int): Seq[String] = {
    val n = mutable.Map[String, Long]().withDefaultValue(0L)
    foreachRow(dir) { (idx, row) =>
      val get = (c: String) => idx.get(c).map(i => if (i < row.length) row(i) else "").getOrElse("")
      n("rows") += 1
      if (idx.contains("adtl_valid")) {
        if (get("adtl_valid") == "True") n("valid") += 1
        val e = get("adtl_error")
        if (e.nonEmpty) n(s"error.$e") += 1
      }
      if (table == "subject")
        n("comorb.True") += (1 to Gen.SiteComorbs).count(k => get(s"comorb_$k") == "True")
      if (table == "meta" && get("dataset_id") != "perfbench-sites") n("bad_dataset_id") += 1
    }
    val prefix = s"file.$file.$table."
    val keys = truth.keySet.filter(_.startsWith(prefix)) ++ n.keySet.map(prefix + _)
    keys.toSeq.sorted.flatMap { k =>
      val exp = truth.get(k).map(_.toLong).getOrElse(0L)
      val act = n(k.stripPrefix(prefix))
      if (exp == act) None else Some(s"file $file $table: $k expected $exp, got $act")
    }
  }

  // ---- report -----------------------------------------------------------------

  /** The report must hold exactly the validated tables of the truth (those
    * with a `<prefix><table>.valid` key), each with the planted valid and
    * total counts and error histogram. */
  def report(r: Report, truth: Map[String, String], prefix: String = ""): Seq[String] = {
    val tables = truth.keySet.collect { case k if k.startsWith(prefix) && k.endsWith(".valid") =>
      k.stripPrefix(prefix).stripSuffix(".valid") }.filterNot(_.contains('.'))
    (r.keySet -- tables).toSeq.sorted.map(t => s"report has unexpected table $t") ++
      tables.toSeq.sorted.flatMap { table =>
        r.get(table) match {
          case None => Seq(s"report lacks table $table")
          case Some((valid, total, errors)) =>
            val p = s"$prefix$table."
            val expErrors = truth.collect {
              case (k, v) if k.startsWith(p + "error.") && v.toLong > 0 =>
                k.stripPrefix(p + "error.") -> v.toLong
            }
            Seq(
              (truth(p + "valid").toLong != valid) -> s"report $table valid $valid",
              (truth.get(p + "rows").map(_.toLong) != Some(total)) -> s"report $table total $total",
              (expErrors != errors) -> s"report $table errors $errors, expected $expErrors")
              .collect { case (true, m) => m }
        }
      }
  }

  // ---- operator gates ---------------------------------------------------------

  /** A gate's row count and fingerprint against the recorded output. */
  def gate(g: String, rows: Long, fp: java.math.BigDecimal,
      expected: Map[String, (Long, String)]): Seq[String] = expected.get(g) match {
    case None => Seq(s"gate $g has no recorded output (returned $rows rows, fingerprint $fp)")
    case Some((r, f)) =>
      (if (rows != r) Seq(s"gate $g returned $rows rows (fingerprint $fp), expected $r") else Nil) ++
        (if (fp.toString != f) Seq(s"gate $g fingerprint $fp, expected $f") else Nil)
  }

  /** Row render for the order-insensitive fingerprint: floating values are
    * rounded so partial-aggregation order cannot change the hash; maps and
    * structs hash through their JSON form. */
  def fingerprintColumns(schema: StructType): Seq[Column] = schema.fields.toSeq.map { f =>
    val c = col("`" + f.name.replace("`", "``") + "`")
    def r(x: Column) = { val v = round(x.cast("double"), 6); when(v === 0.0, lit(0.0)).otherwise(v) }
    f.dataType match {
      case DoubleType | FloatType | _: DecimalType => r(c)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => r(x))
      case _: MapType | _: StructType => to_json(c)
      case ArrayType(_: MapType | _: StructType, _) => to_json(c)
      case _ => c
    }
  }
}
