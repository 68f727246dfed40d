package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable
import Out.obj

/** Seeded input generator for the benchmark workloads.
  *
  * Usage: `Gen <workload> <seed> <dir>`. Writes into `<dir>` the source
  * files, the adtl spec and schemas, and `truth.tsv`: the ground truth the
  * harness checks the program's outputs against. One thread, one
  * `SplittableRandom`: the same seed gives the same bytes.
  */
object Gen {
  /** Site files per pass. */
  val SiteFiles = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dirS) = args
    val (seed, dir) = (seedS.toLong, Paths.get(dirS))
    workload match {
      case "site_batches" => siteBatches(dir, seed, SiteFiles)
      // the gates read the same data for every seed; the seed orders them
      case "operator_gates" => GateData.generate(dir, GateData.Seed, GateData.Scale)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  // ---- shared helpers -----------------------------------------------------

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def p(x: Double): Boolean = r.nextDouble() < x
    def unit(): Double = r.nextDouble()
  }

  private val Epoch2020 = LocalDate.of(2020, 1, 1).toEpochDay

  def isoDate(day: Int): String = LocalDate.ofEpochDay(Epoch2020 + day).toString

  /** A cell that holds a valid ISO date, a blank, or a bad date. */
  def dateCell(r: Rng, blank: Double, bad: Double): String = {
    val u = r.unit()
    if (u < blank) ""
    else if (u < blank + bad) (if (r.p(0.5)) "2020-13-45" else "not-a-date")
    else isoDate(r.int(900))
  }

  /** Checkbox cell: "1", "0", blank or junk. */
  def flagCell(r: Rng, one: Double, blank: Double, junk: Double): String = {
    val u = r.unit()
    if (u < one) "1"
    else if (u < one + blank) ""
    else if (u < one + blank + junk) (if (r.p(0.5)) "9" else "unk")
    else "0"
  }

  def shuffled[T](r: Rng, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.int(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def inc(m: mutable.Map[String, String], k: String, by: Long = 1): Unit =
    m(k) = (m.getOrElse(k, "0").toLong + by).toString

  val YesNo = obj("1" -> true, "0" -> false)
  val SexMap = obj("1" -> "male", "2" -> "female", "3" -> "non_binary")
  val SexCodes = Map("1" -> "male", "2" -> "female", "3" -> "non_binary")

  def reqMsg(fields: String*): String =
    fields.map(f => s"'$f'").mkString("data must contain [", ", ", "] properties")

  val subjectSchema = obj(
    "type" -> "object",
    "properties" -> obj(
      "subject_id" -> obj("type" -> "string"),
      "sex" -> obj("enum" -> Seq("male", "female", "non_binary"))),
    "required" -> Seq("subject_id", "sex"))

  // ---- site_batches ---------------------------------------------------------

  val Outcomes = Map("1" -> "discharged", "2" -> "death", "3" -> "transfer")

  val SiteRows = 700
  val SiteComorbs = 20
  val SiteLabs = 10
  val SiteSyms = 30

  /** One spec for every site; optional columns (every 7th comorbidity, lab
    * and symptom) are `can_skip` and each site drops some of them. */
  def optional(k: Int): Boolean = k % 7 == 0

  def siteBatches(dir: Path, seed: Long, files: Int): Unit = {
    val r = new Rng(seed)
    val t = mutable.LinkedHashMap[String, String]()
    val msgSubject = reqMsg("subject_id", "sex")
    var totalRows = 0L
    val paths = (0 until files).map { f =>
      // same size for every site and seed; which optional columns a site
      // lacks (half of them) is drawn from the seed
      val rows = SiteRows
      totalRows += rows
      val opt = (1 to SiteComorbs).filter(optional).map(k => s"cm_$k") ++
        (1 to SiteLabs).filter(optional).map(k => s"lab_$k") ++
        (1 to SiteSyms).filter(optional).map(k => s"sym_$k")
      val dropped = shuffled(r, opt).take(opt.size / 2).toSet
      val keep = (c: String) => !dropped(c)
      val cms = (1 to SiteComorbs).filter(k => keep(s"cm_$k"))
      val labs = (1 to SiteLabs).filter(k => keep(s"lab_$k"))
      val syms = (1 to SiteSyms).filter(k => keep(s"sym_$k"))
      val header = Seq("subjid", "site_code", "sex", "outcome", "admit_date") ++
        cms.map(k => s"cm_$k") ++ labs.map(k => s"lab_$k") ++ syms.map(k => s"sym_$k")
      val p = dir.resolve(f"site_$f%03d.csv")
      val csv = new Out.Csv(p, header)
      val pre = s"file.$f"
      Seq("subject.rows", "subject.valid", "subject.comorb.True", "observation.rows",
        "meta.rows", s"subject.error.$msgSubject").foreach(k => t(s"$pre.$k") = "0")
      for (i <- 0 until rows) {
        val sex = { val u = r.unit()
          if (u < 0.04) "" else if (u < 0.06) "x" else (1 + r.int(3)).toString }
        val cmv = cms.map(_ => flagCell(r, 0.1, 0.1, 0.02))
        val labv = labs.map(_ => if (r.p(0.3)) "" else r.between(1, 500).toString)
        val symv = syms.map(_ => flagCell(r, 0.08, 0.1, 0.02))
        csv.row(Seq(f"S$f%03d-$i%05d", f"site$f%03d", sex,
          (1 + r.int(3)).toString, dateCell(r, 0.05, 0.02)) ++ cmv ++ labv ++ symv)
        inc(t, s"$pre.subject.rows")
        if (SexCodes.contains(sex)) inc(t, s"$pre.subject.valid")
        else inc(t, s"$pre.subject.error.$msgSubject")
        inc(t, s"$pre.subject.comorb.True", cmv.count(_ == "1"))
        inc(t, s"$pre.observation.rows", symv.count(_ == "1"))
      }
      csv.close()
      t(s"$pre.meta.rows") = "1"
      t(s"$pre.input.rows") = rows.toString
      t(s"$pre.input.bytes") = Files.size(p).toString
      t(s"$pre.file") = p.getFileName.toString
      p
    }
    t("input.rows") = totalRows.toString
    t("input.files") = paths.size.toString
    t("input.bytes") = paths.map(Files.size).sum.toString
    t("spec") = "sites.toml"

    val defs = obj(
      "yesno" -> obj("values" -> YesNo),
      "sexMap" -> obj("values" -> SexMap),
      "outcomeMap" -> obj("values" -> obj(Outcomes.toSeq.sorted: _*)))
    def skip(k: Int, rule: ListMap[String, Any]) =
      if (optional(k)) rule + ("can_skip" -> true) else rule
    val subject = ListMap[String, Any](
      "subject_id" -> obj("field" -> "subjid"),
      "site" -> obj("field" -> "site_code"),
      "sex" -> obj("field" -> "sex", "ref" -> "sexMap"),
      "outcome" -> obj("field" -> "outcome", "ref" -> "outcomeMap"),
      "admission_date" -> obj("field" -> "admit_date", "source_date" -> "%Y-%m-%d",
        "date" -> "%d/%m/%Y"),
      "any_symptom" -> obj("combinedType" -> "any", "fields" -> Seq(
        obj("fieldPattern" -> "sym_", "values" -> YesNo)))) ++
      (1 to SiteComorbs).map(k =>
        s"comorb_$k" -> skip(k, obj("field" -> s"cm_$k", "ref" -> "yesno"))) ++
      (1 to SiteLabs).map(k => s"lab_$k" -> skip(k, obj("field" -> s"lab_$k")))
    val observation = Seq(obj(
      "for" -> obj("n" -> obj("range" -> Seq(1, SiteSyms))),
      "name" -> "sym_{n}",
      "is_present" -> obj("field" -> "sym_{n}", "ref" -> "yesno", "can_skip" -> true),
      "if" -> obj("sym_{n}" -> 1, "can_skip" -> true)))
    val doc = ListMap[String, Any](
      "adtl" -> obj("name" -> "site_batches",
        "description" -> "One spec for many small site exports",
        "defs" -> defs,
        "tables" -> obj(
          "meta" -> obj("kind" -> "constant"),
          "subject" -> obj("kind" -> "oneToOne", "schema" -> "subject.schema.json"),
          "observation" -> obj("kind" -> "oneToMany", "discriminator" -> "name",
            "common" -> obj("subject_id" -> obj("field" -> "subjid"))))),
      "meta" -> obj("dataset_id" -> "perfbench-sites", "version" -> "1"),
      "subject" -> subject,
      "observation" -> observation)
    Out.write(dir.resolve("sites.toml"), Out.tomlDoc(doc))
    Out.write(dir.resolve("subject.schema.json"), Out.json(subjectSchema))
    Out.writeTsv(dir.resolve("truth.tsv"), t)
  }
}
