package graft.adtl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.util.Random

/** Differential testing of the value pipeline: a Scala model of get_value /
  * convert_values / get_combined_type semantics (""→null, values maps with
  * caseInsensitive/ignoreMissingKey, horizontal any/all/min/max/
  * firstNonNull/list/set with excludeWhen, Python truthiness after numeric
  * auto-cast, per-value auto-cast rendering) against the compiled engine on
  * random rules and rows. */
class ValuePipelinePropertySpec extends SparkSpec {

  private val fields = Vector("g1", "g2", "g3")
  private val valuePool = Vector(
    "", "  ", "0", "1", "2", "42", "007", "7.0", "4.5", "abc", "Yes", "no", "0.0",
    "2022-01-05", "male")

  // ---- model ------------------------------------------------------------

  private def pyAuto(s: String): Any = {
    val t = s
    if (t.matches("[-+]?\\d+")) t.toLong
    else try t.toDouble catch { case _: NumberFormatException => t }
  }
  private def pyRender(v: Any): String = v match {
    case null => null
    case b: Boolean => if (b) "True" else "False"
    case l: Long => l.toString
    case d: Double => if (d == math.floor(d) && !d.isInfinite) s"${d.toLong}.0" else d.toString
    case s: String => s
  }
  private def truthy(v: Any): Boolean = v match {
    case null => false
    case b: Boolean => b
    case l: Long => l != 0
    case d: Double => d != 0.0
    case s: String => s.nonEmpty
  }

  sealed trait VRule
  case class FieldR(f: String) extends VRule
  case class ValuesR(f: String, m: Map[String, Any], ci: Boolean, imk: Boolean) extends VRule
  case class CombinedR(ct: String, subs: List[VRule], excludeWhen: Option[Any]) extends VRule

  /** get_value model: returns null | Boolean | String(raw) | List[Any].
    * Auto-cast to numbers happens at comparison/truthiness/render time. */
  private def evalRule(r: VRule, row: Map[String, String]): Any = r match {
    case FieldR(f) =>
      val v = row(f)
      if (v.isEmpty) null else v
    case ValuesR(f, m0, ci, imk) =>
      val raw0 = row(f)
      if (raw0.isEmpty) null
      else {
        // keys that collide after lowercasing: the first entry wins
        val (m, key) =
          if (ci) (m0.toSeq.reverse.map { case (k, v) => k.toLowerCase -> v }.toMap,
            raw0.toLowerCase.trim)
          else (m0, raw0)
        val out = m.get(key) match {
          case Some(v) => v
          case None => if (imk) key else null
        }
        if (out == "") null else out
      }
    case CombinedR(ct, subs, excludeWhen) =>
      val vals = subs.map(evalRule(_, row))
      ct match {
        case "any" | "all" =>
          val present = vals.filter(v => v != null && v != "")
            .map { case s: String => pyAuto(s); case v => v }
          if (present.isEmpty) null
          else if (ct == "any") present.exists(truthy) else present.forall(truthy)
        case "min" | "max" =>
          val present = vals.filter(v => v != null && v != "")
            .map { case s: String => pyAuto(s); case v => v }
          if (present.isEmpty) null
          else {
            val allNum = present.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double])
            val allStr = present.forall(_.isInstanceOf[String])
            if (allNum) {
              val d = present.map { case l: Long => l.toDouble; case x: Double => x }
              val pick = if (ct == "min") d.min else d.max
              present(d.indexOf(pick))
            } else if (allStr) {
              val s = present.map(_.asInstanceOf[String])
              if (ct == "min") s.min else s.max
            } else "MIXED" // reference would raise; engine compares lexically
          }
        case "firstNonNull" =>
          // get_value auto-casts before the combine ("007" → 7)
          vals.flatMap { case l: List[_] => l; case v => List(v) }
            .map { case s: String => pyAuto(s); case v => v }
            .find(_ != null).orNull
        case "list" | "set" =>
          // reference get_value auto-casts each element before collection
          var flat = vals.flatMap { case l: List[_] => l; case v => List(v) }
            .map { case s: String => pyAuto(s); case v => v }
          if (ct == "set") flat = flat.distinct
          excludeWhen match {
            case Some("none") => flat = flat.filter(_ != null)
            case Some("false-like") => flat = flat.filter(truthy)
            case Some(l: List[_]) => flat = flat.filterNot(v => l.contains(pyRender(v)))
            case _ =>
          }
          flat
      }
  }

  // ---- generators -------------------------------------------------------

  private val mapPool: Vector[Map[String, Any]] = Vector(
    Map("1" -> true, "0" -> false),
    Map("1" -> "yes", "2" -> "no"),
    Map("yes" -> "Y", "no" -> "N"),
    Map("1" -> "male", "2" -> "female", "abc" -> ""),
    Map("Yes" -> "first", "YES" -> "second", "no" -> "N"), // collide when lowercased
    Map("1" -> null, "0" -> false, "abc" -> true), // a null-mapped value
    Map("1" -> 1.5, "2" -> -2.25, "abc" -> 0.5), // numeric-valued
    Map("" -> "blank", "1" -> "one")) // a "" key: "" still maps to null

  private def genLeaf(rng: Random): VRule = {
    val f = fields(rng.nextInt(fields.length))
    if (rng.nextBoolean()) FieldR(f)
    else ValuesR(f, mapPool(rng.nextInt(mapPool.length)), rng.nextBoolean(), rng.nextBoolean())
  }

  private def genRule(rng: Random): VRule = {
    if (rng.nextInt(10) < 4) genLeaf(rng)
    else {
      val cts = Vector("any", "all", "min", "max", "firstNonNull", "list", "set")
      val ct = cts(rng.nextInt(cts.length))
      val subs = List.fill(1 + rng.nextInt(2))(genLeaf(rng))
      val ew = if (ct == "list" || ct == "set")
        Vector(None, Some("none"), Some("false-like"), Some(List("no", "N")))(rng.nextInt(4))
      else None
      CombinedR(ct, subs, ew)
    }
  }

  private def toRaw(r: VRule): Any = r match {
    case FieldR(f) => Map("field" -> f)
    case ValuesR(f, m, ci, imk) =>
      var base: Spec.Raw = Map("field" -> f, "values" -> m)
      if (ci) base = base + ("caseInsensitive" -> true)
      if (imk) base = base + ("ignoreMissingKey" -> true)
      base
    case CombinedR(ct, subs, ew) =>
      var base: Spec.Raw = Map("combinedType" -> ct, "fields" -> subs.map(toRaw))
      ew.foreach(e => base = base + ("excludeWhen" -> e))
      base
  }

  /** Render the engine's output cell canonically for comparison. */
  private def renderEngine(v: Any): Any = v match {
    case null => null
    case b: Boolean => if (b) "True" else "False"
    case s: scala.collection.Seq[_] =>
      s.map(x => if (x == null) null else x.toString).toList
    case other => other.toString
  }

  private def renderModel(r: VRule, v: Any): Any = (r, v) match {
    case (_, null) => null
    case (CombinedR("list" | "set", _, _), l: List[_]) => l.map(x => if (x == null) null else pyRender(x))
    case (_, b: Boolean) => pyRender(b)
    case (_, other) => pyRender(other)
  }

  private def compilerFor(columns: Seq[String]): RuleCompiler =
    new RuleCompiler(columns, Spec.Header(Map("name" -> "p", "description" -> "p",
      "tables" -> Map("t" -> Map("kind" -> "oneToOne")))), Set.empty,
      Transformations.newRegistry(), Uuid5.NamespaceDns)

  test("values after a non-string apply match keys cast to the value's type") {
    // the keys are strings in the spec; a boolean or numeric value meets
    // them as `value = CAST(key AS <value type>)`, so "True" matches true
    // and "1" matches 1.0 (the value is not rendered to a string for the
    // lookup); under ignoreMissingKey an unmapped value passes through as
    // Python renders it
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("1", "x"), Row("2.5", ""), Row("7", "y"), Row("", "")), 1),
      StructType(Seq(StructField("n", StringType), StructField("s", StringType))))
    val c = compilerFor(df.columns.toSeq)
    val rules: Seq[Spec.Raw] = Seq(
      Map("field" -> "s", "apply" -> Map("function" -> "isNotNull"),
        "values" -> Map("True" -> "present", "False" -> "absent")),
      Map("field" -> "n", "apply" -> Map("function" -> "getFloat"),
        "values" -> Map("1" -> "one", "2.5" -> "two and a half")),
      Map("field" -> "s", "apply" -> Map("function" -> "isNotNull"),
        "values" -> Map("1" -> true, "0" -> false)),
      Map("field" -> "n", "apply" -> Map("function" -> "getFloat"),
        "values" -> Map("1" -> "one"), "ignoreMissingKey" -> true),
      Map("field" -> "s", "apply" -> Map("function" -> "isNotNull"),
        "values" -> Map("True" -> "present"), "ignoreMissingKey" -> true))
    val got = df.select(rules.zipWithIndex.map { case (r, i) =>
      c.compile(r, s"r$i", None).col.as(s"r$i") }: _*).collect()
      .map(_.toSeq.map(v => if (v == null) null else v.toString))
    assert(got.toSeq == Seq(
      Seq("present", "one", "true", "one", "present"),
      Seq("absent", "two and a half", "false", "2.5", "False"),
      Seq("present", null, "true", "7.0", "present"),
      Seq("absent", null, "false", null, "False")))
  }

  test("compiled value rules match the reference model on random rules and rows") {
    val rng = new Random(424242L)
    val rows = (0 until 50).map(_ => fields.map(_ => valuePool(rng.nextInt(valuePool.length))))
    val schema = StructType(fields.map(f => StructField(f, StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r: _*)), 2), schema)

    val header = Spec.Header(Map("name" -> "p", "description" -> "p",
      "tables" -> Map("t" -> Map("kind" -> "oneToOne"))))
    val compiler = new RuleCompiler(fields, header, Set.empty,
      Transformations.newRegistry(), Uuid5.NamespaceDns)

    val rules = (0 until 60).map(_ => genRule(rng))
    val outCols = rules.zipWithIndex.map { case (r, i) =>
      compiler.compile(toRaw(r), s"r$i", None).col.as(s"r$i")
    }
    val got = df.select(outCols: _*).collect()

    var mismatches = List.empty[String]
    rows.zipWithIndex.foreach { case (r, ri) =>
      val rowMap = fields.zip(r).toMap
      rules.zipWithIndex.foreach { case (rule, i) =>
        val modelRaw = evalRule(rule, rowMap)
        if (modelRaw != "MIXED") { // documented divergence: mixed-type min/max
          val want = renderModel(rule, modelRaw)
          val g = renderEngine(got(ri).get(i))
          if (g != want)
            mismatches ::= s"row=$rowMap rule=$rule got=$g want=$want"
        }
      }
    }
    assert(mismatches.isEmpty,
      s"${mismatches.length} mismatches, first 3: ${mismatches.take(3).mkString(" | ")}")
  }
}
