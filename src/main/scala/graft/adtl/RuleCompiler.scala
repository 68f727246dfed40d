package graft.adtl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, MapType, StringType}
import scala.collection.immutable.ListMap
import Spec.Raw
import Transformations.{PCol, PLit, PList, TParam, TCtx}

/** Compiles adtl field rules and `if` predicates into Spark Column
  * expression trees — executed once per table as a declarative plan, never
  * row-at-a-time. Mirrors the evaluation order of get_value
  * (/root/reference/src/adtl/get_value.py:137-241; studied, not copied):
  * skip → if → apply → ""→null → values → unit|date → sensitive → coerce.
  *
  * Source data model: CSV strings (DictReader semantics) — every source
  * column is read as string with null→"" so empty-cell behavior matches;
  * "" → null re-normalization then happens exactly where the reference does
  * it. Static column presence (df.columns) resolves can_skip/skipFieldPattern
  * at compile time.
  */
final class RuleCompiler(
    val columns: Seq[String],
    header: Spec.Header,
    dateFields: Set[String],
    registry: Transformations.Registry,
    namespace: java.util.UUID) {

  import RuleCompiler._

  private val colSet = columns.toSet
  private val skipPattern: Option[java.util.regex.Pattern] =
    header.skipFieldPattern.map(java.util.regex.Pattern.compile)
  private val returnUnmatched = header.returnUnmatched
  private val tctx = TCtx(returnUnmatched)

  /** Raw source column with CSV semantics: string-typed, null → "". */
  def sourceCol(field: String): Column =
    coalesce(col(field).cast("string"), lit(""))

  private def fieldMissing(field: String): Boolean = !colSet.contains(field)

  private def skippable(rule: Raw, field: String): Boolean =
    rule.get("can_skip").contains(true) ||
      skipPattern.exists(_.matcher(field).lookingAt())

  // ---- public API -------------------------------------------------------

  /** Compile a full rule for an output attribute, with optional JSON-schema
    * type coercion (get_value, get_value.py:137-170): the column and its
    * type after sensitive hashing and coercion. Every table kind takes
    * the attribute's value and type from here. */
  def compile(rule: Any, attr: String, coerceType: Option[Any]): CV = {
    val cv = compileUnhashed(rule, attr)
    rule match {
      case m: Raw @unchecked if m.get("sensitive").contains(true) =>
        // the reference hashes str(value) — Python renderings (True/False,
        // 7.0 keeps its .0), not SQL cast renderings — and never coerces
        cv.copy(col = sha2(renderPyStr(cv), 256), vt = VStr, truthyOverride = None)
      case _ => coerceType.fold(cv)(coerce(cv, _))
    }
  }

  /** Schema type coercion (util.py:12-40): integer tries int() then
    * int(round(float())) — banker's rounding, hence bround — and on failure
    * the reference returns the ORIGINAL value unchanged (per-cell dynamic
    * typing). Already-typed inputs convert directly (Python int()/float()
    * on bool/float succeed, int(float) truncates toward zero); string
    * inputs compile to a string-typed column carrying the canonical
    * rendering of the converted value with the raw value as fallback — the
    * only Spark-typable union of "int or unconvertible raw string". CSV
    * output is identical to the typed form on clean data, and validation
    * (string-cast based) still flags unconvertible values. A statically
    * null value stays marked as such. */
  private def coerce(cv: CV, t: Any): CV = {
    val types: List[String] = t match {
      case s: String => List(s)
      case l: List[_] => l.map(_.toString)
      case _ => Nil
    }
    def to(c: Column, vt: VT) = CV(c, vt, statNull = cv.statNull)
    types.find(x => x == "string" || x == "integer" || x == "number") match {
      case Some("integer") => cv.vt match {
        case VLong => cv
        case VBool => to(cv.col.cast("bigint"), VLong) // int(True) == 1
        case VDbl => to(cv.col.cast("bigint"), VLong) // int(float) truncates
        case VArr => cv // int(list) raises → value unchanged
        case _ =>
          val s = cv.col.cast("string")
          to(coalesce(
            try_cast(s, "bigint").cast("string"),
            bround(try_cast(s, "double")).cast("bigint").cast("string"),
            s), VStr)
      }
      case Some("number") => cv.vt match {
        case VDbl => cv
        case VLong | VBool => to(cv.col.cast("double"), VDbl)
        case VArr => cv
        case _ =>
          val s = cv.col.cast("string")
          to(coalesce(pyNumStr(try_cast(s, "double")), s), VStr)
      }
      case Some("string") => to(renderString(cv), VStr)
      case _ => cv
    }
  }

  // ---- rule pipeline ----------------------------------------------------

  private def compileUnhashed(rule: Any, attr: String): CV = rule match {
    case null => CV(lit(null).cast("string"), VStr)
    case s: String => CV(lit(s), VStr)
    case b: Boolean => CV(lit(b), VBool)
    case l: Long => CV(lit(l), VLong)
    case i: Int => CV(lit(i.toLong), VLong)
    case d: Double => CV(lit(d), VDbl)
    case l: List[_] => // constant list
      CV(array(l.map(x => lit(x.toString)): _*), VArr)
    case m: Raw @unchecked =>
      if (m.contains("field")) compileFieldRule(m, attr)
      else if (m.contains("combinedType")) compileCombined(m, attr)
      else if (m.contains("generate")) compileGenerate(m)
      else throw new Spec.SpecValidationError(s"Could not return value for $m")
    case other => CV(lit(other.toString), VStr)
  }

  private def compileFieldRule(rule: Raw, attr: String): CV = {
    val field = rule("field").toString
    if (fieldMissing(field)) {
      if (skippable(rule, field))
        return CV(lit(null).cast("string"), VStr, statNull = true)
      throw new Spec.SpecValidationError(s"Column '$field' not found.")
    }
    var cv = CV(sourceCol(field), VStr)

    // apply transformation
    rule.get("apply") match {
      case Some(app: Raw @unchecked) =>
        val fn = app("function").toString
        val params = app.get("params") match {
          case Some(l: List[_]) => l.map(resolveParam)
          case _ => Nil
        }
        cv = CV(registry(fn)(cv.col, params, tctx), fnResultType(fn, returnUnmatched))
      case _ =>
    }

    // "" → null (get_value.py:194-195); only meaningful for stringy values.
    // Once-bound ONLY for apply-transform results: there the guard's two
    // references duplicated the whole date-parse chain (half the
    // adtl_apply_dates parse count). For plain field rules the duplicate
    // is a bare column reference — free — and the With plumbing is pure
    // overhead, measured as a 2.6× A/B regression on c4_field_pattern
    // (fieldPattern expands to one guarded sub-rule per matching column).
    // A plain values-map lookup skips the guard (see compileValuesMap).
    val unguarded = cv
    if (cv.vt == VStr) cv =
      if (rule.contains("apply"))
        CV(graft.functions.Once.once(cv.col)(c =>
          when(c === "", lit(null)).otherwise(c)), VStr)
      else CV(when(cv.col === "", lit(null)).otherwise(cv.col), VStr)

    // values map (+ enum_list)
    if (rule.contains("values")) cv = compileValuesMap(rule, cv, unguarded)

    // unit conversion
    if (rule.contains("source_unit") && rule.contains("unit"))
      cv = compileUnitConversion(rule, cv)

    // date reformat (explicit source_date, or the attribute is date-typed)
    val isDateAttr = dateFields.contains(attr)
    if (rule.contains("source_date") || isDateAttr)
      cv = compileDateConversion(rule, cv, isDateAttr)

    // field-level if — evaluated before everything in the reference, which
    // is equivalent to gating the final value
    rule.get("if") match {
      case Some(cond: Raw @unchecked) =>
        cv = CV(when(compileIf(cond), cv.col), cv.vt)
      case _ =>
    }
    cv
  }

  private def resolveParam(p: Any): TParam = p match {
    case s: String if s.startsWith("$") =>
      val f = s.substring(1)
      if (fieldMissing(f)) PLit(null) else PCol(sourceCol(f))
    case l: List[_] => PList(l.map(resolveParam))
    case other => PLit(other)
  }

  /** values-map recode (convert_values, get_value.py:110-131): one lookup
    * of the value in a map literal (`element_at`), so the value is
    * embedded once however many keys the map has. Under pass-through,
    * `map_contains_key` on the same literal picks mapped vs raw, and a
    * second literal map carries the mapped entries' typed truthiness.
    *
    * Keys take the value's type, as a `key = 'literal'` comparison coerces
    * them (a `map<string,…>` lookup would instead cast a non-string value
    * to string: `true` → "true" misses a "True" key); a key that does not
    * cast never matches and is dropped. A map literal holds each key once,
    * so keys that collide after lowercasing or casting keep the first
    * entry.
    *
    * `in` is the ""-guarded value and `unguarded` the value before the
    * guard. A plain lookup (no pass-through, not enum_list) in a map
    * without a "" key returns null for "" exactly as for null, so it
    * probes the unguarded value and the guard stays out of the plan. */
  private def compileValuesMap(rule: Raw, in: CV, unguarded: CV): CV = {
    val values = rule("values").asInstanceOf[Raw]
    val caseInsensitive = rule.get("caseInsensitive").contains(true)
    val passthrough = rule.get("ignoreMissingKey").contains(true) || returnUnmatched
    val isEnumList = rule.get("type").contains("enum_list")

    // the type the lookup key has: lowercasing and enum_list splitting
    // yield strings, otherwise it is the value's own type
    val keyType: DataType =
      if (caseInsensitive || isEnumList) StringType
      else in.vt match {
        case VBool => BooleanType
        case VLong => LongType
        case VDbl => DoubleType
        case _ => StringType
      }
    val entries: Seq[(Any, Any)] = values.toSeq
      .map { case (k, v) => typedKey(if (caseInsensitive) k.toLowerCase else k, keyType) -> v }
      .filter(_._1 != null)
      .distinctBy(_._1)

    // unify mapped-value type over every written entry (null mappings are
    // type-neutral — a map of booleans + None must stay boolean, or any/all
    // would see a rendered "False" string as truthy); under pass-through
    // the raw (string) key can flow out beside mapped values, so the
    // column degrades to string with Python-rendered mapped values
    // (True/False, ints without .0)
    val nonNull = values.toSeq.filter(_._2 != null)
    val allBool = nonNull.nonEmpty && nonNull.forall(_._2.isInstanceOf[Boolean])
    val allNum = nonNull.nonEmpty && nonNull.forall(v =>
      v._2.isInstanceOf[Long] || v._2.isInstanceOf[Double] || v._2.isInstanceOf[Int])
    val outVt =
      if (passthrough) VStr
      else if (allBool) VBool else if (allNum) VDbl else VStr

    def mappedValue(v: Any): Any = v match {
      case null => null
      case b: Boolean => if (outVt == VBool) b else if (b) "True" else "False"
      case s: String => if (s.isEmpty) null else s // mapped "" → null
      case n: Long => if (outVt == VStr) n.toString else n.toDouble
      case n: Int => mappedValue(n.toLong)
      case n: Double =>
        if (outVt == VStr)
          if (n == math.floor(n) && !n.isInfinite) s"${n.toLong}.0" else n.toString
        else n
      case other => other.toString
    }
    val valueType = outVt match {
      case VBool => BooleanType
      case VDbl => DoubleType
      case _ => StringType
    }
    val recode = mapLit(entries.map { case (k, v) => k -> mappedValue(v) }, keyType, valueType)
    val plainLookup = !passthrough && !isEnumList && !entries.exists(_._1 == "")

    // an unmapped key passes through as a string (the column is VStr under
    // pass-through): lowercased, or as Python renders a non-string value —
    // a bare double or boolean beside the string map values would make
    // ANSI coercion cast every mapped string to its type
    def unmapped(c: Column): Column =
      if (caseInsensitive) trim(lower(c))
      else if (keyType == StringType) c
      else renderPyStr(CV(c, in.vt))

    def mapped(c: Column): Column = {
      val key = if (caseInsensitive) trim(lower(c)) else c
      if (passthrough)
        when(map_contains_key(recode, key), element_at(recode, key)).otherwise(unmapped(c))
      else element_at(recode, key)
    }

    if (isEnumList) {
      // "[a, b]" → split, trim, per-element recode (get_value.py:111-119)
      val stripped = regexp_replace(in.col, "^\\[|\\]$", "")
      val arr = transform(split(stripped, ","), x => mapped(trim(x)))
      CV(arr, VArr)
    } else if (passthrough) {
      // typed truthiness survives the string degradation: mapped entries
      // contribute their Python truthiness (mapped ""/None → falsy),
      // pass-through keys string-truthy
      def truthyLit(v: Any): Boolean = v match {
        case null => false
        case b: Boolean => b
        case s: String => s.nonEmpty && (!s.matches("[-+]?\\d+(\\.\\d*)?") || s.toDouble != 0.0)
        case n: Long => n != 0
        case d: Double => d != 0.0
        case _ => true
      }
      val truthMap = mapLit(entries.map { case (k, v) => k -> truthyLit(v) },
        keyType, BooleanType)
      val key = if (caseInsensitive) trim(lower(in.col)) else in.col
      // a "" after the lookup is None (get_value.py): under caseInsensitive
      // a whitespace-only value trims to "" and passes through unmapped
      val out = mapped(in.col)
      CV(if (caseInsensitive) nullif(out, lit("")) else out, outVt,
        Some(coalesce(element_at(truthMap, key), truthyStr(unmapped(in.col)))))
    } else CV(mapped(if (plainLookup) unguarded.col else in.col), outVt)
  }

  /** source_unit/unit → factor chain (get_value.py:200-218). Under
    * returnUnmatched, unconvertible values pass through as strings
    * (reference get_value.py:213-215). */
  private def compileUnitConversion(rule: Raw, in: CV): CV = {
    val target = rule("unit").toString
    val num = try_cast(in.col.cast("string"), "double")
    def ru(converted: Column): CV =
      if (returnUnmatched)
        CV(when(num.isNotNull, pyNumStr(converted)).otherwise(in.col.cast("string")), VStr)
      else CV(converted, VDbl)
    rule("source_unit") match {
      // non-rule constant source_unit (non-string) → plain float(value)
      case _: Long | _: Double | _: Boolean => ru(num)
      case s: String =>
        val f = Units.factor(s, target).getOrElse(throw new Spec.SpecValidationError(
          s"Cannot convert unit '$s' to '$target'"))
        ru(num * f)
      case srcRule =>
        val srcUnit = compileUnhashed(srcRule, "source_unit").col.cast("string")
        val candidates = Units.lookup(target).map(_.dimension) match {
          case Some(dim) => Units.knownUnits.filter(u => Units.lookup(u).exists(_.dimension == dim))
          case None => Nil
        }
        val chain = candidates.flatMap(u => Units.factor(u, target).map(u -> _))
          .foldLeft(None: Option[Column]) { case (acc, (u, f)) =>
            Some(acc match {
              case None => when(trim(lower(srcUnit)) === u, num * f)
              case Some(w) => w.when(trim(lower(srcUnit)) === u, num * f)
            })
          }.getOrElse(lit(null).cast("double"))
        ru(chain)
    }
  }

  /** Reference numeric canonicalization (get_value.py:162-170): string
    * values that parse as int render as int ("007"→"7"), as float render
    * Python-style ("1.50"→"1.5"); everything else passes through. Opt-in at
    * the parser level — it changes output strings, so gate oracles keep it
    * off by default. */
  def canonicalNumber(c: Column): Column =
    when(c.rlike("^\\s*[-+]?\\d+\\s*$"), try_cast(trim(c), "bigint").cast("string"))
      .when(c.rlike("^\\s*[-+]?(\\d+\\.\\d*|\\.\\d+|\\d+[eE][-+]?\\d+|\\d+\\.\\d*[eE][-+]?\\d+)\\s*$"),
        pyNumStr(try_cast(trim(c), "double")))
      .otherwise(c)

  /** Python str(float): integral doubles keep the trailing .0. */
  private def pyNumStr(d: Column): Column =
    when(d === floor(d) && abs(d) < 1e15,
      concat(d.cast("bigint").cast("string"), lit(".0")))
      .otherwise(d.cast("string"))

  /** source_date/date strftime reformat (get_value.py:219-234). */
  private def compileDateConversion(rule: Raw, in: CV, isDateAttr: Boolean): CV = {
    val target = rule.get("date").map(_.toString).getOrElse("%Y-%m-%d")
    val source: String = rule.get("source_date") match {
      case Some(s: String) => s
      case Some(other) => // source_date can itself be a rule; static formats only
        throw new Spec.SpecValidationError(
          s"Dynamic source_date rules are not supported: $other")
      case None => header.defaultDateFormat
    }
    if (source == target) return in
    val parsed = Transformations.parseTs(in.col, source)
    val out = date_format(parsed, DateFormats.translate(target).javaPattern)
    val res =
      if (returnUnmatched) when(parsed.isNotNull, out).otherwise(in.col)
      else when(parsed.isNotNull, out)
    CV(res, VStr)
  }

  // ---- combinedType (horizontal, within-row) ----------------------------

  /** get_combined_type (get_value.py:315-385): combine multiple source
    * columns into one attribute value. Sub-fields (a `fieldPattern`
    * expands to one per matching column) are compiled once each; `any`/
    * `all` fold them flat, as one `array_max`/`array_min` over one
    * element per sub-field. */
  private def compileCombined(rule: Raw, attr: String): CV = {
    val combinedType = rule("combinedType").toString
    val subRules: List[Any] = rule.getOrElse("fields", Nil).asInstanceOf[List[Any]]
      .flatMap {
        case r: Raw @unchecked if r.contains("fieldPattern") =>
          val pat = java.util.regex.Pattern.compile(r("fieldPattern").toString)
          columns.filter(c => pat.matcher(c).lookingAt())
            .map(c => (r - "fieldPattern") + ("field" -> c))
        case r => List(r)
      }
    val subs: List[CV] = subRules.map(r => compileUnhashed(r, attr))

    combinedType match {
      case "any" | "all" =>
        // values are auto-numeric-cast then Python-truthiness'd; null/""
        // dropped. One flat fold: each sub-field is one array element —
        // null when absent (array_max/array_min skip nulls, and return
        // null when every element is), else its truthiness, where a null
        // truthiness is the fold's identity. A boolean sub with no
        // truthiness override is its own element.
        val isAny = combinedType == "any"
        val elems = subs.map { cv =>
          if (cv.vt == VBool && cv.truthyOverride.isEmpty) cv.col
          else when(presentCol(cv), coalesce(truthy(cv), lit(!isAny)))
        }
        val res =
          if (elems.isEmpty) lit(null).cast("boolean")
          else if (isAny) array_max(array(elems: _*))
          else array_min(array(elems: _*))
        CV(res, VBool)
      case "min" | "max" =>
        val vals = subs.map(cv => when(presentCol(cv), renderString(cv)))
        if (vals.length == 1) CV(canonicalNumber(vals.head), VStr)
        else {
          val nums = vals.map(v => try_cast(v, "double"))
          val allNumeric = vals.zip(nums)
            .map { case (v, n) => v.isNull || n.isNotNull }
            .reduceOption(_ && _).getOrElse(lit(true))
          val pick: Seq[Column] => Column =
            if (combinedType == "min") least(_: _*) else greatest(_: _*)
          // numeric path compares casts but renders the WINNING value with
          // Python's per-value auto-cast ("007"→"7", "7.0" stays "7.0");
          // index keeps first-occurrence tie-breaking; least/greatest skip
          // null entries (absent values)
          val numItems = vals.zip(nums).zipWithIndex.map { case ((v, n), i) =>
            val key = if (combinedType == "min") n else n * -1
            when(v.isNotNull, struct(key.as("k"), lit(i).as("i"),
              canonicalNumber(v).as("r")))
          }
          val numRes = least(numItems: _*).getField("r")
          val res = when(allNumeric, numRes).otherwise(pick(vals))
          CV(res, VStr)
        }
      case "firstNonNull" =>
        // flatten: a sub-value that is a list contributes its first non-null
        val flat = subs.map { cv =>
          if (cv.vt == VArr) element_at(filter(cv.col, x => x.isNotNull), 1)
          else cv.col
        }
        val vt = subs.headOption.map(_.vt)
          .filter(v => subs.forall(_.vt == v) && v != VArr).getOrElse(VStr)
        // string results render with the reference's per-value auto-cast
        val res = coalesce(flat: _*)
        if (vt == VStr) CV(canonicalNumber(res.cast("string")), VStr)
        else CV(res, vt)
      case "list" | "set" =>
        val excludeWhen = rule.get("excludeWhen")
        excludeWhen match {
          case None | Some("false-like") | Some("none") | Some(_: List[_]) =>
          case Some(other) => throw new Spec.SpecValidationError(
            "excludeWhen rule should be 'none', 'false-like', or a list of values")
        }
        // elements render with the reference's per-value auto-cast
        // ("007"→"7"); false-like filtering must see the TYPED value, so
        // scalar subs filter before rendering (a rendered "False"/"0.0"
        // string would read as truthy)
        val parts = subs.map { sub =>
          val isFalseLike = excludeWhen.contains("false-like")
          sub match {
            case CV(c, VArr, _, _) =>
              // a null sub-value contributes the element None (the
              // reference's flatten keeps it); a null sub-array must not
              // null the whole flatten
              val base = when(c.isNull, array(lit(null).cast("string")))
                .otherwise(c.cast("array<string>"))
              if (isFalseLike)
                filter(base, x => coalesce(truthyStr(x) && x =!= "False", lit(false)))
              else base
            case cv =>
              val el = cv.vt match {
                case VStr => canonicalNumber(renderString(cv))
                case _ => renderString(cv)
              }
              if (isFalseLike)
                when(coalesce(truthy(cv), lit(false)), array(el)).otherwise(array())
              else array(el)
          }
        }
        var arr: Column = flatten(array(parts: _*))
        if (combinedType == "set") arr = RuleCompiler.pySetDedup(arr)
        excludeWhen match {
          case Some("none") => arr = filter(arr, x => x.isNotNull)
          case Some(l: List[_]) =>
            val excl = l.map(x => pyRepr(x))
            arr = filter(arr, x => x.isNull || !coalesce(
              array_contains(array(excl.map(lit): _*), x), lit(false)))
          case _ =>
        }
        CV(arr, VArr)
      case other =>
        throw new Spec.SpecValidationError(s"Unknown combinedType: $other in $rule")
    }
  }

  /** non-null and non-"" (the drop rule applied before combining). */
  private def presentCol(cv: CV): Column = cv.vt match {
    case VStr => cv.col.isNotNull && cv.col =!= ""
    case _ => cv.col.isNotNull
  }

  /** Python truthiness after the int/float auto-cast (get_value.py:162-170):
    * numeric-looking strings compare as numbers, "0" → falsy. */
  private def truthy(cv: CV): Column = cv.truthyOverride.getOrElse(cv.vt match {
    case VBool => cv.col
    case VLong | VDbl => cv.col =!= 0
    case VArr => size(cv.col) > 0
    case _ => truthyStr(cv.col.cast("string"))
  })

  private def truthyStr(c: Column): Column = {
    val n = try_cast(c, "double")
    when(c.isNull, lit(null).cast("boolean"))
      .otherwise(when(n.isNotNull, n =!= 0).otherwise(c =!= ""))
  }

  /** Render a typed value as its Python-str CSV form: ints without decimal
    * point, floats with, True/False booleans. */
  private def renderString(cv: CV): Column = cv.vt match {
    case VBool => when(cv.col.isNull, lit(null).cast("string"))
      .when(cv.col, "True").otherwise("False")
    case VDbl => fmtNum(cv.col)
    case VLong => cv.col.cast("string")
    case VArr => cv.col.cast("string")
    case _ => cv.col.cast("string")
  }

  /** Python str(value) rendering where floats KEEP their ".0" (sensitive
    * hashing, which hashes str(value) directly with no int auto-cast). */
  private def renderPyStr(cv: CV): Column = cv.vt match {
    case VBool => when(cv.col.isNull, lit(null).cast("string"))
      .when(cv.col, "True").otherwise("False")
    case VDbl => pyNumStr(cv.col)
    case _ => cv.col.cast("string")
  }

  /** Format a double like Python str(): integral → no ".0"-loss parity with
    * the int auto-cast (int-valued results print as ints). */
  private def fmtNum(d: Column): Column =
    when(d.isNull, lit(null).cast("string"))
      .otherwise(when(d === floor(d) && abs(d) < 1e15,
        d.cast("bigint").cast("string")).otherwise(d.cast("string")))

  private def pyRepr(v: Any): String = v match {
    case b: Boolean => if (b) "True" else "False"
    case other => other.toString
  }

  // ---- generate ---------------------------------------------------------

  private def compileGenerate(rule: Raw): CV = {
    val gen = rule("generate").asInstanceOf[Raw]
    gen("type").toString match {
      case "datetime" =>
        // UTC ISO-8601 timestamp of the run (get_value.py:406-407)
        CV(date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx"), VStr)
      case "uuid5" =>
        val fields = gen.getOrElse("values", Nil).asInstanceOf[List[_]].map(_.toString)
        val seed = lower(concat_ws("|", fields.map(sourceCol): _*))
        // codegen'd Catalyst expression (registered by AdtlParser per session)
        CV(call_function("graft_uuid5",
          lit(namespace.getMostSignificantBits),
          lit(namespace.getLeastSignificantBits), seed), VStr)
      case other =>
        throw new Spec.SpecValidationError(s"Unknown generation method: $other")
    }
  }

  // ---- if predicates ----------------------------------------------------

  /** parse_if (get_value.py:244-312): cast-then-compare conditions with
    * any/all/not combinators; missing skippable column → false. */
  def compileIf(rule: Raw, canSkip0: Boolean = false): Column = {
    val canSkip = canSkip0 || rule.get("can_skip").contains(true)
    val body = rule - "can_skip" - "caseInsensitive"
    val caseInsensitive = rule.contains("caseInsensitive")
    body.headOption match {
      case Some(("not", sub: Raw @unchecked)) => !compileIf(sub, canSkip)
      case Some(("any", subs: List[_])) =>
        subs.asInstanceOf[List[Raw]].map(compileIf(_, canSkip))
          .reduceOption(_ || _).getOrElse(lit(false))
      case Some(("all", subs: List[_])) =>
        subs.asInstanceOf[List[Raw]].map(compileIf(_, canSkip))
          .reduceOption(_ && _).getOrElse(lit(true))
      case Some((field, cond)) =>
        if (fieldMissing(field)) {
          if (canSkip || skipPattern.exists(_.matcher(field).lookingAt())) lit(false)
          else throw new Spec.SpecValidationError(s"Column '$field' not found.")
        } else {
          val raw = sourceCol(field)
          val attrVal = if (caseInsensitive) lower(raw) else raw
          cond match {
            case sub: Raw @unchecked =>
              val (cmp, value) = sub.head
              comparison(attrVal, cmp, value)
            case value => comparison(attrVal, "=", value)
          }
        }
      case None => lit(true)
    }
  }

  /** One comparison with Python's cast-to-literal-type semantics: the row
    * value casts to the literal's type; failed cast → condition false. */
  private def comparison(attrVal: Column, cmp: String, value: Any): Column = {
    def opNum(c: Column, v: Column): Column = cmp match {
      case ">" => c > v
      case ">=" => c >= v
      case "<" => c < v
      case "<=" => c <= v
      case "!=" => c =!= v
      case "=" | "==" => c === v
      case other => throw new Spec.SpecValidationError(s"Unrecognized operand: $other")
    }
    value match {
      case _ if cmp == "=~" =>
        // re.match: case-insensitive, anchored at start
        attrVal.rlike("(?i)^(?:" + value.toString + ")")
      case v: Long =>
        val c = try_cast(trim(attrVal), "bigint")
        coalesce(opNum(c, lit(v)), lit(false))
      case v: Double =>
        val c = try_cast(trim(attrVal), "double")
        // Python NaN semantics: every comparison false except != (Spark
        // would instead order NaN above all values)
        val base = when(isnan(c), lit(cmp == "!=")).otherwise(opNum(c, lit(v)))
        coalesce(base, lit(false))
      case v: Boolean =>
        coalesce(opNum(attrVal =!= "", lit(v)), lit(false))
      case null => lit(false)
      case v => coalesce(opNum(attrVal, lit(v.toString)), lit(false))
    }
  }
}

object RuleCompiler {
  import org.apache.spark.sql.functions._

  /** Python set semantics over rendered string elements: 7 and 7.0 are
    * equal — dedupe by numeric value when castable, first occurrence wins.
    *
    * Shape: one `aggregate` fold carrying (seen keys, kept values) —
    * each element pays its key render O(1) times (twice, inside the
    * when/otherwise) plus an early-exit `exists` over the keys seen so
    * far. The former transform-over-slice form re-rendered BOTH keys
    * inside the inner scan — O(n²) try_cast+concat evaluations per row,
    * measured round 16 as the dominant per-task cost of the adtl
    * groupBy set aggregation (guide §1.2 "per-task work"). Same
    * first-occurrence-wins decisions, same output. */
  def pySetDedup(arr: Column): Column = {
    def k(x: Column): Column =
      when(x.try_cast("double").isNotNull,
        concat(lit("n:"), x.try_cast("double").cast("string")))
        .otherwise(concat(lit("s:"), x))
    val acc0 = struct(
      array().cast("array<string>").as("ks"),
      slice(arr, 1, 0).as("vs")) // empty array of arr's element type
    aggregate(arr, acc0,
      (acc, x) => when(
        exists(acc.getField("ks"), y => y <=> k(x)), acc)
        .otherwise(struct(
          concat(acc.getField("ks"), array(k(x))).as("ks"),
          concat(acc.getField("vs"), array(x)).as("vs"))),
      acc => acc.getField("vs"))
  }

  /** A map literal: one Catalyst `Literal` however many entries it has
    * (keys distinct, in entry order; values nullable), typed from the
    * given types rather than by Scala reflection (`typedLit`), which cost
    * more than the rest of a values rule's compile. */
  private def mapLit(entries: Seq[(Any, Any)], keyType: DataType, valueType: DataType): Column =
    lit(Literal.create(ListMap(entries: _*), MapType(keyType, valueType, valueContainsNull = true)))

  /** A values-map key as the value's type: the session's string cast, as
    * `value = 'key'` applies it; null when the key does not cast. */
  private def typedKey(k: String, keyType: DataType): Any =
    if (keyType == StringType) k
    else scala.util.Try(Cast(Literal(k), keyType).eval()).getOrElse(null)

  sealed trait VT
  case object VStr extends VT
  case object VLong extends VT
  case object VDbl extends VT
  case object VBool extends VT
  case object VArr extends VT

  /** Compiled value: the Column, its static type, and an optional typed
    * truthiness override (used when a pass-through values map degrades
    * booleans to strings but falsiness must survive for false-like
    * filtering and any/all). `statNull` marks a statically-null value (a
    * skipped missing source column) whose placeholder string type must not
    * pollute type unions. */
  final case class CV(col: Column, vt: VT,
      truthyOverride: Option[Column] = None,
      statNull: Boolean = false)

  /** The one Spark type that holds every compiled value of an attribute
    * (a oneToMany attribute has one per entry): statically-null values do
    * not count, integers widen to double beside doubles, and any other mix
    * is string. */
  def unifiedType(cvs: Seq[CV]): String = {
    val vts = cvs.filterNot(_.statNull).map(_.vt)
    if (vts.isEmpty) "string"
    else if (vts.forall(_ == VArr)) "array<string>"
    else if (vts.forall(_ == VBool)) "boolean"
    else if (vts.forall(_ == VLong)) "bigint"
    else if (vts.forall(v => v == VDbl || v == VLong)) "double"
    else "string"
  }

  /** Static result types of the transformation library (for the ""→null and
    * truthiness decisions downstream). Under returnUnmatched, pass-through
    * capable functions degrade to string columns (reference mixed-type
    * behavior). */
  def fnResultType(fn: String, returnUnmatched: Boolean = false): VT = fn match {
    case "isNotNull" => VBool
    case "textIfNotNull" => VStr
    case "wordSubstituteSet" => if (returnUnmatched) VStr else VArr
    case "getFloat" | "Percentage" => if (returnUnmatched) VStr else VDbl
    case "yearsElapsed" => VDbl
    case "durationDays" | "splitDate" | "startYear" | "startMonth" => VLong
    case _ => VStr
  }
}
