package graft.queries

import graft.adtl.AdtlParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries routed through the adtl engine itself: build a
  * CSV-semantics (string) input from a testdata table, run a spec through
  * AdtlParser, and pin the result against a plain-SQL DuckDB oracle. This is
  * the end-to-end proof that spec compilation → Column plans produces the
  * same relational semantics a SQL engine computes.
  *
  * Doubles are pre-rendered with printf('%.2f') on both sides so the
  * string round-trip is bit-identical.
  */
object EngineQueries {

  /** Gate-input rebalance: the CSV-semantics projections (format_string,
    * date_format, concat_ws per row) and the parse chains above them are
    * CPU-dense, and gate-scale parquet is a single row group — without
    * this the whole projection runs as one task (round-15 stage audit:
    * 3.0–3.5 s single-task scan stages under apply-dates/enum-list).
    * Pipeline.cpuRebalance is scale-adaptive (no-op once the scan's
    * natural splits reach the session width) and parseDataFrame skips
    * its own rebalance when the input already carries one. */
  private def spread(df: DataFrame, cols: Column*): DataFrame =
    graft.ops.Pipeline.cpuRebalance(df, cols: _*)

  private def ordersInput(s: SparkSession, d: String): DataFrame =
    spread(Tables.orders(s, d), col("o_orderkey")).select(
      col("o_orderkey").cast("string").as("okey"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("opri"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
      format_string("%.2f", col("o_totalprice")).as("total"))

  /** event_id is the explicit sequence column — no input sort needed. */
  private def eventsInput(s: SparkSession, d: String): DataFrame =
    spread(Tables.events(s, d), col("event_id")).select(
      col("event_id").as("eid"),
      col("user_id").cast("string").as("uid"),
      col("event_type").as("etype"),
      format_string("%.2f", col("value")).as("val"),
      date_format(col("ts"), "yyyy-MM-dd").as("eday"))

  private val oneToOneSpec =
    """{
      |  "adtl": {"name": "orders", "description": "order facts", "tables": {
      |    "order_fact": {"kind": "oneToOne"}}},
      |  "order_fact": {
      |    "order_key": {"field": "okey"},
      |    "okey_hash": {"field": "okey", "sensitive": true},
      |    "status_name": {"field": "status",
      |      "values": {"O": "open", "F": "finished", "P": "pending"}},
      |    "urgent_pri": {"field": "opri", "if": {"opri": {"=~": "1-"}}},
      |    "date_dmy": {"field": "odate", "source_date": "%Y-%m-%d", "date": "%d/%m/%Y"},
      |    "total_f": {"field": "total", "apply": {"function": "getFloat"}}
      |  }
      |}""".stripMargin

  private val groupBySpec =
    """{
      |  "adtl": {"name": "events", "description": "per-user last values", "tables": {
      |    "user_state": {"kind": "groupBy", "groupBy": "uid", "aggregation": "lastNotNull"}}},
      |  "user_state": {
      |    "uid": {"field": "uid"},
      |    "last_purchase": {"field": "val", "if": {"etype": "purchase"}},
      |    "last_error_val": {"field": "val", "if": {"etype": "error"}}
      |  }
      |}""".stripMargin

  private val combinedSpec =
    """{
      |  "adtl": {"name": "events", "description": "per-user combines", "tables": {
      |    "user_profile": {"kind": "groupBy", "groupBy": "uid", "aggregation": "applyCombinedType"}}},
      |  "user_profile": {
      |    "uid": {"field": "uid"},
      |    "first_day": {"combinedType": "min", "fields": [{"field": "eday"}]},
      |    "last_day": {"combinedType": "max", "fields": [{"field": "eday"}]},
      |    "etypes": {"combinedType": "set", "excludeWhen": "none", "fields": [{"field": "etype"}]}
      |  }
      |}""".stripMargin

  /** lineitem ⋈ orders with pre-rendered date strings, for the
    * apply-function date library (F6/F7/F10/F13/F16). */
  private def lineDatesInput(s: SparkSession, d: String): DataFrame = {
    val li = spread(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber"))
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        concat_ws("-", col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string")).as("line_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"),
        year(col("o_orderdate")).cast("string").as("oyear"),
        month(col("o_orderdate")).cast("string").as("omonth"),
        dayofmonth(col("o_orderdate")).cast("string").as("oday"),
        format_string("%02d-03-15", col("o_orderkey") % 100).as("dob2"))
  }

  private val applyDatesSpec =
    """{
      |  "adtl": {"name": "dates", "description": "date transforms", "tables": {
      |    "line_dates": {"kind": "oneToOne"}}},
      |  "line_dates": {
      |    "line_id": {"field": "line_id"},
      |    "ship_delay_days": {"field": "odate",
      |      "apply": {"function": "durationDays", "params": ["$ship"]}},
      |    "ship_delay_years": {"field": "odate",
      |      "apply": {"function": "yearsElapsed", "params": ["$ship", 2022]}},
      |    "rebuilt_date": {"field": "oyear",
      |      "apply": {"function": "makeDate", "params": ["$omonth", "$oday"]}},
      |    "ship_year": {"field": "ship",
      |      "apply": {"function": "splitDate", "params": ["year", 2022]}},
      |    "dob_fixed": {"field": "dob2",
      |      "apply": {"function": "correctOldDate", "params": [2022, "%y-%m-%d"]}}
      |  }
      |}""".stripMargin

  /** P8 enum_list input: "[A, F]"-style bracketed lists built from lineitem
    * enum columns ('O' is deliberately unmapped → null element / raw
    * pass-through, get_value.py:111-119). */
  private def lineFlagsInput(s: SparkSession, d: String): DataFrame =
    spread(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")).select(
      concat_ws("-", col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string")).as("line_id"),
      concat(lit("["), col("l_returnflag"), lit(", "), col("l_linestatus"),
        lit("]")).as("rawlist"))

  private val enumListSpec =
    """{
      |  "adtl": {"name": "lineflags", "description": "enum list recode", "tables": {
      |    "flags": {"kind": "oneToOne"}}},
      |  "flags": {
      |    "line_id": {"field": "line_id"},
      |    "flag_list": {"field": "rawlist", "type": "enum_list",
      |      "values": {"A": "accepted", "N": "none", "R": "returned", "F": "finished"}},
      |    "flag_passthrough": {"field": "rawlist", "type": "enum_list", "ignoreMissingKey": true,
      |      "values": {"A": "accepted", "N": "none", "R": "returned", "F": "finished"}}
      |  }
      |}""".stripMargin

  /** P12 schema-coercion spec: the schema rides as a real file next to the
    * spec (the reference's layout), covering integer-from-int-string,
    * integer-from-float-string (banker's rounding), number, unconvertible
    * integer (raw value back, util.py:12-40), and string. */
  private val coercionSpec =
    """{
      |  "adtl": {"name": "coerce", "description": "schema type coercion", "tables": {
      |    "coerced": {"kind": "oneToOne", "schema": "coerce-schema.json"}}},
      |  "coerced": {
      |    "okey_int": {"field": "okey"},
      |    "total_int": {"field": "total"},
      |    "total_num": {"field": "total"},
      |    "status_int_raw": {"field": "status"},
      |    "okey_str": {"field": "okey"}
      |  }
      |}""".stripMargin

  private val coercionSchema =
    """{"properties": {
      |  "okey_int": {"type": "integer"},
      |  "total_int": {"type": "integer"},
      |  "total_num": {"type": "number"},
      |  "status_int_raw": {"type": "integer"},
      |  "okey_str": {"type": "string"}
      |}}""".stripMargin

  /** Independent per-row flags (k%2, k%3, k%5) for the for-expansion and
    * fieldPattern specs — rows carry zero to three set flags. */
  /** Trivial-parse inputs (plain casts, no date/format kernels): no
    * caller-side spread — the exchange was measured as a net tax on these
    * sub-second gates (round-15 verdict item 9). The parser still spreads
    * them for a spec that crosses its RebalanceCostFloor (the weighted
    * for-expansion fan-out). */
  private def orderFlagsInput(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").cast("string").as("okey"),
      (col("o_orderkey") % 2 === 0).cast("int").cast("string").as("flag_1"),
      (col("o_orderkey") % 3 === 0).cast("int").cast("string").as("flag_2"),
      (col("o_orderkey") % 5 === 0).cast("int").cast("string").as("flag_3"))

  /** S2: emptyFields scrub — header-declared sentinel values are rewritten
    * to "" before any rule runs, then ""→null normalization applies
    * (parser.py DictReader scrub). Sentinels derived per-row so the scrub,
    * not luck, produces the nulls. */
  private val emptyFieldsSpec =
    """{
      |  "adtl": {"name": "scrub", "description": "emptyFields sentinel",
      |    "emptyFields": "N/A",
      |    "tables": {"t": {"kind": "oneToOne"}}},
      |  "t": {
      |    "okey": {"field": "okey"},
      |    "pri": {"field": "pri_or_na"}
      |  }
      |}""".stripMargin

  private def sentinelInput(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select( // trivial parse: see orderFlagsInput
      col("o_orderkey").cast("string").as("okey"),
      when(col("o_orderkey") % 3 === 0, "N/A")
        .otherwise(col("o_orderpriority")).as("pri_or_na"))

  /** R1: constant table — emitted once per parse, independent of input. */
  private val constantSpec =
    """{
      |  "adtl": {"name": "const", "description": "fixed metadata", "tables": {
      |    "metadata": {"kind": "constant"}}},
      |  "metadata": {"dataset": "orders_v1", "version": "20220505.1",
      |    "n_tables": 3, "active": true}
      |}""".stripMargin

  /** R5: `for` loop expansion — one entry template instantiated per range
    * value with {i} substitution in keys and values (parser.py:60-125). */
  private val forSpec =
    """{
      |  "adtl": {"name": "forspec", "description": "for expansion", "tables": {
      |    "obs": {"kind": "oneToMany", "discriminator": "name"}}},
      |  "obs": [
      |    {"for": {"i": {"range": [1, 3]}},
      |     "if": {"flag_{i}": "1"},
      |     "name": "obs_{i}",
      |     "okey": {"field": "okey"},
      |     "value": {"field": "flag_{i}"}}
      |  ]
      |}""".stripMargin

  /** P14: header defs + `ref` splice — the referencing rule's own keys
    * override the definition's (parser.py:43-57). */
  private val refDefsSpec =
    """{
      |  "adtl": {"name": "refspec", "description": "defs and refs",
      |    "defs": {"statusMap": {
      |      "values": {"O": "open", "F": "finished", "P": "pending"},
      |      "caseInsensitive": true}},
      |    "tables": {"t": {"kind": "oneToOne"}}},
      |  "t": {
      |    "okey": {"field": "okey"},
      |    "status_name": {"field": "status", "ref": "statusMap"}
      |  }
      |}""".stripMargin

  /** C4: fieldPattern — a combinedType sub-rule expanded over every source
    * column matching the regex (parser.py re.match semantics). */
  private val fieldPatternSpec =
    """{
      |  "adtl": {"name": "patspec", "description": "fieldPattern combines", "tables": {
      |    "t": {"kind": "oneToOne"}}},
      |  "t": {
      |    "okey": {"field": "okey"},
      |    "any_flag": {"combinedType": "any",
      |      "fields": [{"fieldPattern": "flag_.*", "values": {"1": true, "0": false}}]},
      |    "flag_list": {"combinedType": "list", "excludeWhen": "false-like",
      |      "fields": [{"fieldPattern": "flag_.*", "values": {"1": true, "0": false}}]}
      |  }
      |}""".stripMargin

  /** Validation-surface input: okey/status/opri plus a date column that is
    * deliberately unparseable on every 4th key. */
  private def validationInput(s: SparkSession, d: String): DataFrame =
    spread(Tables.orders(s, d), col("o_orderkey")).select(
      col("o_orderkey").cast("string").as("okey"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("opri"),
      when(col("o_orderkey") % 4 === 0, "not-a-date")
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("mdate"))

  /** Schema-validation spec (S7/R6): oneToMany with a discriminator-
    * dispatched oneOf validator — required + enum + format:date per branch,
    * plus a discriminator value ("misc") no branch covers, exercising the
    * reference's "No validator found" path (parser.py:736-757,
    * util.py:43-98). Entries without `if` take the derived default-if. */
  private val validationSpec =
    """{
      |  "adtl": {"name": "vspec", "description": "schema validation", "tables": {
      |    "obs": {"kind": "oneToMany", "discriminator": "name", "schema": "obs-schema.json"}}},
      |  "obs": [
      |    {"if": {"status": {"!=": ""}}, "name": "status",
      |     "okey": {"field": "okey"}, "value": {"field": "status"}},
      |    {"name": "event_date", "okey": {"field": "okey"}, "value": {"field": "mdate"}},
      |    {"name": "urgent", "okey": {"field": "okey"},
      |     "value": {"field": "opri", "if": {"opri": {"=~": "1-"}}}},
      |    {"name": "misc", "okey": {"field": "okey"}, "value": {"field": "okey"}}
      |  ]
      |}""".stripMargin

  private val validationSchema =
    """{
      |  "required": ["name"],
      |  "properties": {
      |    "name": {"type": "string"},
      |    "okey": {"type": "string"},
      |    "value": {}
      |  },
      |  "oneOf": [
      |    {"properties": {"name": {"const": "status"},
      |       "value": {"enum": ["O", "F"]}}, "required": ["value"]},
      |    {"properties": {"name": {"const": "event_date"},
      |       "value": {"format": "date"}}, "required": ["value"]},
      |    {"properties": {"name": {"enum": ["urgent"]}}, "required": ["value"]}
      |  ]
      |}""".stripMargin

  /** returnUnmatched spec: the header option flips values-map misses to raw
    * pass-through and degrades mapped columns to string with Python-rendered
    * values — True / 2.0 / 0 beside raw keys — and unparseable dates pass
    * through verbatim (get_value.py:100-106,128; the reference blocks
    * parquet output for this mode, cli.py:72-73 — here the engine renders
    * the mixed-type story into string columns). */
  private val returnUnmatchedSpec =
    """{
      |  "adtl": {"name": "ru", "description": "returnUnmatched pass-through",
      |    "returnUnmatched": true,
      |    "tables": {"t": {"kind": "oneToOne"}}},
      |  "t": {
      |    "okey": {"field": "okey"},
      |    "status_name": {"field": "status",
      |      "values": {"O": "open", "F": "finished"}},
      |    "pri_mixed": {"field": "opri",
      |      "values": {"1-URGENT": true, "2-HIGH": 2.0, "3-MEDIUM": 0}},
      |    "date_ru": {"field": "mdate", "source_date": "%Y-%m-%d", "date": "%d/%m/%Y"}
      |  }
      |}""".stripMargin

  private val oneToManySpec =
    """{
      |  "adtl": {"name": "orders", "description": "order observations", "tables": {
      |    "obs": {"kind": "oneToMany", "discriminator": "name", "common": {"dataset": "orders_v1"}}}},
      |  "obs": [
      |    {"if": {"status": {"!=": ""}}, "name": "status", "value": {"field": "status"}},
      |    {"if": {"total": {">": 200000.0}}, "name": "high_value", "value": {"field": "total"}},
      |    {"if": {"opri": {"=~": "1-"}}, "name": "urgent", "value": {"field": "opri"}}
      |  ]
      |}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "adtl_onetoone" -> { (s, d) =>
      AdtlParser.fromJsonString(oneToOneSpec)
        .parseDataFrame(s, ordersInput(s, d))("order_fact")
        .orderBy("order_key")
    },
    // Both groupBy gates materialize the (150-row) aggregate before the
    // orderBy: the sort's range-partitioner sampling otherwise re-runs
    // the whole collect/sort/dedupe aggregation a second time (round-15
    // stage audit: two ObjectHashAggregate stages of 85 + 157 task-sec
    // over one shuffle) — a localCheckpoint of 150 rows ends that.
    "adtl_groupby_lastnotnull" -> { (s, d) =>
      AdtlParser.fromJsonString(groupBySpec)
        .parseDataFrame(s, eventsInput(s, d), orderCol = Some("eid"))("user_state")
        .localCheckpoint()
        .orderBy("uid")
    },
    "adtl_groupby_combined" -> { (s, d) =>
      val out = AdtlParser.fromJsonString(combinedSpec)
        .parseDataFrame(s, eventsInput(s, d), orderCol = Some("eid"))("user_profile")
      // sets are unordered by contract: render sorted for stable comparison
      out.select(col("uid"), col("first_day"), col("last_day"),
          array_join(array_sort(col("etypes")), ",").as("etypes_sorted"))
        .localCheckpoint()
        .orderBy("uid")
    },
    "adtl_onetomany" -> { (s, d) =>
      AdtlParser.fromJsonString(oneToManySpec)
        .parseDataFrame(s, ordersInput(s, d))("obs")
        .orderBy("value", "name")
    },
    // Cost note (round-15 audit): was 19 gettimestamp parses/row from
    // duplicated CASE subtrees; now 10 via Once-bound guards (RuleCompiler
    // ""→null, parseTs pivot) and the flattened parseTsEpoch year
    // arithmetic. The residual 10 is one parse per (field, format) USE
    // across five independent rules sharing two source fields — per-rule
    // columns are separate expressions, and codegen subexpression
    // elimination cannot hoist them through the nonEmpty CASE guards.
    // Cross-rule sharing would need a common-subexpression projection
    // stage across compiled rules; the remaining gate time is split
    // between those parses and the CSV-parity render, so the ceiling on
    // further wins is ~2×, not 10×.
    "adtl_apply_dates" -> { (s, d) =>
      // materialize the parsed frame: the orderBy's range-sampling pass
      // otherwise re-runs the 10-parse/row chain a second time (round-15
      // stage audit: two 42-task parse stages, 47 + 23 task-sec)
      AdtlParser.fromJsonString(applyDatesSpec)
        .parseDataFrame(s, lineDatesInput(s, d))("line_dates")
        .localCheckpoint()
        .orderBy("line_id")
    },
    // P8: enum_list — bracket strip, split, per-element trim + recode;
    // missing key → null element (or raw pass-through under
    // ignoreMissingKey). Arrays render joined with an explicit None
    // placeholder so the compare is cell-exact.
    "p8_enum_list" -> { (s, d) =>
      val out = AdtlParser.fromJsonString(enumListSpec)
        .parseDataFrame(s, lineFlagsInput(s, d))("flags")
      def render(c: Column) =
        array_join(transform(c, x => coalesce(x, lit("None"))), ",")
      out.select(col("line_id"),
          render(col("flag_list")).as("flags_r"),
          render(col("flag_passthrough")).as("flags_p"))
        .orderBy("line_id")
    },
    // F17: user-registered custom transform running inside the same
    // Column/codegen pipeline as the builtins
    "f17_custom_transform" -> { (s, d) =>
      val reg = graft.adtl.Transformations.newRegistry()
      reg.register("shout", (c, _, _) => concat(upper(c), lit("!")))
      AdtlParser.fromSpec(graft.adtl.SpecLoader.parseJson(
          """{
            |  "adtl": {"name": "xf", "description": "custom transform", "tables": {
            |    "t": {"kind": "oneToOne"}}},
            |  "t": {
            |    "okey": {"field": "okey"},
            |    "pri_loud": {"field": "opri", "apply": {"function": "shout"}}
            |  }
            |}""".stripMargin), registry = reg)
        .parseDataFrame(s, ordersInput(s, d))("t")
        .orderBy("okey")
    },
    // S2: emptyFields sentinel scrub → null
    "s2_empty_fields" -> { (s, d) =>
      AdtlParser.fromJsonString(emptyFieldsSpec)
        .parseDataFrame(s, sentinelInput(s, d))("t")
        .orderBy("okey")
    },
    // R1: constant table — one literal row regardless of the input scan
    "r1_constant" -> { (s, d) =>
      AdtlParser.fromJsonString(constantSpec)
        .parseDataFrame(s, ordersInput(s, d))("metadata")
    },
    // R5: for-expansion — the template entry fans out to obs_1..obs_3,
    // each gated on its substituted flag column. The parser weights the
    // oneToMany entries by their count, so this plain-field spec crosses
    // its RebalanceCostFloor and the parser spreads the input itself
    // (round-16: losing the spread measured 1.4× on this gate).
    "r5_for_expansion" -> { (s, d) =>
      AdtlParser.fromJsonString(forSpec)
        .parseDataFrame(s, orderFlagsInput(s, d))("obs")
        .orderBy("okey", "name")
    },
    // P14: defs+ref splice feeding a caseInsensitive values map
    "p14_ref_defs" -> { (s, d) =>
      AdtlParser.fromJsonString(refDefsSpec)
        .parseDataFrame(s, ordersInput(s, d))("t")
        .orderBy("okey")
    },
    // C4: fieldPattern expansion over flag_1..flag_3 — boolean any +
    // false-like-filtered list (rendered joined for a cell-exact compare)
    "c4_field_pattern" -> { (s, d) =>
      val out = AdtlParser.fromJsonString(fieldPatternSpec)
        .parseDataFrame(s, orderFlagsInput(s, d))("t")
      out.select(col("okey"), col("any_flag"),
          when(size(col("flag_list")) > 0, array_join(col("flag_list"), ","))
            .as("flags_joined"))
        .orderBy("okey")
    },
    // P12: JSON-schema type coercion with the reference's raw-on-failure
    // union (string-typed canonical-or-raw columns). The driver-side temp
    // schema file is HARNESS-ONLY plumbing (gate queries are self-contained
    // functions); engine users ship the schema next to the spec like the
    // reference does.
    "p12_coercion" -> { (s, d) =>
      val tmp = TempDirs.create("p12")
      java.nio.file.Files.writeString(tmp.resolve("coerce-schema.json"), coercionSchema)
      AdtlParser.fromSpec(graft.adtl.SpecLoader.parseJson(coercionSpec),
          specDir = Some(tmp.toString))
        .parseDataFrame(s, ordersInput(s, d), skipValidation = true)("coerced")
        .orderBy("okey_int")
    },
    // S7/R6: the adtl_valid/adtl_error annotation surface — required,
    // enum, format:date, and oneOf-discriminator dispatch (incl. the
    // "No validator found" fallback), hash-pinned against DuckDB CASE
    // predicates. Validation never drops rows. (Temp schema file =
    // harness-only plumbing, as in p12_coercion.)
    "v_schema_validate" -> { (s, d) =>
      val tmp = TempDirs.create("vsv")
      java.nio.file.Files.writeString(tmp.resolve("obs-schema.json"), validationSchema)
      AdtlParser.fromSpec(graft.adtl.SpecLoader.parseJson(validationSpec),
          specDir = Some(tmp.toString))
        .parseDataFrame(s, validationInput(s, d))("obs")
        .orderBy("okey", "name")
    },
    // returnUnmatched: values-map misses pass raw values through and the
    // column degrades to string with Python-rendered mapped values; dates
    // that fail source_date parsing pass through verbatim
    "v_return_unmatched" -> { (s, d) =>
      AdtlParser.fromJsonString(returnUnmatchedSpec)
        .parseDataFrame(s, validationInput(s, d))("t")
        .orderBy("okey")
    },
    // S7: the validation REPORT numbers themselves — valid/total and the
    // per-error-message histogram the markdown/JSON report renders
    // (parser.py report surface), pinned through the actual report() API
    // (the table is never written, so no write observed its counts: one
    // aggregation counts valid/total and each known message, and one
    // filtered groupBy names the "No validator found" fallback rows; the
    // tiny result is re-lifted into a DataFrame for the hash compare)
    "v_report_errors" -> { (s, d) =>
      val tmp = TempDirs.create("vre")
      java.nio.file.Files.writeString(tmp.resolve("obs-schema.json"), validationSchema)
      val p = AdtlParser.fromSpec(graft.adtl.SpecLoader.parseJson(validationSpec),
        specDir = Some(tmp.toString))
      val tables = p.parseDataFrame(s, validationInput(s, d))
      val (valid, total, errors) = p.report(tables)("obs")
      import s.implicits._
      (errors.toSeq :+ ("<valid>" -> valid) :+ ("<total>" -> total))
        .toDF("error", "n").orderBy("error")
    },
    // S4: the CSV sink round-trip, end to end — parse, write through the
    // real sink (sorted header, Python-style rendering, empty-as-null), and
    // read the files back; the oracle recomputes the table with every cell
    // as VARCHAR, so null round-tripping and the string renders (double,
    // sha256 hex, recoded enums, reformatted dates) are all hash-pinned.
    "v_csv_sink" -> { (s, d) =>
      val p = AdtlParser.fromJsonString(oneToOneSpec)
      val tables = p.parseDataFrame(s, ordersInput(s, d))
      val dir = TempDirs.create("vcs").toString + "/order_fact"
      p.writeCsv(tables, "order_fact", dir)
      s.read.option("header", "true").csv(dir).orderBy("order_key")
    },
    // S5: the parquet sink round-trip (type-preserving, validation columns
    // ordered first when present) — same parse, through writeParquet and
    // back; the oracle is the parse oracle itself.
    "v_parquet_sink" -> { (s, d) =>
      val p = AdtlParser.fromJsonString(oneToOneSpec)
      val tables = p.parseDataFrame(s, ordersInput(s, d))
      val dir = TempDirs.create("vps").toString + "/order_fact"
      p.writeParquet(tables, "order_fact", dir)
      s.read.parquet(dir).orderBy("order_key")
    },
    // G1: autoparser dictionary inference as a distributed profiling job —
    // dtype → {number,string,list} mapping, bracket/comma list-column
    // detection with element re-count, and the common-values selection
    // (distinct-count cap, singleton drop). A synthetic bracketed `tags`
    // column ("[src, lang]") exercises the list path: bracket strip, comma
    // split, per-element trim, and the ≤-cap boundary (exactly 25 distinct
    // elements). Common values render SORTED for a deterministic compare —
    // the reference's frequency-order render is pinned by
    // DictWriterGoldenSpec's file-order fixtures instead.
    "g1_dict_infer" -> { (s, d) =>
      val input = Tables.documents(s, d).withColumn("tags",
        concat(lit("["), col("source"), lit(", "), col("lang"), lit("]")))
      val dict = graft.adtl.autoparser.DictWriter.createDict(s, input)
      graft.adtl.autoparser.DictWriter.toDataFrame(
          s, dict.map(f => f.copy(commonValues = f.commonValues.sorted)))
        .orderBy("source_field")
    })

  val oracles: Map[String, String] = Map(
    "adtl_onetoone" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS order_key,
        |  sha256(CAST(o_orderkey AS VARCHAR)) AS okey_hash,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' WHEN 'P' THEN 'pending' END AS status_name,
        |  CASE WHEN regexp_matches(o_orderpriority, '^(?:1-)', 'i') THEN o_orderpriority END AS urgent_pri,
        |  strftime(o_orderdate, '%d/%m/%Y') AS date_dmy,
        |  CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS total_f
        |FROM orders ORDER BY order_key""".stripMargin,
    "adtl_groupby_lastnotnull" ->
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  arg_max(printf('%.2f', value), event_id) FILTER (WHERE event_type = 'purchase') AS last_purchase,
        |  arg_max(printf('%.2f', value), event_id) FILTER (WHERE event_type = 'error') AS last_error_val
        |FROM events GROUP BY 1 ORDER BY uid""".stripMargin,
    "adtl_groupby_combined" ->
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  min(strftime(ts, '%Y-%m-%d')) AS first_day,
        |  max(strftime(ts, '%Y-%m-%d')) AS last_day,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS etypes_sorted
        |FROM events GROUP BY 1 ORDER BY uid""".stripMargin,
    "adtl_apply_dates" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line_id,
        |  date_diff('day', o_orderdate, l_shipdate) AS ship_delay_days,
        |  CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE) / 365.25 AS ship_delay_years,
        |  strftime(o_orderdate, '%Y-%m-%d') AS rebuilt_date,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  printf('%04d-03-15', CASE WHEN o_orderkey % 100 <= 21
        |    THEN 2000 + o_orderkey % 100 ELSE 1900 + o_orderkey % 100 END) AS dob_fixed
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY line_id""".stripMargin,
    "f17_custom_transform" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |  upper(o_orderpriority) || '!' AS pri_loud
        |FROM orders ORDER BY okey""".stripMargin,
    "s2_empty_fields" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS pri
        |FROM orders ORDER BY okey""".stripMargin,
    "r1_constant" ->
      """SELECT true AS active, 'orders_v1' AS dataset,
        |  CAST(3 AS BIGINT) AS n_tables, '20220505.1' AS version""".stripMargin,
    "r5_for_expansion" ->
      """SELECT * FROM (
        |  SELECT 'obs_1' AS name, CAST(o_orderkey AS VARCHAR) AS okey, '1' AS value
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'obs_2', CAST(o_orderkey AS VARCHAR), '1'
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'obs_3', CAST(o_orderkey AS VARCHAR), '1'
        |  FROM orders WHERE o_orderkey % 5 = 0
        |) ORDER BY okey, name""".stripMargin,
    "p14_ref_defs" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |  CASE lower(o_orderstatus) WHEN 'o' THEN 'open' WHEN 'f' THEN 'finished'
        |    WHEN 'p' THEN 'pending' END AS status_name
        |FROM orders ORDER BY okey""".stripMargin,
    "c4_field_pattern" ->
      """WITH flags AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |    [CASE WHEN o_orderkey % 2 = 0 THEN 'True' END,
        |     CASE WHEN o_orderkey % 3 = 0 THEN 'True' END,
        |     CASE WHEN o_orderkey % 5 = 0 THEN 'True' END] AS items,
        |    (o_orderkey % 2 = 0) OR (o_orderkey % 3 = 0) OR (o_orderkey % 5 = 0) AS any_flag
        |  FROM orders)
        |SELECT okey, any_flag,
        |  CASE WHEN len(list_filter(items, x -> x IS NOT NULL)) > 0
        |    THEN array_to_string(list_filter(items, x -> x IS NOT NULL), ',') END AS flags_joined
        |FROM flags ORDER BY okey""".stripMargin,
    // P13 generate:uuid5 stays ScalaTest-only (Uuid5 golden tests pin it
    // against the reference's uuids): uuid5 is SHA-1-based and DuckDB
    // 1.0.0 ships md5/sha256 but no sha1, so no DuckDB oracle exists.
    "p8_enum_list" ->
      """WITH raw AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line_id,
        |    '[' || l_returnflag || ', ' || l_linestatus || ']' AS rawlist
        |  FROM lineitem),
        |els AS (
        |  SELECT line_id,
        |    list_transform(string_split(trim(rawlist, '[]'), ','), x -> trim(x, ' ')) AS el
        |  FROM raw)
        |SELECT line_id,
        |  array_to_string(list_transform(el, x -> coalesce(
        |    CASE x WHEN 'A' THEN 'accepted' WHEN 'N' THEN 'none'
        |           WHEN 'R' THEN 'returned' WHEN 'F' THEN 'finished' END,
        |    'None')), ',') AS flags_r,
        |  array_to_string(list_transform(el, x -> coalesce(
        |    CASE x WHEN 'A' THEN 'accepted' WHEN 'N' THEN 'none'
        |           WHEN 'R' THEN 'returned' WHEN 'F' THEN 'finished' END,
        |    x)), ',') AS flags_p
        |FROM els ORDER BY line_id""".stripMargin,
    // integer: int(value) else int(round(float(value))) — banker's rounding
    // (round_even) — else the RAW value; number: float(value) rendered
    // Python-style (integral doubles keep ".0") else raw (util.py:12-40)
    "p12_coercion" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |    o_orderstatus AS status,
        |    printf('%.2f', o_totalprice) AS total
        |  FROM orders),
        |n AS (SELECT okey, status, total, CAST(total AS DOUBLE) AS td FROM src)
        |SELECT okey AS okey_int,
        |  CAST(CAST(round_even(td, 0) AS BIGINT) AS VARCHAR) AS total_int,
        |  CASE WHEN td = floor(td) AND abs(td) < 1e15
        |    THEN CAST(CAST(td AS BIGINT) AS VARCHAR) || '.0'
        |    ELSE CAST(td AS VARCHAR) END AS total_num,
        |  status AS status_int_raw,
        |  okey AS okey_str
        |FROM n ORDER BY okey_int""".stripMargin,
    "adtl_onetomany" ->
      """SELECT * FROM (
        |  SELECT 'orders_v1' AS dataset, 'status' AS name, o_orderstatus AS value
        |  FROM orders WHERE o_orderstatus <> ''
        |  UNION ALL
        |  SELECT 'orders_v1', 'high_value', printf('%.2f', o_totalprice)
        |  FROM orders WHERE CAST(printf('%.2f', o_totalprice) AS DOUBLE) > 200000.0
        |  UNION ALL
        |  SELECT 'orders_v1', 'urgent', o_orderpriority
        |  FROM orders WHERE regexp_matches(o_orderpriority, '^(?:1-)', 'i')
        |) ORDER BY value, name""".stripMargin,
    // each emitted row fails at most ONE check, so the first-error coalesce
    // order cannot diverge between engines
    "v_schema_validate" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |    o_orderstatus AS status, o_orderpriority AS opri,
        |    CASE WHEN o_orderkey % 4 = 0 THEN 'not-a-date'
        |      ELSE strftime(o_orderdate, '%Y-%m-%d') END AS mdate
        |  FROM orders),
        |rows_ AS (
        |  SELECT 'status' AS name, okey, status AS value,
        |    CASE WHEN status NOT IN ('O', 'F')
        |      THEN 'data.value must be one of [''O'', ''F'']' END AS adtl_error
        |  FROM src WHERE status <> ''
        |  UNION ALL
        |  SELECT 'event_date', okey, mdate,
        |    CASE WHEN try_strptime(mdate, '%Y-%m-%d') IS NULL
        |      THEN 'data.value must be date' END
        |  FROM src
        |  UNION ALL
        |  SELECT 'urgent', okey,
        |    CASE WHEN regexp_matches(opri, '^(?:1-)', 'i') THEN opri END,
        |    CASE WHEN NOT regexp_matches(opri, '^(?:1-)', 'i')
        |      THEN 'data must contain [''name'', ''value''] properties' END
        |  FROM src
        |  UNION ALL
        |  SELECT 'misc', okey, okey,
        |    'No validator found for attribute ''misc'' in table ''obs'''
        |  FROM src)
        |SELECT name, okey, value, adtl_error IS NULL AS adtl_valid, adtl_error
        |FROM rows_ ORDER BY okey, name""".stripMargin,
    "v_report_errors" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |    o_orderstatus AS status, o_orderpriority AS opri,
        |    CASE WHEN o_orderkey % 4 = 0 THEN 'not-a-date'
        |      ELSE strftime(o_orderdate, '%Y-%m-%d') END AS mdate
        |  FROM orders),
        |rows_ AS (
        |  SELECT CASE WHEN status NOT IN ('O', 'F')
        |      THEN 'data.value must be one of [''O'', ''F'']' END AS adtl_error
        |  FROM src WHERE status <> ''
        |  UNION ALL
        |  SELECT CASE WHEN try_strptime(mdate, '%Y-%m-%d') IS NULL
        |      THEN 'data.value must be date' END
        |  FROM src
        |  UNION ALL
        |  SELECT CASE WHEN NOT regexp_matches(opri, '^(?:1-)', 'i')
        |      THEN 'data must contain [''name'', ''value''] properties' END
        |  FROM src
        |  UNION ALL
        |  SELECT 'No validator found for attribute ''misc'' in table ''obs'''
        |  FROM src)
        |SELECT error, n FROM (
        |  SELECT adtl_error AS error, count(*) AS n FROM rows_
        |  WHERE adtl_error IS NOT NULL GROUP BY 1
        |  UNION ALL
        |  SELECT '<valid>', count(*) FROM rows_ WHERE adtl_error IS NULL
        |  UNION ALL
        |  SELECT '<total>', count(*) FROM rows_
        |) ORDER BY error""".stripMargin,
    "v_return_unmatched" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS okey,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
        |    ELSE o_orderstatus END AS status_name,
        |  CASE o_orderpriority WHEN '1-URGENT' THEN 'True' WHEN '2-HIGH' THEN '2.0'
        |    WHEN '3-MEDIUM' THEN '0' ELSE o_orderpriority END AS pri_mixed,
        |  CASE WHEN o_orderkey % 4 = 0 THEN 'not-a-date'
        |    ELSE strftime(o_orderdate, '%d/%m/%Y') END AS date_ru
        |FROM orders ORDER BY okey""".stripMargin,
    // the CSV round-trip: the parse oracle with every column rendered to
    // VARCHAR (CSV carries no types; DuckDB's shortest double render
    // matches the Java one at these magnitudes — no exponent range)
    "v_csv_sink" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS order_key,
        |  sha256(CAST(o_orderkey AS VARCHAR)) AS okey_hash,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' WHEN 'P' THEN 'pending' END AS status_name,
        |  CASE WHEN regexp_matches(o_orderpriority, '^(?:1-)', 'i') THEN o_orderpriority END AS urgent_pri,
        |  strftime(o_orderdate, '%d/%m/%Y') AS date_dmy,
        |  CAST(CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS VARCHAR) AS total_f
        |FROM orders ORDER BY order_key""".stripMargin,
    // the parquet round-trip is type-preserving: the parse oracle verbatim
    "v_parquet_sink" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS order_key,
        |  sha256(CAST(o_orderkey AS VARCHAR)) AS okey_hash,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' WHEN 'P' THEN 'pending' END AS status_name,
        |  CASE WHEN regexp_matches(o_orderpriority, '^(?:1-)', 'i') THEN o_orderpriority END AS urgent_pri,
        |  strftime(o_orderdate, '%d/%m/%Y') AS date_dmy,
        |  CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS total_f
        |FROM orders ORDER BY order_key""".stripMargin,
    // G1 re-derived in SQL: per string column, non-empty values; list
    // detection via bracket/comma EXISTS; elements = bracket-stripped,
    // comma-split, trimmed (non-list columns keep the value whole); common
    // values = the non-singleton values, kept only when the distinct count
    // is within the cap (25), rendered sorted. Numeric columns are typed by
    // schema, never profiled — constant rows, like the Spark side's dtype
    // branch.
    "g1_dict_infer" -> {
      def colCte(name: String, expr: String) =
        s"""${name}_vals AS (
           |  SELECT CAST($expr AS VARCHAR) AS v FROM documents
           |  WHERE $expr IS NOT NULL AND CAST($expr AS VARCHAR) <> ''),
           |${name}_islist AS (
           |  SELECT EXISTS(SELECT 1 FROM ${name}_vals
           |    WHERE v LIKE '%[%' OR v LIKE '%,%') AS b),
           |${name}_elems AS (
           |  SELECT unnest(CASE WHEN (SELECT b FROM ${name}_islist)
           |    THEN list_transform(
           |      string_split(regexp_replace(v, '^[\\[\\]]+|[\\[\\]]+$$', '', 'g'), ','),
           |      x -> trim(x))
           |    ELSE [v] END) AS v
           |  FROM ${name}_vals),
           |${name}_counts AS (SELECT v, count(*) AS c FROM ${name}_elems GROUP BY v),
           |${name}_row AS (
           |  SELECT CASE WHEN (SELECT b FROM ${name}_islist) THEN 'list' ELSE 'string' END AS ty,
           |    CASE WHEN (SELECT count(*) FROM ${name}_counts) BETWEEN 1 AND 25
           |      THEN COALESCE((SELECT string_agg(v, ', ' ORDER BY v)
           |                     FROM ${name}_counts WHERE c > 1), '')
           |      ELSE '' END AS cv)""".stripMargin
      s"""WITH
         |${colCte("t", "text")},
         |${colCte("l", "lang")},
         |${colCte("s", "source")},
         |${colCte("g", "concat('[', source, ', ', lang, ']')")}
         |SELECT * FROM (
         |  SELECT 'doc_id' AS source_field, 'number' AS source_type, '' AS common_values
         |  UNION ALL SELECT 'n_chars', 'number', ''
         |  UNION ALL SELECT 'text', ty, cv FROM t_row
         |  UNION ALL SELECT 'lang', ty, cv FROM l_row
         |  UNION ALL SELECT 'source', ty, cv FROM s_row
         |  UNION ALL SELECT 'tags', ty, cv FROM g_row)
         |ORDER BY source_field""".stripMargin
    })
}
