package graft.adtl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Spec.Raw

/** Compiles the JSON-schema subset adtl tables actually use — required,
  * type, enum, format:date, pattern, oneOf-with-discriminator — into Column
  * predicates that produce the `adtl_valid` / `adtl_error` annotation
  * columns (validation never drops rows; parser.py:736-757,
  * docs/specification.md:81-92). oneToMany `oneOf` lists are pre-expanded
  * per discriminator value at compile time (util.py:43-98) → a when-chain
  * dispatch, O(1) per row.
  */
object SchemaValidate {

  /** `messages`: every message `error` can take that is known at compile
    * time (distinct, schema order). `fallback`: whether `error` can also
    * take the data-dependent oneOf message "No validator found for
    * attribute '…' in table '…'", whose text carries the row's
    * discriminator value. */
  final case class Validation(valid: Column, error: Column,
      messages: Seq[String], fallback: Boolean)

  /** attr → its output Column (post-compilation), for property checks. */
  def compile(
      schema: Raw,
      discriminator: Option[String],
      isOneToMany: Boolean,
      tableName: String,
      attr: String => Column): Validation = {

    if (isOneToMany && discriminator.isDefined && hasOneOfProperties(schema)) {
      val disc = discriminator.get
      val generalProps = props(schema)
      val generalReq = required(schema)
      val options = schema.getOrElse("oneOf", Nil).asInstanceOf[List[Raw]]
      // per-discriminator-value validator dispatch
      val branches: List[(List[String], (Column, List[String]))] = options.map { sub =>
        val subProps = props(sub)
        val keys: List[String] = subProps.get(disc) match {
          case Some(p: Raw @unchecked) =>
            p.get("const").map(c => List(c.toString))
              .orElse(p.get("enum").map(_.asInstanceOf[List[_]].map(_.toString)))
              .getOrElse(Nil)
          case _ => Nil
        }
        val merged: Raw = Map(
          "properties" -> (generalProps ++ subProps),
          "required" -> (generalReq ++ required(sub)).distinct)
        keys -> firstError(merged, attr)
      }
      val messages = branches.collect {
        case (keys, (_, ms)) if keys.nonEmpty => ms
      }.flatten.distinct
      val discCol = attr(disc).cast("string")
      val err = branches.foldLeft(None: Option[Column]) { case (acc, (keys, (e, _))) =>
        if (keys.isEmpty) acc
        else {
          val cond = keys.map(k => discCol === k).reduce(_ || _)
          Some(acc match {
            case None => when(cond, e)
            case Some(w) => w.when(cond, e)
          })
        }
      }.map(_.otherwise(
          concat(lit(s"No validator found for attribute '"),
            coalesce(discCol, lit("None")), lit(s"' in table '$tableName'"))))
      err match {
        case Some(e) => Validation(e.isNull, e, messages, fallback = true)
        case None => validation(firstError(schema, attr))
      }
    } else validation(firstError(schema, attr))
  }

  private def validation(checked: (Column, List[String])): Validation = {
    val (err, messages) = checked
    Validation(err.isNull, err, messages.distinct, fallback = false)
  }

  private def props(s: Raw): Raw =
    s.getOrElse("properties", Map.empty[String, Any]).asInstanceOf[Raw]
  private def required(s: Raw): List[String] =
    s.getOrElse("required", Nil).asInstanceOf[List[_]].map(_.toString)

  private def hasOneOfProperties(schema: Raw): Boolean =
    schema.get("oneOf").exists(_.asInstanceOf[List[Raw]].exists(_.contains("properties")))

  /** First failing check's message, null when valid, plus every message
    * it can take. Check order mirrors the reference validator's practical
    * behavior: required first, then per-property enum/type/format/pattern
    * in schema order. */
  private def firstError(schema: Raw, attr: String => Column): (Column, List[String]) = {
    val reqd = required(schema)
    val properties = props(schema)
    val checks = scala.collection.mutable.ListBuffer[(Column, String)]()
    def check(failed: Column, msg: String): Unit = checks += (when(failed, msg) -> msg)

    if (reqd.nonEmpty) {
      val missing = reqd.map(r => attr(r).isNull)
      val anyMissing = missing.reduce(_ || _)
      val msg = s"data must contain ${reqd.map(r => s"'$r'").mkString("[", ", ", "]")} properties"
      check(anyMissing, msg)
    }

    properties.foreach { case (prop, spec0) =>
      val spec = spec0 match {
        case m: Raw @unchecked => m
        case _ => Map.empty[String, Any]
      }
      val c = attr(prop)
      val present = c.isNotNull

      spec.get("enum").foreach { e =>
        val allowed = e.asInstanceOf[List[_]]
        val strs = allowed.filter(_ != null).map(_.toString)
        val ok = c.cast("string").isin(strs: _*)
        val msg = s"data.$prop must be one of ${allowed.map(v => renderJson(v)).mkString("[", ", ", "]")}"
        check(present && !coalesce(ok, lit(false)), msg)
      }
      spec.get("type").foreach { t =>
        val types = t match {
          case s: String => List(s)
          case l: List[_] => l.map(_.toString)
          case _ => Nil
        }
        if (!types.contains("null") && types.nonEmpty) {
          val ok = types.map {
            case "string" => lit(true) // everything renders as a string
            case "integer" => try_cast(c.cast("string"), "bigint").isNotNull
            case "number" => try_cast(c.cast("string"), "double").isNotNull
            case "boolean" => c.cast("string").isin("true", "false", "True", "False")
            case "array" => lit(true)
            case _ => lit(true)
          }.reduce(_ || _)
          val msg = s"data.$prop must be ${types.mkString(" or ")}"
          check(present && !coalesce(ok, lit(false)), msg)
        }
      }
      spec.get("format").foreach {
        case "date" =>
          val ok = try_to_timestamp(c.cast("string"), lit("yyyy-MM-dd")).isNotNull
          check(present && !coalesce(ok, lit(false)), s"data.$prop must be date")
        case "date-time" =>
          val ok = try_to_timestamp(c.cast("string")).isNotNull
          check(present && !coalesce(ok, lit(false)), s"data.$prop must be date-time")
        case _ =>
      }
      spec.get("pattern").foreach { p =>
        val ok = c.cast("string").rlike(p.toString)
        check(present && !coalesce(ok, lit(false)),
          s"data.$prop must match pattern ${p.toString}")
      }
    }

    val err = if (checks.isEmpty) lit(null).cast("string") else coalesce(checks.map(_._1).toSeq: _*)
    (err, checks.map(_._2).toList)
  }

  private def renderJson(v: Any): String = v match {
    case s: String => s"'$s'"
    case null => "None"
    case b: Boolean => if (b) "True" else "False"
    case other => other.toString
  }
}
