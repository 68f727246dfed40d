package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap

/** Minimal JSON / TOML / TSV writers for generated specs, schemas, ground
  * truth and the result line. Maps keep insertion order (use ListMap) so
  * the bytes written for a seed never depend on hash order. */
object Out {
  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < 0x20 || c > 0x7e => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** TOML inline value (strings, numbers, booleans, arrays, inline tables). */
  def toml(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + " = " + toml(x) }.mkString("{ ", ", ", " }")
    case s: Iterable[_] => s.map(toml).mkString("[", ", ", "]")
    case other => json(other)
  }

  /** A TOML document: `[section]` tables of inline key = value lines, and
    * `[[section]]` arrays of tables for list-valued sections. */
  def tomlDoc(sections: ListMap[String, Any]): String = {
    val b = new StringBuilder
    sections.foreach {
      case (name, entries: Seq[_]) =>
        entries.foreach { e =>
          b ++= s"[[$name]]\n"
          e.asInstanceOf[collection.Map[String, Any]].foreach { case (k, x) =>
            b ++= s"${quote(k)} = ${toml(x)}\n"
          }
          b ++= "\n"
        }
      case (name, m: collection.Map[_, _]) =>
        b ++= s"[$name]\n"
        m.foreach { case (k, x) => b ++= s"${quote(k.toString)} = ${toml(x)}\n" }
        b ++= "\n"
      case (name, other) =>
        throw new IllegalArgumentException(s"section $name must be a table or list: $other")
    }
    b.toString
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** key<TAB>value lines, sorted by key. */
  def writeTsv(p: Path, kv: collection.Map[String, String]): Unit =
    write(p, kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v\n" }.mkString)

  def readTsv(p: Path): Map[String, String] =
    new String(Files.readAllBytes(p), UTF_8).split("\n").filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** A CSV writer for generated inputs; cells never hold a comma, quote or
    * newline, so no quoting is needed. */
  final class Csv(p: Path, header: Seq[String]) extends AutoCloseable {
    Files.createDirectories(p.getParent)
    private val w = Files.newBufferedWriter(p, UTF_8)
    row(header)
    def row(cells: Seq[String]): Unit = {
      var i = 0
      while (i < cells.length) {
        if (i > 0) w.write(',')
        w.write(cells(i)); i += 1
      }
      w.write('\n')
    }
    def close(): Unit = w.close()
  }
}
