package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** For expressions that carry lookup arrays (centroids, vocabularies,
  * filter words): plan text shows each array by its element type, length
  * and a hash of its contents (`int[500]:c1c14e7b`). An array's own
  * toString is its JVM identity hash (`[I@639ea347`), so the plan text of
  * one gate would differ on every run. */
trait DigestArrayArgs extends Expression {
  override protected def stringArgs: Iterator[Any] = super.stringArgs.map {
    case a: Array[_] =>
      f"${a.getClass.getComponentType.getSimpleName}[${a.length}]:" +
        f"${java.util.Arrays.deepHashCode(Array[AnyRef](a))}%08x"
    case other => other
  }
}
