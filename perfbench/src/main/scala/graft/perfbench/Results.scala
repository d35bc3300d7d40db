package graft.perfbench

import org.apache.spark.sql.Row

/** Order-independent comparisons of query results.
  *
  * A row renders to a canonical string: doubles and floats at 6
  * significant digits (summation order differs between plans and runs),
  * arrays and structs recursively, nulls as a marker. Two results are
  * compared as multisets: rows are paired after sorting by that string. */
object Results {

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.6g".format(d)
    case f: Float => canon(f.toDouble)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case o => o.toString
  }

  /** Value equality with a relative tolerance on floating values, for
    * results of the same query through two plans. */
  def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) => sameValue(x.toDouble, y.toDouble)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => sameValue(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => sameValue(p, q) }
    case (x, y) => x == y
  }

  /** Same multiset of rows, up to float tolerance. Rows are paired
    * after sorting both sides by their canonical strings. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.sortBy(canon).zip(b.sortBy(canon)).forall {
      case (x, y) => sameValue(x, y)
    }
}
