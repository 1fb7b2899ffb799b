package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent content digest of a result: row count plus a hash of
  * the sorted, canonically rendered rows. Floating values render to 12
  * significant digits. */
object Digest {

  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.11e"
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case o => o.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString(",").getBytes("UTF-8"))
    rows.iterator.map(cell).toArray.sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    s"${rows.length}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
