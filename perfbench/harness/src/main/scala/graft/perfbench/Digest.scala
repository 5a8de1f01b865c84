package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent digest of a query result: row count plus the sum
  * of every row's xxhash64 over all columns, summed exactly as a
  * decimal and printed modulo 2^64. Results with no oracle (rows-only
  * queries) are digested by row count alone. */
object Digest {
  def of(df: DataFrame, rowsOnly: Boolean): String =
    if (rowsOnly) s"rows=${df.count()}"
    else {
      val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
      val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
      val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
      f"rows=${r.getLong(0)},xx=${(total & ((BigInt(1) << 64) - 1)).toString(16)}"
    }
}

/** Reference digests: a JSON object of name -> digest string. */
object Ref {
  def load(path: Option[String]): Option[Map[String, String]] = path.map { p =>
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    Json.parseFlat(text)
  }

  /** Adds `digests` to the reference file at `path`, replacing entries
    * of the same name. */
  def save(path: String, digests: Map[String, String]): Unit = {
    val old = if (new java.io.File(path).exists) load(Some(path)).get else Map.empty[String, String]
    val all = scala.collection.immutable.TreeMap((old ++ digests).toSeq: _*)
    Main.writeLines(path, Seq(all.map { case (k, v) => Json.str(k) + ": " + Json.str(v) }
      .mkString("{\n  ", ",\n  ", "\n}")))
  }

  /** The reference with one entry deliberately wrong — the self-test's
    * proof that a mismatch is reported. */
  def plantWrong(ref: Map[String, String], key: String): Map[String, String] =
    ref.updated(key, ref.getOrElse(key, "") + "-planted")
}

/** Just enough JSON for the benchmark's own files. */
object Json {
  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parses a flat JSON object whose values are all strings. */
  def parseFlat(text: String): Map[String, String] = {
    val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    pair.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}
