package graftbench

import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the run result, and a reader for the pinned
  * fingerprints file (`expected.json`, written by `dump` + crosscheck.py). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case p: Product => write(p.productElementNames.zip(p.productIterator).toSeq
      .foldLeft(scala.collection.immutable.ListMap.empty[String, Any])(_ + _))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** query -> (fingerprint, rows) from the pinned file. */
  def readExpected(path: String): Map[String, (String, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    val it = root.fields()
    val out = Map.newBuilder[String, (String, Long)]
    while (it.hasNext) {
      val e = it.next()
      out += e.getKey -> (e.getValue.get("fingerprint").asText,
        e.getValue.get("rows").asLong)
    }
    out.result()
  }
}
