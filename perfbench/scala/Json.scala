package perfbench

/** Minimal JSON writer for the result line and the trace file. */
object Json {

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case ms: Seq[_] if ms.forall(_.isInstanceOf[(_, _, _)]) =>
      ms.map { case (n: String, x: Double, u: String) => s"${str(n)}: {\"value\": ${num(x)}, \"unit\": ${str(u)}}" }
        .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case x => str(x.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def writeTrace(path: String, spans: Seq[Span], perLayer: Seq[(String, Double, String)]): Unit = {
    val ss = spans.map(s =>
      obj(
        "id" -> s.id, "parent" -> s.parent, "iteration" -> s.iteration, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "trace_only" -> s.traceOnly
      )
    )
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      s"{\"per_layer\": ${value(perLayer)}, \"spans\": ${ss.mkString("[", ",\n", "]")}}\n"
    )
  }
}
