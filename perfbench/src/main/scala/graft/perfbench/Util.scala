package graft.perfbench

object Util {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** VmHWM of this process: its peak resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** The numeric fields of the generator's flat sizes.json. */
  def readSizes(path: String): Map[String, Double] = {
    val s = scala.io.Source.fromFile(path)
    try "\"(\\w+)\":\\s*([0-9.]+)".r.findAllMatchIn(s.mkString)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    finally s.close()
  }

  /** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case o: Option[_] => o.map(json).getOrElse("null")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
