package perfbench

import java.nio.file.{Files, Paths}

/** Engine counters over the timed spans, per round. */
object Engine {
  def record(r: Run, t: Trace, timed: String => Boolean, rounds: Int): Unit = {
    def per(k: String) = t.total(k, timed) / rounds
    r.layers("spark.jobs") = per("jobs")
    r.layers("spark.tasks") = per("tasks")
    r.layers("spark.shuffle_mb") = per("shuffle_bytes") / 1048576.0
    r.layers("spark.spill_mb") = per("spill_bytes") / 1048576.0
    r.layers("spark.broadcast_mb") = per("broadcast_bytes") / 1048576.0
    r.layers("spark.smj") = per("smj")
    r.layers("spark.bhj") = per("bhj")
  }
}

/** The DuckDB twins, written as JSON for the checker. */
object Oracle {
  def write(path: String, sql: collection.Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path),
      sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}
