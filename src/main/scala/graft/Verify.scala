package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: the result of each SparkEntry slot that has an oracle
  * → parquet, plus oracle_sql.json, for the DuckDB compare
  * (tools/compare_oracle.py).
  *
  * Failure honesty: a query that throws leaves an explicit
  * `<name>.error.txt` marker and an entry in `errors.json` — broken queries
  * must never silently vanish from the correctness report.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated name-prefix filter (dev use only;
    // the driver always runs the full set)
    val filter: String => Boolean = if (args.length > 2) {
      val prefixes = args(2).split(",").toSeq
      name => prefixes.exists(name.startsWith)
    } else _ => true
    val spark = MainSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val checked = SparkEntry.slots.filter(_.oracle.isDefined).sortBy(_.name)
    checked.filter(slot => filter(slot.name)).foreach { slot =>
      val name = slot.name
      val t0 = System.nanoTime()
      try {
        slot.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        errors(name) = msg
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        Files.writeString(Paths.get(s"$outDir/$name.error.txt"), sw.toString)
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val json = checked
      .map(slot => s"${q(slot.name)}: ${q(slot.oracle.get)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED queries: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
