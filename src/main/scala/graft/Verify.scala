package graft
import graft.operators.Sessions
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/compare.py).
  *
  * A key that throws does not stop the run: every other key is still
  * written. After them, failures.json maps each failed key to its error
  * message (`{}` when none failed), and the process exits 1 if any key
  * failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes to run (local
    // iteration aid; the driver always passes exactly two args → full run)
    val (sfDir, outDir, prefixes) = args match {
      case Array(s, o)    => (s, o, Nil)
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
    }
    val names = SparkEntry.select(prefixes)
    val spark = Sessions.local(Sessions.envCpus)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    val failures = names.flatMap { name =>
      try {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
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
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} key(s) failed: " +
        failures.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
