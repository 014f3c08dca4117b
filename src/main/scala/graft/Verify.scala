package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.registry entry's result → parquet,
  * plus oracle_sql.json, for a DuckDB compare (tools/check.py). */
object Verify {
  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in hand-written oracle SQL would otherwise
    * make a JSON reader reject the whole oracle_sql.json, and exception
    * messages span lines.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional third arg (local iteration only — the driver passes two):
    // comma-separated query names; restricts both the dump and the
    // oracle_sql.json so tools/check.py compares just that subset
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val entries = SparkEntry.registry.filter(kv => only.forall(_.contains(kv._1)))
    val spark = GraftSession.local("WARN")
    new java.io.File(outDir).mkdirs()
    entries.foreach { case (name, entry) =>
      try entry.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Throwable.toString: the class name, then the message if any
        System.err.println(s"[verify] $name failed: $e")
      }
    }
    val json = entries.collect { case (k, SparkEntry.Entry(_, Some(sql))) =>
      s"${jsonStr(k)}: ${jsonStr(sql)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
