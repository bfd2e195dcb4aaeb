package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter for local iteration
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Sessions.local(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // deliberately Throwable, not NonFatal: an OOM/LinkageError on one
        // key must still leave its red _ERROR row AND let the remaining
        // keys dump — correctness reporting beats fail-fast here
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // loud failure: leave an _ERROR sentinel (and no parquet part
        // files) so the driver reports a red `err` row for this key
        // instead of silently dropping it from CORRECTNESS — round 6
        // lost 12 green queries to a swallowed analysis exception here
        val d = Paths.get(outDir, name)
        try {
          Files.createDirectories(d)
          d.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
            .foreach(_.delete())
          Files.writeString(d.resolve("_ERROR"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
        } catch {
          // best-effort sentinel write only — the per-key failure is
          // already on stderr; a second failure here (read-only outDir)
          // must not abort the remaining keys' dumps
          case scala.util.control.NonFatal(_) => ()
        }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
