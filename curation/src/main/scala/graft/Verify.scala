package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Arg-order guard: sfDir must hold the canonical tables, and outDir
    // must NOT — a swapped invocation would otherwise spray query-result
    // dirs into the read-only testdata tree before any query even fails.
    require(Files.exists(Paths.get(sfDir, "lineitem.parquet")),
      s"sfDir '$sfDir' has no lineitem.parquet — args are (sfDir, outDir)")
    require(!Files.exists(Paths.get(outDir, "lineitem.parquet")),
      s"outDir '$outDir' looks like a data dir — args are (sfDir, outDir)")
    // optional 3rd arg: comma-separated query-name filter for fast local
    // single-query oracle checks (the driver always passes exactly 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A thrown query must stay VISIBLE in the artifacts: write the failure
    // into the query's output dir (plus a run-level errors.json) so the
    // driver compare reports an err row instead of silently omitting it —
    // r4's 13 broken queries were invisible because the catch only logged.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        Files.writeString(d.resolve("_error.txt"), msg + "\n")
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
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
