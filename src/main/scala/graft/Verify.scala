package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (local iteration aid)
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // A failing query must surface as a RED row in the driver's correctness
    // artifact, not vanish (round 5 shipped 116 rows for 123 declared
    // queries and the misses were invisible): write an _ERROR.txt marker
    // where the result parquet would be — the driver's read fails loudly —
    // and collect every failure into errors.json beside oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    // written BEFORE any query runs: if the JVM dies mid-dump, the checker
    // still knows the full intended set and flags every vanished query
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      if (attempted.isEmpty) "[]" // mkString's delimiters would emit [""]
      else attempted.keys.toSeq.sorted.mkString("[\"", "\",\"", "\"]"))
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        errors(name) = msg.take(2000)
        System.err.println(s"[verify] $name failed: $msg")
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // leave ONLY the marker: a half-written parquet dir would read as a
        // (wrong) green result
        Option(d.listFiles()).foreach(_.filterNot(_.getName == "_ERROR.txt")
          .foreach(f => scala.reflect.io.Path(f).deleteRecursively()))
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg + "\n")
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
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // exit 0 even with failures: the driver must still run the DuckDB
    // compare — the per-query _ERROR.txt markers are what turn rows red
    spark.stop()
  }
}
