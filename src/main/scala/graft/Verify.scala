package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (local iteration
    // on one query without paying for all 58; the manifest is filtered to
    // match so the checker still sees a consistent universe)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    // all load-bearing confs (codegen-cache cap, shuffle partitions, UTC,
    // nanosAsLong) live in ONE factory — see GraftSession's scaladoc
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val root = Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).toSeq.last
        System.err.println(s"[verify] $name failed: " +
          s"${e.getClass.getName}: ${e.getMessage} " +
          s"(root cause ${root.getClass.getName})")
        // remove any stale output from a previous run into the same dir —
        // the checker must see a MISSING result, not silently pass old data
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/$name"), true)
      }
    }
    // manifest of every registered query, so the checker can flag queries
    // whose output is missing (failed) rather than only checking what exists
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted
        .mkString("[\"", "\",\"", "\"]"))
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
