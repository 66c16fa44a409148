package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names (builder-side dev use
    // only) restrict the dump to a subset; the driver always passes two args
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    // Subset runs write the oracle map to a DISTINCT file: filtering
    // oracle_sql.json itself would let a dev subset run pointed at a
    // previously-full outDir clobber the complete map while the other
    // queries' parquet dumps remain — a later driver compare over that dir
    // would silently lose coverage for the unfiltered queries.
    // ... and the converse order: a FULL run must remove any stale subset
    // file, or check_oracle.py (which prefers the subset when present)
    // would silently gate only the old subset against a fresh full dump.
    val oracleFile = if (only.isEmpty) "oracle_sql.json" else "oracle_sql.subset.json"
    if (only.isEmpty)
      Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.subset.json"))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
