package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare.
  * `graft.Verify <sfDir> <outDir> [name…]`: with names, only those entries
  * run and the manifest holds only their oracle SQL, so the directory is
  * checkable by `tools/check_oracle.py` like a full one.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [name…]")
    val spark = Harness.session(defaultCpus = 4)
    try run(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  private[graft] def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      names: Seq[String],
      queries: Harness.Registry = SparkEntry.queries,
      oracleSql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    val selected = Harness.select(names, queries)
    new java.io.File(outDir).mkdirs()
    Harness.eachEntry(spark, "verify", selected) { name =>
      queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    val manifest =
      if (names.isEmpty) oracleSql
      else oracleSql.filter { case (k, _) => selected.contains(k) }
    val json = manifest
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle's SQL would otherwise make the checker's
  // json.load fail and silently zero the correctness gate.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
