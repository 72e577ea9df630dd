package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: extra args restrict the dump to the named queries
    // (the driver always calls with exactly two args → full dump)
    val only = args.drop(2).toSet
    val spark = graft.util.LocalSpark.session()
    // the oracle SQL is generated from the BUILT-IN corpus constants — a
    // prior install() in this JVM would silently invalidate every
    // extraction-facet oracle, so normalize before dumping
    graft.matching.Corpora.reset()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.queries))
    spark.stop()
  }

  /** The name → oracle SQL JSON object of every gated query. */
  def oracleJson(queries: Seq[SparkEntry.Query]): String = {
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
    queries.collect { case SparkEntry.Query(name, _, Some(sql)) => s"${q(name)}: ${q(sql)}" }
      .mkString("{", ",", "}")
  }
}
