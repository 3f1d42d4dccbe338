package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: only dump queries matching these name prefixes
    // (dev iteration; the driver always passes exactly two args)
    val only = args.drop(2)
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.startsWith) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // 132 queries share this JVM: drop the query's tracked op caches and
      // checkpoint blocks so later queries never run heap-squeezed
      graft.ops.Caches.drainAll(spark)
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
    // sidecar: every rows-only (no-oracle) query -> the named ScalaTests
    // that pin its values, so a non-oracle check is never "unverified"
    val pins = Queries.rowsOnlyPins.toSeq.sortBy(_._1)
      .map { case (k, ts) => s"${q(k)}: ${ts.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), pins)
    Files.writeString(Paths.get("target/rows_only.json"), pins)
    spark.stop()
  }
}
