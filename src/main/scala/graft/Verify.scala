package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: query filter for local iteration
    // (SparkEntry.selects, the same syntax as Bench's filter)
    val selected = args.lift(2).fold(SparkEntry.queries)(SparkEntry.selected)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
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
    // Fixture-backed oracles (q129's on-disk WAV parquet) embed the
    // dataset-dir NAME in their scan path via the __SF_NAME__ token;
    // substitute the actual dir here so the oracle is derived from the
    // same sfDir the Spark side wrote under — it can't silently go stale
    // when the driver verifies at a different scale factor.
    // Round-trip oracles (q72 and the like) name the dir their files were
    // written under with the __TARGET__ token; it gets the same path.
    val sfName = new java.io.File(sfDir).getName
    def bind(sql: String): String = sql
      .replace("__TARGET__", graft.queries.Fixtures.targetDir)
      .replace("__SF_NAME__", sfName)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(bind(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
