package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver passes (sfDir, outDir); an optional third arg restricts to a
    // comma-separated query subset for fast local iteration
    val sfDir = args(0); val outDir = args(1)
    val only = args.lift(2).map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one clear diagnostic on testdata drift, up front — but keep going:
    // unaffected gates should still verify
    try Tables.assertContract(spark, sfDir)
    catch { case e: IllegalStateException =>
      System.err.println(s"[verify] TESTDATA CONTRACT: ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(500)
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
    // the oracle SQL covers the same subset, so the compare reports
    // only the gates that ran
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-contained artifact: gates that THREW (vs merely mismatching)
    // are listed here, so a missing result directory is never silent
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
