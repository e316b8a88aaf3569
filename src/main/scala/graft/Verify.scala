package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q_a,q_b runs just those queries (local
    // iteration); unset, the dump covers every query
    val only = Session.only()
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // determinism-sweep breadcrumb: hostile-axis runs (TZ, locale,
    // parallelism, codegen-off) inject conf via -D system properties —
    // echo the codegen axis so a sweep that silently failed to apply
    // can't masquerade as a passing sweep
    System.err.println("[verify] codegen.wholeStage=" +
      spark.conf.get("spark.sql.codegen.wholeStage", "true") +
      " factoryMode=" +
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK") +
      " vectorizedReader=" +
      spark.conf.get("spark.sql.parquet.enableVectorizedReader", "true") +
      " aqe=" + spark.conf.get("spark.sql.adaptive.enabled", "true"))
    new java.io.File(outDir).mkdirs()
    // a failed query is reported and the dump carries on; the closing
    // line names every failure so none can scroll past unnoticed
    val queries = Session.queries(only)
    val failed = queries.filterNot { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
    }.map(_._1)
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
    if (failed.nonEmpty)
      System.err.println(s"[verify] failed ${failed.size}/${queries.size}: " +
        failed.mkString(", "))
    spark.stop()
  }
}
