package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeFormatter, CodeGenerator}
import org.apache.spark.sql.execution.{FormattedMode, WholeStageCodegenExec}

/** Dumps explain("formatted") for every SparkEntry query to a file —
  * the per-round plan-shape review artifact (pushdown present?
  * broadcasts chosen? codegen spans wide? shuffles keyed sensibly?) —
  * and audits whole-stage codegen: for each WholeStageCodegen stage it
  * prints one `[codegen]` line with the generated class's line count
  * and whether janino accepts it (the compile the executor would
  * attempt; a FAIL is a stage that silently runs interpreted). A
  * failing stage's source and plan go to /tmp/codegen_<query>_stage<i>.java.
  * SPARK_GRAFT_CONF="graft.materializer=lazy" dumps the full operator
  * pipeline where the eager checkpoint prints an opaque Scan ExistingRDD.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val only = Session.only()
    // AQE hides codegen ids in the pre-execution formatted plan and
    // wraps stages only at execution, so the static dump and the audit
    // run without it; runtime codegen per stage is identical either way
    val spark = Session.local("4", "ERROR",
      Seq("spark.sql.adaptive.enabled" -> "false"))
    val sb = new StringBuilder
    var stages, failures = 0
    Session.queries(only).foreach { case (name, fn) =>
      sb.append(s"\n${"=" * 72}\n== $name\n${"=" * 72}\n")
      try {
        val qe = fn(spark, sfDir).queryExecution
        sb.append(qe.explainString(FormattedMode))
        qe.executedPlan.collect { case w: WholeStageCodegenExec => w }
          .zipWithIndex.foreach { case (w, i) =>
            val (_, src) = w.doCodeGen()
            val status =
              try { CodeGenerator.compile(src); "OK" }
              catch { case NonFatal(e) =>
                "FAIL: " + e.getClass.getSimpleName + " " +
                  String.valueOf(e.getMessage).take(120)
              }
            val lines = src.body.count(_ == '\n')
            val root = w.child.getClass.getSimpleName
            println(f"[codegen] $name%-22s stage#$i%-3d lines=$lines%-6d root=$root%-28s $status")
            stages += 1
            if (status != "OK") {
              failures += 1
              val p = s"/tmp/codegen_${name}_stage$i.java"
              Files.writeString(Paths.get(p), CodeFormatter.format(src) +
                "\n\n/* PLAN:\n" + w.treeString + "\n*/\n")
              println(s"[codegen]   dumped $p")
            }
          }
      } catch {
        case NonFatal(e) =>
          sb.append(s"ERROR: ${e.getMessage}\n")
          println(s"[codegen] $name ERROR building plan: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[codegen] $stages stages, $failures FAIL")
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
