package graft

/** Writes the executed physical plan of every gated query at bench
  * scale to one file (default /tmp/plandump.md) — the episodic half of
  * the plan review (PlanAuditSpec is the continuous half). Run:
  * `sbt "Test/runMain graft.PlanDump <out.md> <sf-dir>"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/plandump.md")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.local("32", "ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val bar = "=" * 72
      sb.append(s"$bar\n== $name\n$bar\n")
      // drive THIS queryExecution to completion, THEN dump: AQE
      // replans joins with runtime sizes and the isFinalPlan=true tree
      // is the one that actually ran — a pre-execution dump shows SMJs
      // that AQE demotes to broadcast at runtime (observed on
      // q_mad_anomaly/q_baseline_ewma). A noop-sink write would NOT
      // do: it executes a separate command plan, leaving this
      // DataFrame's own adaptive plan untouched.
      try {
        val df = fn(spark, dir)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)).append("\n")
      } catch { case e: Throwable =>
        sb.append(s"!! explain failed: ${e.getMessage}\n") }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out (${sb.length} chars)")
    spark.stop()
  }
}
