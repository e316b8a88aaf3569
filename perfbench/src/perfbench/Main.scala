package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result file (see `run.py`, which
  * builds this program, launches it and prints the result).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <n> --work <dir> --data <dir> --out <file>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File, data: File, out: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      new File(need("work")), new File(need("data")), new File(need("out")))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(o.cores, o.work)
    val rec = new Recorder(o.trace, spark)
    val sessionS = (rec.now() - jvmStart) / 1000
    def note(what: String): Unit =
      Console.err.println(f"[perfbench] ${(rec.now() - jvmStart) / 1000}%.2f s: $what")
    note("session started")
    val wl = Workload.create(o.workload, spark, o.seed, o.data)
    try {
      // set-up: input generation three times into fresh directories (the
      // median counts; the last copy is used), then start and one warm-up op
      val genS = (1 to 3).map { k =>
        val d = new File(o.work, s"input-$k")
        val t = rec.now()
        wl.generate(d)
        (rec.now() - t) / 1000
      }
      note("inputs generated")
      val t0 = rec.now()
      wl.start()
      wl.prepare(0)
      wl.op(0, rec)
      var i = 1
      val setupS = sessionS + Stats.median(genS) + (rec.now() - t0) / 1000
      rec.spans.clear()
      note("warmed up")

      // measured phase: closed loop, one client thread
      val outs = ArrayBuffer.empty[(Int, OpOut)]
      val gc0 = rec.gcMs()
      val start = rec.now()
      while ((rec.now() - start) / 1000 < o.seconds || outs.size < wl.minOps ||
          outs.size % wl.opMultiple != 0) {
        wl.prepare(i)
        val out = try rec.op(i)(wl.op(i, rec))._1 catch {
          case NonFatal(e) =>
            Console.err.println(s"[perfbench] op $i threw: $e")
            OpOut(0L, None, 0L, threw = true)
        }
        outs += i -> out
        i += 1
      }
      val measuredS = (rec.now() - start) / 1000
      val gcS = (rec.gcMs() - gc0) / 1000.0
      val ops = rec.opSpans
      note("measured")
      val oks = wl.check(outs.toSeq)
      note("checked")
      val failed = outs.zip(oks).count { case ((_, out), ok) => out.threw || !ok }
      val lat = ops.map(_.ms / 1000)
      val tail = Stats.tail(lat).getOrElse(Stats.Tail(lat.max, 100.0, lat.size))
      val e2e = Seq(
        "setup_s" -> (setupS, "s"),
        "op_p50_s" -> (Stats.median(lat), "s"),
        "op_tail_s" -> (tail.value, "s"),
        "rows_per_s" -> (outs.map(_._2.inputRows).sum / measuredS, "rows/s"),
        "failed_frac" -> (failed.toDouble / outs.size, "ratio"),
        "peak_rss_mb" -> (peakRssMb(), "MB"))
      val info = ArrayBuffer[(String, Any)](
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
        "warmup_ops" -> outs.head._1, "ops" -> outs.size, "measured_s" -> measuredS,
        "op_tail_percentile" -> tail.percentile, "op_tail_samples" -> tail.samples,
        "session_s" -> sessionS, "generate_s" -> genS, "gc_s" -> gcS,
        "op_latencies_s" -> lat)
      info ++= wl.sizes.map { case (k, v) => s"input.$k" -> v }

      val layers = if (o.trace) layerMetrics(wl, rec, ops, outs.toSeq, o.cores, gcS) else Nil
      val result = Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> outs.size,
        "failed" -> failed,
        "end_to_end" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
        "per_layer" -> Json.obj(layers.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
        "info" -> Json.obj(info.toSeq),
        "spans" -> (if (o.trace) Json.arr(rec.spans.toSeq.map(spanJson)) else Json.arr(Nil)),
        "span_summary" -> (if (o.trace) Json.arr(Spans.summary(rec.spans.toSeq).map {
          case (n, total, self, count) => Json.obj(Seq("name" -> n, "total_ms" -> total,
            "self_ms" -> self, "count" -> count))
        }) else Json.arr(Nil))))
      note("result ready")
      o.out.getParentFile.mkdirs()
      val w = new PrintWriter(o.out, "UTF-8")
      try w.println(result) finally w.close()
    } finally {
      wl.close()
      spark.stop()
      note("stopped")
    }
  }

  private def spanJson(s: Span): Json.Raw = Json.obj(Seq("id" -> s.id, "op" -> s.op,
    "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end))

  /** Per-layer metrics of a traced run, each a median per op unless noted. */
  def layerMetrics(wl: Workload, rec: Recorder, ops: Seq[Span], outs: Seq[(Int, OpOut)],
      cores: Int, gcS: Double): Seq[(String, (Double, String))] = {
    val l = rec.listener.get
    l.drain()
    val extra = wl.layerMetrics(ops, rec)
    val all = Spans.withEngine(rec.spans.toSeq, l, rec.spans.map(_.id).maxOption.getOrElse(0) + 1)
    rec.spans.clear()
    rec.spans ++= all
    val (jobs, tasks) = l.synchronized((l.jobs.toList, l.tasks.toList))
    def phase(op: Span, name: String) = all.find(s => s.op == op.op && s.name == name)
    def within(t: Double, s: Span) = t >= s.start - 1 && t <= s.end + 1
    def med(f: Span => Double): Double = Stats.median(ops.map(f))
    def medPhase(name: String) = med(o => phase(o, name).map(_.ms / 1000).getOrElse(0.0))
    def jobsIn(s: Span) = jobs.filter(j => within(j.start.toDouble, s))
    def tasksOf(op: Span) = tasks.filter(t => within(t.launch.toDouble, op))
    def taskSum(f: EngineListener#Task => Double) = med(o => tasksOf(o).map(f).sum)
    val readStages = tasks.groupBy(_.stage).filter(_._2.exists(_.inputRows > 0)).keySet
    val resultRows = outs.map(_._2.resultRows.toDouble)
    Seq(
      "sources.load_s" -> (medPhase("sources.load"), "s"),
      "sources.input_rows" -> (taskSum(_.inputRows.toDouble), "count"),
      "sources.input_bytes" -> (taskSum(_.inputBytes.toDouble), "bytes"),
      "sources.scan_task_s" -> (taskSum(t => if (readStages(t.stage)) t.runMs / 1000.0 else 0.0), "s"),
      "functions.ip_chain_ns_per_row" -> (extra.getOrElse("functions.ip_chain_ns_per_row", 0.0), "ns/row"),
      "operators.build_s" -> (medPhase("operators.build"), "s"),
      "operators.build_jobs" -> (med(o => phase(o, "operators.build").map(jobsIn(_).size.toDouble).getOrElse(0.0)), "count"),
      "operators.exec_s" -> (medPhase("operators.exec"), "s"),
      "operators.jobs" -> (med(o => jobsIn(o).size.toDouble), "count"),
      "operators.stages" -> (med(o => tasksOf(o).map(_.stage).distinct.size.toDouble), "count"),
      "operators.tasks" -> (med(o => tasksOf(o).size.toDouble), "count"),
      "operators.task_s" -> (taskSum(_.runMs / 1000.0), "s"),
      "operators.cpu_busy_frac" -> (med(o => tasksOf(o).map(_.runMs.toDouble).sum / (o.ms * cores)), "ratio"),
      "operators.shuffle_write_bytes" -> (taskSum(_.shuffleWriteBytes.toDouble), "bytes"),
      "operators.shuffle_read_bytes" -> (taskSum(_.shuffleReadBytes.toDouble), "bytes"),
      "operators.shuffle_records" -> (taskSum(_.shuffleRecords.toDouble), "count"),
      "operators.spill_bytes" -> (taskSum(_.spillBytes.toDouble), "bytes"),
      "operators.task_skew" -> (med(o => Stats.skew(tasksOf(o).groupBy(_.stage).values.toSeq
        .map(_.map(_.runMs.toDouble)))), "ratio"),
      "operators.gc_s" -> (gcS / ops.size, "s"),
      "operators.result_rows" -> (Stats.median(resultRows), "count"),
      "plans.plan_s" -> (medPhase("plans.plan"), "s")) ++
      Seq("streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
        "streaming.planning_ms" -> "ms", "streaming.commit_ms" -> "ms",
        "streaming.triggers_per_op" -> "count", "streaming.state_rows" -> "count",
        "streaming.state_bytes" -> "bytes", "streaming.rows_dropped_by_watermark" -> "count",
        "streaming.actions_per_op" -> "count").map { case (k, u) => k -> (extra.getOrElse(k, 0.0), u) }
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(value(xs))
}
