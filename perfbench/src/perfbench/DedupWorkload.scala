package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** The data-curation pair tier: six dedup / entity-resolution queries over
  * the documents corpus, run in a fixed cycle. One op is one
  * `SparkEntry.queries(k)` call (which may run eager checkpoint jobs while
  * it builds) written to the noop sink. The corpus is the sf0.1 documents
  * table, rewritten per seed in a permuted row order across several files;
  * every query's result must not depend on that order.
  */
final class DedupWorkload(spark: SparkSession, seed: Long, dataDir: File) extends Workload {
  val files = 4
  // one op per query: the timed ops are whole cycles, each query once per cycle
  override def minOps: Int = DedupWorkload.cycle.size
  override def opMultiple: Int = DedupWorkload.cycle.size
  private var dir: File = _
  private var docRows = 0L

  def generate(d: File): Unit = {
    dir = d
    Gen.permutedDocuments(spark, new File(dataDir, "documents.parquet").getPath, seed, files, d)
    docRows = spark.read.parquet(new File(d, "documents.parquet").getPath).count()
  }

  def sizes: Seq[(String, Any)] = Seq("rows" -> docRows, "files" -> files,
    "bytes" -> Gen.bytesUnder(dir), "queries" -> DedupWorkload.cycle.mkString(","))

  /** The warm-up (op 0) runs the cheapest query, the last of the cycle;
    * timed ops then run the cycle in order from its start.
    */
  def query(index: Int): String =
    DedupWorkload.cycle((index + DedupWorkload.cycle.size - 1) % DedupWorkload.cycle.size)

  def op(index: Int, rec: Recorder): OpOut = {
    val q = query(index)
    rec.phase("sources.load")(Tables.load(spark, dir.getPath, "documents"))
    val df = rec.phase("operators.build")(SparkEntry.queries(q)(spark, dir.getPath))
    val observed = Digest.observe(df)
    if (rec.tracing) rec.phase("plans.plan")(observed.df.queryExecution.executedPlan)
    rec.phase("operators.exec")(Workload.sink(observed.df))
    val d = observed.result()
    OpOut(docRows, Some(d), d.rows)
  }

  def check(outs: Seq[(Int, OpOut)]): Seq[Boolean] = outs.map { case (i, o) =>
    val want = DedupWorkload.expected(query(i))
    val ok = o.digest.contains(want)
    if (!ok) Console.err.println(s"[perfbench] dedup op $i (${query(i)}): got ${o.digest.orNull}, want $want")
    ok
  }
}

object DedupWorkload {
  val cycle: Seq[String] = Seq("q_dedup_ngram", "q_dedup_recall", "q_er_match",
    "q_dedup_minhash", "q_simhash_recall", "q_dup_substrings")

  /** Result digests of the six queries on the sf0.1 documents corpus,
    * pinned from the tree whose results the DuckDB oracle verified. They
    * hold for every row order of the corpus.
    */
  val expected: Map[String, Digest] = Map(
    "q_dedup_ngram" -> Digest("struct<doc_a:bigint,doc_b:bigint,shared:bigint,n_a:bigint,n_b:bigint,jaccard:double>",
      6024L, -1874301740549816029L, 3104205278397320027L),
    "q_dedup_recall" -> Digest("struct<bucket:bigint,n_true:bigint,n_hit:bigint,recall:double>",
      3L, 9018582061171796273L, -531546472984033591L),
    "q_er_match" -> Digest("struct<left_id:bigint,right_id:bigint,shared:bigint,n_l:bigint,n_r:bigint,jaccard:double>",
      862L, 128191019517023453L, 14357656506873769L),
    "q_dedup_minhash" -> Digest("struct<doc_a:bigint,doc_b:bigint,shared:bigint,n_a:bigint,n_b:bigint,jaccard:double>",
      6020L, 6332938045576814910L, -5977224329849762446L),
    "q_simhash_recall" -> Digest("struct<hamming:bigint,n_true:bigint,n_hit:bigint,recall:double>",
      4L, 874792041234982169L, 8463640109583841457L),
    "q_dup_substrings" -> Digest("struct<span_len:bigint,n_spans:bigint,n_docs:bigint,n_substrings:bigint>",
      86L, -4710495606891048659L, 2104561416135718379L))
}
