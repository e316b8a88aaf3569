package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** C8s: streaming decontamination scrubbing — the ingest-time twin of
  * [[graft.operators.Dedup.scrubContamination]]: every arriving
  * training document is checked against a STATIC eval corpus's
  * distinct n-gram set, and each affected doc emits ONE append row
  * with the same (n_tokens, removed_tokens, n_spans_removed,
  * keep_hash) verdict the batch pass would produce — so a corpus can
  * be scrubbed as it arrives instead of re-scanned nightly.
  *
  * Shape: positional gram hashes are computed IN-ROW (the batch
  * operator's exact combine ladder), then one stream-static equi-join
  * against the eval gram set — the small side by contract, broadcast
  * STRUCTURALLY (not left to stats), so exploded gram rows pipeline
  * through the join without a shuffle and stay contiguous per doc.
  * Hit rows then fold per-partition into ONE row per doc (positions
  * list + a single toks copy) BEFORE the per-doc regroup — the r13
  * shape carried the doc's full token array on EVERY hit row into the
  * shuffle and materialized them all at once in the group fold, so a
  * boilerplate-heavy doc cost O(hits x doc_len) shuffle/memory in one
  * task (ADVICE_r13); the combine makes the shuffle O(affected docs x
  * doc_len) and the fold streaming. Correctness never depends on the
  * contiguity: the combine emits one row per contiguous RUN, and the
  * group fold merges runs if a plan change ever splits one.
  *
  * The span merge runs in `flatMapGroupsWithState` with NoTimeout and
  * NO retained state — a doc's gram rows never span micro-batches
  * (explode preserves batch locality), so the group function is a
  * pure per-doc fold and the state store stays empty. Append mode,
  * unbounded-history safe.
  */
object StreamingDecontaminate {

  final case class Hit(doc_id: Long, pos: Int, toks: Seq[String])

  /** One contiguous per-partition run of a doc's hits: every hit
    * position, the token array exactly once.
    */
  final case class HitRun(doc_id: Long, positions: Seq[Int],
      toks: Seq[String])

  final case class Scrubbed(doc_id: Long, n_tokens: Long,
      removed_tokens: Long, n_spans_removed: Long, keep_hash: String)

  /** Scrub a stream of (`idCol`, `textCol`) docs against the static
    * `eval` corpus: one APPEND row per AFFECTED doc (>= 1 maximal
    * eval-overlapping span of `minSpanLen`+ tokens at `n`-grams),
    * bit-for-bit the batch operator's columns.
    */
  def scrub(stream: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int, minSpanLen: Int): Dataset[Scrubbed] = {
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen < n=$n: no span can be shorter than one gram")
    val spark = stream.sparkSession
    import spark.implicits._

    val evalSh = Dedup.shingleSets(eval, idCol, textCol, n)
      .select("sh").distinct()

    val grams = stream
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("toks", Dedup.tokens(col("__text")))
      .filter(size(col("toks")) >= n)
      .withColumn("th", Dedup.hashTokens(col("toks")))
      .select(col("doc_id"), col("toks"),
        posexplode(Dedup.gramHashes(col("th"), n)).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).cast("int").as("pos"),
        col("toks"), col("sh"))
    // evalSh is distinct on sh and each gram row carries one sh, so
    // this inner join is exactly a left-semi: at most one hit per
    // (doc, pos) — no in-row dedup needed downstream. broadcast() is
    // structural: an SMJ here would shuffle toks-carrying gram rows
    // AND break the per-doc contiguity the combine below exploits.
    val hits = grams.join(broadcast(evalSh), Seq("sh"))
      .select(col("doc_id"), col("pos"), col("toks"))

    // per-partition combine: fold each contiguous same-doc run into
    // one HitRun — one row at a time (never rows.toSeq over toks
    // copies), one toks copy per doc reaches the shuffle
    val runs = hits.as[Hit].mapPartitions { it =>
      new Iterator[HitRun] {
        private var pending: Option[Hit] = None
        def hasNext: Boolean = pending.nonEmpty || it.hasNext
        def next(): HitRun = {
          val first = pending.getOrElse(it.next())
          pending = None
          val positions = scala.collection.mutable.ArrayBuffer(first.pos)
          var done = false
          while (!done && it.hasNext) {
            val h = it.next()
            if (h.doc_id == first.doc_id) positions += h.pos
            else { pending = Some(h); done = true }
          }
          HitRun(first.doc_id, positions.toSeq, first.toks)
        }
      }
    }

    // the group function must close over plain locals only (ints), not
    // over this object or the method's DataFrame params — Spark
    // serializes the closure to executors
    val nGram = n
    val minLen = minSpanLen
    def emit(docId: Long, rows: Iterator[HitRun],
        state: GroupState[Boolean]): Iterator[Scrubbed] = {
      def md5Hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val hs = rows.toSeq // one element per run — ~1 per doc, tiny
      val toks = hs.head.toks
      val covered = hs.flatMap(_.positions)
        .flatMap(p => p until p + nGram).distinct.sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (tp <- covered) {
        if (spans.nonEmpty && tp == spans.last._1 + spans.last._2)
          spans(spans.length - 1) = (spans.last._1, spans.last._2 + 1)
        else spans += ((tp, 1))
      }
      val qual = spans.filter(_._2 >= minLen)
      if (qual.isEmpty) Iterator.empty
      else {
        val cov = qual.flatMap { case (s0, l) => s0 until s0 + l }.toSet
        val kept = toks.zipWithIndex.collect {
          case (t, i) if !cov.contains(i + 1) => t
        }
        Iterator(Scrubbed(docId, toks.length.toLong, cov.size.toLong,
          qual.length.toLong, md5Hex(kept.mkString(" "))))
      }
    }

    runs.groupByKey(_.doc_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(emit)
  }
}
