package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** F2s: streaming per-rule marginals — the live twin of
  * [[graft.operators.QualityCascade.marginals]], completing the
  * at-ingest data-quality panel next to F1s: the cascade view says
  * which rule ATE a doc, the marginal view says which rules WOULD
  * drop it regardless of position — the number that decides whether
  * a rule still earns its slot as the stream's content shifts.
  *
  * Split at the batch operator's natural seam (the F1s convention):
  *
  *   - the per-doc rule evaluation is the batch predicate discipline
  *     verbatim (`!coalesce(pred, FALSE)` — NULL fails closed),
  *     row-local and stateless; each doc emits one key row per rule
  *     it FAILS plus one `nRules` row (the doc counter) — a
  *     config-sized fanout (<= nRules+1 per doc), not a shuffle
  *     amplifier;
  *   - [[counts]] (stateful): a streaming `count` aggregation — ONE
  *     LONG of state per key, key domain bounded by nRules+1 forever
  *     — the F1s state class. Counters are a commutative monoid: late
  *     or reordered docs fold EXACTLY at any depth, no watermark, no
  *     horizon;
  *   - the table is the batch [[graft.operators.QualityCascade
  *     .assembleMarginals]] tail SHARED over the compacted
  *     latest-emit snapshot, so parity holds by construction.
  */
object StreamingMarginals {

  final case class KeyRow(rule_no: Long)

  final case class KeyCount(rule_no: Long, c: Long)

  /** Adapter: a raw streaming document frame -> one KeyRow per failed
    * rule per doc, plus the per-doc `nRules` counter row (row-local,
    * stateless).
    */
  def failStream(df: DataFrame, idCol: String,
      rules: Seq[(String, Column)]): Dataset[KeyRow] = {
    require(rules.nonEmpty, "need at least one rule")
    val spark = df.sparkSession
    import spark.implicits._
    val fails = rules.zipWithIndex.map { case ((_, pred), i) =>
      when(!coalesce(pred, lit(false)), lit(i.toLong))
    }
    df.select(array_compact(array(
        (fails :+ lit(rules.length.toLong)): _*)).as("keys"))
      .select(explode(col("keys")).as("rule_no")).as[KeyRow]
  }

  /** Running count per key (Update mode, re-emitted on every touched
    * micro-batch) — one long of state per key, nRules+1 keys forever.
    */
  def counts(keys: Dataset[KeyRow]): Dataset[KeyCount] = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.groupBy(col("rule_no")).agg(count(lit(1)).as("c")).as[KeyCount]
  }

  /** The marginals table over a compacted (rule_no, c) snapshot — the
    * batch tail, shared code.
    */
  def table(snapshot: DataFrame, ruleNames: Seq[String]): DataFrame =
    graft.operators.QualityCascade.assembleMarginals(snapshot, ruleNames)
}
