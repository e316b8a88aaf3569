package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** F1s: streaming quality-cascade attrition — the live twin of
  * [[graft.operators.QualityCascade.attrition]]: the per-rule
  * drop-count panel a curation ingest watches in real time ("rule 4
  * suddenly eats 40% of a source" is a data incident, not a tuning
  * question).
  *
  * Split at the batch operator's natural seam (the A57s convention):
  *
  *   - the VERDICT is the batch operator's row-local CASE chain
  *     verbatim ([[graft.operators.QualityCascade.verdicts]] applies
  *     unchanged to a streaming frame — stateless, no watermark);
  *   - [[counts]] (stateful): a streaming `count` aggregation — ONE
  *     LONG of state per verdict, a key domain bounded by nRules+1
  *     forever, the smallest state of any twin in the repo. Counts
  *     are a commutative monoid, so arrival order and micro-batch
  *     boundaries are invisible: late or reordered docs fold EXACTLY
  *     at any depth (no horizon, no n_late meter needed — there is
  *     nothing a late row can invalidate);
  *   - [[table]] (stateless): the batch assemble() tail SHARED —
  *     run downstream over the compacted latest-emit snapshot, so the
  *     reached/rate arithmetic is the same code object in both paths
  *     and parity holds by construction.
  */
object StreamingCascade {

  final case class VerdictRow(verdict: Long)

  final case class VerdictCount(verdict: Long, c: Long)

  /** Running count per verdict (Update mode, re-emitted on every
    * touched micro-batch).
    */
  def counts(verdicts: Dataset[VerdictRow]): Dataset[VerdictCount] = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    verdicts.groupBy(col("verdict")).agg(count(lit(1)).as("c"))
      .as[VerdictCount]
  }

  /** Adapter: a raw streaming document frame -> verdict rows via the
    * batch rule stack (row-local, stateless).
    */
  def verdictStream(df: DataFrame, idCol: String,
      rules: Seq[(String, Column)]): Dataset[VerdictRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.operators.QualityCascade.verdicts(df, idCol, rules)
      .select(col("verdict")).as[VerdictRow]
  }

  /** The attrition table over a compacted (verdict, c) snapshot —
    * the batch tail, shared code.
    */
  def table(snapshot: DataFrame, ruleNames: Seq[String]): DataFrame =
    graft.operators.QualityCascade.assemble(snapshot, ruleNames)
}
