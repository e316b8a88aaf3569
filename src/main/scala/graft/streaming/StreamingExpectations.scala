package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** V1s: streaming data-contract audit — the live twin of
  * [[graft.operators.Expectations.audit]]: every arriving row is
  * checked against the same named expectation suite and the panel
  * reports running (n_checked, n_failed, fail_rate, pass) per
  * expectation — the at-ingest data-incident monitor ("expectation 3
  * started failing at 09:14" beats discovering it at the nightly
  * promote gate).
  *
  * Split at the batch operator's natural seam (the F1s/F2s
  * convention):
  *
  *   - row-level checks evaluate with the batch violation discipline
  *     verbatim (`!coalesce(pred, FALSE)` — NULL violates);
  *     referential checks become stream-static LEFT joins against the
  *     DISTINCT dimension keys (dimension-sized build sides, exactly
  *     the batch plan shape) with `__hit IS NULL` as the violation —
  *     all row-local/stateless, then each row emits one key row per
  *     VIOLATED expectation plus one row-counter key — a <= nExp+1
  *     config-sized fanout;
  *   - [[counts]] (stateful): a streaming `count` aggregation — ONE
  *     LONG of state per key, key domain bounded by nExp+1 forever.
  *     Counters are a commutative monoid: late or reordered rows fold
  *     EXACTLY at any depth, no watermark;
  *   - the report is the batch [[graft.operators.Expectations
  *     .assembleAudit]] tail SHARED over the compacted latest-emit
  *     snapshot — the fail_rate/pass semantics (including
  *     vacuous-pass-is-NULL) cannot drift between batch and stream.
  */
object StreamingExpectations {

  final case class KeyRow(exp_no: Long)

  final case class KeyCount(exp_no: Long, c: Long)

  /** Adapter: a raw streaming frame -> one KeyRow per violated
    * expectation per row, plus the row-counter key (= nExp). Checks
    * are ordered: row-level first, then referential, matching
    * [[expectationNames]].
    */
  def violationStream(df: DataFrame, checks: Seq[(String, Column)],
      refChecks: Seq[(String, String, DataFrame, String)] = Nil)
      : Dataset[KeyRow] = {
    require(checks.nonEmpty || refChecks.nonEmpty, "empty expectation suite")
    val names = expectationNames(checks, refChecks)
    require(names.distinct.size == names.size,
      s"duplicate expectation names in ${names.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    // chain one broadcast left join per referential check; each
    // attaches a __hit_i marker column the violation flag reads
    val withRefs = refChecks.zipWithIndex.foldLeft(df) {
      case (acc, ((_, fk, dim, dk), i)) =>
        acc.join(
          broadcast(dim.select(col(dk).as(s"__fk_$i")).distinct()
            .withColumn(s"__hit_$i", lit(1))),
          acc(fk) === col(s"__fk_$i"), "left")
          .drop(s"__fk_$i")
    }
    val rowFlags = checks.zipWithIndex.map { case ((_, pred), i) =>
      when(!coalesce(pred, lit(false)), lit(i.toLong))
    }
    val refFlags = refChecks.indices.map { i =>
      when(col(s"__hit_$i").isNull, lit((checks.length + i).toLong))
    }
    val total = lit((checks.length + refChecks.length).toLong)
    withRefs.select(array_compact(array(
        (rowFlags ++ refFlags :+ total): _*)).as("keys"))
      .select(explode(col("keys")).as("exp_no")).as[KeyRow]
  }

  /** The suite's expectation names in key order (row checks then
    * referential), shared by the snapshot-to-table adapter.
    */
  def expectationNames(checks: Seq[(String, Column)],
      refChecks: Seq[(String, String, DataFrame, String)]): Seq[String] =
    checks.map(_._1) ++ refChecks.map(_._1)

  /** Running count per key (Update mode) — one long of state per key,
    * nExp+1 keys forever.
    */
  def counts(keys: Dataset[KeyRow]): Dataset[KeyCount] = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.groupBy(col("exp_no")).agg(count(lit(1)).as("c")).as[KeyCount]
  }

  /** The audit report over a compacted (exp_no, c) snapshot: rebuild
    * the (expectation, n_checked, n_failed) frame the batch tail
    * expects (n_checked = the row-counter key's count for EVERY
    * expectation — both check kinds see every row, same as batch),
    * then run the SHARED [[graft.operators.Expectations
    * .assembleAudit]].
    */
  def table(snapshot: DataFrame, names: Seq[String]): DataFrame = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val nameRows = names.zipWithIndex.map { case (nm, i) => (i.toLong, nm) }
      .toDF("exp_no", "expectation")
    val nChecked = snapshot.filter(col("exp_no") === names.length.toLong)
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_checked"))
    graft.operators.Expectations.assembleAudit(
      nameRows
        .join(snapshot.filter(col("exp_no") < names.length.toLong),
          Seq("exp_no"), "left")
        .crossJoin(broadcast(nChecked))
        .select(col("expectation"), col("n_checked"),
          coalesce(col("c"), lit(0L)).as("n_failed")))
  }
}
