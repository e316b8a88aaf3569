package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Materialization seam for multi-consumer index builds and iterative
  * frontiers (the dedup family's shingle/band/df-annotated indexes,
  * cluster label propagation). An index build IS a materialization;
  * the mode decides whether its rows are stored once or recomputed:
  *
  *   - `"local"` (default): eager `localCheckpoint` — executor-local
  *     blocks, no replication. Fastest locally and gives AQE exact
  *     sizes, but NOT fault-tolerant: lineage is truncated, so losing
  *     an executor (decommission, dynamic deallocation, spot kill)
  *     makes the job unrecoverable.
  *   - `"lazy"`: no materialization — every consumer recomputes the
  *     plan; correct but re-runs the upstream pipeline per consumer
  *     (measured 1.4-2x slower across the dedup family at sf0.1). Plan
  *     dumps use it: `explain()` shows whole pipelines instead of
  *     checkpoint leaves.
  *
  * Both modes truncate iteration frontiers the same way ([[eager]]).
  * Selected per session via the `graft.materializer` conf key.
  */
sealed trait Materializer {
  /** Materialize an index consumed by several downstream plans. */
  def apply(df: DataFrame): DataFrame

  /** Materialize an iteration frontier consumed immediately (cluster
    * propagation rounds): an eager local checkpoint truncates lineage
    * NOW so round N's plan never replays rounds 1..N-1. Every mode
    * does this — for a frontier, laziness is not a materialization
    * choice but an asymptotic bug: a fixpoint loop whose round-N plan
    * embeds round N-1's plan several times (star contraction's
    * gamma/largeMins both reference the frontier) grows the plan TREE
    * exponentially with the round count, and Catalyst walks trees,
    * not DAGs (r17 found exactly this: the M9 cluster query under the
    * lazy plan audit).
    */
  final def eager(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

object Materializer {

  val ConfKey = "graft.materializer"

  /** Eager executor-local checkpoint (see the trait doc for the trade). */
  object Local extends Materializer {
    def apply(df: DataFrame): DataFrame = eager(df)
  }

  /** No materialization for SHARED INDEXES — every consumer recomputes
    * (linear extra cost, the documented 1.4-2x).
    */
  object Lazy extends Materializer {
    def apply(df: DataFrame): DataFrame = df
  }

  /** Eager materialization + row count in ONE action (r17 opt): the
    * count rides the materializing job as an observed metric
    * (CollectMetrics), so iterative fixpoint loops stop paying a
    * separate count() job (plus its scheduling gap) every round.
    */
  def eagerCounted(mat: Materializer, df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    eagerObserved(mat, df, count(lit(1)))
  }

  /** [[Materializer.eager]] of `df`, plus the long aggregate `metric`
    * over its rows, observed on the materializing job (null reads 0).
    * Exactness guard: if the action does not surface the metric (no
    * SQL-execution event within 30 s), evaluate `metric` over the
    * already-materialized frame instead — same value either way, the
    * observation is purely a job saver.
    */
  private[graft] def eagerObserved(mat: Materializer, df: DataFrame,
      metric: Column): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = mat.eager(df.observe(obs, metric.as("__m")))
    val v = try {
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.duration.DurationInt
      // blocking{}: Observation.get parks until the action's SQL
      // execution ends; without the marker an action that never fires
      // CollectMetrics would pin one global-EC pool thread per timeout
      // FOREVER (ADVICE r17) — blocking{} makes the pool spawn a
      // compensating thread, so an abandoned waiter degrades to one
      // parked daemon thread, never pool starvation.
      Await.result(
        Future(blocking(obs.get))(scala.concurrent.ExecutionContext.global),
        30.seconds)("__m")
    } catch {
      case _: java.util.concurrent.TimeoutException => cp.agg(metric).head().get(0)
    }
    (cp, if (v == null) 0L else v.asInstanceOf[Long])
  }

  /** The session's configured strategy (`graft.materializer`). */
  def of(spark: SparkSession): Materializer =
    spark.conf.get(ConfKey, "local") match {
      case "local" => Local
      case "lazy"  => Lazy
      case other => throw new IllegalArgumentException(
        s"$ConfKey=$other (want local | lazy)")
    }
}
