package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

import graft.functions.Moments

/** E3bs: streaming per-group moment matrices — the live twin of
  * [[graft.operators.Pca.momentsViaAggBy]] (E3b), completing the
  * batch/streaming pairing the drift family already has: the per-group
  * (n, Σx, Σx·xᵀ) state a PCA/anisotropy monitor reads continuously
  * instead of rescanning the corpus.
  *
  * It IS the batch aggregate, run as a Spark streaming aggregation:
  * `groupBy(grp).agg(Moments.matrix(vec, dim))`, whose partial buffer
  * — one Array[Long] of 1 + d(d+3) slots (count + d + d(d+1)/2
  * signed-128-bit cells, ~34 KB at d=64) — is the per-group state.
  * Because every cell is an exact integer sum, the fold is
  * ORDER-INDEPENDENT: any micro-batch split, arrival order, or
  * partitioning reproduces the identical buffer, so a streamed matrix
  * equals a batch-built matrix over the same rows TO THE LAST BIT
  * (spec-asserted). No watermark needed: state is bounded by
  * groups × d², never by rows, and "late" data is simply more data —
  * moments have no event-time window to violate.
  *
  * Each micro-batch emits the touched groups' refreshed matrix rows
  * (Update mode): the same (n, sx, sxy) triple the batch struct
  * carries, with the same scale-6 HALF_UP display rounding. The state
  * schema is the aggregate's buffer, so a checkpoint written by the
  * former `flatMapGroupsWithState` form cannot be restored.
  */
object StreamingMoments {

  final case class Vec(grp: String, vec: Seq[Double])

  final case class MomentsRow(grp: String, n: Long, sx: Seq[Double],
      sxy: Seq[Double])

  def moments(vecs: Dataset[Vec], dim: Int): Dataset[MomentsRow] = {
    require(dim > 0, s"dim=$dim (want > 0)")
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.groupBy(col("grp")).agg(Moments.matrix(col("vec"), dim).as("m"))
      .select(col("grp"), col("m.n"), col("m.sx"), col("m.sxy"))
      .as[MomentsRow]
  }
}
