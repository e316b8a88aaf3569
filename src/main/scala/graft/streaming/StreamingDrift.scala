package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Rounding
import graft.operators.Drift

/** Streaming twin of Drift.psi (C3): PSI of a LIVE stream against a
  * static reference profile — the drift alarm a serving pipeline runs
  * between nightly batch audits, from the same bin/smoothing
  * definitions as the batch operator (zero train/serve drift; the
  * parity spec replays a corpus through both paths and the round-6
  * PSI values must agree exactly).
  *
  * The reference profile (per-group [min, max] + bin counts) is
  * computed once from the reference corpus and broadcast into the
  * update function — groups x nBins longs, the same config-sized
  * footprint as the stream-vs-static anomaly profile
  * (StreamingAnomaly). Per-group state is the current side's nBins
  * counters — bounded forever, no watermark needed; each micro-batch
  * emits the group's refreshed PSI (Update mode).
  */
// Serializable: the state-update closure calls psiOf, so the lambda
// captures this object and ships it into the stateful operator's tasks
object StreamingDrift extends Serializable {

  final case class Valued(grp: String, v: Double)

  final case class RefProfile(grp: String, mn: Double, mx: Double,
      bins: Array[Long])

  final case class PsiRow(grp: String, nCur: Long, psi: Double)

  /** Build the broadcastable reference profile from a batch frame —
    * the SAME bin expression as Drift.psi (clamped reference-range
    * equi-width), collected per group. Bounded by construction:
    * groups are an enumerable dimension x nBins longs.
    */
  def referenceProfile(ref: DataFrame, groupCol: String, valueCol: String,
      nBins: Int): Map[String, RefProfile] = {
    val g = col(groupCol)
    val v = col(valueCol)
    // double-cast stats so the collected profile reads uniformly
    // whatever the value column's numeric type (ints are exact in
    // double); the bin expression is THE batch definition
    // (Drift.refBin) — one clamping convention, zero copies
    val stats = ref.select(g, v).filter(v.isNotNull)
      .groupBy(g).agg(min(v).cast("double").as("__mn"),
        max(v).cast("double").as("__mx"))
    val bin = graft.operators.Drift.refBin(
      v, col("__mn"), col("__mx"), nBins)
    ref.select(g, v).filter(v.isNotNull)
      .join(broadcast(stats), groupCol)
      .select(g.as("grp"), col("__mn"), col("__mx"), bin.as("__b"))
      .groupBy(col("grp"), col("__mn"), col("__mx"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (grp, rows) =>
        val bins = new Array[Long](nBins)
        rows.foreach(r => bins(r.getInt(3)) = r.getLong(4))
        grp -> RefProfile(grp, rows.head.getDouble(1), rows.head.getDouble(2),
          bins)
      }
  }

  /** The identical smoothed-PSI fold as Drift.psi, accumulated in bin
    * order (the batch side sums an ordered window frame left to right
    * — same order, same IEEE result, asserted in the spec).
    */
  private[streaming] def psiOf(cRef: Array[Long], cCur: Array[Long],
      alpha: Double): Double = {
    val nBins = cRef.length
    val nRef = cRef.sum
    val nCur = cCur.sum
    var acc = 0.0
    var i = 0
    while (i < nBins) {
      // a bin empty on BOTH sides has no row in the batch operator's
      // merged frame (full-outer of two count tables) and contributes
      // nothing there — skip it here too, or the smoothed p != q term
      // of an absent bin would break round-6 parity when n_ref != n_cur
      if (cRef(i) != 0L || cCur(i) != 0L) {
        val p = (cRef(i) + alpha) / (nRef + alpha * nBins)
        val q = (cCur(i) + alpha) / (nCur + alpha * nBins)
        acc += (p - q) * math.log(p / q)
      }
      i += 1
    }
    Rounding.round6(acc)
  }

  final case class KsRow(grp: String, nCur: Long, dNum: Long, ks: Double)

  /** Streaming BINNED KS vs the static reference profile — the same
    * bounded bin-count state as [[psiVsReference]], emitting the
    * all-integer binned-KS distance of Drift.ksBinnedSplit: over the
    * same corpus the streamed (nCur, dNum, ks) equal the batch
    * operator's row exactly (spec-pinned).
    */
  def ksVsReference(stream: Dataset[Valued], ref: Map[String, RefProfile],
      nBins: Int): Dataset[KsRow] = {
    require(nBins > 0, s"nBins=$nBins")
    require(ref.values.forall(_.bins.length == nBins),
      "reference profile bin count != nBins")
    val spark = stream.sparkSession
    import spark.implicits._

    def update(grp: String, it: Iterator[Valued],
        state: GroupState[Array[Long]]): Iterator[KsRow] =
      ref.get(grp) match {
        case None => Iterator.empty
        case Some(profile) =>
          val cur = state.getOption.getOrElse(new Array[Long](nBins))
          it.foreach { r =>
            cur(graft.operators.Drift.refBinScalar(
              r.v, profile.mn, profile.mx, nBins)) += 1
          }
          state.update(cur)
          val nRef = profile.bins.sum
          val nCur = cur.sum
          var cumR = 0L
          var cumC = 0L
          var dNum = 0L
          var i = 0
          while (i < nBins) {
            cumR += profile.bins(i)
            cumC += cur(i)
            val d = math.abs(cumR * nCur - cumC * nRef)
            if (d > dNum) dNum = d
            i += 1
          }
          Iterator.single(
            KsRow(grp, nCur, dNum, dNum.toDouble / (nRef * nCur).toDouble))
      }

    stream.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }

  def psiVsReference(stream: Dataset[Valued], ref: Map[String, RefProfile],
      nBins: Int, alpha: Double = 1e-4): Dataset[PsiRow] = {
    require(nBins > 0, s"nBins=$nBins")
    require(ref.values.forall(_.bins.length == nBins),
      "reference profile bin count != nBins")
    val spark = stream.sparkSession
    import spark.implicits._

    def update(grp: String, it: Iterator[Valued],
        state: GroupState[Array[Long]]): Iterator[PsiRow] =
      ref.get(grp) match {
        case None => Iterator.empty // group unseen in the reference
        case Some(profile) =>
          val cur = state.getOption.getOrElse(new Array[Long](nBins))
          it.foreach { r =>
            cur(graft.operators.Drift.refBinScalar(
              r.v, profile.mn, profile.mx, nBins)) += 1
          }
          state.update(cur)
          Iterator.single(PsiRow(grp, cur.sum, psiOf(profile.bins, cur, alpha)))
      }

    stream.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }

  final case class Categorized(grp: String, cat: String)

  final case class ChiRow(grp: String, nCur: Long, nCats: Long, chi2: Double)

  /** Per-group reference CATEGORY counts for the chi-square twin —
    * bounded by groups × category vocabulary (the enumerable-category
    * contract of Drift.chiSquareSplit).
    */
  def referenceCategories(ref: DataFrame, groupCol: String,
      catCol: String): Map[String, Map[String, Long]] =
    ref.select(col(groupCol).as("g"), col(catCol).as("c"))
      .filter(col("c").isNotNull)
      .groupBy("g", "c").agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }

  /** The identical smoothed chi-square as Drift.chiSquareSplit,
    * folded in sorted category order (the batch ordered-window order —
    * same float program, round-6 parity spec-pinned). K counts the
    * categories observed on EITHER side, exactly the batch merged
    * table's row set.
    */
  private[streaming] def chi2Of(refC: Map[String, Long],
      curC: Map[String, Long], alpha: Double): (Long, Double) = {
    val cats = (refC.keySet ++ curC.keySet).toSeq.sorted
    val k = cats.size
    val nRef = refC.values.sum
    val nCur = curC.values.sum
    var acc = 0.0
    cats.foreach { c =>
      val cRef = refC.getOrElse(c, 0L)
      val cCur = curC.getOrElse(c, 0L)
      val e = (nCur * (cRef + alpha)) / (nRef + alpha * k)
      acc += (cCur - e) * (cCur - e) / e
    }
    (k.toLong, Rounding.round6(acc))
  }

  /** C6s: streaming chi-square categorical drift vs a static reference
    * — the same bounded counter state shape as [[psiVsReference]], but
    * keyed by category string instead of bin index (state grows with
    * the category VOCABULARY, which the batch operator's contract
    * already requires to be enumerable). Emits the group's refreshed
    * statistic every micro-batch; nCur >= 1 whenever an emit happens,
    * so the batch operator's empty-current-side raise has no streaming
    * counterpart by construction.
    */
  def chiVsReference(stream: Dataset[Categorized],
      ref: Map[String, Map[String, Long]],
      alpha: Double = 0.5): Dataset[ChiRow] = {
    require(alpha > 0, s"alpha=$alpha (want > 0)")
    val spark = stream.sparkSession
    import spark.implicits._

    def update(grp: String, it: Iterator[Categorized],
        state: GroupState[Map[String, Long]]): Iterator[ChiRow] =
      ref.get(grp) match {
        case None => Iterator.empty // group unseen in the reference
        case Some(refC) =>
          var cur = state.getOption.getOrElse(Map.empty[String, Long])
          it.foreach { r =>
            cur = cur.updated(r.cat, cur.getOrElse(r.cat, 0L) + 1L)
          }
          state.update(cur)
          val (k, chi2) = chi2Of(refC, cur, alpha)
          Iterator.single(ChiRow(grp, cur.values.sum, k, chi2))
      }

    stream.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
