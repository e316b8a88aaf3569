package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid, TPAMI 2011): compress
  * a D-dim vector to `m` small codes by splitting it into m subspaces
  * and snapping each subvector to its nearest codeword from a
  * per-subspace codebook of `ksub` entries. The 100 TB story: the
  * embedding store shrinks from D doubles to m bytes per vector
  * (64x here), small enough to keep the WHOLE corpus's codes hot in
  * executor memory, and search touches no raw vectors at all —
  * asymmetric distance (ADC) reads only the query vector and the
  * codes. Composes with IVF (route with probeCells, then ADC inside
  * the probed cells) for the standard IVF-PQ billion-scale layout.
  *
  * Like IvfIndex, the build here is the DETERMINISTIC bootstrap
  * (codewords = the ksub lowest-id vectors' subvectors, zero Lloyd
  * iterations) so every number — codes included — is reproducible
  * bit-exactly by an external engine; a k-means refinement would slot
  * into the same Codebook shape.
  *
  * Float discipline: every distance is built from sequential-fold dot
  * products (Similarity.dotD == DuckDB list_dot_product, proven by the
  * IVF gate) and the ADC sum folds subspaces in ascending order
  * (aggregate == list_reduce over an s-ordered list), so estimates are
  * bit-identical cross-engine and rank ties cannot flip.
  */
object PqIndex {

  /** words(s)(j) = codeword j of subspace s (dsub doubles); norms
    * precomputed by the same fold the data side uses.
    */
  final case class Codebook(m: Int, dsub: Int, ksub: Int,
      words: Array[Array[Array[Double]]], norms: Array[Array[Double]])

  /** Build the deterministic codebook and encode every vector:
    * returns (codebook, codes frame with (vec_id, codes array<int>)).
    * Assignment per subspace: argmin_j of (|w|^2 - 2<sub, w>) — the
    * |sub|^2 term is constant per (vector, subspace) and cannot move
    * the argmin, so both engines skip it identically; ties go to the
    * lower j via the (d, j) struct sort.
    */
  def buildDeterministic(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): (Codebook, DataFrame) = {
    val n = Similarity.withNorm(vecs, idCol, vecCol)
    val sample = n.orderBy(col("vec_id")).limit(ksub)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length == ksub, s"corpus smaller than ksub=$ksub")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val words = Array.tabulate(m, ksub)((s, j) =>
      sample(j).slice(s * dsub, (s + 1) * dsub))
    val norms = words.map(_.map(_.foldLeft(0.0)((acc, x) => acc + x * x)))
    val cb = Codebook(m, dsub, ksub, words, norms)
    (cb, n.select(col("vec_id"), encodeExpr(col("v"), cb).as("codes")))
  }

  /** Lloyd-refine a codebook: `iters` rounds of (re-encode the corpus,
    * recenter every codeword on the mean of its assigned subvectors).
    * One scan + one (s, code, dim)-keyed aggregation per round; the
    * m x ksub x dsub mean table (1024 doubles here) collects to the
    * driver like the IVF centroids — config-sized by definition. A
    * codeword that attracts no vectors keeps its previous value.
    * Returns the refined codebook + final codes. k-means means are
    * float averages (partition-order dependent), so this is the
    * QUALITY path exercised by ScalaTest (monotone reconstruction
    * error); the deterministic bootstrap stays the oracle path.
    */
  def refineKMeans(vecs: DataFrame, idCol: String, vecCol: String,
      cb0: Codebook, iters: Int): (Codebook, DataFrame) = {
    require(iters >= 0, s"iters=$iters")
    val n = Similarity.withNorm(vecs, idCol, vecCol)
    var cb = cb0
    for (_ <- 1 to iters) {
      val means = n
        .select(col("v"), encodeExpr(col("v"), cb).as("codes"))
        .select(col("v"), explode(expr(
          s"transform(sequence(0, ${cb.m - 1})," +
            " s -> struct(s AS s, element_at(codes, s + 1) AS code))"))
          .as("sc"))
        .select(col("sc.s").as("s"), col("sc.code").as("code"),
          posexplode(slice(col("v"), col("sc.s") * cb.dsub + 1,
            lit(cb.dsub))).as(Seq("d", "x")))
        .groupBy(col("s"), col("code"), col("d"))
        .agg(avg(col("x")).as("mu"))
        .collect()
      val words = cb.words.map(_.map(_.clone()))
      means.foreach { r =>
        words(r.getAs[Int]("s"))(r.getAs[Int]("code"))(r.getAs[Int]("d")) =
          r.getAs[Double]("mu")
      }
      val norms = words.map(_.map(_.foldLeft(0.0)((acc, x) => acc + x * x)))
      cb = cb.copy(words = words, norms = norms)
    }
    (cb, n.select(col("vec_id"), encodeExpr(col("v"), cb).as("codes")))
  }

  /** Mean squared distance from each vector to its PQ reconstruction —
    * the codebook-quality metric Lloyd refinement must not worsen.
    */
  def reconstructionMse(vecs: DataFrame, idCol: String, vecCol: String,
      cb: Codebook): Double = {
    val n = Similarity.withNorm(vecs, idCol, vecCol)
    withAdcTable(n.select(col("v"), encodeExpr(col("v"), cb).as("codes")),
        cb, "v")
      .select(adcEst(cb, col("qtab"), col("codes")).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)
  }

  /** codes = array over s of the argmin codeword index. */
  private def encodeExpr(v: Column, cb: Codebook): Column =
    array((0 until cb.m).map { s =>
      val sub = slice(v, s * cb.dsub + 1, cb.dsub)
      val ds = array((0 until cb.ksub).map { j =>
        lit(cb.norms(s)(j)) -
          lit(2.0) * Similarity.dotD(sub, litArray(cb.words(s)(j)))
      }: _*)
      // argmin over a PRIMITIVE double array — first index of the min
      // = lower j on ties, same order as the (d, j) struct sort head;
      // measured 3x the struct sort and 14x the struct array_min
      // (SURVEY §24.4 — struct ordering knocks the projection off
      // codegen); encode is the corpus-side hot path
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }: _*)

  private def litArray(xs: Array[Double]): Column =
    array(xs.toIndexedSeq.map(lit): _*)

  /** Top-k neighbors per query by ADC distance over the code table:
    * d2est(q, x) = sum over s of |q_s|^2 - 2<q_s, w[s][code]> +
    * |w[s][code]|^2 — the exact squared L2 to x's RECONSTRUCTION,
    * folded in subspace order. The query set broadcasts; the scan
    * reads only (vec_id, codes) — m ints per row, never a vector.
    */
  /** The heart of ADC: the per-QUERY distance table, computed ONCE per
    * query row — entry s*ksub + j is the exact squared L2 from the
    * query's subvector s to codeword (s, j). Candidates then only
    * INDEX this table; no dot product ever touches a candidate row.
    * Flattened s-major so the lookup is one element_at.
    *
    * The per-subspace slice and self-dot |q_s|^2 are HOISTED into
    * named columns in separate projections: the term is constant
    * across the ksub codewords, and inlining it evaluated the
    * interpreted fold m*ksub times per row instead of m. The hoist
    * survives optimization because CollapseProject refuses to inline a
    * non-cheap alias referenced more than once; the arithmetic per
    * table entry is unchanged, so every gated value is bit-identical.
    */
  private def withAdcTable(df: DataFrame, cb: Codebook,
      qvCol: String): DataFrame = {
    var q = df
    for (s <- 0 until cb.m)
      q = q.withColumn(s"__sub_$s",
        slice(col(qvCol), s * cb.dsub + 1, cb.dsub))
    for (s <- 0 until cb.m)
      q = q.withColumn(s"__sd_$s",
        Similarity.dotD(col(s"__sub_$s"), col(s"__sub_$s")))
    q.withColumn("qtab",
        array((for (s <- 0 until cb.m; j <- 0 until cb.ksub) yield {
          col(s"__sd_$s") -
            lit(2.0) * Similarity.dotD(col(s"__sub_$s"), litArray(cb.words(s)(j))) +
            lit(cb.norms(s)(j))
        }): _*))
      .drop((0 until cb.m).flatMap(s => Seq(s"__sub_$s", s"__sd_$s")): _*)
  }

  /** est = sum over s of table[s*ksub + code_s] — UNROLLED into a
    * left-associated codegen'd sum (no interpreted higher-order fold
    * on the per-candidate hot path; an earlier aggregate()-lambda
    * formulation measured 12x slower at 128k vectors). Left-assoc
    * ((t0+t1)+t2)... is bit-identical to the oracle's list_reduce and
    * to the old fold's (0.0+t0)+t1... (adding 0.0 to a finite t0 is
    * exact).
    */
  private def adcEst(cb: Codebook, qtab: Column, codes: Column): Column =
    (0 until cb.m).map(s =>
      element_at(qtab, lit(s * cb.ksub) + element_at(codes, s + 1) + 1))
      .reduce(_ + _)

  def searchAdc(cb: Codebook, codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = withAdcTable(
      Similarity.withNorm(queries, idCol, vecCol)
        .select(col("vec_id").as("query_id"), col("v").as("qv")),
      cb, "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2est"), col("vec_id"))
    broadcast(q).join(codes, col("query_id") =!= col("vec_id"))
      .withColumn("d2est", adcEst(cb, col("qtab"), col("codes")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"),
        col("vec_id").as("neighbor_id"), round(col("d2est"), 6).as("d2est"))
  }

  /** IVF-PQ — the standard billion-scale layout (coarse quantizer
    * routes, PQ codes rank): probe the `nprobe` nearest IVF cells per
    * query, then ADC-rank ONLY the codes stored in those cells. The
    * shuffle is the cell-id equi-join of the IVF search; the payload
    * per candidate is m ints instead of the raw vector. Same ADC fold
    * as [[searchAdc]], so the selection restricted to the probed cells
    * is identical (spec-asserted).
    */
  /** [[searchIvfAdc]] with the code table derived IN-ROW from the IVF
    * cell frame (r18 opt): `ivf.cells` already carries every vector's
    * `v`, and PQ encoding is a row-local function of `v` — so the
    * (cells ⋈ codes) vec_id equi-join of the general form (two corpus
    * scans + a corpus-sized shuffle on each side at scale) collapses
    * into one projection over one scan. Row-identical by construction:
    * the join was 1:1 on the unique vec_id and both sides derive from
    * the same `withNorm` cast (spec-pinned in PqIndexSpec). The
    * `codes`-taking overload stays for serving layouts where codes are
    * a stored table.
    */
  def searchIvfAdc(ivf: IvfIndex.Index, cb: Codebook,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame =
    searchIvfAdcOn(ivf, cb,
      ivf.cells.select(col("vec_id"), col("cell"),
        encodeExpr(col("v"), cb).as("codes")),
      queries, idCol, vecCol, k, nprobe)

  def searchIvfAdc(ivf: IvfIndex.Index, cb: Codebook, codes: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame =
    searchIvfAdcOn(ivf, cb,
      ivf.cells.select(col("vec_id"), col("cell")).join(codes, "vec_id"),
      queries, idCol, vecCol, k, nprobe)

  private def searchIvfAdcOn(ivf: IvfIndex.Index, cb: Codebook,
      cellCodes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val np = math.min(nprobe, ivf.centroids.length)
    val q = withAdcTable(
        Similarity.withNorm(queries, idCol, vecCol)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm2").as("qn")),
        cb, "qv")
      .withColumn("cell",
        explode(IvfIndex.probeCells(col("qv"), col("qn"), ivf.centroids, np)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2est"), col("vec_id"))
    broadcast(q).join(cellCodes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("d2est", adcEst(cb, col("qtab"), col("codes")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"),
        col("vec_id").as("neighbor_id"), round(col("d2est"), 6).as("d2est"))
  }
}
