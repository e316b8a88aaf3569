package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: partition the
  * vector space into `nlist` Voronoi cells (k-means centroids), store
  * each vector under its cell, and search only the `nprobe` cells
  * closest to each query. The scale path beyond LSH: the search join
  * shuffles on cell id, and the per-query candidate set shrinks from
  * |corpus| to ~nprobe/nlist of it. Centroids are a driver-side array
  * (nlist x dim — config-sized), broadcast into the probe expression.
  */
object IvfIndex {

  final case class Index(centroids: Array[Array[Double]], cells: DataFrame)

  /** Build the index: fit k-means (distributed) and assign every
    * vector to its cell. `cells` has (vec_id, cell, v, nrm2).
    */
  def build(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L): Index = {
    val n = Similarity.withNorm(vecs, idCol, vecCol)
    val featured = n.withColumn("features", array_to_vector(col("v")))
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .fit(featured)
    val centroids = model.clusterCenters.map(_.toArray)
    val cells = model.transform(featured)
      .withColumnRenamed("prediction", "cell")
      .select(col("vec_id"), col("cell"), col("v"), col("nrm2"))
    Index(centroids, cells)
  }

  /** Squared L2 distance of a vector column to a centroid literal:
    * |v|^2 - 2<v,c> + |c|^2 (nrm2 precomputed; <v,c> via the native
    * dot expression). |c|^2 is a sequential fold, same order as the
    * dot expression, so external engines reproduce it bit-exactly.
    */
  private def distToCentroid(v: Column, nrm2: Column,
      c: Array[Double]): Column = {
    val lc = array(c.map(lit).toIndexedSeq: _*)
    val c2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
    nrm2 - lit(2.0) * Similarity.dotD(v, lc) + lit(c2)
  }

  /** Deterministic IVF-flat build: centroids are the `nlist` vectors
    * with the smallest ids (sampled centroids, zero Lloyd iterations —
    * the standard IVF bootstrap before any refinement), and every
    * vector goes to its L2-nearest centroid, ties to the lower cell.
    * Unlike the k-means [[build]] (whose distributed float averaging
    * is partition-order dependent), every number here is reproducible
    * bit-exactly by an external engine — this is the variant the
    * DuckDB oracle checks end-to-end.
    */
  def buildDeterministic(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Index = {
    val n = Similarity.withNorm(vecs, idCol, vecCol)
    val centroids = n.orderBy(col("vec_id")).limit(nlist)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    Index(centroids, assign(centroids, vecs, idCol, vecCol))
  }

  /** Assign every vector of `vecs` to its L2-nearest centroid (ties to
    * the lower cell) — the row-local half of the deterministic build,
    * reusable for routing an INCOMING batch onto an existing index's
    * cells (the centroid array is config-sized and rides into the
    * expression as literals, so assignment is a zero-shuffle map).
    * Returns (vec_id, cell, v, nrm2).
    */
  def assign(centroids: Array[Array[Double]], vecs: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    withCell(Similarity.withNorm(vecs, idCol, vecCol), centroids)
      .select(col("vec_id"), col("cell"), col("v"), col("nrm2"))

  /** Adds `cell` — the L2-argmin centroid index of the frame's
    * (`v`, `nrm2`) pair, ties to the lower cell — to a frame that
    * already carries the norm. The argmin runs over a PRIMITIVE
    * double array (`array_position(__ds, array_min(__ds)) - 1`,
    * first index of the minimum = EXACTLY the head of the (d, cell)
    * struct sort the query path uses; SURVEY §24.4 measured the
    * primitive idiom 3x the struct sort and 14x the struct
    * array_min). It takes a DataFrame, not a Column, ON PURPOSE:
    * the O(nlist x dim) distance array must be a NAMED intermediate
    * column so CollapseProject keeps it materialized ONCE — the r13
    * Column-returning form inlined the array into both argmin
    * operands and the corpus paid the distance computation twice
    * (q_ann_ivf 0.86 -> 1.79 s committed r12 -> r13; adjudicated
    * real in SURVEY §26.1, reverted by this shape). This is the
    * corpus-side hot path: every vector of a 100 TB corpus pays it
    * once per build/route. The struct sort stays only on the QUERY
    * side ([[probeCells]]), where np > 1 needs a real partial order
    * and rows are query-scale.
    *
    * A null/degenerate vector (null `v`, or all-NaN distances) has
    * no nearest cell; it fails LOUDLY via raise_error instead of
    * silently vanishing from downstream cell equi-joins (the r13
    * form returned a NULL cell and such rows just disappeared —
    * ADVICE_r13). Scrub or impute upstream if the corpus can carry
    * them.
    */
  def withCell(n: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    // r18: ONE native kernel call (graft.functions.NearestCell) instead
    // of the array_position/array_min SQL form. Same arithmetic in the
    // same IEEE order (spec-pinned identical incl. ties and the
    // null-raises contract), but: (a) the vector's float->double cast
    // materializes once per row instead of once per centroid dot,
    // (b) the expression is NON-NULLABLE, so the probe join no longer
    // pushes down an isnotnull(cell) filter that re-derived the whole
    // distance tree a second time per row — that duplicated tree was
    // the ~14k-line generated stage janino refused, which ran the ANN
    // probe stage interpreted (r17 known issue, now gone: the stage
    // whole-stage-compiles — see plans/r18 and OPTIMIZATION_r18.md).
    n.withColumn("cell",
      graft.functions.IpExpressions.nearestCell(col("v"), centroids))

  /** Persist an index: cells as parquet bucketed by cell id (searches
    * shuffle on cell, so reads are co-located), centroids as a small
    * JSON sidecar. Amortizes the k-means fit across search sessions.
    */
  def save(index: Index, spark: SparkSession, table: String,
      centroidPath: String, buckets: Int = 16): Unit = {
    index.cells.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell").saveAsTable(table)
    val json = index.centroids
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(centroidPath), json)
  }

  def load(spark: SparkSession, table: String,
      centroidPath: String): Index = {
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(centroidPath))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    val centroids = (0 until node.size()).map { i =>
      val row = node.get(i)
      (0 until row.size()).map(j => row.get(j).asDouble()).toArray
    }.toArray
    Index(centroids, spark.table(table))
  }

  /** The `np` nearest cell ids for a (vector, squared-norm) pair, as
    * an in-row int array: centroid distances are a config-sized
    * literal array sorted per row — no shuffle, no state, which is
    * what lets the STREAMING probe (`StreamingAnn`) reuse the exact
    * batch cell choice.
    */
  def probeCells(v: Column, nrm2: Column,
      centroids: Array[Array[Double]], np: Int): Column = {
    val dists = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(distToCentroid(v, nrm2, c).as("d"), lit(i).as("cell"))
    }.toIndexedSeq: _*)
    transform(slice(array_sort(dists), 1, np), x => x("cell"))
  }

  /** Top-k cosine neighbors per query, searching only the nprobe
    * nearest cells (found by sorting the tiny per-row centroid
    * distance array — no shuffle).
    */
  def search(index: Index, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val np = math.min(nprobe, index.centroids.length)
    val q0 = Similarity.withNorm(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm2").as("qn"))
    val q = q0
      .withColumn("cell",
        explode(probeCells(col("qv"), col("qn"), index.centroids, np)))
    val cos = Similarity.cosine(
      Similarity.dotD(col("qv"), col("v")), col("qn"), col("nrm2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(q).join(index.cells, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", cos)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** [[search]] at several `nprobe` settings in ONE physical pipeline
    * (the S6 sweep's hot path, r17 opt): every arm shares a single
    * cell-keyed join plus one (nprobe, query)-keyed rank window
    * instead of a separate join + window tower per arm. Arm np's
    * slice is row-identical to `search(..., nprobe = np)` because
    * [[probeCells]] returns cells sorted by (distance, cell id) — the
    * first np entries of the max-probe array ARE the np-probe set.
    */
  def searchSweep(index: Index, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, probes: Seq[Int]): DataFrame = {
    require(k > 0 && probes.nonEmpty && probes.forall(_ > 0),
      s"k=$k probes=$probes must all be positive")
    val len = index.centroids.length
    val maxP = math.min(probes.max, len)
    val q = Similarity.withNorm(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm2").as("qn"))
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(probeCells(col("qv"), col("qn"), index.centroids, maxP))
          .as(Seq("__pos", "cell")))
      .withColumn("nprobe",
        explode(array(probes.map(p => lit(p.toLong)): _*)))
      .filter(col("__pos") < least(col("nprobe"), lit(len.toLong)))
    val cos = Similarity.cosine(
      Similarity.dotD(col("qv"), col("v")), col("qn"), col("nrm2"))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(q).join(index.cells, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", cos)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("nprobe"), col("query_id"), col("rnk"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos"))
  }
}
