package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

class TopKSpec extends SparkSuite {
  import spark.implicits._

  private val rows = Seq(
    // group 1: ties on value -> id ascending breaks them
    (1L, 10.0, 101L), (1L, 10.0, 100L), (1L, 9.0, 102L), (1L, 11.0, 103L),
    // group 2: fewer rows than k
    (2L, 5.0, 200L), (2L, 6.0, 201L),
    // group 3: k-boundary eviction order
    (3L, 1.0, 300L), (3L, 2.0, 301L), (3L, 3.0, 302L), (3L, 4.0, 303L),
    (3L, 5.0, 304L))

  private def windowTop(k: Int) = {
    val w = Window.partitionBy(col("g"))
      .orderBy(col("v").desc, col("id"))
    rows.toDF("g", "v", "id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("g"), col("rn").cast("long").as("rn"), col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  private def aggTop(k: Int, partitions: Int) = {
    rows.toDF("g", "v", "id").repartition(partitions)
      .groupBy(col("g"))
      .agg(TopK.topK(col("v"), col("id"), k).as("t"))
      .select(col("g"), posexplode(col("t")).as(Seq("p", "s")))
      .select(col("g"), (col("p") + 1).cast("long").as("rn"),
        col("s.id").as("id"), col("s.value").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  test("topK equals the window formulation, ties and short groups included") {
    for (k <- Seq(1, 3, 10)) {
      assert(aggTop(k, 1) == windowTop(k), s"k=$k single partition")
    }
  }

  test("topK is partition-count independent (merge + serialization path)") {
    // many partitions force partial heaps to serialize and merge
    for (p <- Seq(2, 7)) {
      assert(aggTop(3, p) == aggTop(3, 1), s"partitions=$p")
    }
  }

  test("null values and ids are skipped, not kept as zeros") {
    val df = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(2.0), Some(10L)), (1L, None, Some(11L)), (1L, Some(1.0), None))
      .toDF("g", "v", "id")
    val out = df.groupBy(col("g"))
      .agg(TopK.topK(col("v"), col("id"), 5).as("t"))
      .select(size(col("t"))).head.getInt(0)
    assert(out == 1)
  }

  test("graft_topk is reachable from SQL and rejects wrong arity") {
    rows.toDF("g", "v", "id").createOrReplaceTempView("topk_in")
    val viaSql = spark.sql(
      "SELECT g, graft_topk(v, id, 2) AS t FROM topk_in GROUP BY g")
      .select(col("g"), size(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == Map(1L -> 2, 2L -> 2, 3L -> 2))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_topk(v, id) FROM topk_in").collect()
    }
    assert(e.getMessage.contains("graft_topk"))
  }

  test("graft_topk k: byte literal accepted, non-literal rejected with the intended message") {
    rows.toDF("g", "v", "id").createOrReplaceTempView("topk_in")
    // 2Y is a ByteType literal — must take the same arm as 2/2L/2S
    val viaByte = spark.sql(
      "SELECT g, graft_topk(v, id, 2Y) AS t FROM topk_in GROUP BY g")
      .select(sum(size(col("t")))).head.getLong(0)
    assert(viaByte == 6)
    // a column reference is non-foldable: the user-facing message must
    // fire, not an internal eval error from the builder
    val e = intercept[Exception] {
      spark.sql("SELECT g, graft_topk(v, id, id) FROM topk_in GROUP BY g").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }
}
