package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.SparkSuite

class CountMinSpec extends SparkSuite {
  import spark.implicits._

  private val depth = 4
  private val width = 64

  test("estimates never undercount and are exact without collisions") {
    val items = (1 to 300).flatMap(i => Seq.fill(i % 7 + 1)(s"it${i % 5}"))
    val df = items.toDF("item").repartition(5)
    val sk = df.agg(CountMin.sketch(col("item"), depth, width).as("sk"))
    val got = df.distinct()
      .crossJoin(broadcast(sk))
      .select(col("item"),
        CountMin.estimate(col("sk"), col("item")).as("est"))
      .as[(String, Long)].collect().toMap
    val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // 5 distinct items into 4x64 counters: overcount requires a
    // same-row collision among 5 items — check the structural lower
    // bound always, and the CMS error bound with n=total, eps=e/width
    val n = items.size
    exact.foreach { case (k, c) =>
      assert(got(k) >= c, s"$k undercounted: ${got(k)} < $c")
      assert(got(k) <= c + math.ceil(math.E * n / width).toLong,
        s"$k above the CMS bound: ${got(k)} vs $c + e*$n/$width")
    }
  }

  private def sketchBytes(items: Seq[String], d: Int, w: Int,
      parts: Int = 1): Array[Byte] =
    items.toDF("item").repartition(parts)
      .agg(CountMin.sketch(col("item"), d, w)).as[Array[Byte]].head()

  /** The counter rows of a serialized sketch: Spark writes version,
    * total, depth, width, depth hash seeds, then the table row-major. */
  private def gridRows(bytes: Array[Byte]): Seq[Seq[Long]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    in.readInt(); in.readLong()
    val (d, w) = (in.readInt(), in.readInt())
    (0 until d).foreach(_ => in.readLong())
    Seq.fill(d, w)(in.readLong())
  }

  test("the grid is mergeable: partition layout never changes it") {
    val items = (1 to 500).map(i => s"k${i % 17}")
    assert(sketchBytes(items, depth, width, 1).toSeq ==
      sketchBytes(items, depth, width, 7).toSeq)
  }

  test("every grid row carries the full mass; unknown items read small") {
    val items = (1 to 200).map(i => s"k${i % 3}")
    val sk = items.toDF("item")
      .agg(CountMin.sketch(col("item"), depth, width).as("sk"))
    val bytes = sk.as[Array[Byte]].head()
    val cms = CountMinSketch.readFrom(bytes)
    assert((cms.depth, cms.width) == ((depth, width)))
    assert(cms.totalCount == 200L)
    val rows = gridRows(bytes)
    assert(rows.length == depth)
    assert(rows.forall(_.length == width))
    assert(rows.forall(_.sum == 200L)) // each row is a full projection
    // an item never inserted can only read collision mass
    val ghost = sk.select(CountMin.estimate(col("sk"), lit("never-seen")))
      .as[Long].head()
    assert(ghost <= 200L / 3 + 1,
      s"ghost estimate $ghost should be far below the hot count")
    val none = sk.select(CountMin.estimate(col("sk"), lit(null).cast("string")))
      .head()
    assert(none.isNullAt(0))
  }

  test("the sketch has the asked shape and equals a hand-built one") {
    val items = (1 to 200).map(i => s"k${i % 3}")
    // (1, 49): eps = 2.0 / 49 would make Spark's ceil(2 / eps) 50
    Seq((depth, width), (5, 1024), (1, 49)).foreach { case (d, w) =>
      val sk = CountMinSketch.readFrom(sketchBytes(items, d, w))
      assert((sk.depth, sk.width) == ((d, w)))
      assert(sk.totalCount == 200L)
      val built = CountMinSketch.create(d, w, CountMin.Seed)
      items.foreach(i => built.addString(i))
      assert(sk == built, s"($d, $w)")
    }
  }

  test("SQL surface: graft_cms_estimate over count_min_sketch round-trip") {
    (1 to 90).map(i => s"t${i % 2}").toDF("item")
      .createOrReplaceTempView("__cms_probe")
    val est = spark.sql(
      s"""SELECT graft_cms_estimate(
         |  count_min_sketch(item, 0.05D, 0.95D, ${CountMin.Seed}), 't1') AS e
         |FROM __cms_probe""".stripMargin)
      .as[Long].head()
    assert(est == 45L)
  }
}
