package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite

class HeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  private def topItems(rows: Seq[Row]): Seq[(String, Long)] =
    rows.map(r => (r.getAs[String]("item"), r.getAs[Long]("count")))

  test("true heavy hitter is always reported, count within MG bound") {
    // 600 of "hot", 400 spread across 40 cold items; n=1000, k=9 ->
    // any item with freq > 100 is guaranteed; undercount <= 100
    val data = (Seq.fill(600)("hot") ++
      (0 until 400).map(i => s"cold_${i % 40}"))
    val df = data.toDF("w").repartition(7) // force multi-partition merges
    val out = df.agg(HeavyHitters.heavyHitters(col("w"), 9).as("hh"))
      .collect().head.getSeq[Row](0)
    val items = topItems(out)
    assert(items.nonEmpty && items.size <= 9)
    val hot = items.find(_._1 == "hot")
    assert(hot.isDefined, s"hot missing from $items")
    assert(hot.get._2 <= 600L && hot.get._2 >= 500L, s"count=${hot.get._2}")
    assert(items.head._1 == "hot") // sorted by count desc
  }

  test("small domains are exact") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(1)("c"))
      .toDF("w").repartition(3)
    val out = df.agg(HeavyHitters.heavyHitters(col("w"), 10).as("hh"))
      .collect().head.getSeq[Row](0)
    assert(topItems(out) == Seq(("a", 5L), ("b", 3L), ("c", 1L)))
  }

  test("per-group aggregation") {
    val df = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "z"))
      .toDF("g", "w")
    val out = df.groupBy("g")
      .agg(HeavyHitters.heavyHitters(col("w"), 4).as("hh"))
      .orderBy("g").collect()
    assert(out.length == 2)
    assert(topItems(out(0).getSeq[Row](1)) == Seq(("x", 2L), ("y", 1L)))
    assert(topItems(out(1).getSeq[Row](1)) == Seq(("z", 1L)))
  }

  test("ties at the cut keep the smallest items, whatever the row order and partitioning") {
    val hot = Seq.fill(5)("hot")
    val tied = ('a' to 'l').flatMap(c => Seq.fill(3)(s"w$c"))
    val outs = for (seed <- 1 to 4; parts <- Seq(1, 3, 7)) yield {
      val rows = new scala.util.Random(seed).shuffle(hot ++ tied)
      topItems(rows.toDF("w").repartition(parts)
        .agg(HeavyHitters.heavyHitters(col("w"), 6).as("hh"))
        .collect().head.getSeq[Row](0))
    }
    val expected = ("hot", 5L) +: Seq("wa", "wb", "wc", "wd", "we").map(_ -> 3L)
    outs.foreach(o => assert(o == expected))
  }

  test("counts stay exact past k while the distinct items fit the sketch") {
    // 5,000 distinct items (1-3 each) plus one hot item, k = 10: far
    // more distinct items than k, well inside the tracked capacity
    val data = Seq.fill(700)("hot") ++
      (0 until 5000).flatMap(i => Seq.fill(1 + i % 3)(s"i$i"))
    val df = data.toDF("w").repartition(5)
    val out = topItems(df.agg(HeavyHitters.heavyHitters(col("w"), 10).as("hh"))
      .collect().head.getSeq[Row](0))
    val exact = data.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    assert(out.head == ("hot", 700L))
    assert(out == exact.toSeq.sortBy { case (w, c) => (-c, w) }.take(10))
  }
}
