package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`. */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val data = new File(args(1))
    val spark = Main.session(2, work)
    var failures = 0
    def test(name: String)(body: => Unit): Unit =
      try { body; println(s"[pass] $name") }
      catch { case e: Throwable => failures += 1; println(s"[FAIL] $name: $e") }
    def check(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

    val sample: DataFrame = spark.range(0, 5000).selectExpr("id",
      "CAST(id AS DOUBLE) / 3 AS x",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('s', id) END AS s",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS n",
      "array(id, id + 1) AS a")

    test("digest is independent of row order and partitioning") {
      val d = Digest.of(sample)
      Seq(sample.repartition(7), sample.orderBy(desc("id")), sample.coalesce(1),
        sample.repartition(3, col("s")).sortWithinPartitions("x")).foreach { v =>
        check(Digest.of(v) == d, s"${Digest.of(v)} != $d")
      }
      val observed = Digest.observe(sample.repartition(5))
      Workload.sink(observed.df)
      check(observed.result() == d, s"observed ${observed.result()} != $d")
      val keyed = Digest.byKey(sample.withColumn("k", lit(3L)).repartition(4), "k")
      check(keyed == Map(3L -> d), s"byKey $keyed != $d")
    }

    test("a perturbed result fails the check") {
      val d = Digest.of(sample)
      val perturbed = Seq(
        "one value changed in its ninth decimal" -> sample.withColumn("x",
          when(col("id") === 4321, col("x") + 1e-9).otherwise(col("x"))),
        "one row dropped" -> sample.filter(col("id") =!= 17),
        "one row duplicated" -> sample.union(sample.filter(col("id") === 17)),
        "a null moved between columns" -> sample.withColumn("s",
          when(col("id") === 10, lit(null)).when(col("id") === 14, lit("s14")).otherwise(col("s"))),
        "a column renamed" -> sample.withColumnRenamed("x", "y"))
      perturbed.foreach { case (what, df) => check(Digest.of(df) != d, s"$what went unnoticed") }

      val hg = new HostgroupsWorkload(spark, 3L)
      hg.generate(new File(work, "hg"))
      val rec = new Recorder(false, spark)
      val out = hg.op(0, rec)
      val bad = out.copy(digest = out.digest.map(x => x.copy(sum = x.sum + 1)))
      check(hg.check(Seq(0 -> out, 1 -> bad)) == Seq(true, false), "hostgroups check")
      check(out.resultRows > 0, "hostgroups produced no groups")
    }

    test("op_tail_s percentile follows the ten-beyond rule") {
      check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples have no tail")
      check(Stats.tail((1 to 20).reverse.map(_.toDouble)).contains(Stats.Tail(10.0, 50.0, 20)), "n=20")
      check(Stats.tail((1 to 100).map(_.toDouble)).contains(Stats.Tail(90.0, 90.0, 100)), "n=100")
      (11 to 300).foreach { n =>
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val t = Stats.tail(xs).get
        check(xs.count(_ > t.value) == 10, s"n=$n: ${xs.count(_ > t.value)} beyond")
      }
    }

    test("generators are deterministic per seed") {
      def bytes(dir: File): Seq[(String, Seq[Byte])] =
        dir.listFiles().toSeq.sortBy(_.getName).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)
      def hosts(seed: Long, tag: String) = {
        val d = new File(work, s"gen-$tag")
        Gen.writeFixed(Gen.hostMetrics(spark, seed, 20000, 3), d)
        bytes(d)
      }
      check(hosts(5, "a") == hosts(5, "b"), "host metrics differ for one seed")
      check(hosts(5, "a") != hosts(6, "c"), "host metrics equal for two seeds")
      check(Gen.networks(5) == Gen.networks(5) && Gen.networks(5) != Gen.networks(6), "networks")
      check(Gen.networks(5).size > 250, s"only ${Gen.networks(5).size} networks")
      check(Gen.streamBatch(5, 4, 500) == Gen.streamBatch(5, 4, 500), "stream batch differs")
      check(Gen.streamBatch(5, 4, 500) != Gen.streamBatch(6, 4, 500), "stream batch equal")
      def docs(seed: Long, tag: String) = {
        val d = new File(work, s"docs-$tag")
        Gen.permutedDocuments(spark, new File(data, "documents.parquet").getPath, seed, 4, d)
        bytes(new File(d, "documents.parquet"))
      }
      check(docs(5, "a") == docs(5, "b"), "documents differ for one seed")
      check(docs(5, "a") != docs(6, "c"), "documents equal for two seeds")
    }

    test("hostgroups inputs cover empty, overlapping and outside networks") {
      val nets = Gen.networks(3)
      val rows = spark.read.parquet(new File(work, "hg/host_metrics.parquet").getPath)
      val hostNums = rows.select("host_num").distinct().collect().map(_.getLong(0))
      val counts = nets.map(n => hostNums.count(h => h >= n.start && h <= n.end))
      check(counts.contains(0), "no empty network")
      check(hostNums.exists(h => nets.count(n => h >= n.start && h <= n.end) >= 2), "no overlap")
      check(hostNums.exists(h => !nets.exists(n => h >= n.start && h <= n.end)), "no outside host")
      check(Seq(16, 24, 26).forall(p => nets.exists(_.prefix == p)), "prefix mix")
    }

    spark.stop()
    println(if (failures == 0) "[self-test] all passed" else s"[self-test] $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

/** Prints the dedup digests of the unpermuted corpus (the values pinned in
  * `DedupWorkload.expected`), then checks them on two permutations.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val data = new File(args(1))
    val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
    val pinned = DedupWorkload.cycle.map { q =>
      val t = System.nanoTime()
      val d = Digest.of(SparkEntry.queries(q)(spark, data.getPath))
      println(f"[pin] $q took ${(System.nanoTime() - t) / 1e9}%.2f s")
      println(s"""[pin]     "$q" -> Digest("${d.schema}", ${d.rows}L, ${d.sum}L, ${d.xor}L),""")
      q -> d
    }
    Seq(1L, 2L).foreach { seed =>
      val d = new File(work, s"docs-$seed")
      Gen.permutedDocuments(spark, new File(data, "documents.parquet").getPath, seed, 4, d)
      pinned.foreach { case (q, want) =>
        val got = Digest.of(SparkEntry.queries(q)(spark, d.getPath))
        println(s"[pin] seed $seed $q ${if (got == want) "same" else s"DIFFERS: $got"}")
      }
    }
    spark.stop()
  }
}
