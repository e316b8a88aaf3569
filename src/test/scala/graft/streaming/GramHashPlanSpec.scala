package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ElementAt, Expression, Md5}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}

import graft.SparkSuite
import graft.operators.Dedup

final case class GramDoc(doc_id: Long, text: String)

/** Every gram path hashes each token once: the token hashes get a
  * projection of their own, and the gram lambda indexes that column.
  * So in the optimized plan no `transform` whose lambda reads an array
  * element (`element_at`) also computes an md5 — that shape hashes the
  * whole document again for every gram.
  */
class GramHashPlanSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    GramDoc(1L, "a b c d e f g h i j"),
    GramDoc(2L, "a b c d e f x y z w"))

  private def transforms(plan: LogicalPlan)(
      p: Expression => Boolean): Seq[ArrayTransform] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case t: ArrayTransform if p(t.function) => t
    }))

  private def has[T](e: Expression, cls: Class[T]): Boolean =
    e.exists(cls.isInstance(_))

  private def assertHashedOnce(plan: LogicalPlan): Unit = {
    // the gram transform is there, so the check below has teeth
    assert(transforms(plan)(has(_, classOf[ElementAt])).nonEmpty,
      plan.treeString)
    assert(transforms(plan)(f =>
        has(f, classOf[ElementAt]) && has(f, classOf[Md5])).isEmpty,
      plan.treeString)
  }

  /** Starts `out` on an append-mode memory sink, feeds `docs` as one
    * micro-batch and returns that batch's optimized plan.
    */
  private def streamPlan(name: String, in: MemoryStream[GramDoc],
      out: Dataset[_]): LogicalPlan = {
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      query.processAllAvailable()
      query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
    } finally query.stop()
  }

  test("Dedup.shingleSets hashes each token once") {
    assertHashedOnce(Dedup.shingleSets(docs.toDF(), "doc_id", "text", 3)
      .queryExecution.optimizedPlan)
  }

  test("StreamingIncremental.classify hashes each token once") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[GramDoc]
    assertHashedOnce(streamPlan("gram_classify", in,
      StreamingIncremental.classify(in.toDF(), docs.toDF(), "doc_id", "text", 3)))
  }

  test("StreamingEr.matchAgainst hashes each token once") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[GramDoc]
    assertHashedOnce(streamPlan("gram_er", in,
      StreamingEr.matchAgainst(in.toDF(), docs.toDF(), "doc_id", "text", 3, 1, 2)))
  }

  test("StreamingDecontaminate.scrub hashes each token once") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[GramDoc]
    assertHashedOnce(streamPlan("gram_scrub", in,
      StreamingDecontaminate.scrub(in.toDF(), docs.toDF(), "doc_id", "text",
        n = 3, minSpanLen = 3)))
  }
}
