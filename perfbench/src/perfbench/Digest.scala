package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** A result reduced to what the check compares: its schema string, its row
  * count, and the sum and xor of a 64-bit hash per row over the exact value
  * bits of every column. Sum and xor are commutative, so the digest does not
  * depend on row order or partitioning.
  */
final case class Digest(schema: String, rows: Long, sum: Long, xor: Long) {
  override def toString: String =
    f"rows=$rows sum=$sum%016x xor=$xor%016x schema#${schema.hashCode}%08x"
}

object Digest {

  /** Columns renamed by position, so duplicate or odd names resolve. */
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  /** One hash per row. A null column hashes to a constant that depends on
    * its position, so `(a, null)` and `(null, a)` differ; maps (which Spark
    * does not hash) go through their JSON form.
    */
  private def rowHash(df: DataFrame): Column = {
    val perColumn = df.schema.fields.toSeq.filter(_.name != "__key").zipWithIndex.map { case (f, i) =>
      val c = f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
      coalesce(xxhash64(c), lit(0x61c8864680b583ebL + i))
    }
    xxhash64(perColumn: _*)
  }

  private def aggregates(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    // two 32-bit halves keep the sums far from long overflow
    sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
    sum(shiftrightunsigned(h, 32)).as("hi"),
    bit_xor(h).as("x"))

  private def fromValues(schema: String, n: Long, lo: Any, hi: Any, x: Any): Digest = {
    def l(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Number].longValue
    Digest(schema, n, l(lo) + (l(hi) << 32), l(x))
  }

  def schemaOf(df: DataFrame): String = df.schema.catalogString

  /** Digest by a separate aggregation job over `df`. */
  def of(df: DataFrame): Digest = {
    val p = positional(df)
    val r: Row = p.agg(aggregates(rowHash(p)).head, aggregates(rowHash(p)).tail: _*).head()
    fromValues(schemaOf(df), r.getLong(0), r.get(1), r.get(2), r.get(3))
  }

  /** One digest per value of the long column `key`; the key itself is
    * not hashed.
    */
  def byKey(df: DataFrame, key: String): Map[Long, Digest] = {
    val rest = df.drop(key)
    val q = df.select((rest.columns.indices.map(i => col(s"`${rest.columns(i)}`").as(s"c$i")) :+
      col(key).as("__key")): _*)
    val aggs = aggregates(rowHash(q))
    q.groupBy("__key").agg(aggs.head, aggs.tail: _*).collect().map { r =>
      r.getLong(0) -> fromValues(schemaOf(rest), r.getLong(1), r.get(2), r.get(3), r.get(4))
    }.toMap
  }

  /** `df` with the digest attached as observed metrics: writing the
    * returned frame computes the digest in the same pass, and `result`
    * reads it afterwards, so checking an op costs no second execution.
    */
  final class Observed(val df: DataFrame, obs: Observation, schema: String) {
    def result(): Digest = {
      val m = obs.get
      fromValues(schema, m("n").asInstanceOf[Number].longValue, m("lo"), m("hi"), m("x"))
    }
  }

  def observe(df: DataFrame): Observed = {
    val p = positional(df)
    val obs = Observation()
    val aggs = aggregates(rowHash(p))
    new Observed(p.observe(obs, aggs.head, aggs.tail: _*), obs, schemaOf(df))
  }
}
