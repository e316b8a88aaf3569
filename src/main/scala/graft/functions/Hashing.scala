package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing for the pipeline operators
  * (SURVEY.md §2.3). Everything is derived from md5 because the oracle
  * side can compute the exact same value in SQL; 60 bits (15 hex chars)
  * keeps every downstream sum/product below 2^63, where the oracle's
  * engine raises on overflow instead of wrapping.
  */
object Hashing {

  /** 60-bit hash of a string column: first 15 hex chars of md5. */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Oracle-SQL rendering of [[md5Long60]] over expression `e`. */
  def md5Long60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** 30-bit variant, safe to multiply by another 30-bit value: the
    * token hash of every shingle path (`Dedup.hashTokens`).
    */
  def h30(c: Column): Column = md5Long60(c) % 1073741824L

  def h30Sql(e: String): String = s"(${md5Long60Sql(e)} % 1073741824)"
}
