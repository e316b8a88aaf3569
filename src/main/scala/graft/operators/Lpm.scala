package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions

/** R26 (beyond the reference, same domain): longest-prefix-match
  * enrichment — annotate every host with the MOST SPECIFIC matching
  * block from a CIDR table (routing-table lookup, GeoIP/ASN
  * enrichment, customer-prefix attribution; the reference's flat
  * networks_list, main.go:112-133, is the preflen-uniform special
  * case).
  *
  * Spark-first shape (no per-row loop over prefix lengths, no UDF):
  *
  *   1. the block table expands to a fixed `anchor`-bit join key —
  *      blocks SHORTER than the anchor explode into their 2^(anchor-len)
  *      anchor-sized children (bounded fanout on the SMALL side;
  *      anchor - len <= 16 enforced), blocks at/under it keep one row;
  *   2. DISTINCT host numbers equi-join the expanded table on the
  *      anchor key (broadcast — a routing table is MBs), then
  *      one integer shift-compare verifies real containment;
  *   3. the winner per host value is max_by(preflen) — exact because a
  *      host matches at most ONE block per length (cidr uniqueness
  *      contract), so no tie exists;
  *   4. winners join back onto the input rows by host number
  *      (LPM is a function of the host VALUE alone — scoring distinct
  *      hosts first keeps candidate volume ∝ distinct hosts, not rows).
  *
  * Unmatched hosts keep NULL block columns (left join) — the caller
  * decides between "default route" (add a 0.0.0.0/0 row) and drop.
  * All-integer: base/len parse once, containment is one shift-equal.
  */
object Lpm {

  def cidrBase(cidr: Column): Column =
    IpFunctions.ip4ToNum(split(cidr, "/").getItem(0))

  def cidrLen(cidr: Column): Column = split(cidr, "/").getItem(1).cast("int")

  /** Step (1) of the LPM plan, shared with the streaming twin
    * ([[graft.streaming.StreamingLpm]]): parse + expand the block
    * table to fixed `anchor`-bit join-key rows. The explode fanout
    * 2^(anchor-len) is bounded to 2^16 per block and only inflates
    * the block table — never the data side. The validation lives
    * INSIDE __len (not a dropped side column the optimizer would
    * prune away): out-of-range lengths raise loudly.
    */
  def expandedIndex(blocks: DataFrame, cidrCol: String,
      anchor: Int): DataFrame = {
    require(anchor >= 1 && anchor <= 32, s"anchor=$anchor (want 1..32)")
    val lenLo = math.max(0, anchor - 16)
    blocks
      .withColumn("__base", cidrBase(col(cidrCol)))
      .withColumn("__len",
        when(cidrLen(col(cidrCol)).between(lenLo, 32), cidrLen(col(cidrCol)))
          .otherwise(raise_error(concat(lit(s"lpmEnrich: prefix length " +
            s"out of range (want $lenLo..32 at anchor=$anchor): "),
            col(cidrCol)))))
      .withColumn("__i", explode(expr(
        s"sequence(0L, shiftleft(CAST(1 AS BIGINT), " +
          s"greatest(0, $anchor - __len)) - 1L)")))
      .withColumn("__ak",
        expr(s"shiftright(__base, ${32 - anchor}) + __i"))
      .drop("__i")
  }

  def lpmEnrich(df: DataFrame, hostCol: String, blocks: DataFrame,
      cidrCol: String, anchor: Int = 16): DataFrame = {
    val attrs = blocks.columns.filter(_ != cidrCol).toSeq

    val expanded = expandedIndex(blocks, cidrCol, anchor)

    // (2) candidates over DISTINCT host numbers; one shift-equal
    // verifies containment (len <= anchor rows are contained by
    // construction, the filter is then trivially true)
    val hostNum = IpFunctions.ip4ToNum(col(hostCol))
    val hosts = df.select(hostNum.as("__hn")).distinct()
    val cand = hosts
      .withColumn("__ak", expr(s"shiftright(__hn, ${32 - anchor})"))
      .join(broadcast(expanded), "__ak")
      .filter(expr("shiftright(__hn, 32 - __len) = shiftright(__base, 32 - __len)"))

    // (3) most specific block per host value — unique by construction
    val blkStruct = struct(
      (col(cidrCol).as("matched_cidr") +: col("__len").as("matched_len") +:
        attrs.map(a => col(a))): _*)
    val winners = cand.groupBy(col("__hn"))
      .agg(max_by(blkStruct, col("__len")).as("__blk"))
      .select(col("__hn"), col("__blk.*"))

    // (4) enrich the original rows (left: unmatched hosts keep NULLs).
    // winners is DISTINCT-HOST-sized, not block-table-sized, so it is
    // never force-broadcast — AQE picks broadcast when it measures
    // small, and a 4B-host winner table shuffles like the data it is.
    df.withColumn("__hn", hostNum)
      .join(winners, Seq("__hn"), "left")
      .drop("__hn")
  }

  // ------------------------------------------------------------- IPv6

  /** Big-endian 8-byte binary -> signed long, built-ins only:
    * hex + conv(…, 16, -10) (negative radix = two's-complement signed,
    * so 0xfff… round-trips instead of overflowing the bigint cast).
    */
  private[graft] def be64(b: Column): Column =
    conv(hex(b), 16, -10).cast("bigint")

  def cidr6Len(cidr: Column): Column = split(cidr, "/").getItem(1).cast("int")

  /** The one containment predicate both the batch and streaming v6
    * paths share: "first `len` bits of host == first `len` bits of
    * base" over the (hi, lo) signed-long pair. All shift amounts stay
    * in 1..63 on the evaluated branch (Java long shifts are mod 64, so
    * a literal shift-by-64 would silently no-op): len <= 64 compares
    * hi-parts only (len = 0 short-circuits TRUE before any shift
    * matters), len > 64 pins hi equality and shifts the lo-parts by
    * 128 - len.
    */
  private[graft] def contains6Sql(hhi: String, hlo: String, len: String,
      bhi: String, blo: String): String =
    s"CASE WHEN $len <= 64 THEN $len = 0 OR " +
      s"shiftrightunsigned($hhi, 64 - $len) = shiftrightunsigned($bhi, 64 - $len) " +
      s"ELSE $hhi = $bhi AND " +
      s"shiftrightunsigned($hlo, 128 - $len) = shiftrightunsigned($blo, 128 - $len) END"

  /** Step (1) of the v6 LPM plan (shared with
    * [[graft.streaming.StreamingLpm6]]): parse + expand the block
    * table to fixed `anchor`-bit join-key rows — the exact
    * [[expandedIndex]] device re-expressed over 16-byte addresses as
    * a (hi, lo) signed-long pair (R13's `Ip6ToBytes` does the parse;
    * the reference skips IPv6 outright, main.go:223-227). The anchor
    * key lives entirely in the hi long, so anchor <= 63; blocks
    * shorter than the anchor explode into their 2^(anchor-len)
    * anchor-sized children (base is pre-masked per the CIDR contract,
    * so children enumerate by plain +i), bounded to 2^16 per block.
    * Malformed CIDR text or an out-of-range length raises loudly
    * inside __len — never a silently dropped row.
    */
  def expandedIndex6(blocks: DataFrame, cidrCol: String,
      anchor: Int): DataFrame = {
    require(anchor >= 1 && anchor <= 63, s"anchor=$anchor (want 1..63)")
    val lenLo = math.max(0, anchor - 16)
    val parsed = graft.functions.Ip6Expressions.ip6ToBytes(
      split(col(cidrCol), "/").getItem(0))
    blocks
      .withColumn("__b", parsed)
      .withColumn("__len",
        when(col("__b").isNotNull &&
            cidr6Len(col(cidrCol)).between(lenLo, 128),
            cidr6Len(col(cidrCol)))
          .otherwise(raise_error(concat(lit(s"lpmEnrich6: malformed " +
            s"CIDR or prefix length out of range (want $lenLo..128 at " +
            s"anchor=$anchor): "), col(cidrCol)))))
      .withColumn("__bhi", be64(substring(col("__b"), 1, 8)))
      .withColumn("__blo", be64(substring(col("__b"), 9, 8)))
      .withColumn("__i", explode(expr(
        s"sequence(0L, shiftleft(CAST(1 AS BIGINT), " +
          s"greatest(0, $anchor - __len)) - 1L)")))
      .withColumn("__ak",
        expr(s"shiftrightunsigned(__bhi, ${64 - anchor}) + __i"))
      .drop("__i", "__b")
  }

  /** R26 v6: longest-prefix-match enrichment over IPv6 hosts — the
    * [[lpmEnrich]] plan shape (expand blocks to anchor keys, equi-join
    * DISTINCT hosts, shift-compare containment, max_by(preflen)
    * winner, left-join back), with the 32-bit host number replaced by
    * the (hi, lo) signed-long pair of R13's 16-byte parse.
    *
    * Unlike the v4 twin (whose 4-byte parse is a handful of integer
    * ops), the v6 parse is the expensive step — so BOTH the distinct
    * pass and the winners-back join key on the RAW HOST STRING:
    * `ip6ToBytes` runs once per DISTINCT host, never per event row,
    * and never again on the join-back side. (Two spellings of one
    * address each get their own winner row — same enrichment values,
    * LPM being a function of the parsed address.) Unmatched hosts —
    * including unparseable text, whose NULL parse never survives the
    * anchor equi-join — keep NULL block columns.
    */
  def lpmEnrich6(df: DataFrame, hostCol: String, blocks: DataFrame,
      cidrCol: String, anchor: Int = 40): DataFrame = {
    val attrs = blocks.columns.filter(_ != cidrCol).toSeq

    val expanded = expandedIndex6(blocks, cidrCol, anchor)

    val hosts = df.select(col(hostCol).as("__hs")).distinct()
      .withColumn("__hb",
        graft.functions.Ip6Expressions.ip6ToBytes(col("__hs")))
      .withColumn("__hhi", be64(substring(col("__hb"), 1, 8)))
      .withColumn("__hlo", be64(substring(col("__hb"), 9, 8)))
    val cand = hosts
      .withColumn("__ak", expr(s"shiftrightunsigned(__hhi, ${64 - anchor})"))
      .join(broadcast(expanded), "__ak")
      .filter(expr(contains6Sql("__hhi", "__hlo", "__len", "__bhi", "__blo")))

    val blkStruct = struct(
      (col(cidrCol).as("matched_cidr") +: col("__len").as("matched_len") +:
        attrs.map(a => col(a))): _*)
    val winners = cand.groupBy(col("__hs"))
      .agg(max_by(blkStruct, col("__len")).as("__blk"))
      .select(col("__hs"), col("__blk.*"))

    df.join(winners, df(hostCol) === winners("__hs"), "left")
      .drop("__hs")
  }
}
