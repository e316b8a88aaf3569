package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** IPv4 + CIDR functions — the ClickHouse surface the reference leans on
  * (`IPv4StringToNum` / `IPv4NumToString`, /root/reference/main.go:238)
  * re-expressed as pure Column compositions so they stay inside
  * whole-stage codegen and constant-fold when given literals.
  */
object IpFunctions {

  /** ClickHouse `IPv4StringToNum` analog: dotted-quad string → long.
    * Backed by the native codegen expression (one-pass parse, no regex
    * split / array allocation per row); see [[IpExpressions.ip4ToNum]].
    */
  def ip4ToNum(ip: Column): Column = IpExpressions.ip4ToNum(ip)

  /** ClickHouse `IPv4NumToString` analog: long → dotted-quad string. */
  def numToIp4(n: Column): Column = IpExpressions.numToIp4(n.cast("long"))

  /** Parsed IPv4 CIDR block. Driver-side (tiny, config-like — mirrors the
    * reference's networks_list input, main.go:112-133); the data-side
    * predicate it produces is a numeric range, which Catalyst pushes into
    * the parquet scan when applied to a long column.
    */
  final case class Cidr(networkString: String, start: Long, prefix: Int) {
    def count: Long = 1L << (32 - prefix)
    /** inclusive last address */
    def end: Long = start + count - 1
  }

  object Cidr {
    /** Parse "a.b.c.d/p", normalizing to the network address (the
      * reference does the same via net.ParseCIDR — main.go:236-238 notes
      * customers write 192.168.1.33/24 meaning 192.168.1.0/24). The
      * address goes through the row kernel's parser; a malformed entry
      * raises an IllegalArgumentException naming it.
      */
    def parse(s: String): Cidr = {
      val (ip, prefix) = splitCidr(s, 32)
      val raw = GraftKernels.ip4ToNum(UTF8String.fromString(ip))
      if (raw < 0) throw badNetwork(s, "bad IPv4 address")
      val start = raw & prefixMask(prefix)
      Cidr(s"${GraftKernels.numToIp4(start)}/$prefix", start, prefix)
    }
  }

  private[functions] def badNetwork(s: String, why: String) =
    new IllegalArgumentException(s"malformed network '$s': $why")

  /** Split a network-list entry "address/prefix" into its address text
    * and a decimal prefix in [0, maxPrefix]; anything else (no '/', a
    * second '/', an empty or non-decimal prefix, a space) raises.
    */
  private[functions] def splitCidr(s: String, maxPrefix: Int): (String, Int) =
    s.split("/", -1) match {
      case Array(ip, p) if p.nonEmpty && p.length <= 3 &&
          p.forall(c => c >= '0' && c <= '9') && p.toInt <= maxPrefix =>
        (ip, p.toInt)
      case _ => throw badNetwork(s, s"want address/prefix with prefix 0-$maxPrefix")
    }

  private def prefixMask(prefix: Int): Long =
    if (prefix == 0) 0L else (0xffffffffL << (32 - prefix)) & 0xffffffffL

  /** Membership of a numeric IP column in a CIDR — a closed numeric range,
    * so it's sargable (parquet min/max pruning + pushdown). The reference
    * builds the same shape of predicate in SQL (main.go:238), albeit with
    * an off-by-one (`<= start + count` includes one extra address); we use
    * the correct inclusive range.
    */
  def cidrContains(cidr: Cidr, ipNum: Column): Column =
    ipNum >= cidr.start && ipNum <= cidr.end

  def cidrContains(cidr: String, ipNum: Column): Column =
    cidrContains(Cidr.parse(cidr), ipNum)

  /** The /prefix network a numeric IP falls into, as a long (network
    * address). Used to assign rows to networks without any join.
    */
  def networkOf(ipNum: Column, prefix: Int): Column =
    ipNum.bitwiseAND(lit(prefixMask(prefix)))

  /** The /prefix network of a dotted-quad host, as its bare network
    * address (`10.1.2.3`, 24 -> `10.1.2.0`): every fixed-prefix
    * baseline, batch and streaming, assigns rows to networks with this.
    */
  def prefixNetwork(host: Column, prefix: Int): Column =
    numToIp4(networkOf(ip4ToNum(host), prefix))
}
