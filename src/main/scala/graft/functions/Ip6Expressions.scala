package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** IPv6 support — beyond the reference, which skips IPv6 networks
  * outright (/root/reference/main.go:223). Addresses are canonical
  * 16-byte binary; Spark compares binary unsigned-lexicographically,
  * which equals unsigned 128-bit integer order, so CIDR membership is
  * a closed range predicate on the binary column — sargable exactly
  * like the IPv4 long ranges.
  */
object Ip6Kernels {

  /** RFC 4291 text -> 16 bytes; null for malformed input. Handles
    * `::` compression and trailing dotted-quad (IPv4-mapped) forms.
    * No InetAddress (it resolves hostnames — unacceptable in a row
    * kernel).
    */
  def ip6ToBytes(s: UTF8String): Array[Byte] = parse(s.toString)

  private[functions] def parse(str: String): Array[Byte] = {
    if (str == null || str.isEmpty) return null
    val dcIdx = str.indexOf("::")
    if (dcIdx >= 0 && str.indexOf("::", dcIdx + 1) >= 0) return null // one '::' max
    val (headStr, tailStr) =
      if (dcIdx >= 0) (str.substring(0, dcIdx), str.substring(dcIdx + 2))
      else (str, null)

    def groups(part: String): Array[Int] = {
      if (part == null || part.isEmpty) return Array.empty
      val raw = part.split(":", -1)
      if (raw.exists(_.isEmpty)) return null
      val out = Array.newBuilder[Int]
      var i = 0
      while (i < raw.length) {
        val g = raw(i)
        if (g.contains('.')) {
          // trailing IPv4 dotted quad -> two groups; must be last
          if (i != raw.length - 1) return null
          val v4 = GraftKernels.ip4ToNum(UTF8String.fromString(g))
          if (v4 < 0) return null
          out += ((v4 >> 16) & 0xffff).toInt
          out += (v4 & 0xffff).toInt
        } else {
          if (g.length > 4 || !g.forall(c => Character.digit(c, 16) >= 0))
            return null
          out += Integer.parseInt(g, 16)
        }
        i += 1
      }
      out.result()
    }

    val head = groups(headStr)
    if (head == null) return null
    val tail = if (dcIdx >= 0) groups(tailStr) else Array.empty[Int]
    if (tail == null) return null
    val n = head.length + tail.length
    val ok =
      if (dcIdx >= 0) n <= 7 || (n == 8 && headStr.isEmpty && tailStr.isEmpty)
      else n == 8
    if (!ok) return null
    val full = head ++ Array.fill(8 - n)(0) ++ tail
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(2 * i) = ((full(i) >> 8) & 0xff).toByte
      bytes(2 * i + 1) = (full(i) & 0xff).toByte
      i += 1
    }
    bytes
  }

  def bytesToIp6(b: Array[Byte]): UTF8String = {
    if (b == null || b.length != 16) return null
    // canonical RFC 5952-ish: longest zero run (>=2) compressed
    val groups = Array.tabulate(8)(i =>
      ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
    var bestStart = -1; var bestLen = 0
    var i = 0
    while (i < 8) {
      if (groups(i) == 0) {
        var j = i
        while (j < 8 && groups(j) == 0) j += 1
        if (j - i > bestLen) { bestStart = i; bestLen = j - i }
        i = j
      } else i += 1
    }
    val sb = new java.lang.StringBuilder(40)
    if (bestLen >= 2) {
      var k = 0
      while (k < bestStart) {
        if (k > 0) sb.append(':')
        sb.append(Integer.toHexString(groups(k)))
        k += 1
      }
      sb.append("::")
      k = bestStart + bestLen
      var first = true
      while (k < 8) {
        if (!first) sb.append(':')
        sb.append(Integer.toHexString(groups(k)))
        first = false
        k += 1
      }
    } else {
      var k = 0
      while (k < 8) {
        if (k > 0) sb.append(':')
        sb.append(Integer.toHexString(groups(k)))
        k += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Native parse: IPv6 text -> 16-byte binary (null if malformed). */
case class Ip6ToBytes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ip6_to_bytes"

  override def nullSafeEval(input: Any): Any =
    Ip6Kernels.ip6ToBytes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.Ip6Kernels.ip6ToBytes($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Ip6ToBytes =
    copy(child = newChild)
}

/** Native format: 16-byte binary -> canonical compressed text. */
case class BytesToIp6(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bytes_to_ip6"

  override def nullSafeEval(input: Any): Any =
    Ip6Kernels.bytesToIp6(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.Ip6Kernels.bytesToIp6($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BytesToIp6 =
    copy(child = newChild)
}

object Ip6Expressions {

  def ip6ToBytes(ip: Column): Column =
    Bridge.column(Ip6ToBytes(Bridge.expression(ip)))
  def bytesToIp6(b: Column): Column =
    Bridge.column(BytesToIp6(Bridge.expression(b)))

  /** Parsed IPv6 CIDR: inclusive [start, end] 16-byte bounds. */
  final case class Cidr6(networkString: String, start: Array[Byte], end: Array[Byte])

  object Cidr6 {
    /** Parse "address/prefix", normalizing to the network address; a
      * malformed entry raises an IllegalArgumentException naming it.
      */
    def parse(s: String): Cidr6 = {
      val (ip, prefix) = IpFunctions.splitCidr(s, 128)
      val raw = Ip6Kernels.parse(ip)
      if (raw == null) throw IpFunctions.badNetwork(s, "bad IPv6 address")
      val start = raw.clone(); val end = raw.clone()
      var bit = prefix
      var i = 0
      while (i < 16) {
        val keep = math.max(0, math.min(8, bit))
        val mask = (0xff << (8 - keep)) & 0xff
        start(i) = (start(i) & mask).toByte
        end(i) = ((end(i) & mask) | (~mask & 0xff)).toByte
        bit -= 8
        i += 1
      }
      val norm = Ip6Kernels.bytesToIp6(start).toString
      Cidr6(s"$norm/$prefix", start, end)
    }
  }

  /** Membership as an inclusive binary range — unsigned lexicographic
    * binary comparison == unsigned 128-bit order, so this pushes down
    * and prunes like any range predicate.
    */
  def cidr6Contains(cidr: Cidr6, ipBytes: Column): Column =
    ipBytes >= lit(cidr.start) && ipBytes <= lit(cidr.end)

  def cidr6Contains(cidr: String, ipBytes: Column): Column =
    cidr6Contains(Cidr6.parse(cidr), ipBytes)
}
