package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.Ip6Expressions.Cidr6

class Ip6ExpressionsSpec extends SparkSuite {
  import spark.implicits._

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("parser handles compression, mapped v4, full form; rejects malformed") {
    val cases = Seq(
      "::1" -> Some("0" * 30 + "01"),
      "::" -> Some("0" * 32),
      "2001:db8::8a2e:370:7334" ->
        Some("20010db8000000000000" + "8a2e" + "0370" + "7334"),
      "2001:0db8:0000:0000:0000:8a2e:0370:7334" ->
        Some("20010db8000000000000" + "8a2e" + "0370" + "7334"),
      "::ffff:192.0.2.128" -> Some("0" * 20 + "ffff" + "c0000280"),
      "fe80::" -> Some("fe80" + "0" * 28),
      // malformed
      "1:2:3" -> None, "::1::2" -> None, "12345::" -> None,
      "g::1" -> None, "1:2:3:4:5:6:7:8:9" -> None, "" -> None)
    cases.foreach { case (in, expect) =>
      val got = Option(Ip6Kernels.parse(in)).map(hex)
      assert(got == expect, s"parse($in): got $got expect $expect")
    }
  }

  test("bytes -> canonical text roundtrips through parse") {
    val ips = Seq("::1", "2001:db8::8a2e:370:7334", "fe80::", "::",
      "1:0:0:2:0:0:0:3") // compression picks the LONGEST zero run
    val got = ips.toDF("ip")
      .select(Ip6Expressions.bytesToIp6(
        Ip6Expressions.ip6ToBytes(col("ip"))).as("back"))
      .as[String].collect().toSeq
    assert(got == Seq("::1", "2001:db8::8a2e:370:7334", "fe80::", "::",
      "1:0:0:2::3"))
  }

  test("malformed input becomes null through the expression") {
    val got = Seq("nope", "::1::2").toDF("ip")
      .select(Ip6Expressions.ip6ToBytes(col("ip")).isNull)
      .as[Boolean].collect()
    assert(got.forall(identity))
  }

  test("Cidr6.parse rejects malformed network-list entries by name") {
    val bad = Seq("2001:db8::", "2001:db8::/", "2001:db8::/32/8",
      "2001:db8::/3x", "2001:db8::g/32", " 2001:db8::/32", "2001:db8::/32 ",
      "2001:db8::/129", "::1::2/64", "/64", "")
    bad.foreach { s =>
      val e = intercept[IllegalArgumentException](Cidr6.parse(s))
      assert(e.getMessage.contains(s"'$s'"), e.getMessage)
    }
  }

  test("cidr6Contains is an inclusive binary range with correct order") {
    val c = Cidr6.parse("2001:db8::/32")
    assert(c.networkString == "2001:db8::/32")
    val rows = Seq(
      ("2001:db7:ffff:ffff:ffff:ffff:ffff:ffff", false), // just below
      ("2001:db8::", true),                              // first
      ("2001:db8::1", true),
      ("2001:db8:ffff:ffff:ffff:ffff:ffff:ffff", true),  // last
      ("2001:db9::", false))                             // just above
    val got = rows.map(_._1).toDF("ip")
      .select(Ip6Expressions.cidr6Contains(c,
        Ip6Expressions.ip6ToBytes(col("ip"))).as("in"))
      .as[Boolean].collect().toSeq
    assert(got == rows.map(_._2))
  }

  test("IPv6 functions registered in SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT graft_bytes_to_ip6(graft_ip6_to_bytes('2001:0db8::0001')) AS ip")
      .collect().head
    assert(r.getString(0) == "2001:db8::1")
  }

  test("cidr normalization zeroes host bits") {
    val c = Cidr6.parse("2001:db8::dead:beef/64")
    assert(c.networkString == "2001:db8::/64")
  }
}
