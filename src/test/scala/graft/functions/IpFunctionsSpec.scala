package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.IpFunctions._

class IpFunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("ip4ToNum/numToIp4 roundtrip incl. edges") {
    val ips = Seq("0.0.0.0", "10.0.0.1", "192.168.1.33", "255.255.255.255")
    val got = ips.toDF("ip")
      .select(numToIp4(ip4ToNum(col("ip"))).as("back"))
      .as[String].collect().toSeq
    assert(got == ips)
  }

  test("ip4ToNum matches ClickHouse IPv4StringToNum semantics") {
    val got = Seq("1.2.3.4").toDF("ip")
      .select(ip4ToNum(col("ip"))).as[Long].head()
    assert(got == 16909060L) // 1*2^24 + 2*2^16 + 3*2^8 + 4
  }

  test("Cidr.parse normalizes to the network address (main.go:236)") {
    val c = Cidr.parse("192.168.1.33/24")
    assert(c.networkString == "192.168.1.0/24")
    assert(c.start == (192L << 24 | 168L << 16 | 1L << 8))
    assert(c.count == 256L)
  }

  test("Cidr.parse rejects malformed network-list entries by name") {
    val bad = Seq("10.0.0.0", "10.0.0.0/", "10.0.0.0/24/8", "10.0.0.0/x4",
      "10.0.0.x/24", " 10.0.0.0/24", "10.0.0.0/24 ", "10.0.0.0/33",
      "10.0.0.256/24", "10.0.0/24", "10.0.0.0./24", "/24", "")
    bad.foreach { s =>
      val e = intercept[IllegalArgumentException](Cidr.parse(s))
      assert(e.getMessage.contains(s"'$s'"), e.getMessage)
    }
  }

  test("cidrContains is an inclusive range (no reference off-by-one)") {
    val c = Cidr.parse("10.0.0.0/24")
    val got = Seq(
      ("9.255.255.255", false), ("10.0.0.0", true),
      ("10.0.0.255", true), ("10.0.1.0", false))
      .toDF("ip", "expect")
      .select(cidrContains(c, ip4ToNum(col("ip"))) === col("expect"))
      .as[Boolean].collect()
    assert(got.forall(identity))
  }

  test("networkOf masks to the prefix") {
    val got = Seq("10.1.2.3").toDF("ip")
      .select(numToIp4(networkOf(ip4ToNum(col("ip")), 16)))
      .as[String].head()
    assert(got == "10.1.0.0")
    val bare = Seq("10.1.2.3").toDF("ip")
      .select(prefixNetwork(col("ip"), 24)).as[String].head()
    assert(bare == "10.1.2.0")
  }
}
