package graft.operators

import graft.SparkSuite

class Lpm6Spec extends SparkSuite {
  import spark.implicits._

  // nesting spans BOTH longs: /32 and /48 resolve in the hi long,
  // /80 and /96 pin the len > 64 lo-long comparison path
  private val blocks = Seq(
    ("2001:db8::/32", "backbone"),
    ("2001:db8:1::/48", "region"),
    ("2001:db8:1:0:2::/80", "site"),
    ("2001:db8:1:0:2:3::/96", "rack"),
    ("fd00::/24", "lab")).toDF("cidr", "owner")

  private def enrich(hosts: Seq[String],
      anchor: Int = 40): Map[String, (String, String)] =
    Lpm.lpmEnrich6(hosts.toDF("host"), "host", blocks, "cidr", anchor = anchor)
      .collect()
      .map(r => r.getAs[String]("host") ->
        (r.getAs[String]("matched_cidr"), r.getAs[String]("owner")))
      .toMap

  test("most specific block wins across the hi/lo long boundary") {
    val got = enrich(Seq(
      "2001:db8:1:0:2:3::9", // /32, /48, /80, /96 -> rack
      "2001:db8:1:0:2:99::1", // /32, /48, /80     -> site
      "2001:db8:1:ffff::1",   // /32, /48          -> region
      "2001:db8:77::1",       // /32 only          -> backbone
      "fd00::1"               // lab (len < anchor, exploded children)
    ))
    assert(got == Map(
      "2001:db8:1:0:2:3::9" -> ("2001:db8:1:0:2:3::/96", "rack"),
      "2001:db8:1:0:2:99::1" -> ("2001:db8:1:0:2::/80", "site"),
      "2001:db8:1:ffff::1" -> ("2001:db8:1::/48", "region"),
      "2001:db8:77::1" -> ("2001:db8::/32", "backbone"),
      "fd00::1" -> ("fd00::/24", "lab")))
  }

  test("unmatched and unparseable hosts keep NULL block columns") {
    val out = Lpm.lpmEnrich6(
        Seq("2001:dead::1", "not-an-ip").toDF("host"), "host",
        blocks, "cidr")
      .collect()
      .map(r => r.getAs[String]("host") -> r.getAs[String]("matched_cidr"))
      .toMap
    assert(out == Map("2001:dead::1" -> null, "not-an-ip" -> null))
  }

  test("anchor choice never changes the result") {
    val hosts = Seq("2001:db8:1:0:2:3::9", "2001:db8:1:0:2:99::1",
      "2001:db8:1:ffff::1", "2001:db8:77::1", "fd00::1", "2001:dead::1")
    val base = enrich(hosts)
    // anchor must keep lenLo = anchor - 16 at or under the fixture's
    // shortest block (/24), so the legal sweep here is 16..40
    for (a <- Seq(16, 24, 32, 40))
      assert(enrich(hosts, anchor = a) == base, s"divergence at anchor=$a")
  }

  test("a /128 host route wins over everything") {
    val withHostRoute = Seq(
      ("2001:db8::/32", "backbone"),
      ("2001:db8:1:0:2:3:0:9/128", "pin")).toDF("cidr", "owner")
    val got = Lpm.lpmEnrich6(
        Seq("2001:db8:1:0:2:3::9", "2001:db8:1:0:2:3::a").toDF("host"),
        "host", withHostRoute, "cidr")
      .collect()
      .map(r => r.getAs[String]("host") -> r.getAs[String]("owner")).toMap
    assert(got == Map(
      "2001:db8:1:0:2:3::9" -> "pin",
      "2001:db8:1:0:2:3::a" -> "backbone"))
  }

  test("malformed CIDR text and out-of-range lengths raise loudly") {
    def msgOf(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    val badLen = Seq(("2001:db8::/129", "x")).toDF("cidr", "owner")
    val e1 = intercept[Exception](
      Lpm.lpmEnrich6(Seq("2001:db8::1").toDF("host"), "host", badLen,
        "cidr").collect())
    assert(msgOf(e1).contains("prefix length"))
    val badIp = Seq(("2001:zz8::/32", "x")).toDF("cidr", "owner")
    val e2 = intercept[Exception](
      Lpm.lpmEnrich6(Seq("2001:db8::1").toDF("host"), "host", badIp,
        "cidr").collect())
    assert(msgOf(e2).contains("malformed"))
    // fanout bound: block shorter than anchor - 16
    val wide = Seq(("2001:db8::/10", "x")).toDF("cidr", "owner")
    val e3 = intercept[Exception](
      Lpm.lpmEnrich6(Seq("2001:db8::1").toDF("host"), "host", wide,
        "cidr", anchor = 40).collect())
    assert(msgOf(e3).contains("prefix length"))
  }
}
