package graft.operators

import graft.SparkSuite

class LpmSpec extends SparkSuite {
  import spark.implicits._

  private val blocks = Seq(
    ("10.0.0.0/8", "backbone"),
    ("10.1.0.0/16", "region"),
    ("10.1.2.0/24", "site"),
    ("10.1.2.128/25", "rack"),
    ("192.168.0.0/16", "lab")).toDF("cidr", "owner")

  private def enrich(hosts: Seq[String],
      anchor: Int = 16): Map[String, (String, String)] =
    Lpm.lpmEnrich(hosts.toDF("host"), "host", blocks, "cidr", anchor = anchor)
      .collect()
      .map(r => r.getAs[String]("host") ->
        (r.getAs[String]("matched_cidr"), r.getAs[String]("owner")))
      .toMap

  test("most specific block wins at every nesting level") {
    val got = enrich(Seq(
      "10.1.2.200", // inside /8, /16, /24, /25 -> rack
      "10.1.2.5",   // inside /8, /16, /24       -> site
      "10.1.9.1",   // inside /8, /16            -> region
      "10.7.0.1",   // inside /8 only            -> backbone
      "192.168.3.4" // lab /16 (len == anchor)
    ))
    assert(got == Map(
      "10.1.2.200" -> ("10.1.2.128/25", "rack"),
      "10.1.2.5" -> ("10.1.2.0/24", "site"),
      "10.1.9.1" -> ("10.1.0.0/16", "region"),
      "10.7.0.1" -> ("10.0.0.0/8", "backbone"),
      "192.168.3.4" -> ("192.168.0.0/16", "lab")))
  }

  test("unmatched hosts keep NULL block columns (left join)") {
    val out = Lpm.lpmEnrich(Seq("172.16.0.1").toDF("host"), "host",
        blocks, "cidr")
      .collect().head
    assert(out.getAs[String]("host") == "172.16.0.1")
    assert(out.isNullAt(out.fieldIndex("matched_cidr")))
    assert(out.isNullAt(out.fieldIndex("owner")))
  }

  test("anchor choice and join strategy never change the result") {
    val hosts = Seq("10.1.2.200", "10.1.2.5", "10.1.9.1", "10.7.0.1",
      "192.168.3.4", "172.16.0.1")
    val base = enrich(hosts)
    for (a <- Seq(8, 20, 24))
      assert(enrich(hosts, anchor = a) == base, s"divergence at anchor=$a")
  }

  test("duplicate host rows all receive the same enrichment") {
    val out = Lpm.lpmEnrich(Seq("10.1.2.5", "10.1.2.5").toDF("host"),
        "host", blocks, "cidr")
      .collect().map(_.getAs[String]("matched_cidr")).toSeq
    assert(out == Seq("10.1.2.0/24", "10.1.2.0/24"))
  }

  test("out-of-range prefix length raises loudly") {
    val bad = Seq(("10.0.0.0/33", "x")).toDF("cidr", "owner")
    val e = intercept[Exception](
      Lpm.lpmEnrich(Seq("10.0.0.1").toDF("host"), "host", bad, "cidr")
        .collect())
    assert(e.getMessage.contains("prefix length") ||
      Option(e.getCause).exists(_.getMessage.contains("prefix length")))
  }

  test("fanout bound: a block shorter than anchor - 16 is rejected") {
    val wide = Seq(("10.0.0.0/2", "x")).toDF("cidr", "owner")
    val e = intercept[Exception](
      Lpm.lpmEnrich(Seq("10.0.0.1").toDF("host"), "host", wide, "cidr",
          anchor = 24)
        .collect())
    assert(e.getMessage.contains("prefix length") ||
      Option(e.getCause).exists(_.getMessage.contains("prefix length")))
  }
}
