package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared environment inputs: SPARK_GRAFT_CONF and
  * SPARK_GRAFT_ONLY are validated before any session starts.
  */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF: entries in order, empty segments skipped, '=' in values kept") {
    assert(Session.parseConf("a=1;;b=x=y; ;c=") ==
      Seq("a" -> "1", "b" -> "x=y", "c" -> ""))
    assert(Session.parseConf("").isEmpty)
  }

  test("SPARK_GRAFT_CONF: a token without '=' fails naming the token") {
    val e = intercept[IllegalArgumentException](
      Session.parseConf("a=1;spark.eventLog.enabled"))
    assert(e.getMessage.contains("'spark.eventLog.enabled'"))
    assert(intercept[IllegalArgumentException](Session.parseConf("=v"))
      .getMessage.contains("'=v'"))
  }

  test("SPARK_GRAFT_CONF: a graft.* key other than graft.materializer fails naming the token") {
    assert(Session.parseConf("graft.materializer=lazy;spark.sql.adaptive.enabled=false") ==
      Seq("graft.materializer" -> "lazy", "spark.sql.adaptive.enabled" -> "false"))
    for (token <- Seq("graft.rankKernel=bucket", " graft.bucketCap.autoThreshold=5",
        "graft.gramSet.broadcastMaxRows=7", "graft.materializerr=lazy")) {
      val e = intercept[IllegalArgumentException](
        Session.parseConf(s"spark.sql.adaptive.enabled=false;$token"))
      assert(e.getMessage.contains(s"'$token'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_CONF entries come after, so override, the helper's defaults") {
    val s = Session.settings("4", Seq("spark.sql.adaptive.enabled" -> "false"),
      Some("spark.sql.adaptive.enabled=true;spark.sql.shuffle.partitions=8"))
    // the builder keeps the last value per key
    val last = s.toMap
    assert(last("spark.sql.adaptive.enabled") == "true")
    assert(last("spark.sql.shuffle.partitions") == "8")
    assert(last("spark.sql.extensions") == "graft.GraftExtensions")
    assert(last("spark.sql.session.timeZone") == "UTC")
    assert(last("spark.ui.enabled") == "false")
    assert(Session.settings("4", Nil, None).toMap.apply("spark.sql.shuffle.partitions") == "4")
  }

  test("SPARK_GRAFT_ONLY: unset or blank runs all, names are trimmed, unknown names fail") {
    val known = Set("q_a", "q_b", "q_c")
    assert(Session.only(None, known).isEmpty)
    assert(Session.only(Some(" , "), known).isEmpty)
    assert(Session.only(Some("q_a, q_c"), known).contains(Set("q_a", "q_c")))
    val e = intercept[IllegalArgumentException](Session.only(Some("q_a,q_typo"), known))
    assert(e.getMessage.contains("q_typo") && !e.getMessage.contains("q_a"))
  }

  test("SPARK_GRAFT_ONLY selects SparkEntry queries by name, sorted") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(Session.queries(None).map(_._1) == names)
    val pick = Set(names.last, names.head)
    assert(Session.queries(Session.only(Some(pick.mkString(",")))).map(_._1) ==
      Seq(names.head, names.last))
  }
}
