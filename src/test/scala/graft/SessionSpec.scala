package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one conf list every graft session is built from, and the one
  * JSON string escaper the entry points share. */
class SessionSpec extends AnyFunSuite {

  test("Session.confs holds exactly the parity settings the entry points set") {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    assert(Session.cpus == cpus)
    assert(
      Session.confs.toMap == Map(
        "spark.sql.session.timeZone"                  -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong"        -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
        "spark.sql.adaptive.enabled"                  -> "true",
        "spark.sql.extensions"                        -> "graft.plans.GraftExtensions",
        "spark.ui.enabled"                            -> "false",
        "spark.sql.shuffle.partitions"                -> cpus,
        "spark.io.compression.codec"                  -> "lz4",
        "spark.sql.codegen.cache.maxEntries"          -> "4096",
        "spark.hadoop.fs.file.impl"                   -> "graft.NioLocalFileSystem"
      )
    )
    assert(Session.confs.map(_._1).distinct.size == Session.confs.size, "a key set twice")
    assert(Session.readConfs.forall(Session.confs.contains))
  }

  test("the test session is built from Session.confs plus its three overrides") {
    val spark = TestSession.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(TestSession.overrides.keySet == Set("spark.sql.shuffle.partitions", "spark.sql.warehouse.dir"))
    val warehouse = "spark.sql.warehouse.dir"
    (Session.confs.toMap ++ TestSession.overrides - warehouse).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"effective $k")
    }
    // Spark qualifies the warehouse path with its file system scheme
    assert(spark.conf.get(warehouse).stripPrefix("file:") == TestSession.overrides(warehouse))
  }

  test("Session.tune re-applies the read-parity settings to a session") {
    val s = TestSession.spark.newSession()
    Session.readConfs.foreach { case (k, _) => s.conf.unset(k) }
    assert(Session.readConfs.exists { case (k, v) => s.conf.get(k) != v })
    Session.tune(s)
    Session.readConfs.foreach { case (k, v) => assert(s.conf.get(k) == v, s"tuned $k") }
  }

  test("Verify.jsonStr output parses back to the same string") {
    val raw    = "say \"hi\" C:\\tmp\nline\r\ttab\u0001 café ∑ 日本"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readValue(Verify.jsonStr(raw), classOf[String]) == raw)
    // the {key: value} shape Verify and Bench write their oracle files in
    val node = mapper.readTree(s"{${Verify.jsonStr(raw)}:${Verify.jsonStr(raw)}}")
    assert(node.fieldNames().next() == raw)
    assert(node.get(raw).asText() == raw)
  }
}
