package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the test
  * run fast). Built from [[Session.confs]], the list every graft session
  * uses, overriding only the master, the shuffle partitions and the
  * warehouse dir. */
object TestSession {
  val overrides: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir"      -> java.nio.file.Files.createTempDirectory("graft_warehouse").toString
  )

  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config(Session.confs.toMap ++ overrides)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
