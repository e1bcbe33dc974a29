package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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
  /** The next fixture scale, beside [[sf]]. */
  lazy val sf01: String = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  /** `body`'s result and the start events of the Spark jobs it started, on
    * any thread. A marker job runs after `body`; the listener bus delivers
    * events in order, so once the marker's start arrives every earlier job
    * has been seen. */
  def jobsOf[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val sc     = spark.sparkContext
    val marker = s"spark-spec-marker-${java.util.UUID.randomUUID()}"
    val jobs   = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val seen   = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) seen.countDown()
        else { jobs.add(e); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      val description = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(description)
      assert(seen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
