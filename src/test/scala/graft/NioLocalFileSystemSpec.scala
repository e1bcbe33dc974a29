package graft

import java.nio.file.{Files, Path, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Exports through [[Session.confs]]' local file system start no process
  * and leave the permissions stock `LocalFileSystem` leaves. */
class NioLocalFileSystemSpec extends SparkSpec {

  /** `body`'s result and the command line of every process the JVM started
    * while it ran, from a JFR recording of `jdk.ProcessStart` events. */
  private def processStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq)
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  /** A session whose writes go through stock Hadoop `LocalFileSystem`
    * (uncached, so the JVM's cached file system is not reused). */
  private lazy val stock = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }

  private def export(s: org.apache.spark.sql.SparkSession, tag: String): (Path, Seq[String]) = {
    val out = Files.createTempDirectory(s"graft_localfs_$tag")
    val (_, cmds) = processStarts(Pipeline.exportByType(s, sf, out.toString, "purchase", 30).collect())
    (out, cmds)
  }

  /** Every path under `dir` (file names' UUIDs blanked) → its permission string. */
  private def permissions(dir: Path): Seq[(String, String)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(dir)
    try walk.iterator().asScala.map { p =>
      dir.relativize(p).toString.replaceAll(uuid, "*") ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  // one untimed export first: one-time setup (class loading, fixture
  // schema inference) is not what the counts below are about
  private lazy val warm = export(spark, "warm")
  private lazy val viaSession = { warm; export(spark, "session") }
  private lazy val viaStock   = { warm; export(stock, "stock") }

  test("one Pipeline.exportByType at sf0.001 starts no process") {
    assert(viaSession._2.size === 0, s"${viaSession._2.size} processes: ${viaSession._2.take(5).mkString("\n")}")
    // the same export through stock LocalFileSystem forks chmod for every
    // file it writes
    val written = permissions(viaStock._1).count(_._1.endsWith(".parquet"))
    assert(written > 0)
    assert(viaStock._2.count(_.contains("chmod")) >= written, s"$written files, ${viaStock._2.size} processes")
  }

  test("exported directories and files get the permission bits stock LocalFileSystem gives them") {
    val ours = permissions(viaSession._1)
    assert(ours.exists(_._1.startsWith("data/day=")) && ours.exists(_._1.endsWith(".crc")), ours)
    assert(ours === permissions(viaStock._1))
  }

  test("a mode beyond the nine rwx bits keeps Hadoop's own path") {
    import org.apache.hadoop.fs.permission.FsPermission
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_localfs_mode")
    val p   = new org.apache.hadoop.fs.Path(dir.toUri)
    fs.setPermission(p, new FsPermission(Integer.parseInt("0750", 8).toShort))
    assert(java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)) == "rwxr-x---")
    val (_, cmds) = processStarts(fs.setPermission(p, new FsPermission(Integer.parseInt("1755", 8).toShort)))
    assert(cmds.exists(_.contains("chmod")), "the sticky bit goes through chmod")
    assert(fs.getFileStatus(p).getPermission.getStickyBit)
    fs.close()
  }
}
