package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs; one per JVM (tests fork once). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the library's session-build registration path — the whole suite
    // runs with the injected native functions (ExtensionsSpec asserts it)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp directory, deleted with its contents after the suite. */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    tmpDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.asScala.foreach(org.apache.commons.io.FileUtils.deleteQuietly)

  /** Generated classes Spark compiled while `body` ran, driver and
    * executor tasks together (one process-wide counter; the forked test
    * JVM runs one suite at a time). */
  def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The command lines of the operating-system processes this JVM started
    * while `body` ran (JFR `jdk.ProcessStart` events, recorded in-process). */
  def processesDuring(body: => Unit): Seq[String] = {
    val recording = new Recording()
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try body finally recording.stop()
      recording.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      recording.close()
      Files.deleteIfExists(dump)
    }
  }
}
