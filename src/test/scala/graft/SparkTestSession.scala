package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (suites run sequentially). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Runs `body` on a fresh temp directory `graft-<name>…` and deletes
    * the directory, recursively, however `body` ends. */
  def withTempDir[T](name: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(s"graft-$name")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
