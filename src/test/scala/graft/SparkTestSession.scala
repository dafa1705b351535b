package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local SparkSession for the whole test JVM (forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the given SQL settings, restoring the old values after. */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val old = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Temporary directories owned by a suite: `tempDir(prefix)` creates
    * one under `java.io.tmpdir`, and every one the suite created is
    * deleted, with its contents, when the suite finishes. */
  trait TempDirs extends BeforeAndAfterAll { this: Suite =>
    private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

    def tempDir(prefix: String): Path = {
      val dir = Files.createTempDirectory(prefix)
      dirs.add(dir)
      dir
    }

    override def afterAll(): Unit =
      try dirs.forEach(d => FileUtils.deleteDirectory(d.toFile))
      finally super.afterAll()
  }
}
