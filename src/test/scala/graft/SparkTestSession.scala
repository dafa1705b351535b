package graft

import org.apache.spark.sql.SparkSession

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
}
