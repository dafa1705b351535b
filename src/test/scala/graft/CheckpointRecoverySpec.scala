package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Sessionize

/** Checkpoint recovery: a stateful streaming query stopped mid-stream and
  * restarted from its checkpoint must produce exactly the sessions a
  * never-interrupted run produces — the state-store serialization
  * round-trip every production streaming job depends on (a restart
  * happens on EVERY cluster eventually; state loss would silently split
  * or duplicate sessions). */
class CheckpointRecoverySpec extends AnyFunSuite with SparkTestSession.TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("flatMapGroupsWithState sessionizer survives a stop/restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sec = 1000000000L
    val gapNs = 60L * sec
    // user 1: one session spanning the restart (events in both halves
    // within gap), then a second session after a > gap jump; user 2: one
    // session entirely in the first half, closed by watermark advance
    val firstHalf = Seq(
      Sessionize.Event(1L, 1L, 1000 * sec), Sessionize.Event(1L, 2L, 1030 * sec),
      Sessionize.Event(2L, 3L, 1000 * sec))
    val secondHalf = Seq(
      Sessionize.Event(1L, 4L, 1055 * sec),  // extends user 1's open session
      Sessionize.Event(1L, 5L, 2000 * sec),  // > gap later: new session
      Sessionize.Event(2L, 6L, 3000 * sec),  // closes user 2's session
      // watermark driver: far-future event pushes the watermark past
      // every session end + gap so all sessions emit
      Sessionize.Event(99L, 7L, 9000 * sec))

    val ckpt = tempDir("graft-ckpt-").toString
    // the memory sink does not support checkpoint recovery; the parquet
    // file sink does (and is what a production job writes anyway)
    val outDir = tempDir("graft-ckpt-out-").toString
    val stream = MemoryStream[Sessionize.Event]

    def startQuery() =
      Sessionize.sessionsCustom(stream.toDS(), gapNs)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val q1 = startQuery()
    try {
      stream.addData(firstHalf)
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: state (open sessions of users 1
    // and 2) must be restored from the state store, not reset
    val q2 = startQuery()
    try {
      stream.addData(secondHalf)
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("user_id", "start_ns", "end_ns", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // user 1's first session must MERGE events across the restart
      // (1000..1055, 3 events) — state loss would emit (1000..1030, 2)
      // and a spurious (1055..1055, 1)
      assert(got.contains((1L, 1000 * sec, 1055 * sec, 3L)),
        s"session spanning the restart was split: $got")
      assert(got.contains((1L, 2000 * sec, 2000 * sec, 1L)))
      assert(got.contains((2L, 1000 * sec, 1000 * sec, 1L)))
      assert(got.contains((2L, 3000 * sec, 3000 * sec, 1L)))
    } finally q2.stop()
  }

  test("windowed trending-term counts survive a stop/restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // window [10:00,10:10): "alpha" appears on both sides of the restart
    // — a state reset would finalize the window at the post-restart
    // partial count instead of the merged 3
    val firstHalf = Seq((ts(1), "alpha alpha beta"))
    val secondHalf = Seq(
      (ts(5), "alpha gamma"),
      (ts(45), "flush"))  // watermark driver: closes the first window

    val ckpt = tempDir("graft-trend-ckpt-").toString
    val outDir = tempDir("graft-trend-out-").toString
    val stream = MemoryStream[(java.sql.Timestamp, String)]

    def startQuery() =
      graft.streaming.TrendingStream.termCounts(
          stream.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val q1 = startQuery()
    try {
      stream.addData(firstHalf)
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = startQuery()
    try {
      stream.addData(secondHalf)
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("term", "n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got("alpha") === 3L,
        s"window partials were not restored across the restart: $got")
      assert(got("beta") === 1L)
      assert(got("gamma") === 1L)
    } finally q2.stop()
  }
}
