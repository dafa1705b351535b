package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.IngestGateStream

/** Streaming ingest gate — the three-way proof (the CdcStream pattern):
  * the one-sided prefix-filter gate in batch mode must equal q70's
  * union-frequency cross-corpus matches EXACTLY (both are lossless, so
  * the different prefix orders cannot change the verified match set),
  * and the MemoryStream run must equal the batch run. */
class IngestGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val t0 = Timestamp.valueOf("2026-01-01 10:00:00")

  private def asSet(rows: Array[(Long, Long, Double)]) = rows.toSet

  test("batch-mode ingest gate equals q70 cross-corpus matches exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val idx = IngestGateStream.buildIndex(corpus, n = 3, tau = 0.7)
    try {
      val got = asSet(IngestGateStream.matches(
          idx, batch.withColumn("ts", lit(t0)), n = 3, tau = 0.7, "ts")
        .select("corpus_doc", "batch_doc", "jaccard")
        .as[(Long, Long, Double)].collect())
      val expect = asSet(Dedup.crossJaccardMatches(corpus, batch, n = 3, tau = 0.7)
        .as[(Long, Long, Double)].collect())
      assert(got === expect)
      assert(got.nonEmpty) // the corpus has planted cross-side near-dups
    } finally { idx.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("staged index equals the in-flight build and a re-call touches no file") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0).withColumn("ts", lit(t0))
    val inputs = Seq(s"$sf/documents.parquet")
    val staged = IngestGateStream.indexStaged(spark, inputs, "mod3", n = 3, tau = 0.7)(corpus)
    val live = IngestGateStream.buildIndex(corpus, n = 3, tau = 0.7)
    try {
      val got = asSet(IngestGateStream.matches(staged, batch, n = 3, tau = 0.7, "ts")
        .select("corpus_doc", "batch_doc", "jaccard")
        .as[(Long, Long, Double)].collect())
      val expect = asSet(IngestGateStream.matches(live, batch, n = 3, tau = 0.7, "ts")
        .select("corpus_doc", "batch_doc", "jaccard")
        .as[(Long, Long, Double)].collect())
      assert(got === expect)
      assert(got.nonEmpty)
      // re-invocation reads the finished stage: every index file untouched
      val root = graft.operators.Staging.root(spark,
        IngestGateStream.indexKey(inputs, "mod3", n = 3, tau = 0.7))
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def states() = {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
        while (it.hasNext) {
          val st = it.next()
          buf += ((st.getPath.toString, st.getLen, st.getModificationTime))
        }
        buf.sortBy(_._1).toSeq
      }
      val before = states()
      assert(before.nonEmpty)
      assert(IngestGateStream.indexStaged(spark, inputs, "mod3", n = 3, tau = 0.7)(
        sys.error("build must not run on a finished stage")).prefix.count() > 0)
      assert(states() === before)
    } finally { live.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("MemoryStream ingest gate matches the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val feed = docs.filter(col("doc_id") % 3 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, text) => (id, text, t0) }
    val idx = IngestGateStream.buildIndex(corpus, n = 3, tau = 0.7)
    val stream = MemoryStream[(Long, String, Timestamp)]
    val query = IngestGateStream.matches(
        idx, stream.toDF().toDF("doc_id", "text", "ts"), n = 3, tau = 0.7,
        "ts", delay = "1 hour")
      .writeStream.format("memory").queryName("stream_ingest_gate")
      .outputMode("append").start()
    try {
      // two micro-batches to exercise incremental candidate state
      val (first, second) = feed.splitAt(feed.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
      val streamed = asSet(spark.table("stream_ingest_gate")
        .select("corpus_doc", "batch_doc", "jaccard")
        .as[(Long, Long, Double)].collect())
      val batch = asSet(IngestGateStream.matches(
          idx, feed.toSeq.toDF("doc_id", "text", "ts"), n = 3, tau = 0.7, "ts")
        .select("corpus_doc", "batch_doc", "jaccard")
        .as[(Long, Long, Double)].collect())
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally {
      query.stop()
      idx.unpersist()
      spark.sharedState.cacheManager.clearCache()
    }
  }
}
