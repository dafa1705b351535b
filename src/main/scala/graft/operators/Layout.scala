package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Physical data layout — the two write-side levers that decide how much
  * of a 100 TB table a query actually READS, completing the layout
  * family next to bucketing (X43, shuffle-free joins) and Hive
  * partitioning (X52, directory pruning):
  *
  *   - '''Z-order clustering''': sort by an interleaved-bit (Morton) key
  *     over TWO filter columns, so each output file covers a small
  *     square-ish box of the 2-D key space instead of a thin full-width
  *     stripe. Parquet min/max footer stats then skip most files for
  *     predicates on EITHER dimension — the multi-dimensional
  *     generalization of sort-based data skipping that 1-D sorting
  *     cannot give (a partkey-sorted file spans ALL suppkeys, so any
  *     suppkey-only predicate reads every file).
  *   - '''Small-file compaction''': bin the accumulated output of an
  *     incremental writer (thousands of KB-size files — each a task's
  *     worth of some past micro-batch) into target-size files, restoring
  *     scan efficiency (open/seek cost, row-group size, split planning)
  *     without changing a single row.
  *
  * Both are write-once/read-many: materialization is idempotent per
  * (dataset, layout) — one write amortized over every subsequent pruned
  * scan, the [[Bucketed]]/[[Partitioned]] economics.
  */
object Layout {

  /** A stage built from `dir`'s documents table. */
  private def docsKey(name: String, dir: String, params: Any*): Staging.Key =
    Staging.Key(name, Seq(s"$dir/documents.parquet"), params: _*)

  /** 2-D Morton (Z-order) key: quantize each dimension to 16 bits
    * against its [lo, hi] bounds, then interleave the bits (a-bits odd,
    * b-bits even). All shift amounts are literals, so the whole key is
    * one whole-stage-codegen'd expression tree — no UDF, no shuffle;
    * the bounds come from a one-row aggregate broadcast back into the
    * projection (the histogram/q46 two-pass shape), never a driver
    * round-trip. A degenerate dimension (hi == lo) quantizes to 0 and
    * drops out of the ordering. */
  def morton16(a: Column, alo: Column, ahi: Column,
      b: Column, blo: Column, bhi: Column): Column = {
    // span is (hi - lo), NOT (hi - lo + 1): the +1 form assumed
    // integer-valued keys — on a double dimension with span < ~1 the +1
    // dominated and collapsed most values into a handful of codes,
    // silently degrading clustering. With the true span, x == hi maps to
    // 65536 and the least() clamps it into the top cell; a degenerate
    // dimension (hi <= lo) quantizes to 0 and drops out of the ordering.
    def quant(x: Column, lo: Column, hi: Column): Column =
      when(hi <= lo, lit(0L)).otherwise(
        least(lit(65535L),
          floor((x - lo).cast("double") / (hi - lo).cast("double")
            * 65536.0).cast("long")))
    val qa = quant(a, alo, ahi)
    val qb = quant(b, blo, bhi)
    (0 until 16).map { i =>
      shiftleft(shiftright(qa, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(qb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** Idempotently materialize lineitem Z-order-clustered on
    * (l_partkey, l_suppkey) into `nFiles` files; returns the path.
    * `repartitionByRange` on the Morton key samples its distribution, so
    * files are balanced even under key skew; the within-partition sort
    * makes every file a contiguous Morton interval, which is what turns
    * parquet footer min/max into a 2-D bounding box per file. */
  def zorderedLineitem(spark: SparkSession, dir: String,
      nFiles: Int = 24): String = synchronized {
    Staging.stage(spark,
        Staging.Key("zorder/lineitem", Seq(s"$dir/lineitem.parquet"), nFiles)) { tmp =>
      val li = Tables.lineitem(spark, dir)
      val bounds = li.agg(
        min("l_partkey").as("__plo"), max("l_partkey").as("__phi"),
        min("l_suppkey").as("__slo"), max("l_suppkey").as("__shi"))
      li.crossJoin(broadcast(bounds))
        .withColumn("z", morton16(
          col("l_partkey"), col("__plo"), col("__phi"),
          col("l_suppkey"), col("__slo"), col("__shi")))
        .drop("__plo", "__phi", "__slo", "__shi")
        .repartitionByRange(nFiles, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Idempotently stage the documents table as JSON lines (doc_id,
    * lang, source, text) — the interchange-boundary fixture for the
    * q120 round trip; content-keyed like every layout stage. */
  def jsonlDocuments(spark: SparkSession, dir: String): String = synchronized {
    Staging.stage(spark, docsKey("jsonl/documents", dir)) { tmp =>
      Tables.documents(spark, dir)
        .select("doc_id", "lang", "source", "text")
        .repartition(4)
        .write.mode("overwrite").json(tmp)
    }
  }

  /** Idempotently stage the documents table as ORC — the second
    * columnar interchange format next to parquet (the engine's native
    * one) and JSONL (the text boundary, q120). ORC files carry their
    * schema in the footer, so unlike JSONL no schema-first declaration
    * is needed to avoid an inference pass, and Spark's ORC reader
    * participates in the same scan-level optimizations as parquet:
    * column pruning via ReadSchema and predicate pushdown into the
    * stripe/row-group index (`OrcSpec`/`LayoutSpec` assert both on the
    * executed plan). Content-keyed write-once like every layout stage. */
  def orcDocuments(spark: SparkSession, dir: String): String = synchronized {
    Staging.stage(spark, docsKey("orc/documents", dir)) { tmp =>
      Tables.documents(spark, dir)
        .repartition(4)
        .write.mode("overwrite").orc(tmp)
    }
  }

  /** Idempotently stage the documents table as Avro container files —
    * the row-oriented warehouse interchange format next to ORC/JSONL,
    * written through the public Avro-on-Hadoop stack (no `spark-avro`
    * module on this classpath — see [[graft.sources.AvroInterchange]]).
    * One round-robin repartition fans the stage out to 4 tasks (one
    * block-sync-splittable container each); the WRITE stage itself is
    * map-only — encode + emit, no further exchange (round-13 advice:
    * the earlier wording claimed the whole pipeline was map-only). */
  def avroDocuments(spark: SparkSession, dir: String): String = {
    val out = Staging.stage(spark, docsKey("avro/documents", dir)) { tmp =>
      graft.sources.AvroInterchange.write(
        Tables.documents(spark, dir)
          .select("doc_id", "lang", "source", "n_chars", "text")
          .repartition(4),
        s"$tmp/data")
    }
    s"$out/data"
  }

  /** Idempotently stage a SCHEMA-EVOLVED two-segment corpus: segment
    * `seg=v1` holds the even-doc slice under the ORIGINAL schema
    * (doc_id, lang, text); `seg=v2` holds the odd-doc slice under the
    * EVOLVED schema — the same columns plus a new integer `quality`
    * signal (n_chars stands in). This is the long-lived-corpus reality
    * at 100 TB: shards written across schema versions coexist forever
    * (rewriting petabytes to backfill one column is not a plan), so
    * every reader must union the schemas and treat the pre-evolution
    * segments' missing column as NULL with an explicit default. The
    * Hive-style segment directories double as a free `seg` partition
    * column, so per-version audits are partition-pruned scans. */
  def evolvedDocuments(spark: SparkSession, dir: String): String = {
    Staging.stage(spark, docsKey("evolved/documents", dir)) { tmp =>
      val docs = Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "text")
        .repartition(2)
        .write.mode("overwrite").parquet(s"$tmp/seg=v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("text"),
          col("n_chars").cast("int").as("quality"))
        .repartition(2)
        .write.mode("overwrite").parquet(s"$tmp/seg=v2")
    }
  }

  /** Box-predicate scan over the Z-ordered layout: per-part row counts
    * and decimal-exact quantity totals inside a 2-D key box. On the
    * clustered layout the parquet reader's min/max stats skip every
    * file/row-group whose Morton box misses the predicate box — the
    * scan cost tracks the box AREA, not the table size. */
  def zorderBoxScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(zorderedLineitem(spark, dir))
      .filter(col("l_partkey").between(20, 59) &&
        col("l_suppkey").between(2, 5))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))

  /** Idempotently scatter `dir/documents.parquet` into `nSmall` files —
    * the accumulated state of an incremental writer — then compact it to
    * `ceil(total_bytes / targetBytes)` files computed from the ACTUAL
    * scattered size (a file listing, no data read). The compacting write
    * range-partitions and sorts by `doc_id`, so compaction also restores
    * key clustering (and thus doc_id data skipping) that the incremental
    * writer destroyed — rows are untouched, which the oracle checks
    * row-for-row. Returns (scatteredPath, compactedPath). */
  def compactedDocs(spark: SparkSession, dir: String, nSmall: Int = 64,
      targetBytes: Long = 1L << 20): (String, String) = synchronized {
    val scattered = Staging.stage(spark, docsKey("compact/docs_small", dir, nSmall)) { tmp =>
      Tables.documents(spark, dir).repartition(nSmall)
        .write.mode("overwrite").parquet(tmp)
    }
    val fs = new Path(scattered)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compacted = Staging.stage(spark,
        docsKey("compact/docs_big", dir, nSmall, targetBytes)) { tmp =>
      val totalBytes = fs.listStatus(new Path(scattered))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(scattered)
        .repartitionByRange(nOut, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(tmp)
    }
    (scattered, compacted)
  }

  val queries: Seq[Query] = Seq(
    Query(
      "q66_zorder_scan",
      "Z-order-clustered layout + 2-D box scan: lineitem written once " +
        "sorted by a 16-bit-interleaved Morton key over (l_partkey, " +
        "l_suppkey) — a pure literal-shift codegen expression, bounds from " +
        "a broadcast one-row aggregate — so each file covers a square-ish " +
        "2-D box and parquet min/max stats skip files for predicates on " +
        "EITHER dimension (1-D sorting can only serve one). The box scan " +
        "then reads ~box-area, not table-size. Oracle: the same box " +
        "aggregate over the plain table — the layout must change nothing.",
      (s, dir) => zorderBoxScan(s, dir).orderBy("l_partkey"),
      Some("""
        SELECT l_partkey, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_partkey BETWEEN 20 AND 59 AND l_suppkey BETWEEN 2 AND 5
        GROUP BY 1
        ORDER BY l_partkey"""))
    ,
    Query(
      "q67_compact_files",
      "Small-file compaction: documents scattered once into 64 task-size " +
        "files (an incremental writer's accumulated state), then binned to " +
        "ceil(actual_bytes / 1 MiB) files sized from a pure file LISTING — " +
        "no data read to plan the rewrite. The compacting write range-" +
        "partitions + sorts by doc_id, restoring the key clustering the " +
        "incremental writer destroyed. Oracle: the compacted table read " +
        "back row-for-row against the source — compaction must be " +
        "content-invisible; ScalaTest asserts the file-count arithmetic.",
      (s, dir) => {
        val (_, compacted) = compactedDocs(s, dir)
        s.read.parquet(compacted)
          .select("doc_id", "lang", "source", "n_chars", "text")
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang, source, n_chars, text
        FROM documents
        ORDER BY doc_id"""))
    ,
    Query(
      "q120_jsonl_roundtrip",
      "JSON-lines interchange boundary: the documents table staged out " +
        "as JSONL (write-once, a Staging stage) and read " +
        "back SCHEMA-FIRST — inference would cost a second full pass at " +
        "100 TB, so the reader never samples; JSONL splits by line, so " +
        "the scan parallelizes like any text source. The oracle compares " +
        "md5(text) per document against the parquet original, proving " +
        "the JSON quote/escape round trip is byte-exact — parquet is the " +
        "engine's format, JSONL is the ingest/export boundary.",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("text", StringType)))
        s.read.schema(schema).json(jsonlDocuments(s, dir))
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).as("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang, source,
               CAST(LENGTH(text) AS INT) AS n_chars,
               md5(text) AS text_md5
        FROM documents
        ORDER BY doc_id"""))
    ,
    Query(
      "q128_orc_roundtrip",
      "ORC interchange boundary: the documents table staged out once as " +
        "ORC (the warehouse-ecosystem columnar format next to parquet) " +
        "and queried back through a filtered projection. Unlike the JSONL " +
        "boundary (q120) the schema rides in the ORC footer — no " +
        "schema-first declaration, no inference pass — and the scan keeps " +
        "the columnar economics: the lang predicate is pushed into the " +
        "ORC stripe index and only the projected columns are read " +
        "(ReadSchema + PushedFilters plan-asserted in LayoutSpec). The " +
        "oracle compares md5(text) per surviving document against the " +
        "parquet original, proving the format hop is byte-exact — the " +
        "engine is source-format-agnostic end to end.",
      (s, dir) =>
        s.read.orc(orcDocuments(s, dir))
          .filter(col("lang").isin("en", "zh"))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        FROM documents
        WHERE lang IN ('en', 'zh')
        ORDER BY doc_id"""))
    ,
    Query(
      "q153_avro_roundtrip",
      "Avro interchange boundary — the remaining common warehouse " +
        "format next to parquet (native), ORC (q128), JSONL (q120), " +
        "CSV and fixed-width binary (the reference formats): the " +
        "documents table staged once as Avro container files and read " +
        "back SCHEMA-FIRST. No spark-avro module ships on this " +
        "classpath, so the boundary is built on the PUBLIC Avro-on-" +
        "Hadoop stack Spark does ship (avro + avro-mapred): map-only " +
        "AvroKeyOutputFormat write (one container per partition, " +
        "schema in every file header), AvroKeyInputFormat read — " +
        "container files are block-structured with sync markers, so " +
        "the scan SPLITS like any Hadoop source and a 100 TB drop " +
        "parallelizes without writer-side file sizing; the declared " +
        "reader schema projects via Avro schema resolution (no " +
        "inference pass, unused writer columns never decoded). " +
        "Oracle: md5(text) per document against the parquet original " +
        "— the format hop must be byte-exact (the q120/q128 " +
        "convention).",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("n_chars", LongType),
          StructField("text", StringType)))
        graft.sources.AvroInterchange.read(s, avroDocuments(s, dir), schema)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        FROM documents
        ORDER BY doc_id"""))
    ,
    Query(
      "q142_schema_drift",
      "Schema-evolution read discipline: two corpus segments written " +
        "under DIFFERENT schema versions (seg=v1 pre-dates the " +
        "`quality` column, seg=v2 carries it) are read back as ONE " +
        "corpus with mergeSchema — the long-lived-corpus reality at " +
        "100 TB, where shards written across schema versions coexist " +
        "forever and rewriting petabytes to backfill a column is not " +
        "a plan. The missing column reads as NULL and the audit " +
        "applies an explicit default; the Hive-style segment " +
        "directory doubles as a free partition column, so " +
        "per-version audits are partition-pruned. Oracle: DuckDB " +
        "recomputes the per-(segment, language) audit from the " +
        "ORIGINAL documents table (segment parity from doc_id), so " +
        "the whole write -> merged-read -> NULL-fill loop is checked " +
        "against the source, hash-exact.",
      (s, dir) =>
        s.read.option("mergeSchema", "true")
          .parquet(evolvedDocuments(s, dir))
          .groupBy(col("seg"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("quality").isNotNull.cast("long")).as("n_with_quality"),
            sum(coalesce(col("quality").cast("long"), lit(0L)))
              .as("sum_quality"))
          .orderBy("seg", "lang"),
      Some("""
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS seg,
               lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_quality,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS sum_quality
        FROM documents
        GROUP BY 1, 2
        ORDER BY seg, lang"""))
  )
}
