package graft.operators

import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables
import graft.streaming.{IngestGateStream, Sessionize, StreamJoin, TrendingStream}

/** Batch-registered forms of the streaming twins — the SAME declarative
  * frames [[graft.streaming.TrendingStream]] and
  * [[graft.streaming.StreamJoin]] execute under `readStream`, run here on
  * batch inputs and gated by DuckDB oracles. This closes the round-7
  * verdict's coverage gap: the streaming surface was verified only by
  * batch==stream ScalaTest equivalences (`TrendingStreamSpec`,
  * `StreamJoinSpec`); with these entries the batch side of each
  * equivalence is itself oracle-anchored, so the chain
  * oracle == batch frame == streamed frame is closed end to end.
  *
  * Both entries call the streaming objects' own builders VERBATIM — no
  * re-implementation to drift out of sync; `withWatermark` is a no-op on
  * batch frames, so the plans are the streaming plans minus state.
  *
  * The tumbling-window bucketing is the reference's `time ∈ [1,36]`
  * dimension semantics (reference `hypercube.sql:14` — integer bucket of
  * a continuous time axis), evaluated by Spark's `window()` on the
  * epoch-aligned grid.
  */
object StreamTwins {

  val queries: Seq[Query] = Seq(
    Query(
      "q91_trending_terms",
      "Batch form of the X82 streaming trending-terms view, oracle-gated: " +
        "a document-impression feed (each event reads doc event_id mod " +
        "|documents| — modulus from a broadcast one-row count aggregate, " +
        "never a driver round-trip) tokenized and counted per (1-day " +
        "tumbling window, term) by TrendingStream.termCounts VERBATIM. " +
        "The explode is map-side; the only exchange is keyed on (window, " +
        "term) with map-side partial counts, so shuffle volume is the " +
        "distinct (window, term) partials — never the raw token stream. " +
        "Window bounds emitted as epoch-micro BIGINTs for engine-exact " +
        "comparison (positive timestamps: Spark's ns->us truncation == " +
        "DuckDB floor division).",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val nDocs = docs.agg(count(lit(1)).as("__nd"))
        // the doc-text join is deliberately UNHINTED: documents is
        // corpus-sized at scale, so the size-gated planner must pick
        // broadcast vs shuffle (it broadcasts at the sf tiers); only the
        // one-row count frame is pinned broadcast (q46 bounds pattern)
        val feed = Tables.events(s, dir)
          .select(Sessionize.tsCol(col("ts")).as("ets"), col("event_id"))
          .crossJoin(broadcast(nDocs))
          .join(docs.select(col("doc_id"), col("text")),
            col("doc_id") === col("event_id") % col("__nd"))
        TrendingStream.termCounts(feed, "ets", "text", "1 day", "1 minute")
          .select(unix_micros(col("window_start")).as("w_start_us"),
            unix_micros(col("window_end")).as("w_end_us"),
            col("term"), col("n"))
          .orderBy("w_start_us", "term")
      },
      Some("""
        WITH feed AS (
          SELECT epoch_ns(e.ts) // 1000 AS tus, d.text
          FROM events e JOIN documents d
            ON d.doc_id = e.event_id % (SELECT COUNT(*) FROM documents)
        ), toks AS (
          SELECT (tus // 86400000000) * 86400000000 AS w_start_us,
                 unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
          FROM feed
        )
        SELECT w_start_us, w_start_us + 86400000000 AS w_end_us,
               term, COUNT(*) AS n
        FROM toks
        GROUP BY 1, 3
        ORDER BY w_start_us, term""")),

    Query(
      "q92_interval_stream_batch",
      "Batch form of the X45 watermarked stream-stream interval self-join, " +
        "oracle-gated: StreamJoin.correlate VERBATIM on the events table — " +
        "same-user event pairs within 1 hour of each other (|delta ts| <= " +
        "1h, event_a < event_b), the q49 batch semantics evaluated through " +
        "the streaming operator's two-sided-range plan (the range bound is " +
        "what gives the streaming state store an eviction bound per side). " +
        "Equi-key user_id keeps it one hash exchange per side; timestamps " +
        "compared in the microsecond domain end to end.",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        StreamJoin.correlate(ev, ev, window = "1 hour", delay = "10 seconds")
          .orderBy("user_id", "event_a", "event_b")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus FROM events
        )
        SELECT a.user_id AS user_id, a.event_id AS event_a, b.event_id AS event_b
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND abs(a.tus - b.tus) <= 3600000000
        ORDER BY a.user_id, event_a, event_b""")),

    Query(
      "q93_ingest_gate",
      "Batch form of the X73 streaming ingest gate, oracle-gated: the " +
        "ONE-SIDED prefix-filter cross-dedup (corpus doc_id%3<>0 emits " +
        "frequency-ordered prefixes from its OWN internal order; the " +
        "incoming batch doc_id%3=0 probes with its FULL shingle-hash " +
        "sets — lossless by the counting argument, no union-wide order " +
        "needed, which a stream cannot have). Same semantics as q70 but " +
        "through the streaming gate's index-build + probe path verbatim " +
        "(IngestGateStream), so the gate's batch==stream ScalaTest " +
        "equivalence now chains to an oracle-anchored frame. The probe " +
        "side is the micro-batch — the small side — so at scale it " +
        "broadcasts and the persisted corpus index is scanned map-only. " +
        "Oracle: brute-force cross-Jaccard over gram STRINGS (the hash " +
        "match doubles as the collision check, like q70).",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // the corpus index comes from the write-once fingerprinted
        // parquet stage — the streaming deployment's build-once/probe-
        // many economics; a repeated invocation pays only the probe
        val idx = IngestGateStream.indexStaged(s, Seq(s"$dir/documents.parquet"), "mod3",
          n = 3, tau = 0.7)(docs.filter(col("doc_id") % 3 =!= 0))
        IngestGateStream.matches(idx,
          docs.filter(col("doc_id") % 3 === 0)
            .withColumn("__ts",
              lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))),
          n = 3, tau = 0.7, "__ts")
          .orderBy("corpus_doc", "batch_doc")
      },
      Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
          FROM (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
                FROM documents)
        ), sz AS (
          SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS corpus_doc, b.doc_id AS batch_doc, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s
          WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
          GROUP BY 1, 2
        )
        SELECT corpus_doc, batch_doc,
               CAST(i AS DOUBLE) / CAST(za.n + zb.n - i AS DOUBLE) AS jaccard
        FROM inter
        JOIN sz za ON za.doc_id = corpus_doc
        JOIN sz zb ON zb.doc_id = batch_doc
        WHERE CAST(i AS DOUBLE) / CAST(za.n + zb.n - i AS DOUBLE) >= 0.7
        ORDER BY corpus_doc, batch_doc""")),

    Query(
      "q94_session_bounds",
      "Batch form of the X11 streaming sessionizer's session_window plan, " +
        "oracle-gated on the exact session BOUNDS (q13 oracles only the " +
        "per-user counts): Sessionize.sessions VERBATIM on the events " +
        "table — (user_id, session_start, session_end = last event + gap, " +
        "n_events) with a 30-minute gap. One hash exchange on user_id, " +
        "then Spark's MergingSessions aggregation (sort-merge of candidate " +
        "windows within the partition) — no second shuffle, no window " +
        "function pass. Gap-edge semantics pinned by test AND oracle: " +
        "events exactly `gap` apart MERGE (probe: session_window emits one " +
        "session for ts={0, gap}), i.e. new-session iff delta > gap — the " +
        "same convention as q13's lag formulation, evaluated here in the " +
        "microsecond domain on both engines (positive epochs: Spark " +
        "ns->us truncation == DuckDB floor division).",
      (s, dir) =>
        Sessionize.sessions(Tables.events(s, dir), "30 minutes")
          .select(col("user_id"),
            unix_micros(col("session_start")).as("s_start_us"),
            unix_micros(col("session_end")).as("s_end_us"),
            col("n_events"))
          .orderBy("user_id", "s_start_us"),
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events
        ), marked AS (
          SELECT user_id, tus,
                 CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM (SELECT user_id, tus,
                       LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
                FROM ev) a
        ), sess AS (
          SELECT user_id, tus,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked
        )
        SELECT user_id, MIN(tus) AS s_start_us,
               MAX(tus) + 1800000000 AS s_end_us,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, s_start_us"""))
  )
}
