package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Unigram-LM subword tokenizer — the SentencePiece family (Kudo 2018,
  * "Subword Regularization"; the Llama/T5 lineage), the OTHER
  * production tokenizer alphabet next to BPE (q102/q122): instead of
  * a greedy merge sequence, a VOCABULARY of pieces with unigram
  * probabilities is EM-trained and then pruned to a target size, and
  * encoding is the Viterbi-best segmentation under those
  * probabilities.
  *
  * Scale design — the same split that makes the BPE path O(1) jobs
  * (reference: this repo's `Bpe.learnCollected`, justified by Heaps'
  * law: the distinct-word table grows ~√corpus, so at 100 TB it is
  * million-rows small while the corpus is billions of documents):
  *   1. ONE distributed corpus aggregate ([[Bpe.wordFreqs]]) produces
  *      the (word, freq) table; it is collected once.
  *   2. Seeding, EM, pruning and Viterbi run on the DRIVER over that
  *      bounded table — the identical economics to the q102 merge
  *      loop and the q132/q135 driver-solve pattern (O(|words|·len²)
  *      work against a Heaps'-bounded input, not corpus-sized).
  *   3. The learned (word → pieces) table and the piece vocabulary
  *      are STAGED write-once artifacts; corpus encoding is the same
  *      broadcast-join plan as q103 ([[Bpe.encode]] reused verbatim —
  *      the word-segmentation schema is shared), so the corpus-sized
  *      pass never touches the learner.
  *
  * Algorithm spec (the contract `UnigramSpec`'s independent reference
  * twin reimplements):
  *   - Words decompose into CODE POINTS ([[Bpe.codePointSyms]] minus
  *     the marker); every segmentation of word w is a cover of its
  *     code-point sequence by vocabulary pieces.
  *   - SEED: every substring of ≤ [[MaxPieceLen]] code points,
  *     freq-weighted; all single code points are kept unconditionally
  *     (coverage), multi-cp substrings need corpus count ≥ 2 and rank
  *     by (count DESC, piece ASC in [[Bpe.Utf8Order]]), truncated to
  *     [[SeedFactor]]·vocabSize.
  *   - EM: per word, forward/backward over the position lattice in
  *     log space; expected piece counts are freq-weighted;
  *     M-step re-normalizes to log-probabilities. Accumulation order
  *     is FIXED (words in Utf8Order, positions ascending), so the
  *     doubles are bit-reproducible run-to-run and machine-to-machine
  *     (same IEEE ops in the same order — the q132 determinism
  *     argument, driver-side).
  *   - PRUNE (SentencePiece's loss rule, exact small-scale form): a
  *     piece's loss is the freq-weighted drop in Viterbi
  *     log-likelihood if it were removed, summed over the words whose
  *     Viterbi path uses it; single-cp pieces are never pruned; each
  *     round keeps the top [[Shrink]] fraction by (loss DESC, piece
  *     ASC) — never below the target — then re-runs EM; pruning stops
  *     at vocabSize.
  *   - VITERBI tie-break: strictly-greater score wins; an exactly-
  *     equal score prefers the LONGER piece at the current position
  *     (deterministic, and reproduced by the spec twin).
  *   - Output segmentation appends [[Bpe.EndOfWord]] as a standalone
  *     marker piece, which makes the (word, freq, syms) table
  *     schema-identical to the BPE one — [[Bpe.subwordVocab]],
  *     [[Bpe.subwordIds]], [[Bpe.encode]] and [[Bpe.decode]] then
  *     serve the unigram tokenizer unchanged (decode's round trip
  *     recovers word boundaries from the marker suffix exactly as in
  *     q103).
  *
  * No oracle for learn/encode (an EM fixed point has no SQL twin);
  * UnigramSpec gates vocab-for-vocab and logp parity against an
  * independently-written reference EM, id-for-id encode parity,
  * decode round-trip over the corpus, determinism, and full coverage
  * of training words. The q145 fertility comparison IS oracle-checked
  * (DuckDB recomputes from the staged segment tables, the q121
  * convention).
  */
object Unigram {

  /** Longest piece considered at seeding, in code points. */
  val MaxPieceLen = 6

  /** Seed size = SeedFactor · target vocabulary size. */
  val SeedFactor = 4

  /** Fraction of (prunable) pieces kept per pruning round. */
  val Shrink = 0.75

  /** EM steps between pruning rounds (and as the final polish). */
  val EmIters = 2

  /** Production-shaped default piece-vocabulary size for the staged
    * tokenizer (the synthetic corpus' Heaps' plateau is small, so the
    * interesting regime is vocab pressure, not saturation). */
  val VocabSize = 160

  /** One learned piece: 1-based dense id in (logp DESC, piece ASC)
    * order, the piece, its log-probability, and the same in nano-units
    * (the integer emit form — the q96/q71 rule for float-free catalog
    * output). */
  final case class Piece(id: Int, piece: String, logp: Double,
      logp_nano: Long)

  /** A word's Viterbi segmentation under the final vocabulary —
    * schema-identical to [[Bpe.WordSeg]] so the whole BPE
    * encode/decode/pack stack applies. */
  private type WordSeg = Bpe.WordSeg

  // ---- driver-side learner (Heaps'-bounded input) ----

  private def cps(w: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      b += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    b.result()
  }

  /** Viterbi log-likelihood of `word` (as code points) under `logp`,
    * with `banned` excluded; returns (score, path) or None if the word
    * has no cover. Backward DP, ascending piece length at each
    * position; exact score ties prefer the longer piece. */
  private def viterbi(w: Vector[String], logp: Map[String, Double],
      banned: String = null): Option[(Double, List[String])] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bestLen = new Array[Int](n + 1)
    best(n) = 0.0d
    var i = n - 1
    while (i >= 0) {
      var L = 1
      val maxL = math.min(MaxPieceLen, n - i)
      while (L <= maxL) {
        if (best(i + L) != Double.NegativeInfinity) {
          val piece = w.slice(i, i + L).mkString
          if (piece != banned) {
            logp.get(piece) match {
              case Some(lp) =>
                val s = lp + best(i + L)
                if (s > best(i) || (s == best(i) && L > bestLen(i))) {
                  best(i) = s
                  bestLen(i) = L
                }
              case None =>
            }
          }
        }
        L += 1
      }
      i -= 1
    }
    if (best(0) == Double.NegativeInfinity) None
    else {
      val path = List.newBuilder[String]
      var p = 0
      while (p < n) {
        path += w.slice(p, p + bestLen(p)).mkString
        p += bestLen(p)
      }
      Some((best(0), path.result()))
    }
  }

  private def logSumExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a > b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** One EM pass: expected piece counts (E, forward/backward on each
    * word lattice) → re-normalized log-probs (M). Deterministic: words
    * arrive sorted, positions ascend, and the count map is re-built
    * fresh per pass. */
  private def emStep(words: Seq[(Vector[String], Long)],
      logp: Map[String, Double]): Map[String, Double] = {
    val exp = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((w, freq) <- words) {
      val n = w.length
      val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
      val beta = Array.fill(n + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0d
      for (i <- 0 until n; l <- 1 to math.min(MaxPieceLen, n - i)) {
        if (alpha(i) != Double.NegativeInfinity) {
          logp.get(w.slice(i, i + l).mkString).foreach { lp =>
            alpha(i + l) = logSumExp(alpha(i + l), alpha(i) + lp)
          }
        }
      }
      beta(n) = 0.0d
      for (i <- n - 1 to 0 by -1; l <- 1 to math.min(MaxPieceLen, n - i)) {
        if (beta(i + l) != Double.NegativeInfinity) {
          logp.get(w.slice(i, i + l).mkString).foreach { lp =>
            beta(i) = logSumExp(beta(i), lp + beta(i + l))
          }
        }
      }
      val z = alpha(n)
      if (z != Double.NegativeInfinity) {
        for (i <- 0 until n; l <- 1 to math.min(MaxPieceLen, n - i)) {
          val piece = w.slice(i, i + l).mkString
          logp.get(piece).foreach { lp =>
            if (alpha(i) != Double.NegativeInfinity &&
              beta(i + l) != Double.NegativeInfinity) {
              val c = math.exp(alpha(i) + lp + beta(i + l) - z) * freq
              exp(piece) = exp.getOrElse(piece, 0.0d) + c
            }
          }
        }
      }
    }
    // M-step over pieces in Utf8Order (fixed summation order). Pieces
    // with zero expected count keep a floor epsilon so they stay
    // rankable for the prune (they will be pruned first).
    val keys = logp.keys.toSeq.sorted(Bpe.Utf8Order)
    var tot = 0.0d
    for (k <- keys) tot += exp.getOrElse(k, 0.0d)
    val logTot = math.log(tot)
    keys.map { k =>
      val c = exp.getOrElse(k, 0.0d)
      k -> (if (c > 0.0d) math.log(c) - logTot else -1e9d)
    }.toMap
  }

  /** Train a unigram-LM piece vocabulary of (at most) `vocabSize`
    * pieces over a collected (word, freq) table; returns the pieces
    * (dense-id'd) and each word's Viterbi segmentation with the
    * [[Bpe.EndOfWord]] marker appended. */
  def learnLocal(wordFreq: Seq[(String, Long)], vocabSize: Int)
      : (Seq[Piece], Seq[Bpe.WordSeg]) =
    learnLocalWith(wordFreq, vocabSize, identity, Bpe.EndOfWord)

  /** [[learnLocal]] over a mapped training alphabet: `mapWord` sends
    * each word into the domain the pieces live in (identity for the
    * code-point mode; the GPT-2 byte→char mapping for the byte mode,
    * where mapped chars are single code points by construction), and
    * `marker` is the mode's end-of-word piece. Words sort by their
    * MAPPED form (the training-domain key) — identical to the
    * original order under identity, and the order the byte-mode
    * reference twin reproduces. Emitted segmentations are keyed by
    * the ORIGINAL word (the join key every encode path uses). */
  def learnLocalWith(wordFreq: Seq[(String, Long)], vocabSize: Int,
      mapWord: String => String, marker: String)
      : (Seq[Piece], Seq[Bpe.WordSeg]) = {
    val wordsKeyed = wordFreq.filter(_._1.nonEmpty)
      .map { case (w, f) => (w, mapWord(w), f) }
      .sortBy(_._2)(Bpe.Utf8Order)
    val words = wordsKeyed.map { case (_, m, f) => (cps(m), f) }

    // seed: singles unconditionally; multis by (count desc, piece asc)
    val counts = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((w, f) <- words; i <- w.indices;
         l <- 1 to math.min(MaxPieceLen, w.length - i)) {
      val p = w.slice(i, i + l).mkString
      counts(p) = counts.getOrElse(p, 0.0d) + f.toDouble
    }
    val singles = words.flatMap(_._1).distinct.sorted(Bpe.Utf8Order)
    val multis = counts.toSeq
      .filter { case (p, c) => cps(p).length > 1 && c >= 2.0d }
      .sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Bpe.Utf8Order))
      .map(_._1)
      .take(math.max(0, SeedFactor * vocabSize - singles.size))
    var vocabList = (singles ++ multis).sorted(Bpe.Utf8Order)
    val totSeed = vocabList.iterator.map(counts(_)).sum
    var logp: Map[String, Double] = vocabList
      .map(p => p -> (math.log(counts(p)) - math.log(totSeed))).toMap

    // EM + prune to target
    var guard = 0
    while ({
      var it = 0
      while (it < EmIters) { logp = emStep(words, logp); it += 1 }
      vocabList.size > vocabSize && guard < 64
    }) {
      guard += 1
      // loss-if-removed over Viterbi paths
      val loss = scala.collection.mutable.LinkedHashMap[String, Double]()
      for ((w, f) <- words) {
        viterbi(w, logp) match {
          case Some((s, path)) =>
            for (p <- path.distinct.sorted(Bpe.Utf8Order) if cps(p).length > 1) {
              val alt = viterbi(w, logp, banned = p)
                .map(_._1).getOrElse(Double.NegativeInfinity)
              val d =
                if (alt == Double.NegativeInfinity) Double.MaxValue / 1e6
                else (s - alt) * f
              loss(p) = loss.getOrElse(p, 0.0d) + d
            }
          case None =>
        }
      }
      val singlesSet = singles.toSet
      val (fixed, prunable) = vocabList.partition(singlesSet.contains)
      val keepN = math.max(vocabSize - fixed.size,
        math.ceil(prunable.size * Shrink).toInt - 1)
      val kept = prunable
        .sortBy(p => (-loss.getOrElse(p, 0.0d), p))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Bpe.Utf8Order))
        .take(math.max(0, keepN))
      val next = (fixed ++ kept).sorted(Bpe.Utf8Order)
      if (next.size == vocabList.size) guard = 64 // nothing prunable left
      vocabList = next
      logp = logp.filter { case (k, _) => vocabList.contains(k) }
    }

    // final polish already ran in the loop's condition; emit
    val pieces = vocabList
      .map(p => (p, logp(p)))
      .sortBy { case (p, lp) => (-lp, p) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Bpe.Utf8Order))
      .zipWithIndex
      .map { case ((p, lp), i) =>
        Piece(i + 1, p, lp, math.floor(lp * 1e9d).toLong)
      }
    val segs = wordsKeyed.map { case (orig, m, f) =>
      val w = cps(m)
      val path = viterbi(w, logp) match {
        case Some((_, p)) => p
        case None => w.toList // unreachable: singles cover everything
      }
      Bpe.WordSeg(orig, f, path :+ marker)
    }
    (pieces, segs)
  }

  // ---- staged artifact ----

  private def docsKey(name: String, dir: String, params: Any*): Staging.Key =
    Staging.Key(name, Seq(s"$dir/documents.parquet"), params: _*)

  private def uniKey(dir: String, vocabSize: Int) = docsKey("unigram/uni", dir, vocabSize)

  private def uniByteKey(dir: String, vocabSize: Int) = docsKey("unigram/unib", dir, vocabSize)

  private[graft] def unigramRoot(spark: SparkSession, dir: String,
      vocabSize: Int): String =
    Staging.root(spark, uniKey(dir, vocabSize))

  /** Write-once staged unigram tokenizer: `pieces/` (id, piece, logp,
    * logp_nano) + `segments/` (word, freq, syms) under a content-keyed
    * root — train once per (dataset, vocabSize, content), every encode
    * or audit pass reads the bounded tables back (the q102/q126
    * staging economics). */
  def learnStaged(spark: SparkSession, dir: String,
      vocabSize: Int = VocabSize): (DataFrame, DataFrame) = {
    val out = Staging.stage(spark, uniKey(dir, vocabSize)) { tmp =>
      val wf = Bpe.wordTable(Tables.documents(spark, dir))
      val (pieces, segs) = learnLocal(wf, vocabSize)
      spark.createDataFrame(pieces).write.mode("overwrite")
        .parquet(s"$tmp/pieces")
      spark.createDataFrame(segs).write.mode("overwrite")
        .parquet(s"$tmp/segments")
    }
    (spark.read.parquet(s"$out/pieces"),
      spark.read.parquet(s"$out/segments"))
  }

  /** The byte-mode word mapping: UTF-8 bytes through the GPT-2
    * byte→char bijection ([[Bpe.byteSymsLocal]] minus its marker) —
    * mapped chars are single code points, so [[learnLocalWith]]'s
    * lattice machinery applies unchanged and the learned pieces are
    * mapped-byte sequences. */
  private[graft] def byteMap(w: String): String =
    Bpe.byteSymsLocal(w).init.mkString

  /** Write-once staged BYTE-LEVEL unigram tokenizer (the q122/q123
    * alphabet on the q143 algorithm): pieces live in the mapped byte
    * domain, segmentations carry [[Bpe.ByteEndOfWord]], so
    * [[Bpe.byteVocab]] (base-alphabet union) + [[Bpe.encodeBytes]] /
    * [[Bpe.decodeBytes]] serve it unchanged — and encode is
    * structurally ZERO-OOV on ANY input, trained scripts or not. */
  /** Content-keyed root of the staged byte-level unigram tokenizer
    * (shared by [[learnStagedBytes]] and the q150 oracle). */
  private[graft] def unigramByteRoot(spark: SparkSession, dir: String,
      vocabSize: Int): String =
    Staging.root(spark, uniByteKey(dir, vocabSize))

  def learnStagedBytes(spark: SparkSession, dir: String,
      vocabSize: Int = VocabSize): (DataFrame, DataFrame) = {
    val out = Staging.stage(spark, uniByteKey(dir, vocabSize)) { tmp =>
      val wf = Bpe.wordTable(Tables.documents(spark, dir))
      val (pieces, segs) =
        learnLocalWith(wf, vocabSize, byteMap, Bpe.ByteEndOfWord)
      spark.createDataFrame(pieces).write.mode("overwrite")
        .parquet(s"$tmp/pieces")
      spark.createDataFrame(segs).write.mode("overwrite")
        .parquet(s"$tmp/segments")
    }
    (spark.read.parquet(s"$out/pieces"),
      spark.read.parquet(s"$out/segments"))
  }

  @volatile private[graft] var stagedOracleRoot: Option[String] = None

  /** Staged-TWIN oracle root for q143 (round-13 upgrade, the q102
    * convention): the independent reference EM's trained vocabulary,
    * staged write-once, read back by the q143 oracle through DuckDB —
    * the bit-equal-logp differential becomes a driver-visible hash
    * compare instead of only a ScalaTest assertion. */
  @volatile private[graft] var twinOracleRoot: Option[String] = None

  /** Staged-TWIN oracle root for q149 — the q143 machinery on the
    * byte-mapped word domain. */
  @volatile private[graft] var twinByteOracleRoot: Option[String] = None

  /** Write-once staged reference-EM vocabulary (the q143/q149 oracles'
    * independent side): same collected word table (optionally mapped —
    * byte mode maps each word through the GPT-2 bijection first), the
    * edge-list [[graft.UnigramReference]] learner, (id, piece,
    * logp_nano) emit matching the engine's integer form. */
  private[graft] def twinPiecesStaged(spark: SparkSession, dir: String,
      vocabSize: Int = VocabSize,
      mapWord: String => String = identity,
      keySuffix: String = ""): String =
    Staging.stage(spark, docsKey("unigram/unitwin", dir, vocabSize, keySuffix)) { tmp =>
      val wf = Bpe.wordTable(Tables.documents(spark, dir))
        .map { case (w, f) => (mapWord(w), f) }
      val (ranked, _) = graft.UnigramReference.learn(wf, vocabSize)
      spark.createDataFrame(ranked.zipWithIndex.map { case ((p, lp), i) =>
          (i + 1, p, math.floor(lp * 1e9d).toLong)
        }).toDF("id", "piece", "logp_nano")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/pieces")
    }

  /** The shared twin-oracle SQL (staged twin read back in id order). */
  private def twinOracleSql(root: Option[String]): Option[String] =
    root.map(r => s"""
      SELECT id, piece, logp_nano
      FROM read_parquet('$r/pieces/*.parquet')
      ORDER BY id""")

  // `def`, not `val`: q145's oracle SQL embeds the staged roots set by
  // the entry's run (the q105/q121 convention)
  def queries: Seq[Query] = Seq(
    Query(
      "q143_unigram_learn",
      "Unigram-LM (SentencePiece-style, Kudo 2018) subword vocabulary " +
        "EM-trained then loss-pruned to the target size — the OTHER " +
        "production tokenizer family next to BPE (q102/q122), the " +
        "Llama/T5 lineage. One corpus aggregate collects the Heaps'-" +
        "bounded word table (the q102 economics); seeding, forward/" +
        "backward EM, SentencePiece loss pruning and Viterbi run on " +
        "the driver in a FIXED accumulation order, so the trained " +
        "vocabulary is bit-reproducible; the artifact is staged " +
        "write-once. Output: (id, piece, logp_nano) — integer emit " +
        "(the q96 rule). An EM fixed point has no SQL twin, so the " +
        "oracle (round-13 upgrade, the q102 convention) is the " +
        "STAGED-TWIN differential made driver-visible: the " +
        "independently-written reference EM (edge-list lattices, " +
        "different machinery end to end) is staged from the same word " +
        "table and DuckDB hash-compares the engine vocabulary against " +
        "it piece for piece INCLUDING the floor-nano log-probs — " +
        "bit-equal doubles or the hash trips; UnigramSpec keeps the " +
        "in-suite parity, determinism, and coverage gates.",
      (s, dir) => {
        twinOracleRoot =
          Some(new java.io.File(twinPiecesStaged(s, dir)).getAbsolutePath)
        val (pieces, _) = learnStaged(s, dir)
        pieces.select("id", "piece", "logp_nano").orderBy("id")
      },
      twinOracleSql(twinOracleRoot)),

    Query(
      "q144_unigram_encode",
      "Corpus encoding under the staged unigram tokenizer: per-word " +
        "Viterbi segmentations (computed ONCE in the staged word " +
        "table, never per document) reach the corpus through the " +
        "same broadcast word-join plan as q103 — Bpe.encode serves " +
        "unchanged because the unigram word table emits the " +
        "identical (word, freq, syms) schema with the EndOfWord " +
        "marker piece. Output: (doc_id, n_words, n_subwords, ids). " +
        "Oracle (round-13 upgrade, the q103 convention): DuckDB " +
        "recomputes the whole encode composition from documents + the " +
        "staged segment parquet — derives the dense id map itself, " +
        "re-tokenizes, replays the char-symbol fallback, reassembles " +
        "the per-doc id string in position order, hash-exact; the " +
        "segmentations are differential-gated in UnigramSpec (Viterbi " +
        "parity vs the reference twin + decode round trip).",
      (s, dir) => {
        val (_, segs) = learnStaged(s, dir)
        stagedOracleRoot = Some(
          new java.io.File(unigramRoot(s, dir, VocabSize)).getAbsolutePath)
        val ids = Bpe.subwordIds(Bpe.subwordVocab(segs))
        Bpe.encode(Tables.documents(s, dir), segs, ids).orderBy("doc_id")
      },
      oracleFn = Some(() => stagedOracleRoot.map(root => s"""
        WITH seg AS (
          SELECT word, freq, syms
          FROM read_parquet('$root/segments/*.parquet')
        ), vocab AS (
          SELECT subword, SUM(freq) AS n
          FROM (SELECT freq, unnest(syms) AS subword FROM seg)
          GROUP BY subword
        ), tid AS (
          SELECT subword,
                 CAST(row_number() OVER (ORDER BY n DESC, subword ASC) AS INT) AS tid
          FROM vocab
        ), tok AS (
          SELECT doc_id,
                 generate_subscripts(w, 1) AS wpos,
                 unnest(w) AS word
          FROM (SELECT doc_id,
                       string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
                FROM documents)
        ), withsyms AS (
          SELECT t.doc_id, t.wpos,
                 COALESCE(s.syms,
                   list_append(list_transform(range(1, length(t.word) + 1),
                     i -> t.word[i]), '</w>')) AS syms
          FROM tok t LEFT JOIN seg s USING (word)
        ), sub AS (
          SELECT doc_id, wpos,
                 generate_subscripts(syms, 1) AS spos,
                 unnest(syms) AS subword
          FROM withsyms
        )
        SELECT s.doc_id,
               CAST(COUNT(CASE WHEN s.spos = 1 THEN 1 END) AS BIGINT) AS n_words,
               COUNT(*) AS n_subwords,
               string_agg(CAST(COALESCE(i.tid, 0) AS VARCHAR), ' ' ORDER BY s.wpos, s.spos) AS ids
        FROM sub s LEFT JOIN tid i USING (subword)
        GROUP BY s.doc_id
        ORDER BY s.doc_id"""))),

    Query(
      "q145_tokenizer_compare",
      "Tokenizer bake-off audit — per-language fertility counters for " +
        "the q102 BPE (32 merges) and the q143 unigram vocabularies " +
        "side by side: the release report that shows WHERE unigram " +
        "beats BPE (and vice versa) before a vocabulary is frozen. " +
        "Two broadcast word->|syms| probes over one tokenize pass " +
        "each, group-keyed aggregates, INTEGER counters only. " +
        "Oracle: DuckDB recomputes both from the documents table and " +
        "the two staged segment tables (each design-gated by its own " +
        "spec differential) — the q121 convention.",
      (s, dir) => {
        val (_, bpeSegs) = Bpe.learnStaged(s, dir, merges = 32)
        val (_, uniSegs) = learnStaged(s, dir)
        stagedOracleRoot = Some(
          new java.io.File(unigramRoot(s, dir, VocabSize)).getAbsolutePath)
        Bpe.stagedOracleRoot = Some(
          new java.io.File(Bpe.bpeRoot(s, dir, 32)).getAbsolutePath)
        val docs = Tables.documents(s, dir)
        val bpe = Bpe.fertilityByGroup(docs, bpeSegs, col("lang"))
          .withColumnRenamed("grp", "lang")
          .withColumnRenamed("n_subwords", "bpe_subwords")
          .select("lang", "n_docs", "n_words", "n_chars", "bpe_subwords")
        val uni = Bpe.fertilityByGroup(docs, uniSegs, col("lang"))
          .withColumnRenamed("grp", "lang")
          .withColumnRenamed("n_subwords", "uni_subwords")
          .select(col("lang"), col("uni_subwords"))
        bpe.join(uni, Seq("lang")).orderBy("lang")
      },
      (for {
        uniRoot <- stagedOracleRoot
        bpeRoot <- Bpe.stagedOracleRoot
      } yield s"""
        WITH bsegs AS (
          SELECT word, CAST(len(syms) AS BIGINT) AS n_sub
          FROM read_parquet('$bpeRoot/segments/*.parquet')
        ), usegs AS (
          SELECT word, CAST(len(syms) AS BIGINT) AS n_sub
          FROM read_parquet('$uniRoot/segments/*.parquet')
        ), tok AS (
          SELECT doc_id, lang,
                 unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
          FROM documents
        )
        SELECT t.lang,
               CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
               COUNT(*) AS n_words,
               CAST(SUM(length(t.word)) AS BIGINT) AS n_chars,
               CAST(SUM(COALESCE(b.n_sub, length(t.word) + 1)) AS BIGINT) AS bpe_subwords,
               CAST(SUM(COALESCE(u.n_sub, length(t.word) + 1)) AS BIGINT) AS uni_subwords
        FROM tok t
        LEFT JOIN bsegs b USING (word)
        LEFT JOIN usegs u USING (word)
        GROUP BY t.lang
        ORDER BY lang""")),

    Query(
      "q149_unigram_byte_learn",
      "BYTE-LEVEL unigram-LM vocabulary (the q122/q123 alphabet on " +
        "the q143 algorithm — the second production pairing, e.g. " +
        "Llama's byte-fallback SentencePiece): words map through the " +
        "GPT-2 byte->char bijection, pieces are EM-trained mapped-" +
        "byte sequences, the marker is the out-of-band U+0144, and " +
        "because the base 256-char alphabet is unioned into the id " +
        "space (Bpe.byteVocab), encode is structurally ZERO-OOV on " +
        "any input. Same O(1)-job economics and staged artifact as " +
        "q143, and the same STAGED-TWIN oracle (round-13 upgrade): " +
        "the independent reference EM trained on the byte-mapped word " +
        "table is staged and DuckDB hash-compares piece-for-piece " +
        "with floor-nano log-probs; UnigramSpec keeps reference-EM " +
        "parity on the mapped domain, zero-OOV and the universal " +
        "decode round trip on hostile multi-script input.",
      (s, dir) => {
        twinByteOracleRoot = Some(new java.io.File(twinPiecesStaged(
          s, dir, mapWord = byteMap, keySuffix = "/bytes")).getAbsolutePath)
        val (pieces, _) = learnStagedBytes(s, dir)
        pieces.select("id", "piece", "logp_nano").orderBy("id")
      },
      twinOracleSql(twinByteOracleRoot)),

    Query(
      "q150_unigram_byte_encode",
      "Corpus encoding under the staged byte-level unigram tokenizer: " +
        "the same broadcast word-join plan as q123 (Bpe.encodeBytes " +
        "serves unchanged — byte-marker segment schema, base-alphabet-" +
        "unioned ids), so unseen words decompose to base byte symbols " +
        "that ALWAYS carry ids: id 0 is structurally unreachable on " +
        "any input. Output: (doc_id, n_words, n_subwords, ids). " +
        "Oracle (round-13 upgrade, the q123 shape): DuckDB " +
        "recomputes the whole encode composition from documents + " +
        "the staged byte-mode unigram segments, replaying the " +
        "byteVocab base-alphabet union and the byte fallback through " +
        "a 256-row VALUES copy of the engine's GPT-2 bijection, " +
        "hash-exact; UnigramSpec keeps zero-OOV + the universal " +
        "decode round trip (decodeBytes . encodeBytes == whitespace-" +
        "normalized identity on multi-script text never seen in " +
        "training).",
      (s, dir) => {
        val (_, segs) = learnStagedBytes(s, dir)
        byteEncodeOracleRoot = Some(new java.io.File(
          unigramByteRoot(s, dir, VocabSize)).getAbsolutePath)
        val ids = Bpe.subwordIds(Bpe.byteVocab(segs))
        Bpe.encodeBytes(Tables.documents(s, dir), segs, ids)
          .orderBy("doc_id")
      },
      oracleFn = Some(() => byteEncodeOracleRoot.map(Bpe.byteEncodeOracleSql)))
  )

  /** The q150 byte-encode oracle root (set by the entry's run). */
  @volatile private[graft] var byteEncodeOracleRoot: Option[String] = None
}
