package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.ml.FatalityModel
import graft.operators._
import graft.sources.{Jsonl, Sink, Tables}
import graft.streaming.{EventStream, IncrementalStream}

/** Shared plumbing of the driver contract: session-scoped memos for
  * trained artifacts (one build per (session, dir), the bench-billing
  * unit), the corpus/lake fixtures the registration slices compose, and
  * the oracle fragments shared across entries. Split out of the
  * monolithic SparkEntry in r15. */
private[graft] object EntryOps {

  /** Session-scoped memo for trained driver-side artifacts: entries are
    * evicted when the owning session's SparkContext ends, so stopped
    * sessions (and the models keyed by them) are not retained for the
    * JVM lifetime. One listener per live session, self-removing. */
  private[graft] final class SessionMemo[K, V] {
    private val entries =
      scala.collection.concurrent.TrieMap.empty[(SparkSession, K), V]
    private val hooked =
      scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]
    def getOrElseUpdate(s: SparkSession, k: K)(v: => V): V = {
      hooked.getOrElseUpdate(s, {
        s.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                : Unit = {
              entries.keysIterator.filter(_._1 eq s).toList
                .foreach(entries.remove)
              hooked.remove(s): Unit
            }
          })
      })
      entries.getOrElseUpdate((s, k), v)
    }
    def clear(s: SparkSession): Unit =
      entries.keysIterator.filter(_._1 eq s).toList.foreach(entries.remove)
  }

  /** Drop every memoized trained artifact (GBT fit, BPE merges, DSIR
    * ratio table, quality weights) for `s`. Benchmark hook: perfbench
    * calls this before every timed pass, so each pass pays the one-time
    * builds again instead of scoring against the previous pass's memo. */
  def clearSessionMemos(s: SparkSession): Unit = {
    modelCache.clear(s); bpeMergeCache.clear(s); unigramCache.clear(s)
    wordpieceCache.clear(s)
    dsirRatioCache.clear(s); qualityWeightsCache.clear(s)
  }

  /** One GBT training per (session, dir): `fatality_model` and
    * `prediction_perf` share a single fit instead of each paying a full
    * training pass (the predictions frame is cached inside the result). */
  private[graft] val modelCache = new SessionMemo[String, FatalityModel.ModelResult]
  private[graft] def trainedModel(s: SparkSession, d: String): FatalityModel.ModelResult =
    modelCache.getOrElseUpdate(s, d) {
      val r = FatalityModel.trainAndEvaluate(Tables.events(s, d))
      r.copy(predictions = r.predictions.cache())
    }

  /** One BPE merge-table training per (session, dir, numMerges): training
    * is a full-corpus explode+groupBy+collect pass, and four registered
    * queries (bpe_merges, bpe_token_count, bpe_encode, packed_token_stream)
    * need the SAME deterministic table — each paying an independent train
    * pass is a corpus scan apiece at scale. Same memo discipline as the
    * GBT fit above; the cached value is the skinny driver-side merge list
    * (≤ numMerges pairs), not a Spark cache. */
  private[graft] val bpeMergeCache = new SessionMemo[(String, Int), Seq[(String, String)]]
  private[graft] def trainedMerges(s: SparkSession, d: String, numMerges: Int): Seq[(String, String)] =
    bpeMergeCache.getOrElseUpdate(s, (d, numMerges))(
      Bpe.train(Tables.documents(s, d), "text", numMerges))

  /** One unigram-LM vocabulary training per (session, dir, vocabSize) —
    * the Bpe memo discipline for the second tokenizer family; the cached
    * value is the skinny (piece, id, logp) list. */
  private[graft] val unigramCache =
    new SessionMemo[(String, Int), Seq[graft.functions.Unigram.Piece]]
  private[graft] def trainedUnigram(s: SparkSession, d: String,
                                    vocabSize: Int): Seq[graft.functions.Unigram.Piece] =
    unigramCache.getOrElseUpdate(s, (d, vocabSize))(
      graft.functions.Unigram.train(Tables.documents(s, d), "text", vocabSize))

  /** One WordPiece vocabulary training per (session, dir, numMerges) —
    * the same skinny-artifact memo as the other two tokenizer families;
    * the cached value is the (piece, id) list, one plan literal. */
  private[graft] val wordpieceCache =
    new SessionMemo[(String, Int), Seq[graft.functions.WordPiece.Piece]]
  private[graft] def trainedWordPiece(s: SparkSession, d: String,
                                      numMerges: Int): Seq[graft.functions.WordPiece.Piece] =
    wordpieceCache.getOrElseUpdate(s, (d, numMerges))(
      graft.functions.WordPiece.train(Tables.documents(s, d), "text", numMerges))

  /** One DSIR ratio-table estimation per (session, dir): the model is a
    * dense 1024-row (bucket, logratio) list — skinny driver data, the
    * Bpe.train memo discipline — and three registered queries score
    * against the SAME model; each estimating independently would pay an
    * extra corpus feature pass apiece. Also the production shape:
    * estimate once on a snapshot, score every batch after. */
  private[graft] val dsirRatioCache = new SessionMemo[String, Seq[(Long, Double)]]
  private[graft] def dsirRatio(s: SparkSession, d: String): Seq[(Long, Double)] =
    dsirRatioCache.getOrElseUpdate(s, d)(
      graft.operators.Dsir.ratioTable(Tables.documents(s, d),
        length(col("source")) === 4, "doc_id", "text"))

  /** One quality-classifier training per (session, dir): the trainer is a
    * TakeOrdered corpus pass + 400 driver-side GD iterations, and both
    * registered queries (quality_classifier, quality_classifier_weights)
    * need the SAME deterministic weights — the memo discipline above. */
  private[graft] val qualityWeightsCache = new SessionMemo[String, QualityModel.Weights]
  private[graft] def qualityWeights(s: SparkSession, d: String): QualityModel.Weights =
    qualityWeightsCache.getOrElseUpdate(s, d)(
      QualityModel.train(Tables.documents(s, d), "doc_id", "text"))

  // ---- shared oracle fragments: each CTE that more than one oracle
  // replays lives here once and is interpolated into every oracle that
  // uses it, so the emitted SQL is byte for byte the former pasted
  // copies'. Vals precede the vals that interpolate them (object
  // initialization order). ---------------------------------------------

  /** The first four md5 hex digits of `doc_id` as a BIGINT: the
    * md5-prefix routing every doc-sharded Scala operator applies
    * (`conv(substring(md5(id), 1, 4), 16, 10)`), replayed in DuckDB. */
  private[graft] val docMd5Prefix: String =
    """('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT"""

  /** Lowercased whitespace tokens of `text`, empties dropped — the
    * NgramLm/Dsir tokenizer (`split(lower(trim(text)), "\\s+")` minus
    * "") every LM-family oracle replays. */
  private[graft] val wsTokens: String =
    s"""list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')"""

  /** `<name>(doc_id, w)` CTE: [[wsTokens]] of each row of `from` (a table,
    * or a table plus its WHERE clause). */
  private[graft] def wsCte(name: String, from: String): String =
    s"""$name AS (
           SELECT doc_id,
             $wsTokens AS w
           FROM $from)"""

  /** `<name>(doc_id, w1, w2)` CTE: every adjacent token pair of the word
    * lists in `ws`. */
  private[graft] def bigramCte(name: String, ws: String): String =
    s"""$name AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM $ws) p)"""

  /** The add-1 bigram model over the pairs in `bi` and the vocabulary of
    * `ws`: `c12`/`c1` counts, `v` (distinct tokens) and `model(w1, w2,
    * logp)` — NgramLm.train's smoothing, frozen grouping. */
  private[graft] def bigramModelCtes(bi: String, ws: String): String =
    s"""c12 AS (SELECT w1, w2, count(*) AS c12 FROM $bi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM $bi GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
               FROM (SELECT unnest(w) AS tk FROM $ws) u),
         model AS (
           SELECT w1, w2, ln((c12 + 1.0) / (c1 + 1.0 * v)) AS logp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v)"""

  /** The cross-scoring front: word lists of the trusted slice (`tws`,
    * length(source) = 4) and of every document (`ws`), their bigrams
    * (`tbi`, `bi`) and the add-1 model trained on the trusted slice. */
  private[graft] val crossModelCtes: String =
    s"""${wsCte("tws", "documents WHERE length(source) = 4")},
         ${wsCte("ws", "documents")},
         ${bigramCte("tbi", "tws")},
         ${bigramCte("bi", "ws")},
         ${bigramModelCtes("tbi", "tws")}"""

  /** `<name>(doc_id, n_bigrams, n_oov, logprob_sum)` CTE: the backoff
    * ladder over the pairs in `bi` against [[bigramModelCtes]] — seen
    * pair → model logp, else ln(1/(c1+V)) — rounded after the sum. */
  private[graft] def backoffScoreCte(name: String, bi: String): String =
    s"""$name AS (
           SELECT $bi.doc_id, count(*) AS n_bigrams,
             cast(sum(CASE WHEN m.logp IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_oov,
             round(sum(coalesce(m.logp,
               ln(1.0 / (coalesce(c1.c1, 0) + v.v)))), 4) AS logprob_sum
           FROM $bi
           LEFT JOIN model m ON $bi.w1 = m.w1 AND $bi.w2 = m.w2
           LEFT JOIN c1 ON $bi.w1 = c1.w1
           CROSS JOIN v
           GROUP BY 1)"""

  /** Corpus-percentile cutoffs over `scored(doc_id, avg_nll)`: the
    * cumulative histogram and the first `avg_nll` reaching a third and two
    * thirds of the scored docs (`cuts(cut_head, cut_middle)`). */
  private[graft] def tertileCutCtes(scored: String): String =
    s"""hist AS (SELECT avg_nll, count(*) AS cnt FROM $scored
                  WHERE avg_nll IS NOT NULL GROUP BY 1),
         cum AS (SELECT avg_nll, sum(cnt) OVER (ORDER BY avg_nll
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM hist),
         tot AS (SELECT count(*) AS n_total FROM $scored
                 WHERE avg_nll IS NOT NULL),
         cuts AS (SELECT
             min(CASE WHEN cum * 3 >= n_total THEN avg_nll END) AS cut_head,
             min(CASE WHEN cum * 3 >= n_total * 2 THEN avg_nll END) AS cut_middle
           FROM cum CROSS JOIN tot)"""

  /** `ttr`: every trigram of the trusted-slice word lists `tws` — the
    * training side of the KN ladder. */
  private[graft] val knTtrCte: String =
    """ttr AS (
           SELECT w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3 FROM (
             SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
             FROM tws) p)"""

  /** The fixed-discount KN context frames over `tri`: `ctx2` (context
    * mass and type count), `contb` (middle-rung continuation counts) and
    * `mid` (their margins). */
  private[graft] val knCtxCtes: String =
    """ctx2 AS (SELECT w1, w2, sum(c3) AS cctx, count(*) AS t2
                  FROM tri GROUP BY 1, 2),
         contb AS (SELECT w2, w3, count(*) AS cb FROM tri GROUP BY 1, 2),
         mid AS (SELECT w2, sum(cb) AS nmid, count(*) AS ndw3
                 FROM contb GROUP BY 1)"""

  /** `contu(w2, cu)`: unigram-rung continuation counts over the
    * distinct bigram types in `tbt`. */
  private[graft] val knContuCte: String =
    """contu AS (SELECT w2, count(*) AS cu FROM tbt GROUP BY 1)"""

  /** `tbt` (the distinct training bigram types of `tws`) and its
    * [[knContuCte]]. */
  private[graft] val knContinuationCtes: String =
    s"""tbt AS (
           SELECT DISTINCT w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
             FROM tws) p),
         $knContuCte"""

  /** `sca(b, wtypes, v)`: the unigram rung's scalars — continuation mass,
    * continuation types, training vocabulary size. */
  private[graft] val knScaCte: String =
    """sca AS (SELECT (SELECT sum(cu) FROM contu) AS b,
                        (SELECT count(*) FROM contu) AS wtypes,
                        (SELECT count(DISTINCT tk) FROM
                          (SELECT unnest(w) AS tk FROM tws) u) AS v)"""

  /** `str(doc_id, w1, w2, w3)`: the trigrams to score, from the word lists
    * in `ws`. */
  private[graft] def knStrCte(ws: String): String =
    s"""str AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3 FROM (
             SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             FROM $ws) p)"""

  /** `<name>` CTE: each scored trigram joined to its counts in the KN
    * frames ([[knCtxCtes]], [[knContinuationCtes]], [[knScaCte]]). */
  private[graft] def knJoinCte(name: String): String =
    s"""$name AS (
           SELECT s.doc_id, tri.c3, ctx2.cctx, ctx2.t2, contb.cb,
             mid.nmid, mid.ndw3, contu.cu, sca.b, sca.wtypes, sca.v
           FROM str s
           LEFT JOIN tri ON s.w1 = tri.w1 AND s.w2 = tri.w2 AND s.w3 = tri.w3
           LEFT JOIN ctx2 ON s.w1 = ctx2.w1 AND s.w2 = ctx2.w2
           LEFT JOIN contb ON s.w2 = contb.w2 AND s.w3 = contb.w3
           LEFT JOIN mid ON s.w2 = mid.w2
           LEFT JOIN contu ON s.w3 = contu.w2
           CROSS JOIN sca)"""

  /** The three frozen KN rungs `p1t`/`p2t`/`p3t` over `joined`, D = 0.75
    * (exact binary), expression grouping fixed so both engines divide
    * identical doubles. */
  private[graft] val knRungCtes: String =
    """p1t AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM joined),
         p2t AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (greatest(coalesce(cb, 0) - 0.75, 0.0)
                     + (0.75 * ndw3) * p1) / nmid END AS p2 FROM p1t),
         p3t AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (greatest(coalesce(c3, 0) - 0.75, 0.0)
                     + (0.75 * t2) * p2) / cctx END AS p3 FROM p2t)"""

  /** Per-doc KN verdicts over [[knRungCtes]] for every doc of `docs`:
    * trigram and rung-hit counts, the rounded log-prob sum, the integer-
    * rounded avg_nll, ppl and keep (avg_nll <= 3.5). Ends the query. */
  private[graft] def knScoreCtes(docs: String): String =
    s"""sc AS (
           SELECT doc_id, count(*) AS n_trigrams,
             cast(sum(CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS bigint)
               AS n_hit3,
             cast(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS bigint)
               AS n_hit2,
             round(sum(ln(p3)), 4) AS logprob_sum
           FROM p3t GROUP BY 1),
         fin AS (
           SELECT d.doc_id,
             coalesce(sc.n_trigrams, 0) AS n_trigrams,
             coalesce(sc.n_hit3, 0) AS n_hit3,
             coalesce(sc.n_hit2, 0) AS n_hit2,
             sc.logprob_sum,
             (CAST(round(-sc.logprob_sum * 10000) AS BIGINT) * 2
               + sc.n_trigrams) // (sc.n_trigrams * 2) / 10000.0 AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM $docs) d
           LEFT JOIN sc USING (doc_id))
         SELECT doc_id, n_trigrams, n_hit3, n_hit2, logprob_sum, avg_nll,
           round(exp(avg_nll), 4) AS ppl,
           coalesce(avg_nll <= 3.5, false) AS keep
         FROM fin"""

  /** The modified-KN discount estimates: count-of-counts of the trigram
    * (`tcoc`) and continuation (`bcoc`) tables, the D1/D2/D3+ formulas
    * (`rawd`) and `disc`, which falls back to 0.75 when an estimate
    * degenerates. */
  private[graft] val mknDiscountCtes: String =
    """tcoc AS (SELECT
             sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS t_n1,
             sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS t_n2,
             sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS t_n3,
             sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS t_n4
           FROM tri),
         bcoc AS (SELECT
             sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS b_n1,
             sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS b_n2,
             sum(CASE WHEN cb = 3 THEN 1 ELSE 0 END) AS b_n3,
             sum(CASE WHEN cb = 4 THEN 1 ELSE 0 END) AS b_n4
           FROM contb),
         rawd AS (
           SELECT t_n1, t_n2, t_n3, t_n4, b_n1, b_n2, b_n3, b_n4,
             1.0 - (2.0 * (t_n1 / (t_n1 + 2.0 * t_n2))) * (t_n2 / t_n1)
               AS rtd1,
             2.0 - (3.0 * (t_n1 / (t_n1 + 2.0 * t_n2))) * (t_n3 / t_n2)
               AS rtd2,
             3.0 - (4.0 * (t_n1 / (t_n1 + 2.0 * t_n2))) * (t_n4 / t_n3)
               AS rtd3,
             1.0 - (2.0 * (b_n1 / (b_n1 + 2.0 * b_n2))) * (b_n2 / b_n1)
               AS rbd1,
             2.0 - (3.0 * (b_n1 / (b_n1 + 2.0 * b_n2))) * (b_n3 / b_n2)
               AS rbd2,
             3.0 - (4.0 * (b_n1 / (b_n1 + 2.0 * b_n2))) * (b_n4 / b_n3)
               AS rbd3
           FROM tcoc CROSS JOIN bcoc),
         disc AS (
           SELECT
             CASE WHEN t_n1 > 0 AND t_n2 > 0 AND t_n3 > 0 AND t_n4 > 0
                   AND rtd1 > 0.0 AND rtd2 > 0.0 AND rtd3 > 0.0
                  THEN rtd1 ELSE 0.75 END AS td1,
             CASE WHEN t_n1 > 0 AND t_n2 > 0 AND t_n3 > 0 AND t_n4 > 0
                   AND rtd1 > 0.0 AND rtd2 > 0.0 AND rtd3 > 0.0
                  THEN rtd2 ELSE 0.75 END AS td2,
             CASE WHEN t_n1 > 0 AND t_n2 > 0 AND t_n3 > 0 AND t_n4 > 0
                   AND rtd1 > 0.0 AND rtd2 > 0.0 AND rtd3 > 0.0
                  THEN rtd3 ELSE 0.75 END AS td3,
             CASE WHEN b_n1 > 0 AND b_n2 > 0 AND b_n3 > 0 AND b_n4 > 0
                   AND rbd1 > 0.0 AND rbd2 > 0.0 AND rbd3 > 0.0
                  THEN rbd1 ELSE 0.75 END AS bd1,
             CASE WHEN b_n1 > 0 AND b_n2 > 0 AND b_n3 > 0 AND b_n4 > 0
                   AND rbd1 > 0.0 AND rbd2 > 0.0 AND rbd3 > 0.0
                  THEN rbd2 ELSE 0.75 END AS bd2,
             CASE WHEN b_n1 > 0 AND b_n2 > 0 AND b_n3 > 0 AND b_n4 > 0
                   AND rbd1 > 0.0 AND rbd2 > 0.0 AND rbd3 > 0.0
                  THEN rbd3 ELSE 0.75 END AS bd3
           FROM rawd)"""

  /** `kbuck(doc_id, kn_bucket)`: the KN verdicts of `ksc` per doc
    * (integer-rounded avg_nll, `kdoc`) assigned to corpus-tertile buckets
    * by their own cumulative histogram — the crosstab oracles' KN side. */
  private[graft] val knBucketCtes: String =
    """kdoc AS (
           SELECT d.doc_id,
             (CAST(round(-ksc.logprob_sum * 10000) AS BIGINT) * 2
               + ksc.n_trigrams) // (ksc.n_trigrams * 2) / 10000.0 AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN ksc USING (doc_id)),
         khist AS (SELECT avg_nll, count(*) AS cnt FROM kdoc
                   WHERE avg_nll IS NOT NULL GROUP BY 1),
         kcum AS (SELECT avg_nll, sum(cnt) OVER (ORDER BY avg_nll
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM khist),
         ktot AS (SELECT count(*) AS n_total FROM kdoc
                  WHERE avg_nll IS NOT NULL),
         kcuts AS (SELECT
             min(CASE WHEN cum * 3 >= n_total THEN avg_nll END) AS cut_head,
             min(CASE WHEN cum * 3 >= n_total * 2 THEN avg_nll END) AS cut_middle
           FROM kcum CROSS JOIN ktot),
         kbuck AS (
           SELECT doc_id,
             CASE WHEN avg_nll IS NULL THEN 'unscored'
                  WHEN avg_nll <= cut_head THEN 'head'
                  WHEN avg_nll <= cut_middle THEN 'middle'
                  ELSE 'tail' END AS kn_bucket
           FROM kdoc CROSS JOIN kcuts)"""

  /** The DSIR importance model: [[wsTokens]] unigrams + bigrams hashed
    * into 1024 md5-prefix buckets (`hist` per doc), per-bucket target/raw
    * counts and the add-1 log-ratio table `ratio(b, logratio)`. */
  private[graft] val dsirRatioCtes: String =
    s"""ws AS (
           SELECT doc_id, length(source) = 4 AS tgt,
             $wsTokens AS w
           FROM documents),
         uni AS (SELECT doc_id, tgt, unnest(w) AS f FROM ws),
         bi AS (
           SELECT doc_id, tgt, w[i] || ' ' || w[i + 1] AS f FROM (
             SELECT doc_id, tgt, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM ws) p),
         feats AS (
           SELECT doc_id, tgt,
             ('0x' || substr(md5(f), 1, 4))::BIGINT % 1024 AS b
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u),
         hist AS (
           SELECT doc_id, tgt, b, count(*) AS n FROM feats GROUP BY 1, 2, 3),
         bucket AS (
           SELECT b, sum(n) AS cr,
             sum(CASE WHEN tgt THEN n ELSE 0 END) AS ct
           FROM hist GROUP BY 1),
         tot AS (SELECT sum(cr) AS r, sum(ct) AS t FROM bucket),
         ratio AS (
           SELECT b,
             ln((ct + 1.0) / (t + 1024.0)) - ln((cr + 1.0) / (r + 1024.0))
               AS logratio
           FROM bucket CROSS JOIN tot)"""

  /** `sc(doc_id, weight)`: each doc's DSIR weight over [[dsirRatioCtes]]. */
  private[graft] val dsirWeightCte: String =
    """sc AS (
           SELECT doc_id, round(sum(n * logratio), 4) AS weight
           FROM hist JOIN ratio USING (b) GROUP BY 1)"""

  /** The Gopher quality-rule metrics as select columns over `ws`,
    * `lines` and `text`: word and char counts, symbol ratios, bullet and
    * ellipsis lines, alphabetic words, stopword hits. */
  private[graft] val gopherMetricCols: String =
    s"""len(ws) AS n_words,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS bullets,
             len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS ell_lines,
             len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_w,
             len(list_intersect(list_distinct(ws),
               ['the','be','to','of','and','that','have','with'])) AS stop_hits"""

  /** `gm`: the Gopher quality-rule metrics (word and char counts,
    * symbol ratios, bullet and ellipsis lines, alphabetic words, stopword
    * hits) of column `text` of `from`, read as '' when NULL. */
  private[graft] def gopherMetricsCte(text: String, from: String): String =
    s"""gm AS (
           SELECT doc_id,
             $gopherMetricCols
           FROM (
             SELECT doc_id, coalesce($text, '') AS text,
               list_filter(regexp_split_to_array(trim(lower(coalesce($text, ''))), '\\s+'),
                           x -> x <> '') AS ws,
               string_split(coalesce($text, ''), chr(10)) AS lines
             FROM $from) t)"""

  /** `t` (text, tokens, lines of every document) and `m`, its
    * [[gopherMetricCols]] — the gopher rule oracles' front. */
  private[graft] val gopherRuleCtes: String =
    s"""t AS (
           SELECT doc_id, coalesce(text, '') AS text,
             list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'),
                         x -> x <> '') AS ws,
             string_split(coalesce(text, ''), chr(10)) AS lines
           FROM documents),
         m AS (
           SELECT doc_id,
             $gopherMetricCols
           FROM t)"""

  /** `norm(doc_id, t)` (NFC, whitespace-collapsed, control-stripped,
    * lowercased text of `src`) and `ded`, its md5 min-id dedup rank. */
  private[graft] def normDedCtes(src: String): String =
    s"""norm AS (
           SELECT doc_id,
             lower(trim(regexp_replace(regexp_replace(nfc_normalize(text),
               '\\s+', ' ', 'g'), '[\\x00-\\x1f]', '', 'g'))) AS t
           FROM $src),
         ded AS (
           SELECT doc_id, t,
             row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
           FROM norm)"""

  /** `kept`: the deduped docs passing the three corpus keep rules (length
    * >= 100, digit ratio <= 0.2, mean word length 3..12). */
  private[graft] val keptCte: String =
    s"""kept AS (
           SELECT doc_id, t FROM ded
           WHERE rn = 1
             AND length(t) >= 100
             AND length(regexp_replace(t, '[^0-9]', '', 'g')) * 1.0
                 / greatest(length(t), 1) <= 0.2
             AND length(regexp_replace(t, '\\s+', '', 'g')) * 1.0
                 / greatest(len(string_split_regex(trim(t), '\\s+')), 1)
                 BETWEEN 3 AND 12)"""

  /** `prev` (docs < 400) and `curr` (docs >= 100, every 50th edited)
    * content hashes: the two snapshot versions the snapshot-diff oracles
    * compare. */
  private[graft] val snapshotCtes: String =
    """prev AS (
           SELECT doc_id, md5(text) AS prev_hash
           FROM documents WHERE doc_id < 400),
         curr AS (
           SELECT doc_id,
             md5(CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END)
               AS curr_hash
           FROM documents WHERE doc_id >= 100)"""

  /** `t(doc_id, toks)`: lowercased \s+ tokens of every document (the
    * para/span dedup oracles). */
  private[graft] val dedupToksCte: String =
    s"""t AS (
           SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents)"""

  /** `toks(doc_id, tok)`: lowercased tokens of every document split on
    * Java's \s class spelled out (the doc_embed oracles). */
  private[graft] val embedToksCte: String =
    s"""toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)),
               '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS tok
           FROM documents)"""

  /** `t(doc_id, lang, n_tokens, ok)`: whitespace token counts and the md5
    * ordering key of every document (the mixture-sampling oracles). */
  private[graft] val mixtureDocsCte: String =
    s"""t AS (
           SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ok
           FROM documents)"""

  /** `nd_losers`: keep-first near-dup losers — pairs in the same prefix
    * block `ksh(doc_id, blk, sh)` with 3-shingle Jaccard >= 0.6. */
  private[graft] val nearDupLosersCte: String =
    """nd_losers AS (
           SELECT DISTINCT b.doc_id FROM ksh a JOIN ksh b
             ON a.blk = b.blk AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6)"""

  /** The span-scrub coverage over `src(doc_id, toks)`: every 8-token
    * window (`winstr`), the windows seen at least twice (`rep`), their
    * token spans (`repst`), each token position (`post`) and the positions
    * a repeated window covers (`covered`). */
  private[graft] def scrubCoverCtes(src: String): String =
    s"""winstr AS (
           SELECT doc_id, n, st, array_to_string(toks[st:st+7], ' ') AS wstr
           FROM (SELECT doc_id, toks, len(toks) AS n,
                   CAST(unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                     AS INT) AS st
                 FROM $src)),
         rep AS (SELECT wstr FROM winstr GROUP BY wstr HAVING count(*) >= 2),
         repst AS (
           SELECT doc_id, st, least(st + 7, n) AS en
           FROM winstr WHERE wstr IN (SELECT wstr FROM rep)),
         post AS (
           SELECT doc_id, p, toks[p] AS tok
           FROM (SELECT doc_id, toks,
                   CAST(unnest(generate_series(1, len(toks))) AS INT) AS p
                 FROM $src)),
         covered AS (
           SELECT DISTINCT x.doc_id, x.p FROM post x JOIN repst r
             ON r.doc_id = x.doc_id AND x.p BETWEEN r.st AND r.en)"""

  /** `m(rank, a, b)`: the pinned 16-rank byte-level merge table the
    * bpe_merges gate checks, symbols as 2-hex-digit UTF-8 bytes. */
  private[graft] val bpeMergeCte: String =
    """m AS (SELECT * FROM (VALUES
           (0,'65','72'),(1,'69','6e'),(2,'6f','77'),(3,'6f','72'),
           (4,'73','74'),(5,'6d','6572'),(6,'61','74'),(7,'6c','75'),
           (8,'61','72'),(9,'70','6172'),(10,'6a','6f'),(11,'6a6f','696e'),
           (12,'61','73'),(13,'6173','68'),(14,'68','617368'),
           (15,'72','6f77')) AS t(rank, a, b))"""

  /** `corpus`: documents plus the three planted non-ASCII docs (chr()
    * codepoints, byte for byte the engine specs' \u literals). */
  private[graft] val bpePlantedCorpusCte: String =
    """corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (9000001, 'caf' || chr(233) || ' d' || chr(233) || 'j' ||
                       chr(224) || ' na' || chr(239) || 've entr' ||
                       chr(233) || 'e'),
             (9000002, chr(252) || 'ber stra' || chr(223) || 'e gr' ||
                       chr(246) || chr(223) || 'er'),
             (9000003, chr(27169) || chr(22411) || ' ' || chr(35757) ||
                       chr(32451) || ' ' || chr(25968) || chr(25454))
           ) AS t(doc_id, text))"""

  /** `doclists`, `wordpos(doc_id, widx, w)` and the distinct words `dw`
    * of `corpus`, split on \s+ exactly like the kernel. */
  private[graft] def bpeWordPosCtes(corpus: String): String =
    s"""doclists AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM $corpus),
         wordpos AS (
           SELECT doc_id, widx, w FROM (
             SELECT doc_id, generate_subscripts(ws, 1) AS widx,
                    unnest(ws) AS w
             FROM doclists) u
           WHERE w <> ''),
         dw AS (SELECT DISTINCT w FROM wordpos)"""

  /** `words(doc_id, w, n_occ)` and the distinct words `dw` of `corpus`,
    * split on \s+ exactly like the kernel. */
  private[graft] def bpeWordCountCtes(corpus: String): String =
    s"""words AS (
           SELECT doc_id, w, count(*) AS n_occ FROM (
             SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
             FROM $corpus) u WHERE w <> '' GROUP BY doc_id, w),
         dw AS (SELECT DISTINCT w FROM words)"""

  /** `wordpos(doc_id, widx, w)` and the distinct words `dw` of `corpus`
    * (subquery form; the unigram and WordPiece replays). */
  private[graft] def wordPosCtes(corpus: String): String =
    s"""wordpos AS (
           SELECT doc_id, widx, w FROM (
             SELECT doc_id, generate_subscripts(ws, 1) AS widx,
                    unnest(ws) AS w
             FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                   FROM $corpus) u0) u
           WHERE w <> ''),
         dw AS (SELECT DISTINCT w FROM wordpos)"""

  /** `rec`: byte-level BPE application per distinct word of `dw` — one
    * recursion step merges one occurrence of the current rank's pair of
    * [[bpeMergeCte]], advancing the rank when none remains; the final
    * symbol string sits at r = 16. */
  private[graft] val bpeRecCte: String =
    """rec AS (
           SELECT w, ',' || array_to_string(
                    regexp_extract_all(lower(hex(w)), '[0-9a-f]{2}'),
                    ',') || ',' AS s,
                  0 AS r
           FROM dw
           UNION ALL
           SELECT w,
             CASE WHEN contains(s, ',' || a || ',' || b || ',')
                  THEN regexp_replace(s, ',' || a || ',' || b || ',',
                                      ',' || a || b || ',')
                  ELSE s END,
             CASE WHEN contains(s, ',' || a || ',' || b || ',')
                  THEN r ELSE r + 1 END
           FROM rec JOIN m ON m.rank = rec.r
           WHERE rec.r < 16)"""

  /** `counts(w, n_tok)`: the BPE token count of each word of [[bpeRecCte]]. */
  private[graft] val bpeCountsCte: String =
    """counts AS (
           SELECT w, len(string_split(s, ',')) - 2 AS n_tok
           FROM rec WHERE r = 16)"""

  /** `ids(w, sidx, token_id)`: each final symbol of [[bpeRecCte]] mapped
    * to its id — a byte is its value, a merged symbol 256 + the smallest
    * rank whose concatenation matches (the engine's idMap rule). */
  private[graft] val bpeSymbolIdsCtes: String =
    """wsyms AS (
           SELECT w, list_filter(string_split(s, ','), x -> x <> '') AS syms
           FROM rec WHERE r = 16),
         symrows AS (
           SELECT w, sidx, sym FROM (
             SELECT w, generate_subscripts(syms, 1) AS sidx,
                    unnest(syms) AS sym
             FROM wsyms) u),
         ids AS (
           SELECT w, sidx,
             CASE WHEN length(sym) = 2 THEN
               (strpos('0123456789abcdef', sym[1]) - 1) * 16
                 + (strpos('0123456789abcdef', sym[2]) - 1)
             ELSE 256 + (SELECT min(rank) FROM m WHERE m.a || m.b = sym)
             END AS token_id
           FROM symrows)"""

  /** `sharded`: the docs with tokens routed to 4 shards by
    * [[docMd5Prefix]] (packedStream's shardOn), and `ordered`, their
    * doc_id order per shard. */
  private[graft] val packedStreamShardCtes: String =
    s"""sharded AS (
           SELECT doc_id, n,
             $docMd5Prefix % 4
               AS shard
           FROM dcount WHERE n > 0),
         ordered AS (
           SELECT shard, doc_id, n,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
           FROM sharded)"""

  /** The D29 replay front shared by the packed-stream oracles: merge table,
    * word positions, BPE recursion, symbol ids, each doc's token stream in
    * word order (`doctok`) and its length (`dcount`), shard routing and
    * per-shard order. Opens the WITH. */
  private[graft] val packedStreamFrontCtes: String =
    s"""WITH RECURSIVE
         $bpeMergeCte,
         ${bpeWordPosCtes("documents")},
         $bpeRecCte,
         $bpeSymbolIdsCtes,
         doctok AS (
           SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY widx, sidx) - 1
               AS dpos,
             token_id
           FROM wordpos JOIN ids USING (w)),
         dcount AS (SELECT doc_id, count(*) AS n FROM doctok GROUP BY doc_id),
         $packedStreamShardCtes"""

  /** `pack`: Packing.packSequences' greedy next-fit over `ordered`, budget
    * 512, with `perDocOverhead` budget slots charged per doc (1 for the
    * EOS-separated streams) — its state transition verbatim. */
  private[graft] def packedStreamPackCte(perDocOverhead: Int): String = {
    val plus = if (perDocOverhead == 0) "" else s" + $perDocOverhead"
    s"""pack AS (
           SELECT shard, doc_id, n, rn,
             CAST(0 AS BIGINT) AS seq, LEAST(n, 512)$plus AS used
           FROM ordered WHERE rn = 1
           UNION ALL
           SELECT o.shard, o.doc_id, o.n, o.rn,
             CASE WHEN p.used + o.n$plus > 512 THEN p.seq + 1 ELSE p.seq END,
             CASE WHEN p.used + o.n$plus > 512 THEN LEAST(o.n, 512)$plus
                  ELSE p.used + LEAST(o.n, 512)$plus END
           FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)"""
  }

  /** [GOLDEN @ gate corpus: sf0.01] the trained unigram-LM pieces as
    * (id, piece, 1e6-scaled logp) VALUES rows — see unigram_vocab. */
  private[graft] val unigramVocabValues: String =
    """(1,'a',-3464386),(2,'agg',-3440802),(3,'b',-10244307),
           (4,'batch',-3401624),(5,'big',-3468941),(6,'c',-10244307),
           (7,'column',-3404831),(8,'custom',-3404831),(9,'d',-10244307),
           (10,'data',-3433063),(11,'dup',-6986211),(12,'e',-10244307),
           (13,'er',-3404831),(14,'f',-10244307),(15,'fast',-3494376),
           (16,'filter',-3405902),(17,'g',-10244307),(18,'group',-3466661),
           (19,'h',-10244307),(20,'hash',-3391008),(21,'i',-10244307),
           (22,'j',-10244307),(23,'join',-3373216),(24,'k',-10244307),
           (25,'key',-3446367),(26,'l',-10244307),(27,'line',-3430863),
           (28,'m',-10244307),(29,'merge',-3422110),(30,'n',-10244307),
           (31,'o',-10244307),(32,'order',-3428667),(33,'p',-10244307),
           (34,'part',-3466661),(35,'q',-10244307),(36,'query',-3474665),
           (37,'r',-10244307),(38,'row',-3395241),(39,'s',-10244307),
           (40,'scan',-3402692),(41,'slow',-3422110),(42,'small',-3411276),
           (43,'sort',-3473518),(44,'spark',-3464386),(45,'stream',-3455336),
           (46,'t',-10244307),(47,'table',-3433063),(48,'the',-3510906),
           (49,'u',-10244307),(50,'v',-10244307),(51,'value',-3445252),
           (52,'vector',-3428667),(53,'w',-10244307),(54,'window',-3457591),
           (55,'y',-10244307)"""

  /** `dprec`: the unigram Viterbi DP per distinct word of `dw` over
    * `vocab(id, piece, lp)` — dp/bp carried as lists, six per-length
    * vocab joins per step, ties to the longest piece (score·8+len keys). */
  private[graft] val unigramDpCte: String =
    """dprec AS (
           SELECT w, length(w) AS len, 0 AS pos,
             [CAST(0 AS BIGINT)] AS dp, [CAST(0 AS INT)] AS bp
           FROM dw
           UNION ALL
           SELECT r.w, r.len, r.pos + 1,
             list_append(r.dp, greatest(
               coalesce((r.dp[r.pos + 1] + coalesce(v1.lp, -20000000)), -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 2 THEN (r.dp[r.pos + 0] + v2.lp) END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 3 THEN (r.dp[r.pos - 1] + v3.lp) END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 4 THEN (r.dp[r.pos - 2] + v4.lp) END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 5 THEN (r.dp[r.pos - 3] + v5.lp) END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 6 THEN (r.dp[r.pos - 4] + v6.lp) END, -4611686018427387904))),
             list_append(r.bp, CAST(((greatest(
               coalesce((r.dp[r.pos + 1] + coalesce(v1.lp, -20000000)) * 8 + 1, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 2 THEN (r.dp[r.pos + 0] + v2.lp) * 8 + 2 END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 3 THEN (r.dp[r.pos - 1] + v3.lp) * 8 + 3 END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 4 THEN (r.dp[r.pos - 2] + v4.lp) * 8 + 4 END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 5 THEN (r.dp[r.pos - 3] + v5.lp) * 8 + 5 END, -4611686018427387904),
               coalesce(CASE WHEN r.pos + 1 >= 6 THEN (r.dp[r.pos - 4] + v6.lp) * 8 + 6 END, -4611686018427387904)) % 8) + 8) % 8 AS INT))
           FROM dprec r
           LEFT JOIN vocab v1 ON v1.piece = substr(r.w, r.pos + 1, 1)
           LEFT JOIN vocab v2 ON r.pos + 1 >= 2 AND v2.piece = substr(r.w, r.pos + 0, 2)
           LEFT JOIN vocab v3 ON r.pos + 1 >= 3 AND v3.piece = substr(r.w, r.pos - 1, 3)
           LEFT JOIN vocab v4 ON r.pos + 1 >= 4 AND v4.piece = substr(r.w, r.pos - 2, 4)
           LEFT JOIN vocab v5 ON r.pos + 1 >= 5 AND v5.piece = substr(r.w, r.pos - 3, 5)
           LEFT JOIN vocab v6 ON r.pos + 1 >= 6 AND v6.piece = substr(r.w, r.pos - 4, 6)
           WHERE r.pos < r.len)"""

  /** [GOLDEN @ gate corpus: sf0.01, seed=42] per-query planted-neighbor
    * hits of the two re-ranked IVF tiers (ivf_pq_rerank, ivf_opq_rerank),
    * which land on the same counts at this corpus. */
  private[graft] val ivfRecallGoldenSql: String =
    """SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(n_hits AS BIGINT) AS n_hits, recall_ok
         FROM (VALUES (0, 3, TRUE), (1, 5, TRUE), (2, 4, TRUE), (3, 4, TRUE),
                      (4, 4, TRUE), (5, 4, TRUE), (6, 5, TRUE), (7, 4, TRUE))
           t(query_id, n_hits, recall_ok)"""

  /** [GOLDEN @ gate corpus: sf0.01, seed=42] the planted-probe novelty
    * verdicts: jittered duplicates 3000000-3000009 non-novel, the two
    * novel plants novel — the batch (novelty_near_dup) and streamed
    * (stream_novelty) gates must both land on them. */
  private[graft] val noveltyGoldenSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, is_novel FROM (VALUES
           (3000000, FALSE), (3000001, FALSE), (3000002, FALSE),
           (3000003, FALSE), (3000004, FALSE), (3000005, FALSE),
           (3000006, FALSE), (3000007, FALSE), (3000008, FALSE),
           (3000009, FALSE), (4000000, TRUE), (4000001, TRUE))
           t(doc_id, is_novel)"""

  /** The exact content-novelty oracle (min-id dedup of docs >= 250, anti-
    * joined on md5 to the corpus < 250) — novelty_check's semantics and,
    * by design, the Bloom tier's (novelty_bloom). */
  private[graft] val noveltyExactSql: String =
    """WITH dedup AS (
           SELECT doc_id, lang, source, md5(text) AS h,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents WHERE doc_id >= 250),
         corpus AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250)
         SELECT doc_id, lang, source FROM dedup d
         WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = d.h)"""

  // ---- shared packing-oracle fragments (the wpGreedyCtes discipline:
  // one copy of each state machine, so a tie-break or overflow-test fix
  // cannot silently miss a sibling oracle's pasted copy) ----------------

  /** `toks` CTE: ws token counts + md5-prefix shard routing over the
    * documents table — the replayable front of every packing oracle. */
  private[graft] def packToksCte(shards: Int): String =
    s"""toks AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n,
             $docMd5Prefix
               % $shards AS shard
           FROM documents)"""

  /** The greedy next-fit scan as CTEs `<p>ord`/`<p>` over `toks` —
    * Packing.packSequences' state transition verbatim (raw-n overflow
    * test, LEAST(n, budget) increment), docs in doc_id order. */
  private[graft] def packGreedyCtes(p: String, budget: Int): String =
    s"""${p}ord AS (
           SELECT shard, doc_id, n,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
           FROM toks),
         $p AS (
           SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) AS seq,
             LEAST(n, $budget) AS used
           FROM ${p}ord WHERE rn = 1
           UNION ALL
           SELECT o.shard, o.rn, o.doc_id, o.n,
             CASE WHEN p.used + o.n > $budget THEN p.seq + 1 ELSE p.seq END,
             CASE WHEN p.used + o.n > $budget THEN LEAST(o.n, $budget)
                  ELSE p.used + LEAST(o.n, $budget) END
           FROM $p p JOIN ${p}ord o
             ON o.shard = p.shard AND o.rn = p.rn + 1)"""

  /** The best-fit-decreasing scan as CTEs `<p>ord`/`<p>` over `toks` —
    * Packing.packBestFit's state machine: largest-first order, the
    * open-bin LOAD LIST carried through the recursion,
    * list_max∘list_filter picking the fullest bin with room (the
    * TreeMap floorEntry), list_position its smallest seq (first
    * occurrence = creation order), a miss appending a new bin. */
  private[graft] def packBfdCtes(p: String, budget: Int): String =
    s"""${p}ord AS (
           SELECT shard, doc_id, n,
             row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id)
               AS rn
           FROM toks),
         $p AS (
           SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) AS seq,
             [LEAST(n, $budget)] AS loads
           FROM ${p}ord WHERE rn = 1
           UNION ALL
           SELECT o.shard, o.rn, o.doc_id, o.n,
             CASE WHEN list_max(list_filter(p.loads,
                    x -> x <= $budget - LEAST(o.n, $budget))) IS NULL
                  THEN CAST(len(p.loads) AS BIGINT)
                  ELSE CAST(list_position(p.loads,
                    list_max(list_filter(p.loads,
                      x -> x <= $budget - LEAST(o.n, $budget)))) - 1
                    AS BIGINT) END,
             CASE WHEN list_max(list_filter(p.loads,
                    x -> x <= $budget - LEAST(o.n, $budget))) IS NULL
                  THEN list_append(p.loads, LEAST(o.n, $budget))
                  ELSE p.loads[1:list_position(p.loads,
                         list_max(list_filter(p.loads,
                           x -> x <= $budget - LEAST(o.n, $budget)))) - 1]
                    || [list_max(list_filter(p.loads,
                         x -> x <= $budget - LEAST(o.n, $budget)))
                        + LEAST(o.n, $budget)]
                    || p.loads[list_position(p.loads,
                         list_max(list_filter(p.loads,
                           x -> x <= $budget - LEAST(o.n, $budget)))) + 1:]
                  END
           FROM $p p JOIN ${p}ord o
             ON o.shard = p.shard AND o.rn = p.rn + 1)"""

  /** The batch spanScrub replayed over scrub corpus version 2 in DuckDB
    * — the oracle BOTH scrub refresh gates must equal: the frame form
    * (`incremental_scrub`) and the streamed four-lake form
    * (`stream_scrub`). */
  private[graft] val oracleSqlScrubBatch: String =
    raw"""WITH base AS (SELECT doc_id, text FROM documents),
         curr AS (
           SELECT doc_id,
             CASE WHEN doc_id BETWEEN 20 AND 29 AND doc_id <> 25
                    THEN text || ' alpha boiler plate marker tokens' ||
                      ' repeat across many docs here'
                  WHEN doc_id = 30
                    THEN text || ' beta shared footer appears exactly' ||
                      ' twice in the whole corpus'
                  WHEN doc_id = 40
                    THEN text || ' gamma unique notice present once' ||
                      ' until the refresh adds another'
                  ELSE text END AS text
           FROM base WHERE doc_id <> 31
           UNION ALL
           SELECT 7000001, text || ' gamma unique notice present once' ||
             ' until the refresh adds another'
           FROM base WHERE doc_id = 80
           UNION ALL
           SELECT 7000002, text || ' plain fresh addition suffix'
           FROM base WHERE doc_id = 81),
         t AS (SELECT doc_id,
                 string_split_regex(trim(text), '\s+') AS toks FROM curr),
         ${scrubCoverCtes("t")},
         scrub AS (
           SELECT x.doc_id, string_agg(x.tok, ' ' ORDER BY x.p) AS s
           FROM post x LEFT JOIN covered cv
             ON cv.doc_id = x.doc_id AND cv.p = x.p
           WHERE cv.p IS NULL
           GROUP BY x.doc_id),
         nrem AS (SELECT doc_id, count(*) AS nr FROM covered GROUP BY doc_id)
         SELECT t.doc_id, md5(coalesce(s.s, '')) AS scrub_hash,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(nr.nr, 0) AS BIGINT) AS n_removed
         FROM t LEFT JOIN scrub s USING (doc_id)
           LEFT JOIN nrem nr USING (doc_id)"""

  /** The full batch rebuild over corpus version 2, replayed end-to-end
    * in DuckDB (normalize chain, min-id dedup, three keep rules, chunk
    * boundaries, md5 doc-sharding, the greedy packer as a recursive
    * CTE) — the oracle BOTH incremental gates must equal: the repack
    * frame (`incremental_pipeline`) and the refreshed lake tree
    * (`incremental_sink`). */
  private[graft] val incrRebuildSql: String =
    raw"""WITH RECURSIVE
         base AS (SELECT doc_id, text FROM documents),
         curr AS (
           SELECT doc_id,
             CASE WHEN doc_id = 55 THEN 'short 1234'
                  WHEN doc_id = 35 THEN
                    (SELECT text FROM base WHERE doc_id = 66)
                  WHEN doc_id BETWEEN 50 AND 59
                    THEN text || ' updated revision marker'
                  ELSE text END AS text
           FROM base
           WHERE NOT (doc_id BETWEEN 40 AND 49)
             AND NOT (doc_id BETWEEN 60 AND 62)
           UNION ALL
           SELECT doc_id + 1000000, text FROM base
           WHERE doc_id BETWEEN 60 AND 64
           UNION ALL
           SELECT doc_id + 2000000, text || ' fresh addition marker'
           FROM base WHERE doc_id BETWEEN 80 AND 89
           UNION ALL
           SELECT doc_id + 2000000, text FROM base WHERE doc_id = 90),
         ${normDedCtes("curr")},
         $keptCte,
         c AS (
           SELECT doc_id, toks,
             CAST(unnest(generate_series(1, greatest(len(toks) - 8, 1), 24))
               AS INT) AS st
           FROM (SELECT doc_id, string_split_regex(trim(t), '\s+') AS toks
                 FROM kept)),
         ch AS (
           SELECT doc_id * 1000000 + CAST((st - 1) / 24 AS INT) AS chunk_key,
             len(toks[st:st+31])::BIGINT AS n_tokens,
             $docMd5Prefix % 64
               AS shard
           FROM c),
         ordered AS (
           SELECT shard, chunk_key, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY chunk_key) AS rnp
           FROM ch),
         pack AS (
           SELECT shard, chunk_key, n_tokens, rnp,
             CAST(0 AS BIGINT) AS seq, LEAST(n_tokens, 256) AS used
           FROM ordered WHERE rnp = 1
           UNION ALL
           SELECT o.shard, o.chunk_key, o.n_tokens, o.rnp,
             CASE WHEN p.used + o.n_tokens > 256 THEN p.seq + 1 ELSE p.seq END,
             CASE WHEN p.used + o.n_tokens > 256 THEN LEAST(o.n_tokens, 256)
                  ELSE p.used + LEAST(o.n_tokens, 256) END
           FROM pack p JOIN ordered o
             ON o.shard = p.shard AND o.rnp = p.rnp + 1)
         SELECT CAST(chunk_key // 1000000 AS BIGINT) AS doc_id,
           CAST(chunk_key % 1000000 AS INT) AS chunk_id,
           n_tokens, CAST(shard AS INT) AS shard, seq AS seq_id
         FROM pack"""

  /** The planted two-version corpus shared by `incremental_pipeline`
    * (frame form) and `incremental_sink` (lake form) — removals, edits,
    * a filter-failing edit, a content-collision demotion, dup-partner
    * promotions, fresh adds, an added exact dup; both engines replay the
    * construction from the documents table. */
  private[graft] def incrCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val partners = base.filter(col("doc_id").between(60, 64))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val prev = base.unionByName(partners)
    val t66 = base.filter(col("doc_id") === 66)
      .select(col("text").as("__t66"))
    val currBase = base
      .filter(!col("doc_id").between(40, 49) &&
        !col("doc_id").between(60, 62))
      .crossJoin(broadcast(t66))
      .select(col("doc_id"),
        when(col("doc_id") === 55, lit("short 1234"))
          .when(col("doc_id") === 35, col("__t66"))
          .when(col("doc_id").between(50, 59),
            concat(col("text"), lit(" updated revision marker")))
          .otherwise(col("text")).as("text"))
    val added = base.filter(col("doc_id").between(80, 89))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" fresh addition marker")).as("text"))
    val addedDup = base.filter(col("doc_id") === 90)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    (prev, currBase.unionByName(partners).unionByName(added)
      .unionByName(addedDup))
  }

  /** The planted two-version scrub corpus shared by `incremental_scrub`
    * (frame form) and `stream_scrub` (streamed four-lake form): tailA on
    * 20-29 (df 10, one holder edited away — no crossing), tailB on 30+31
    * (df 2; removing 31 RESTORES untouched 30), tailC on 40 (df 1; an
    * added re-crawl lifts it to 2 and CUTS untouched 40), plus a plain
    * fresh addition. */
  private[graft] def scrubCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tailA = lit(" alpha boiler plate marker tokens repeat" +
      " across many docs here")
    val tailB = lit(" beta shared footer appears exactly twice" +
      " in the whole corpus")
    val tailC = lit(" gamma unique notice present once until" +
      " the refresh adds another")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val prev = base.select(col("doc_id"),
      when(col("doc_id").between(20, 29), concat(col("text"), tailA))
        .when(col("doc_id") === 30 || col("doc_id") === 31,
          concat(col("text"), tailB))
        .when(col("doc_id") === 40, concat(col("text"), tailC))
        .otherwise(col("text")).as("text"))
    val curr = base.filter(col("doc_id") =!= 31).select(col("doc_id"),
      when(col("doc_id").between(20, 29) && col("doc_id") =!= 25,
          concat(col("text"), tailA))
        .when(col("doc_id") === 30, concat(col("text"), tailB))
        .when(col("doc_id") === 40, concat(col("text"), tailC))
        .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("doc_id") === 80)
        .select(lit(7000001L).as("doc_id"),
          concat(col("text"), tailC).as("text")))
      .unionByName(base.filter(col("doc_id") === 81)
        .select(lit(7000002L).as("doc_id"),
          concat(col("text"), lit(" plain fresh addition suffix"))
            .as("text")))
    (prev, curr)
  }

  /** word-soup corpus: same three keep rules as corpus_pipeline */
  private[graft] val incrKeep: Column => Column = t => TextOps.corpusFilterRules(t)
    .collect { case (n, r) if n != "no_terminal_punct" => r }
    .reduce(_ && _)

  /** doc-keyed md5 sharding: a doc's chunks colocate (contiguous training
    * reads), the affected-shard count is bounded by the touched-doc
    * count, and md5-prefix arithmetic lets DuckDB replay the routing */
  private[graft] val incrShard: Column => Column = k =>
    conv(substring(md5(k.cast("string")), 1, 4), 16, 10).cast("long") % 64

  /** The D29 packed token stream (documents → trained-BPE ids → greedy
    * packing → (shard, seq_id, pos, token_id)), shared by the
    * `packed_token_stream` gate and the `token_stream_export` sink
    * composition. Budget 512, 4 shards, md5-prefix shard routing so a
    * second engine replays the assignment. */
  private[graft] def packedStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val merges = trainedMerges(s, d, 16)
    val withIds = docs
      .select(col("doc_id"), Bpe.encodeCol(col("text"), merges).as("ids"))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
      .filter(col("n_tokens") > 0)
    val shardCol = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 4
    val assigned = Packing.packSequences(
      withIds.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
      budget = 512, shards = 4, shardOn = Some(shardCol))
    val w = Window.partitionBy("shard", "seq_id").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    assigned
      .withColumn("offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .join(withIds.select(col("doc_id").as("id"), col("ids")), Seq("id"))
      .select(col("shard").cast("long").as("shard"),
        col("seq_id"), col("offset"),
        posexplode(col("ids")))
      .select(col("shard"), col("seq_id"),
        (col("offset") + col("pos")).cast("long").as("pos"),
        col("col").as("token_id"))
  }

  /** The D29 stream with document separators — the convention every real
    * trainer uses (`doc₁ EOS doc₂ EOS …`): each doc's tokens are followed
    * by one reserved EOS id (256 byte-level base ids + 16 trained merges
    * ⇒ 272 is the first free id), the packer reserves one budget slot per
    * doc (`perDocOverhead = 1`), and offsets advance by n_tokens + 1.
    * Same scale shape as [[packedStream]]. */
  private[graft] def packedStreamEos(s: SparkSession, d: String): DataFrame =
    packedStreamEosSegs(s, d).drop("seg_id")

  /** [[packedStreamEos]] plus the per-token SEGMENT id (D29c) — the
    * document-boundary column every production pretraining loader ships
    * beside EOS packing so the trainer can mask CROSS-DOCUMENT attention
    * (tokens attend only within their own document: positions p, q in a
    * sequence may attend iff seg_id(p) == seg_id(q)). seg_id is the
    * document's 1-based ordinal within its (shard, seq_id) — a pure
    * function of the packing offsets already replayed by the oracle's
    * recursive-CTE packer, so the column costs one extra row_number over
    * the SAME window the offset sum already shuffles for (no new
    * exchange). Each doc's EOS separator carries its own doc's seg_id,
    * so segment boundaries and EOS boundaries coincide by construction
    * (the roundtrip spec pins that consumer property on the landed
    * stream). */
  private[graft] def packedStreamEosSegs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eosId = 272
    val docs = Tables.documents(s, d)
    val merges = trainedMerges(s, d, 16)
    val withIds = docs
      .select(col("doc_id"), Bpe.encodeCol(col("text"), merges).as("ids"))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
      .filter(col("n_tokens") > 0)
    val shardCol = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 4
    val assigned = Packing.packSequences(
      withIds.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
      budget = 512, shards = 4, shardOn = Some(shardCol),
      perDocOverhead = 1L)
    val seqW = Window.partitionBy("shard", "seq_id").orderBy("id")
    val w = seqW.rowsBetween(Window.unboundedPreceding, -1)
    assigned
      .withColumn("offset",
        coalesce(sum(col("n_tokens") + lit(1L)).over(w), lit(0L)))
      .withColumn("seg_id", row_number().over(seqW).cast("long"))
      .join(withIds.select(col("doc_id").as("id"), col("ids")), Seq("id"))
      .select(col("shard").cast("long").as("shard"),
        col("seq_id"), col("offset"), col("seg_id"),
        posexplode(concat(col("ids"), array(lit(eosId)))))
      .select(col("shard"), col("seq_id"),
        (col("offset") + col("pos")).cast("long").as("pos"),
        col("col").as("token_id"), col("seg_id"))
  }

  /** Corpus for the ANN recall gates: the embeddings table plus three
    * deterministically-jittered near-copies of each query vector (ids
    * q+1M/q+2M/q+3M, per-component hash noise ±0.005) — planted true
    * neighbors the ANN tiers must recover. Returns (corpus, queries). */
  private[graft] def plantedAnnCorpus(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 8)
    val planted = (1 to 3).map { j =>
      q.select(
        (col("vec_id") + lit(j * 1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((pmod(xxhash64(col("vec_id"), i, lit(j)), lit(1000L)).cast("float")
            - lit(500.0f)) / lit(100000.0f)))
          // the jitter arithmetic widens to double; the corpus union must
          // keep the table's array<float> element type
          .cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _)
    (emb.unionByName(planted), q)
  }

  /** Per-query recall of an ANN result against the brute-force ground
    * truth: (query_id, n_hits, recall_ok). The truth side is the spine so
    * a query with zero hits still yields a (visible, failing) row. */
  private[graft] def annRecall(truth: DataFrame, ann: DataFrame, minHits: Int): DataFrame = {
    val hits = truth.select("query_id", "vec_id")
      .join(ann.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__h"))
    truth.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__h"), lit(0L)).as("n_hits"),
        (coalesce(col("__h"), lit(0L)) >= minHits).as("recall_ok"))
  }

  /** Deterministic per-dataset scratch location for sink roundtrips (the
    * sink queries are self-contained: write then read back). */
  private[graft] def sinkPath(d: String, tag: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_sink_${tag}_${math.abs(d.hashCode)}"

  /** One SQL text, two engines (Spark via registerTables, DuckDB oracle). */
  private[graft] val SqlApiQuery =
    """WITH g AS (
         SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
         FROM events GROUP BY 1, 2)
       SELECT event_type, day, cnt FROM (
         SELECT event_type, day, cnt,
           rank() OVER (PARTITION BY event_type ORDER BY cnt DESC, day ASC) AS rnk
         FROM g) t
       WHERE rnk <= 3"""
}
