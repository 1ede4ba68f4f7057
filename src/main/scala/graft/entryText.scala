package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Bpe, Zlib}
import graft.ml.FatalityModel
import graft.operators._
import graft.sources.{Jsonl, Sink, Tables}
import graft.streaming.{EventStream, IncrementalStream}

import EntryOps._

/** Text analysis and corpus curation: language ID, quality models,
  * LM perplexity gates, DSIR, Gopher rules, mixing/sampling plans, and the
  * composed corpus pipelines.
  *
  * Registration slice of the [[SparkEntry]] driver contract — query
  * lambdas and their DuckDB oracle replays, split per tier (r15) so the
  * contract file stops being the single merge bottleneck. Entry text is
  * unchanged from the monolithic registration. */
private[graft] object TextEntries {

  /** Planted docs for the full-chain curation gates (curation_funnel /
    * curation_provenance): the raw gate corpus dies wholesale at the
    * Gopher stopword rule, so each stage's arm needs docs designed to
    * fail exactly THERE and nowhere earlier — every text built from
    * deterministic repeat/concat shapes both engines compute identically.
    *   - plantlm: 1502-word unique-bigram outlier — passes gopher,
    *     NLL ≈ 6.65 > 6 fails the LM gate;
    *   - plantdup ×5: identical one-line docs (vault sentence ×6) — four
    *     die at exact-dedup; the CANONICAL then dies at span-scrub (its
    *     text is fully self-repeating: every 8-window recurs at +10, so
    *     all positions are covered — the all-boilerplate arm needs no
    *     second doc);
    *   - plantcap ×12: fox sentence ×6 with per-(doc, rep) LETTER pads
    *     interleaved ("cp"+chr(i)+chr(j) — letters because lineNorm
    *     collapses digit runs to 0, which would alias all pads into one
    *     repeated normalized line and kill the group at line_cut) —
    *     pads every 10 words keep pairwise shingle-Jaccard ≈ 0.2 (< 0.6,
    *     near-dup-safe) while the shared sentence keeps NLL ≈ 3.3;
    *     12 > cap 10, so exactly two die at domain_cap;
    *   - plantline ×6 + 1: the same shape with "lp" pads plus a shared
    *     banner second line (6 carriers + 1 pure-banner doc = 7 ≥
    *     minCount 6 — above the dup group's 5 copies, which must NOT
    *     line-cut); the cut strips the banner from carriers and empties
    *     the pure-banner doc — the line_cut drop;
    *   - plantnd ×2: an "nd"-padded base + a jittered copy (+4 tail
    *     tokens, Jaccard ≈ 0.86 ≥ 0.6) — the near-dup drop (higher id),
    *     same first-2-token block as every fox plant. */
  private[graft] def curationPlants(s: SparkSession): DataFrame = {
    import s.implicits._
    val fox = "the quick brown fox and lazy dog jumped over fences"
    val vault = "the quick brown fox and lazy dog vaulted over fences "
    val banner =
      "subscribe for unlimited premium access and member content today"
    val gib = "the and " + (0 until 1500).map(i => s"zz$i").mkString(" ")
    def padded(tag: String, i: Int): String =
      (0 until 6).map(j =>
        s"$fox $tag${('a' + i).toChar}${('a' + j).toChar}").mkString(" ")
    (Seq((9300001L, gib, "plantlm")) ++
      (0 until 5).map(i => (9300011L + i, (vault * 6).trim, "plantdup")) ++
      (0 until 12).map(i => (9300100L + i, padded("cp", i), "plantcap")) ++
      (0 until 6).map(i =>
        (9300200L + i, padded("lp", i) + "\n" + banner, "plantline")) ++
      Seq((9300299L, banner, "plantline"),
        (9300301L, padded("nd", 0), "plantnd"),
        (9300302L, padded("nd", 0) + " ndjitter extrapad marker tail",
          "plantnd"),
        // r20 toxicity arms: tx fails the lexicon density gate (10
        // blocked tokens / 76 = 132‰ > 100‰), ty passes with a NONZERO
        // count (1 / 67 = 14‰ — the threshold arm, not the trivial
        // zero); both pass gopher (the fox base carries the stopwords)
        // and both ids sit outside every url-rule residue (spec-pinned)
        (9300401L, padded("tx", 0) + " slow big slow big slow big slow" +
          " big slow big", "planttox"),
        (9300402L, padded("ty", 0) + " slow", "planttox")))
      .toDF("doc_id", "text", "source")
  }

  /** The shared DuckDB replay of the full curation chain — every stage
    * CTE from the planted corpus down to the capped survivor set, reused
    * by BOTH curation oracles (census tail vs per-doc ledger tail; one
    * source of truth for the stage bodies, the shared-fragment
    * discipline the r17 review established for the packing oracles).
    * r19: the url_rules first gate (residue-shortcut replay, see s0u)
    * precedes every text stage.
    * Stage bodies are the standalone operators' oracle bodies: line_dedup
    * (minCount 6), gopher rules, add-1 bigram LM (trained on the
    * line-cut corpus), md5 min-id dedup, prefix-blocked 3-shingle
    * Jaccard keep-first near-dup, stride-1 8-window ≥2-occurrence scrub
    * (a doc with no uncovered position is the drop), md5-ordered
    * domain cap 10. */
  private val curationChainSql: String =
    raw"""WITH corpus AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT 9300001,
             'the and ' || (SELECT string_agg('zz' || i, ' ' ORDER BY i)
                            FROM range(0, 1500) t(i)), 'plantlm'
           UNION ALL
           SELECT 9300011 + i,
             trim(repeat('the quick brown fox and lazy dog vaulted over fences ', 6)),
             'plantdup'
           FROM range(0, 5) t(i)
           UNION ALL
           SELECT 9300100 + i,
             string_agg('the quick brown fox and lazy dog jumped over fences cp'
               || chr(CAST(97 + i AS INT)) || chr(CAST(97 + j AS INT)),
               ' ' ORDER BY j), 'plantcap'
           FROM range(0, 12) a(i) CROSS JOIN range(0, 6) b(j) GROUP BY i
           UNION ALL
           SELECT 9300200 + i,
             string_agg('the quick brown fox and lazy dog jumped over fences lp'
               || chr(CAST(97 + i AS INT)) || chr(CAST(97 + j AS INT)),
               ' ' ORDER BY j) || chr(10) ||
             'subscribe for unlimited premium access and member content today',
             'plantline'
           FROM range(0, 6) a(i) CROSS JOIN range(0, 6) b(j) GROUP BY i
           UNION ALL
           SELECT 9300299,
             'subscribe for unlimited premium access and member content today',
             'plantline'
           UNION ALL
           SELECT 9300301 + k,
             string_agg('the quick brown fox and lazy dog jumped over fences nda'
               || chr(CAST(97 + j AS INT)), ' ' ORDER BY j)
             || CASE WHEN k = 1 THEN ' ndjitter extrapad marker tail'
                     ELSE '' END,
             'plantnd'
           FROM range(0, 2) a(k) CROSS JOIN range(0, 6) b(j) GROUP BY k
           UNION ALL
           SELECT 9300401,
             (SELECT string_agg('the quick brown fox and lazy dog jumped over'
                || ' fences txa' || chr(CAST(97 + j AS INT)), ' ' ORDER BY j)
              FROM range(0, 6) b(j))
             || ' slow big slow big slow big slow big slow big', 'planttox'
           UNION ALL
           SELECT 9300402,
             (SELECT string_agg('the quick brown fox and lazy dog jumped over'
                || ' fences tya' || chr(CAST(97 + j AS INT)), ' ' ORDER BY j)
              FROM range(0, 6) b(j))
             || ' slow', 'planttox'),
         s0u AS (
           -- r19 url_rules first gate. The rule RESIDUES stand in for the
           -- parse here (bad ext ⇔ id%97=3, depth ⇔ id%89=5, junk query ⇔
           -- id%83=7, blocklist host ⇔ source+tld arithmetic) — the
           -- construction makes them equivalent, and the url_filter oracle
           -- replays the full string parse where that equivalence is the
           -- claim under test. Every planted 93xxxxx id sits outside all
           -- residue classes (spec-pinned), so the plants pass untouched.
           SELECT doc_id, text, source FROM corpus
           WHERE NOT (
             (source || '.example.' ||
               CASE WHEN doc_id % 7 = 2 THEN 'net' ELSE 'com' END)
               IN ('src7.example.net', 'src12.example.net')
             OR doc_id % 97 = 3
             OR doc_id % 89 = 5
             OR doc_id % 83 = 7)),
         lns AS (
           SELECT doc_id, generate_subscripts(ls, 1) AS idx, unnest(ls) AS line
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
                 FROM s0u) u),
         normed AS (
           SELECT doc_id, idx, line,
             trim(regexp_replace(regexp_replace(regexp_replace(lower(line),
               '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'), ' +', ' ', 'g'))
               AS nrm
           FROM lns),
         lrep AS (
           SELECT nrm FROM normed WHERE nrm <> ''
           GROUP BY nrm HAVING count(*) >= 6),
         cutdoc AS (
           SELECT n.doc_id,
             coalesce(string_agg(CASE WHEN r.nrm IS NULL THEN n.line END,
               chr(10) ORDER BY n.idx), '') AS text
           FROM normed n LEFT JOIN lrep r ON n.nrm = r.nrm
           GROUP BY n.doc_id),
         s1 AS (
           SELECT c.doc_id, c.text, k.source
           FROM cutdoc c JOIN corpus k USING (doc_id)
           WHERE trim(c.text) <> ''),
         ${gopherMetricsCte("text", "s1")},
         g AS (
           SELECT doc_id FROM gm
           WHERE (n_words >= 50 AND n_words <= 100000)
             AND (n_chars >= n_words * 3 AND n_chars <= n_words * 10)
             AND ((hashes + ellipses) * 10 <= n_words)
             AND (bullets * 10 <= n_lines * 9)
             AND (ell_lines * 10 <= n_lines * 3)
             AND (alpha_w * 5 >= n_words * 4)
             AND (stop_hits >= 2)),
         ${wsCte("ws", "s1")},
         ${bigramCte("bi", "ws")},
         ${bigramModelCtes("bi", "ws")},
         lmk AS (
           SELECT bi.doc_id FROM bi JOIN model USING (w1, w2)
           GROUP BY 1
           HAVING round(-round(sum(logp), 4) / count(*), 4) <= 6.0),
         sg AS (SELECT s1.* FROM s1 JOIN g USING (doc_id)),
         toxm AS (
           -- r20 toxicity stage: blocklist-lexicon density over the
           -- gopher survivors, punctuation-stripping tokenization and
           -- the integer cross-multiplication verdict (Toxicity.scala)
           SELECT doc_id,
             len(tw) AS tnt,
             len(list_filter(tw, x -> x IN ('slow', 'big'))) AS tnb
           FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x <> '') AS tw
                 FROM sg) t),
         stx AS (
           SELECT sg.* FROM sg
           JOIN (SELECT doc_id FROM toxm WHERE tnb * 1000 <= 100 * tnt) x
             USING (doc_id)),
         sl AS (SELECT stx.* FROM stx JOIN lmk USING (doc_id)),
         sd AS (
           SELECT doc_id, text, source FROM (
             SELECT doc_id, text, source,
               row_number() OVER (PARTITION BY md5(text)
                 ORDER BY doc_id) AS rn
             FROM sl) r WHERE rn = 1),
         ksh AS (
           SELECT doc_id, array_to_string(toks[1:2], ' ') AS blk,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 3, 0) + 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM sd)),
         $nearDupLosersCte,
         snd AS (
           SELECT * FROM sd
           WHERE doc_id NOT IN (SELECT doc_id FROM nd_losers)),
         sndt AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM snd),
         winstr AS (
           SELECT doc_id, n, st, array_to_string(toks[st:st+7], ' ') AS wstr
           FROM (SELECT doc_id, toks, len(toks) AS n,
                   CAST(unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                     AS INT) AS st
                 FROM sndt)),
         wrep AS (SELECT wstr FROM winstr GROUP BY wstr HAVING count(*) >= 2),
         repst AS (
           SELECT doc_id, st, least(st + 7, n) AS en
           FROM winstr WHERE wstr IN (SELECT wstr FROM wrep)),
         post AS (
           SELECT doc_id, CAST(unnest(generate_series(1, len(toks))) AS INT) AS p
           FROM sndt),
         cov AS (
           SELECT DISTINCT x.doc_id, x.p FROM post x JOIN repst r
             ON r.doc_id = x.doc_id AND x.p BETWEEN r.st AND r.en),
         unc AS (
           SELECT x.doc_id FROM post x LEFT JOIN cov c
             ON c.doc_id = x.doc_id AND c.p = x.p
           WHERE c.p IS NULL GROUP BY x.doc_id),
         ssc AS (SELECT snd.doc_id, snd.source FROM snd JOIN unc USING (doc_id)),
         scap AS (
           SELECT doc_id FROM (
             SELECT doc_id,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(source || ':' || cast(doc_id AS varchar)),
                          doc_id) AS rk
             FROM ssc) c WHERE rk <= 10)"""

  /** Census tail shared by the exact and banded funnel oracles. */
  private val curationCensusSql: String = """
         , census AS (
           SELECT 0 AS stage, 'raw' AS stage_name,
             count(*) AS n_docs FROM corpus
           UNION ALL SELECT 1, 'url_rules', count(*) FROM s0u
           UNION ALL SELECT 2, 'line_cut', count(*) FROM s1
           UNION ALL SELECT 3, 'gopher_rules', count(*) FROM sg
           UNION ALL SELECT 4, 'toxicity', count(*) FROM stx
           UNION ALL SELECT 5, 'lm_keep', count(*) FROM sl
           UNION ALL SELECT 6, 'exact_dedup', count(*) FROM sd
           UNION ALL SELECT 7, 'near_dup', count(*) FROM snd
           UNION ALL SELECT 8, 'span_scrub', count(*) FROM ssc
           UNION ALL SELECT 9, 'domain_cap', count(*) FROM scap)
         SELECT stage, stage_name, n_docs,
           coalesce(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS n_dropped
         FROM census"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d), "doc_id", "text")),
    "lang_id_trained" -> ((s, d) =>
      // fastText-style trained language ID (Joulin et al. 2016): hashed
      // char 1/2/3-gram features, seed-trained softmax weights as 1e6-
      // scaled LONG plan literals — per-doc class scores are exact
      // integer sums, so the full DuckDB replay (features, buckets,
      // argmax, margin, routing) is float-order-proof. Map-only, no
      // shuffle, no UDF; the model never trains in-query (it is a
      // compiled-in constant — no memo, no first-query build billing).
      LangIdModel.scored(Tables.documents(s, d), "doc_id", "text")),
    "lang_id_model_check" -> ((s, d) =>
      // the trained model head as a golden gate (the bpe_merges
      // pattern): per-class nonzero count, weight sum, and position-
      // weighted checksum pinned against hardcoded values — trainer
      // drift (seed edit, GD change, hash change) flips this red even
      // though the scoring oracle interpolates the live weights
      LangIdModel.modelCheck(s)),
    "quality_score" -> ((s, d) =>
      TextOps.qualityScore(Tables.documents(s, d), "doc_id", "text")),
    "token_count" -> ((s, d) =>
      TextOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")),
    "quality_classifier_weights" -> ((s, d) => {
      // The trained model itself as a golden gate (the bpe_merges
      // pattern): deterministic driver-side gradient descent on a capped
      // sample — real docs vs synthetic gibberish — must reproduce the
      // exact 6dp weights every run; a drift in feature extraction, the
      // negative generator, or the trainer flips the row red.
      import s.implicits._
      val w = qualityWeights(s, d)
      Seq((w.bias, w.w(0), w.w(1), w.w(2), w.w(3)))
        .toDF("bias", "w_len", "w_stop", "w_wordlen", "w_punct")
    }),
    "quality_classifier" -> ((s, d) => {
      // Model-based quality filtering (the CCNet/GPT-3 recipe): score
      // the whole corpus with the trained weights. Scoring is ONE
      // codegen'd projection — portable 4dp features, the weights as
      // five plan literals, rounded linear logit, keep verdict — and the
      // DuckDB oracle replays the entire pass with the pinned weights,
      // so Spark's training AND scoring must both land exactly.
      QualityModel.score(Tables.documents(s, d), "doc_id", "text",
        qualityWeights(s, d))
    }),
    "fingerprint" -> ((s, d) =>
      // Rolling polynomial + content-minhash fingerprints are fully
      // deterministic, so docs 0-9 gate against GOLDEN rows (xxhash64 has
      // no DuckDB mirror; the pinned values were computed once and any
      // tokenization/hash drift breaks the hash compare). TextOpsSpec
      // covers the full-corpus invariants.
      TextOps.fingerprint(
        Tables.documents(s, d).filter(col("doc_id") < 10), "doc_id", "text")),
    "tfidf_top_terms" -> ((s, d) =>
      TextOps.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", topN = 3)),
    "ngram_lm_perplexity" -> ((s, d) =>
      // CCNet-style LM quality gate: bigram model (add-1 smoothing)
      // trained on the corpus, every doc scored for avg NLL + perplexity,
      // keep = NLL ≤ 6 nats. Map-only bigram build (zip_with, no window),
      // vocab-bounded model aggregations, one stream-to-model shuffle
      // join — the oracle replays the whole model + scoring in SQL.
      NgramLm.score(Tables.documents(s, d), "doc_id", "text")),
    "ngram_lm_cross_score" -> ((s, d) => {
      // the actual CCNet setup: LM trained on the trusted slice
      // (single-digit sources src0-src9), the WHOLE corpus scored against
      // it with smoothing-mass backoff for unseen bigrams; n_oov is the
      // out-of-domain signal
      val docs = Tables.documents(s, d)
      NgramLm.scoreAgainst(docs.filter(length(col("source")) === 4),
        docs, "doc_id", "text")
    }),
    "ngram_lm_kn" -> ((s, d) => {
      // D31c: interpolated Kneser-Ney TRIGRAM cross-score — the rung
      // CCNet actually runs (KenLM is modified-KN; Wenzek 2020 §3).
      // Trained on the trusted slice, whole corpus scored through the
      // three-rung backoff ladder (discounted trigram → continuation
      // bigram → continuation unigram interpolated with 1/V). The oracle
      // replays the ENTIRE ladder — counts, type counts, continuation
      // counts, the frozen expression grouping — in SQL.
      val docs = Tables.documents(s, d)
      NgramLm.knScoreAgainst(docs.filter(length(col("source")) === 4),
        docs, "doc_id", "text")
    }),
    "ngram_lm_mkn" -> ((s, d) => {
      // D31d: MODIFIED Kneser-Ney — KenLM's actual smoothing (Chen &
      // Goodman 1999 §3): per-count-class discounts D1/D2/D3+ estimated
      // from the count-of-counts of each discounted table (raw trigram
      // counts at the top rung, continuation counts at the middle), the
      // interpolation weight carrying exactly the discounted mass so
      // every rung stays a proper distribution. Degenerate estimates
      // (zero count-of-count / non-positive D) fall back per rung to the
      // fixed-0.75 ladder — the guard the oracle mirrors verbatim.
      val docs = Tables.documents(s, d)
      NgramLm.mknScoreAgainst(docs.filter(length(col("source")) === 4),
        docs, "doc_id", "text")
    }),
    "ngram_lm_kn_pruned" -> ((s, d) => {
      // D31e: the KN gate under count-cutoff PRUNING (the KenLM --prune
      // recipe): singleton trigrams — most of a zipfian table — are
      // dropped BEFORE estimation, every higher rung re-derives from the
      // kept table (each surviving context stays a proper distribution;
      // a fully-pruned context backs off wholesale), the unigram rung is
      // never pruned. Same ledger schema as ngram_lm_kn, so the two
      // gates diff row-for-row; the oracle is the full-ladder replay
      // with the single HAVING that defines pruning.
      val docs = Tables.documents(s, d)
      NgramLm.knScoreAgainst(docs.filter(length(col("source")) === 4),
        docs, "doc_id", "text", minCount = 2L)
    }),
    "ngram_lm_kn_prune_stats" -> ((s, d) => {
      // the pruning DECISION artifact: model rows saved vs score shift,
      // in one integer-exact row. Both models ride ONE trigram
      // aggregation (knPruned derives the pruned frames from the built
      // ones); per-doc scores compare as exact 1e4-scaled integers (the
      // ladder's avg_nll is integer-derived by construction, so the
      // sums are engine-exact), keep-flip count shows how many gate
      // verdicts the cutoff actually changes.
      val docs = Tables.documents(s, d)
      val base = NgramLm.knFrames(
        docs.filter(length(col("source")) === 4), "doc_id", "text")
      val pruned = NgramLm.knPruned(base, minCount = 2L)
      val tstats = base.tri.agg(
        count(lit(1)).as("trigram_types"),
        sum(when(col("c3") >= 2, 1L).otherwise(0L)).as("kept_types"),
        sum(when(col("c3") < 2, col("c3")).otherwise(0L)).as("dropped_mass"))
      val sb = NgramLm.knScoreWithFrames(docs, base, "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("avg_nll") * 10000).cast("long").as("e4b"),
          col("keep").as("kb"))
      val sp = NgramLm.knScoreWithFrames(docs, pruned, "doc_id", "text")
        .select(col("doc_id"),
          round(col("avg_nll") * 10000).cast("long").as("e4p"),
          col("keep").as("kp"))
      val sc = sb.join(sp, Seq("doc_id"))
        .filter(col("n_trigrams") > 0)
        .agg(count(lit(1)).as("n_scored"),
          sum(col("e4b")).as("sum_nll_e4_base"),
          sum(col("e4p")).as("sum_nll_e4_pruned"),
          sum(when(col("kb"), 1L).otherwise(0L)).as("keep_base"),
          sum(when(col("kp"), 1L).otherwise(0L)).as("keep_pruned"),
          sum(when(col("kb") =!= col("kp"), 1L).otherwise(0L))
            .as("keep_flips"))
      tstats.crossJoin(broadcast(sc))
        .select(col("trigram_types"), col("kept_types"),
          (col("trigram_types") - col("kept_types")).as("dropped_types"),
          col("dropped_mass"), col("n_scored"),
          col("sum_nll_e4_base"), col("sum_nll_e4_pruned"),
          col("keep_base"), col("keep_pruned"), col("keep_flips"))
    }),
    "ngram_lm_kn_crosstab" -> ((s, d) => {
      // The ranking-delta census between the add-1 bigram gate and the
      // KN trigram gate: both cross-scores tertiled by the SAME
      // threshold machinery (value cutoffs off bounded 4dp histograms),
      // then crosstabbed — the O(16)-row artifact that shows how many
      // docs the model upgrade MOVES between head/middle/tail (the
      // decision evidence for swapping the production gate). Scale-safe
      // by construction: no global rank join, just two bounded-histogram
      // cutoff picks and one doc-keyed join.
      val docs = Tables.documents(s, d)
      val trusted = docs.filter(length(col("source")) === 4)
      val bg = NgramLm.bucketize(
          NgramLm.scoreAgainst(trusted, docs, "doc_id", "text"))
        .select(col("doc_id"), col("bucket").as("bigram_bucket"))
      val kn = NgramLm.bucketize(
          NgramLm.knScoreAgainst(trusted, docs, "doc_id", "text"))
        .select(col("doc_id"), col("bucket").as("kn_bucket"))
      bg.join(kn, "doc_id").groupBy("bigram_bucket", "kn_bucket")
        .agg(count(lit(1)).as("n_docs"))
    }),
    "ngram_lm_mkn_crosstab" -> ((s, d) => {
      // The second gate-swap decision artifact: fixed-0.75 KN vs
      // modified-KN (estimated per-class discounts), both tertiled by
      // the same bounded-histogram threshold machinery and crosstabbed —
      // does discount ESTIMATION actually move rankings, or only the
      // absolute scores? (At the gate corpus the trigram rung runs live
      // estimates, so the answer is non-vacuous.) Same scale shape as
      // ngram_lm_kn_crosstab: two bounded cutoff picks, one doc-keyed
      // join, no global rank sort.
      val docs = Tables.documents(s, d)
      val trusted = docs.filter(length(col("source")) === 4)
      // ONE trigram/type aggregation feeds both gates (mknFrom derives
      // the estimated-discount frames from the fixed-D ones) — the shape
      // the oracle replays; independent builds would pay the corpus
      // trigram shuffle and its persist footprint twice
      val base = NgramLm.knFrames(trusted, "doc_id", "text")
      val kn = NgramLm.bucketize(
          NgramLm.knScoreWithFrames(docs, base, "doc_id", "text"))
        .select(col("doc_id"), col("bucket").as("kn_bucket"))
      val mkn = NgramLm.bucketize(
          NgramLm.mknScoreWithFrames(docs, NgramLm.mknFrom(base),
            "doc_id", "text"))
        .select(col("doc_id"), col("bucket").as("mkn_bucket"))
      kn.join(mkn, "doc_id").groupBy("kn_bucket", "mkn_bucket")
        .agg(count(lit(1)).as("n_docs"))
    }),
    "ngram_lm_top_bigrams" -> ((s, d) =>
      // the trained model's head — dashboard query; TakeOrdered, never a
      // global sort of the model table
      NgramLm.topBigrams(Tables.documents(s, d), "doc_id", "text", topN = 20)),
    "perplexity_bucket_assign" -> ((s, d) => {
      // CCNet head/middle/tail assignment (Wenzek et al. 2020 §4):
      // tertile split of the cross-score NLL — threshold-based (value
      // cutoffs off a bounded 4dp-nll histogram), NOT a global ntile
      // sort, so the shape survives corpus scale
      val docs = Tables.documents(s, d)
      NgramLm.bucketAssign(docs.filter(length(col("source")) === 4),
          docs, "doc_id", "text")
        .select("doc_id", "n_bigrams", "n_oov", "avg_nll", "bucket")
    }),
    "perplexity_buckets" -> ((s, d) => {
      // the per-bucket census + the two global cutoffs — the CCNet
      // stratification dashboard row; O(4) rows
      val docs = Tables.documents(s, d)
      NgramLm.perplexityBuckets(docs.filter(length(col("source")) === 4),
        docs, "doc_id", "text")
    }),
    "domain_cap" -> ((s, d) =>
      // RefinedWeb-style per-source diversity cap: one ranked window
      // whose mega-domain skew is defused by InferWindowGroupLimit's
      // map-side group-limit (DomainCapSpec pins the plan shape; the
      // CapScale probe in BASELINE.md measured the claim); priority is
      // md5(source:id) so the oracle's window replays it exactly
      Sample.domainCap(Tables.documents(s, d), "doc_id", "source", cap = 10)
        .select("doc_id", "source", "rk")),
    "domain_cap_stats" -> ((s, d) =>
      Sample.domainCapStats(Tables.documents(s, d), "doc_id", "source", cap = 10)),
    "gopher_quality_rules" -> ((s, d) =>
      // the full Gopher §A2.1 rule bitmap per doc — every ratio compared
      // in cross-multiplied integer form, so the oracle is float-free
      TextOps.gopherQualityRules(Tables.documents(s, d), "doc_id", "text")),
    "encoding_repair" -> ((s, d) => {
      // Mojibake repair (r19, the ftfy-class crawl fix): planted defects
      // over the ASCII corpus — docs %5=0 carry SINGLE CP1252-in-UTF8
      // damage ('ä'→'Ã¤', 'é'→'Ã©' after seeding accents via
      // 'data'→'däta'/'key'→'kéy'), docs %5=1 carry DOUBLE damage
      // ('ä'→'ÃƒÂ¤') — and the GENERAL kernel (reverse-CP1252 bytes +
      // strict UTF-8 re-decode, iterated) must restore the clean text
      // BYTE FOR BYTE (md5 compare) while leaving every unplanted doc
      // untouched. The plant transform is replace-chain arithmetic both
      // engines compute identically; the repair itself runs only on the
      // Spark side — that's the operator under test.
      val clean = regexp_replace(regexp_replace(col("text"),
        "data", "d\u00e4ta"), "key", "k\u00e9y")
      val m1 = regexp_replace(regexp_replace(clean,
        "\u00e4", "\u00c3\u00a4"), "\u00e9", "\u00c3\u00a9")
      val m2 = regexp_replace(regexp_replace(clean,
        "\u00e4", "\u00c3\u0192\u00c2\u00a4"),
        "\u00e9", "\u00c3\u0192\u00c2\u00a9")
      val input = when(col("doc_id") % 5 === 0, m1)
        .when(col("doc_id") % 5 === 1, m2)
        .otherwise(col("text"))
      val repaired = graft.functions.EncodingRepair.repairCol(input)
      Tables.documents(s, d).select(col("doc_id"),
        md5(input).as("input_hash"),
        md5(repaired).as("repaired_hash"),
        (repaired =!= input).as("was_repaired"),
        (repaired === clean).as("restored"))
    }),
    "url_filter" -> ((s, d) =>
      // the RefinedWeb/C4 FIRST gate (r19): URL/domain rules as one
      // codegen'd projection — blocklist host, asset extension, path
      // depth, session-junk query — over the synthetic url column
      // (portable (doc_id, source) arithmetic, the asAudio claimed-
      // parameter convention). Per-doc verdict ledger with pass_url;
      // the oracle replays BOTH the url construction and the parse.
      UrlRules.urlFilter(
        UrlRules.withSyntheticUrl(
          Tables.documents(s, d).select("doc_id", "source")),
        "doc_id")),
    "toxicity_filter" -> ((s, d) =>
      // the C4 "bad words" pass as a DENSITY verdict (r20): blocked-term
      // count per thousand tokens against a lexicon, one codegen'd
      // projection (split + higher-order filter over an isin literal set
      // — no shuffle, no UDF). The default Cfg's two-term lexicon is the
      // synthetic stand-in for the public LDNOOBW list (the
      // withSyntheticUrl convention: the corpus vocabulary plays the
      // blocked role). Pass rule is pure integer cross-multiplication —
      // the D33 discipline — so the oracle replays it exactly.
      Toxicity.blocklistScore(Tables.documents(s, d), "doc_id", "text")),
    "gopher_rule_stats" -> ((s, d) =>
      TextOps.gopherRuleStats(Tables.documents(s, d), "doc_id", "text")),
    "char_entropy" -> ((s, d) =>
      // encoding-junk / gibberish detector: per-doc Shannon entropy over
      // characters, keep = H ≥ 2 nats; one char explode into a (doc,ch)
      // histogram agg (map-side combined to ≤|alphabet| rows/doc) then a
      // per-doc reduce
      TextOps.charEntropy(Tables.documents(s, d), "doc_id", "text")),
    "dsir_weights" -> ((s, d) =>
      // DSIR importance resampling: every doc scored by the hashed-ngram
      // log-likelihood ratio of target (trusted single-digit sources, the
      // cross_score convention) vs raw distribution; keep = weight ≥ 0.
      // The ratio table is bucket-bounded (1024 rows) so it broadcasts at
      // ANY corpus scale — no model-side shuffle, unlike the LM gate.
      // All three dsir queries score against the memoized per-(session,
      // dir) model (the Bpe.train discipline): one estimation pass, then
      // each query is a single scoring pass.
      Dsir.weights(Tables.documents(s, d), length(col("source")) === 4,
        "doc_id", "text", ratio = Some(dsirRatio(s, d)))),
    "dsir_mix_shift" -> ((s, d) =>
      // the resampling census: what selection did to the source mix —
      // holdings vs kept per source, O(|sources|) rows
      Dsir.mixShift(Tables.documents(s, d), length(col("source")) === 4,
        "doc_id", "text", "source", ratio = Some(dsirRatio(s, d)))),
    "dsir_resample" -> ((s, d) =>
      // the paper's actual selection protocol: Gumbel-top-k draw of a
      // fixed-size corpus with prob ∝ exp(weight/τ) — md5-prefix uniforms,
      // 4dp keys, doc_id tiebreak, TakeOrderedAndProject (per-partition
      // heaps, no global sort)
      Dsir.resample(Tables.documents(s, d), length(col("source")) === 4,
        "doc_id", "text", k = 200, ratio = Some(dsirRatio(s, d)))),
    "epoch_mix_plan" -> ((s, d) =>
      // the pre-training mixture table: single-digit sources weighted 2x
      // (the "trusted slice" of the cross-score setup), 100M-token budget
      // — per-source target tokens + repetition factor
      Sample.epochMixPlan(Tables.documents(s, d), col("source"),
        size(TextOps.tokens(col("text"))).cast("long"),
        when(length(col("source")) === 4, lit(2.0)).otherwise(lit(1.0)),
        budgetTokens = 100000000L)),
    "epoch_shuffle" -> ((s, d) =>
      // reproducible epoch-1 training order: every doc gets a (shard,
      // pos) slot off md5("ep:1:"||id) — one uniform hash shuffle +
      // in-shard sort, no global sort, checkpoint resume = seek
      Sample.epochOrder(Tables.documents(s, d), "doc_id", epoch = 1,
        numShards = 8)),
    "split_leakage" -> ((s, d) => {
      // eval-contamination gate: duplicated content spanning splits —
      // the id-keyed split deals copies independently, so raw-corpus
      // dups can leak train→test; one hash agg, no text past the md5.
      // The gate corpus has no exact dups, so plant re-crawl copies of
      // docs 0-4 under fresh ids (+5e6): ids 0/1 land cross-split
      // (leaked), 2-4 same-split (benign dups) — both verdicts exercised.
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val recrawl = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Sample.splitLeakage(docs.unionByName(recrawl), "doc_id", "text",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
    }),
    "curation_provenance" -> ((s, d) =>
      // the PER-DOCUMENT "why was my doc dropped" ledger beside the
      // funnel census (D34b), extended in r18 to the FULL production
      // chain (every stage D24 executes): line_cut → gopher → LM →
      // exact_dedup → near_dup → span_scrub → domain_cap. Each gate's
      // three-state verdict (pass/fail/not_reached) + the first failing
      // stage per doc, with STAGED semantics — a later gate reads
      // 'not_reached' below the first failure, because most verdicts are
      // SET-dependent (canonicity is min-id within the LM survivors; a
      // near-dup/repeated-window verdict depends on which docs survived
      // beside it; the cap rank is within scrub survivors) and an
      // "independent" flag would be a different, misleading number.
      // The raw gate corpus dies wholesale at the stopword rule (one
      // stopword type corpus-wide — the funnel shows 500→0), so planted
      // docs (curationPlants) make every stage's arm non-vacuous; see
      // the plant-design notes there.
      // r19: the url_rules FIRST gate joins the chain — synthetic URL
      // derived portably from (doc_id, source), sparse failure residues,
      // every planted doc id verified outside them (spec-pinned)
      Curation.provenance(
        UrlRules.withSyntheticUrl(
          Tables.documents(s, d).select("doc_id", "text", "source")
            .unionByName(curationPlants(s))),
        "doc_id", "text", "source",
        urlRules = Some(UrlRules.Cfg()),
        lineCut = Some(CorpusPipeline.LineCut(minCount = 6L)),
        toxicity = Some(Toxicity.Cfg()),
        nearDup = Some(CorpusPipeline.NearDup(
          t => concat_ws(" ", slice(split(trim(t), "\\s+"), 1, 2)),
          n = 3, threshold = 0.6)),
        scrub = Some(CorpusPipeline.SpanScrub(window = 8, minDf = 2)))),
    "curation_funnel" -> ((s, d) =>
      // the composed stage census over the FULL production chain (r18):
      // raw → line_cut → gopher → LM keep → exact dedup → near-dup →
      // span-scrub → domain cap, one count row per stage — the "where
      // did my corpus go" report; every stage is an already-gated
      // operator, and the same planted corpus as curation_provenance
      // makes every stage's count non-vacuous (the ledger's
      // count(drop_stage = s) reconciles with n_dropped at s exactly —
      // spec-pinned). Near-dup candidates use the replayable
      // first-2-token prefix block here (the corpus_pipeline gate
      // choice); production at scale passes NearDup(banded = true).
      Curation.funnel(
        UrlRules.withSyntheticUrl(
          Tables.documents(s, d).select("doc_id", "text", "source")
            .unionByName(curationPlants(s))),
        "doc_id", "text", "source",
        urlRules = Some(UrlRules.Cfg()),
        lineCut = Some(CorpusPipeline.LineCut(minCount = 6L)),
        toxicity = Some(Toxicity.Cfg()),
        nearDup = Some(CorpusPipeline.NearDup(
          t => concat_ws(" ", slice(split(trim(t), "\\s+"), 1, 2)),
          n = 3, threshold = 0.6)),
        scrub = Some(CorpusPipeline.SpanScrub(window = 8, minDf = 2)))),
    "curation_funnel_banded" -> ((s, d) =>
      // the SCALE form of the full-chain census (the corpus_pipeline /
      // corpus_pipeline_banded pairing): near-dup candidates from
      // MinHash LSH banding (bucket cardinality grows with the corpus,
      // hot buckets guarded — the 100 TB strategy) instead of the
      // replayable-but-|block|² prefix-block join. Candidates are
      // VERIFIED with the exact Jaccard either way, so on this corpus —
      // where the only ≥0.6 pair sits at ~0.86, deep in the 8x4
      // S-curve's ~1 region — both forms must reach the SAME census,
      // and the exact-form chained replay is this row's oracle too.
      Curation.funnel(
        UrlRules.withSyntheticUrl(
          Tables.documents(s, d).select("doc_id", "text", "source")
            .unionByName(curationPlants(s))),
        "doc_id", "text", "source",
        urlRules = Some(UrlRules.Cfg()),
        lineCut = Some(CorpusPipeline.LineCut(minCount = 6L)),
        toxicity = Some(Toxicity.Cfg()),
        nearDup = Some(CorpusPipeline.NearDup(
          _ => lit("unused"), n = 3, threshold = 0.6, banded = true)),
        scrub = Some(CorpusPipeline.SpanScrub(window = 8, minDf = 2)))),
    "text_normalize" -> ((s, d) =>
      // Normalization before hashing/shingling: cosmetic variants (case,
      // CRLF, tab runs) collapse to one canonical form. Gate compares the
      // md5 of the canonical text against DuckDB running the same chain.
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(TextOps.normalizeText(col("text"))).as("norm_hash"),
        length(TextOps.normalizeText(col("text"))).cast("long").as("norm_chars"))),
    "dataset_split" -> ((s, d) => {
      // Deterministic 80/10/10 train/val/test carve (Sample.hashSplit):
      // split is a pure function of doc_id, so the deal never reshuffles
      // as the corpus grows. Gate: per (split, lang) census with a
      // modular content checksum — membership itself is checked, not
      // just the counts.
      Sample.hashSplit(Tables.documents(s, d), col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 1000000007L).as("checksum"))
    }),
    "token_budget_sample" -> ((s, d) => {
      // Mixture draw by TOKEN budget per language (how a training mix is
      // specified), deterministic by hash order with at-most-one-doc
      // overshoot. Gate orders by md5 so DuckDB replays the exact draw;
      // the production default is the engine-standard xxhash64.
      val df = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      Sample.tokenBudgetSample(df, col("lang"), col("doc_id"), col("n_tokens"),
          Map("en" -> 2000L, "de" -> 800L, "fr" -> 500L),
          orderKey = Some(md5(col("doc_id").cast("string"))))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    }),
    "temperature_mixture" -> ((s, d) => {
      // Temperature-flattened mixture (p_s ∝ mass_s^(1/τ), τ=2): budgets
      // derived from the corpus's own per-language token mass, then the
      // same deterministic budget draw as token_budget_sample. τ=2 rides
      // IEEE sqrt so DuckDB replays budget derivation AND draw exactly;
      // low-resource langs get visibly more than their natural share.
      val df = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val budgets = Sample.temperatureBudgets(
        df, col("lang"), col("n_tokens"), totalTokens = 6000L, temperature = 2.0)
      val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
        case (acc, (lang, b)) => when(col("lang") === lang, lit(b)).otherwise(acc)
      }
      Sample.tokenBudgetSample(df, col("lang"), col("doc_id"), col("n_tokens"),
          budgets, orderKey = Some(md5(col("doc_id").cast("string"))))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .withColumn("budget", budgetCol)
    }),
    "contamination_check" -> ((s, d) => {
      // Benchmark decontamination: docs 0-4 play the eval set; a 12-token
      // probe sentence is appended to them AND to training docs 10-12
      // in-query (both engines replay the concat), so those three docs
      // must flag with >= 5 shared 8-grams while the rest of the corpus
      // stays clean. The corpus pass is a map-only projection against the
      // broadcast benchmark gram set — nothing explodes or shuffles.
      val probe = lit(" the quick brown contamination probe sentence lurks" +
        " verbatim inside selected training documents")
      val base = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") < 5 || (col("doc_id") >= 10 && col("doc_id") <= 12),
          concat(col("text"), probe)).otherwise(col("text")).as("text"))
      Dedup.contamination(base.filter(col("doc_id") >= 5),
        base.filter(col("doc_id") < 5), "doc_id", "text", n = 8)
    }),
    "corpus_pipeline" -> ((s, d) => {
      // The END-TO-END corpus chain (normalize → exact-dedup → filter →
      // near-dup-drop → span-scrub → chunk → pack) as one conservation
      // gate: stage survivor counts AND the scrub token ledger are
      // replayed by DuckDB, and packed_tokens — summed off the PACKER's
      // output — must equal the chunk-stage token sum the oracle computes
      // analytically over the scrubbed survivors, so a token dropped or
      // double-packed anywhere between stages flips the row red. Docs 0-9
      // are planted as exact copies at id+1000000 (exact-dedup work) and
      // docs 10-19 as JITTERED copies at id+2000000 (four appended
      // tokens — near-dup work: ~0.95 Jaccard, caught and dropped by the
      // keep-first rule); both engines replay the union. The near-dup
      // block key is the first-2-token prefix (replayable; production
      // callers pass a SimHash band — see ngram_jaccard's simband form)
      // and the keep-ruleset drops the terminal-punctuation rule —
      // this corpus is word-soup, the other three rules split it 500→463.
      // docs 20-39 get a planted 10-token boilerplate tail (kept under
      // their own ids): its interior stride-1 8-windows repeat 20× across
      // the corpus, so the scrub stage must cut exactly those 10 tokens
      // from each — the nonzero, exactly-accountable scrub workload (the
      // word-soup corpus has no organic repeated 8-spans left after
      // dedup). Boundary windows straddling doc+tail are unique per doc
      // and must NOT be cut.
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id").between(20, 39),
          concat(col("text"), lit(" common license boilerplate notice" +
            " follows terms apply everywhere always more")))
          .otherwise(col("text")).as("text"))
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val jitter = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" nearline jitter marker pad")).as("text"))
      // Model-filter composition (final r10): 20 planted docs at id+3e6
      // that PASS every heuristic rule (letter-only 10-char words, no
      // digits, length and word-length in range) but FAIL the trained
      // classifier (zero stopwords + maxed word-length feature → logit
      // ≈ −3.3) — the filter work only a model can do. Their text is
      // portable arithmetic (translate over lpad'ed ids) so DuckDB
      // regenerates it; every word is corpus-unique so the span stage
      // is untouched. The keep predicate composes the heuristic rules
      // AND the pinned-weight logit — QualityModel.logitCol is plain
      // Column arithmetic, so the composition costs no extra stage.
      val modelBad = s.range(20).select(
        (col("id") + 3000000L).as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("qz"), translate(
            lpad((col("id") * 100 + i).cast("string"), 8, "0"),
            "0123456789", "abcdefghij"))): _*).as("text"))
      val wts = QualityModel.train(Tables.documents(s, d), "doc_id", "text")
      val rules = (t: Column) => TextOps.corpusFilterRules(t)
        .collect { case (name, rule) if name != "no_terminal_punct" => rule }
        .reduce(_ && _) && QualityModel.logitCol(t, wts) > 0
      CorpusPipeline.summary(
        docs.unionByName(planted).unionByName(jitter).unionByName(modelBad),
        "doc_id", "text",
        maxTokens = 32, overlap = 8, budget = 256L, shards = 8, keep = rules,
        nearDup = Some(CorpusPipeline.NearDup(
          t => concat_ws(" ", slice(split(trim(t), "\\s+"), 1, 2)),
          n = 3, threshold = 0.6)),
        scrub = Some(CorpusPipeline.SpanScrub(window = 8, minDf = 2)))
    }),
    "corpus_pipeline_banded" -> ((s, d) => {
      // The SCALE form of the same chain: near-dup candidates from MinHash
      // LSH banding (NearDup.banded — bucket cardinality grows with the
      // corpus, hot buckets guarded) instead of the replayable-but-
      // |block|² prefix-block join. Same planted workload as
      // corpus_pipeline; the whole summary row is deterministic (fixed
      // xxhash64 seeds end to end), so it gates against GOLDEN values —
      // the exact-form twin above is what a second engine replays
      // analytically, and the planted jittered copies sit at Jaccard
      // ~0.95 where the 8x4 banding S-curve is ~1, so both forms must
      // reach the same stage counts on this corpus.
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id").between(20, 39),
          concat(col("text"), lit(" common license boilerplate notice" +
            " follows terms apply everywhere always more")))
          .otherwise(col("text")).as("text"))
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val jitter = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" nearline jitter marker pad")).as("text"))
      val modelBad = s.range(20).select(
        (col("id") + 3000000L).as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("qz"), translate(
            lpad((col("id") * 100 + i).cast("string"), 8, "0"),
            "0123456789", "abcdefghij"))): _*).as("text"))
      val wts = QualityModel.train(Tables.documents(s, d), "doc_id", "text")
      val rules = (t: Column) => TextOps.corpusFilterRules(t)
        .collect { case (name, rule) if name != "no_terminal_punct" => rule }
        .reduce(_ && _) && QualityModel.logitCol(t, wts) > 0
      CorpusPipeline.summary(
        docs.unionByName(planted).unionByName(jitter).unionByName(modelBad),
        "doc_id", "text",
        maxTokens = 32, overlap = 8, budget = 256L, shards = 8, keep = rules,
        nearDup = Some(CorpusPipeline.NearDup(
          _ => lit("unused"), n = 3, threshold = 0.6, banded = true)),
        scrub = Some(CorpusPipeline.SpanScrub(window = 8, minDf = 2)))
    }),
    "corpus_pipeline_linecut" -> ((s, d) => {
      // The chain with the CCNet LINE tier composed in front (opt-in
      // LineCut stage, r16): a banner line is prepended to docs 40-59 and
      // planted as five whole-banner docs at +4e6 — the line-cut must
      // strip the banner from every carrier (restoring their original
      // text for the downstream stages) and empty the pure-banner docs,
      // which then fall to the too-short rule (counted at docs_kept, not
      // vanished; the five empties md5-collide into one docs_unique
      // canonical). Conservation: tokens_before_scrub / packed_tokens are
      // computed over the POST-CUT corpus, so a banner token leaking
      // through the cut or an original token lost with it flips the row.
      // Near-dup and scrub stages off — the line tier's effects are the
      // isolated workload; the full-stack form stays corpus_pipeline.
      val banner = "Subscribe to our newsletter today!"
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id").between(40, 59),
          concat(lit(banner + "\n"), col("text")))
          .otherwise(col("text")).as("text"))
      val pure = s.range(5).select((col("id") + 4000000L).as("doc_id"),
        lit(banner).as("text"))
      val rules = (t: Column) => TextOps.corpusFilterRules(t)
        .collect { case (name, rule) if name != "no_terminal_punct" => rule }
        .reduce(_ && _)
      CorpusPipeline.summary(docs.unionByName(pure), "doc_id", "text",
        maxTokens = 32, overlap = 8, budget = 256L, shards = 8, keep = rules,
        lineCut = Some(CorpusPipeline.LineCut(2)))
    }),
    "pii_scrub" -> ((s, d) => {
      // Corpus PII redaction (the standard pre-training scrub): mask
      // emails/cards/phones/IPs with typed tokens, count what was
      // removed. The gate corpus has no organic PII, so a deterministic
      // PII sentence is appended to docs 0-4 in-query — both engines
      // replay the same concat, so masks AND counts verify end to end.
      val pii = lit(" Contact jo.doe+x@mail.example.org or +1 (555) 123-4567;" +
        " host 10.0.42.7; card 4111 1111 1111 1111.")
      val df = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") < 5, concat(col("text"), pii))
          .otherwise(col("text")).as("text"))
      TextOps.scrubPii(df, "doc_id", "text")
        .select(col("doc_id"), md5(col("scrubbed")).as("scrub_hash"),
          col("n_email"), col("n_card"), col("n_phone"), col("n_ipv4"))
    }),
    "compression_ratio" -> ((s, d) => {
      // DEFLATE-compressibility census (r16, functions/Zlib — the
      // RedPajama-v2/DCLM compression-ratio quality signal): per-lang
      // exact byte sums + the ratio derived from them. Two planted
      // single-doc "langs" bracket the corpus and prove the signal
      // orders as the filter relies on: xxrep (150× one word) must
      // compress far below the prose band, xxhex (deterministic md5 hex
      // garbage) far above it — the spec asserts the ordering, the
      // golden rows pin the exact counts. DuckDB has no deflate, so the
      // gate pins golden VALUES (KMeans-convention); byte counts are
      // deterministic for a fixed level + JDK zlib.
      import s.implicits._
      val rep = Seq.fill(150)("spam").mkString(" ")
      val hex = (0 until 40).map(i =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"seed$i"))
        .mkString(" ")
      val planted = Seq(
        (9300001L, "xxrep", rep),
        (9300002L, "xxhex", hex)).toDF("doc_id", "lang", "text")
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .unionByName(planted)
        .select(col("lang"), Zlib.statsCol(col("text")).as("st"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("st.raw_bytes")).as("raw_bytes"),
          sum(col("st.deflate_bytes")).as("deflate_bytes"))
        .select(col("lang"), col("n_docs"), col("raw_bytes"),
          col("deflate_bytes"),
          round(col("deflate_bytes") / col("raw_bytes"), 4).as("ratio4"))
    }),
    "repetition_stats" -> ((s, d) =>
      // Gopher-family repetition signals per document: duplicate-line
      // fraction and top-2-gram mass (computed as the longest equal run
      // over the sorted per-row gram array — O(n log n), no shuffle).
      TextOps.repetitionStats(Tables.documents(s, d), "doc_id", "text")),
    "html_extract" -> ((s, d) => {
      // Boilerplate extraction, the crawl pipeline's first stage: the
      // gate corpus is plain text, so docs 0-9 are wrapped in-query in a
      // deterministic page template exercising every removal class —
      // nav/list boilerplate, a script whose BODY contains a tag-looking
      // string and an entity-free `<` (subtree removal, not tag
      // stripping, must eat it), style, title, comments, entities incl.
      // the &amp;lt; double-decode trap, and <br/> self-closers. Both
      // engines replay the same concat, so the extracted TEXT (not just
      // a hash) crosses the compare.
      val wrapped = concat(
        lit("<!DOCTYPE html><html><head><title>Skip Me</title>" +
          "<style>body { color: #fff; }</style>" +
          "<script type=\"text/javascript\">var x = 1 < 2; " +
          "var s = \"sneaky</div>\"; track();</script></head>" +
          "<body><div class=\"nav\"><ul><li>Home</li><li>About</li></ul>" +
          "</div><h1>Entry &amp; Report &#39;notes&#39;</h1><p>"),
        col("text"),
        lit("</p><p>1 &lt; 2 &gt; 0&nbsp;&quot;quoted&quot; &amp;lt;keep" +
          "&gt;</p><!-- hidden --><br/>footer</body></html>"))
      val df = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") < 10, wrapped).otherwise(col("text")).as("html"))
      TextOps.htmlExtract(df, "doc_id", "html")
    }),
    "nfc_normalize" -> ((s, _) => {
      // Unicode NFC canonical composition, cross-checked engine-vs-engine:
      // the JDK Normalizer (native UnicodeNorm expression) against DuckDB's
      // nfc_normalize on literals that exercise composition (combining
      // accents, angstrom-sign singleton, decomposed Hangul jamo), an
      // all-ASCII fast path, and an NFC-invariant ligature (only NFKC
      // touches U+FB03 — a negative control). Literals are built from
      // escapes here and chr() in the oracle so both sources stay ASCII.
      import s.implicits._
      Seq(
        (1, "e\u0301"),                 // e + COMBINING ACUTE -> U+00E9
        (2, "n\u0303o"),                // n + COMBINING TILDE -> U+00F1
        (3, "\u212B"),                  // ANGSTROM SIGN -> U+00C5 (singleton)
        (4, "\u1100\u1161\u11AB"),      // Hangul jamo -> syllable U+AC04
        (5, "plain ascii text."),       // fast path: returned untouched
        (6, "\uFB03"))                  // LATIN SMALL LIGATURE FFI: NFC no-op
        .toDF("id", "s")
        .select(col("id"),
          TextOps.nfcNormalize(col("s")).as("nfc"),
          length(col("s")).cast("long").as("len_raw"),
          length(TextOps.nfcNormalize(col("s"))).cast("long").as("len_nfc"))
    }),
    "doc_filter_stats" -> ((s, d) =>
      // C4/Gopher-style corpus filters as a quarantine ruleset over the
      // documents table: per-rule violation counters in one pass.
      Quality.quarantineStats(Tables.documents(s, d),
        TextOps.corpusFilterRules(col("text"))))
  )

  val oracleSql: Map[String, String] = Map(
    "fingerprint" ->
      // golden rows: the fingerprints are pure deterministic functions of
      // the (fixed, seed=42) corpus — pinned once, any drift in
      // tokenization, xxhash64 seeding, or the rolling-hash fold breaks
      // the compare (xxhash64 has no DuckDB mirror to recompute against)
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rolling_hash AS BIGINT) AS rolling_hash,
           CAST(content_minhash AS BIGINT) AS content_minhash,
           CAST(n_tokens AS INTEGER) AS n_tokens
         FROM (VALUES
           (0, 1248500283, 128989048, 32),
           (1,  442491546,  60886368, 72),
           (2,  842094431,  60886368, 45),
           (3, 1906784676, 102299716, 27),
           (4, 1849330719,  60886368, 45),
           (5, 1743147755,  60886368, 56),
           (6,  972709475, 128989048, 15),
           (7,   32345893,  60886368, 72),
           (8, 1426928247,  60886368, 84),
           (9,  110925171,  60886368, 74))
           t(doc_id, rolling_hash, content_minhash, n_tokens)""",
    "quality_score" ->
      """SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'to' OR t = 'in')) AS n_stopwords,
           round(n_stopwords * 1.0 / n_words, 4) AS stopword_ratio,
           round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0 / n_words, 4) AS avg_word_len,
           round(least(n_words / 100.0, 1.0) * (1.0 - round(n_stopwords * 1.0 / n_words, 4)), 4) AS quality_score
         FROM documents""",
    "quality_classifier_weights" ->
      // golden trained weights (the bpe_merges pattern): deterministic
      // gradient descent on the gate corpus vs its synthetic negatives
      // must reproduce these exact 6dp values every run
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      """SELECT CAST(bias AS DOUBLE) AS bias,
           CAST(w_len AS DOUBLE) AS w_len,
           CAST(w_stop AS DOUBLE) AS w_stop,
           CAST(w_wordlen AS DOUBLE) AS w_wordlen,
           CAST(w_punct AS DOUBLE) AS w_punct
         FROM (VALUES (6.423447, 2.151676, 1.776349, -10.556339, 0.0))
           t(bias, w_len, w_stop, w_wordlen, w_punct)""",
    "quality_classifier" ->
      // FULL replay of the scoring pass: the 4dp features are the same
      // engine-portable forms the quality_score oracle proved, the
      // weights are the pinned 6dp golden values above, and the logit is
      // the same left-associated multiply-add both engines evaluate in
      // IEEE doubles — training OR scoring drift flips rows red
      // [weights GOLDEN @ gate corpus: sf0.01, seed=42]
      """SELECT doc_id,
           round(least(len(regexp_split_to_array(trim(text), '\s+')) / 100.0,
             1.0), 4) AS f_len,
           round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and'
                 OR t = 'to' OR t = 'in')) * 1.0
             / len(regexp_split_to_array(trim(text), '\s+')), 4) AS f_stop,
           round(least(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
             / len(regexp_split_to_array(trim(text), '\s+')) / 10.0,
             1.0), 4) AS f_wordlen,
           round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS f_punct,
           round(6.423447 + 2.151676 * f_len + 1.776349 * f_stop
             + (-10.556339) * f_wordlen + 0.0 * f_punct, 4) AS logit,
           logit > 0 AS keep
         FROM documents""",
    "token_count" ->
      """SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS word_tokens,
           length(text) AS n_chars_calc
         FROM documents""",
    "tfidf_top_terms" ->
      // rank on the ROUNDED score in both engines: ln differs in the last
      // ulp between libms, so ordering raw doubles could flip near-ties
      """WITH terms AS (
           SELECT doc_id, t AS term FROM (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
             FROM documents) u
           WHERE t <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         SELECT doc_id, term, tf, doc_freq, tfidf, rank FROM (
           SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
             round(tf.tf * ln(n_docs * 1.0 / dfreq.doc_freq), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(n_docs * 1.0 / dfreq.doc_freq), 6) DESC,
                        tf.term) AS rank
           FROM tf JOIN dfreq USING (term) CROSS JOIN n) s
         WHERE rank <= 3""",
    "ngram_lm_perplexity" ->
      // full model replay: same tokenization, same add-1 smoothing, same
      // round-the-SUM-then-derive discipline (avg_nll/ppl divide the
      // already-rounded sum, so both engines operate on identical doubles)
      raw"""WITH ${wsCte("ws", "documents")},
         ${bigramCte("bi", "ws")},
         ${bigramModelCtes("bi", "ws")},
         sc AS (
           SELECT bi.doc_id, count(*) AS n_bigrams,
             round(sum(logp), 4) AS logprob_sum
           FROM bi JOIN model USING (w1, w2) GROUP BY 1)
         SELECT d.doc_id,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           sc.logprob_sum,
           round(-sc.logprob_sum / sc.n_bigrams, 4) AS avg_nll,
           round(exp(round(-sc.logprob_sum / sc.n_bigrams, 4)), 4) AS ppl,
           coalesce(round(-sc.logprob_sum / sc.n_bigrams, 4) <= 6.0, false) AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN sc USING (doc_id)""",
    "ngram_lm_cross_score" ->
      // backoff replay: seen bigram → model logp; unseen under seen w1 →
      // ln(1/(c1+V)); w1 unseen → ln(1/V). n_oov counts model misses.
      raw"""WITH $crossModelCtes,
         ${backoffScoreCte("sc", "bi")}
         SELECT d.doc_id,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           coalesce(sc.n_oov, 0) AS n_oov,
           sc.logprob_sum,
           round(-sc.logprob_sum / sc.n_bigrams, 4) AS avg_nll,
           round(exp(round(-sc.logprob_sum / sc.n_bigrams, 4)), 4) AS ppl,
           coalesce(round(-sc.logprob_sum / sc.n_bigrams, 4) <= 6.0, false) AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN sc USING (doc_id)""",
    "ngram_lm_kn" ->
      // FULL replay of the interpolated-KN trigram ladder: trigram
      // counts, context margins + type counts, continuation counts from
      // the trigram TYPE table (middle rung) and raw bigram TYPES
      // (unigram rung), the frozen expression grouping per rung, ln at
      // the end, round-the-SUM. D = 0.75 is exact binary; all other
      // inputs are integers, so both engines divide identical doubles.
      raw"""WITH ${wsCte("tws", "documents WHERE length(source) = 4")},
         ${wsCte("ws", "documents")},
         $knTtrCte,
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3),
         $knCtxCtes,
         $knContinuationCtes,
         $knScaCte,
         ${knStrCte("ws")},
         ${knJoinCte("joined")},
         $knRungCtes,
         ${knScoreCtes("documents")}""",
    "ngram_lm_kn_pruned" ->
      // the ngram_lm_kn replay with the ONE clause that defines count-
      // cutoff pruning: HAVING count(*) >= 2 on the trigram table. Every
      // downstream frame (context margins, type counts, continuation
      // counts) already derives from tri, so the kept-table estimation —
      // and the wholesale backoff of fully-pruned contexts through the
      // null-denominator arm — falls out of the same frozen ladder.
      raw"""WITH ${wsCte("tws", "documents WHERE length(source) = 4")},
         ${wsCte("ws", "documents")},
         $knTtrCte,
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3
                 HAVING count(*) >= 2),
         $knCtxCtes,
         $knContinuationCtes,
         $knScaCte,
         ${knStrCte("ws")},
         ${knJoinCte("joined")},
         $knRungCtes,
         ${knScoreCtes("documents")}""",
    "ngram_lm_kn_prune_stats" ->
      // BOTH ladders replayed off the shared trigram aggregation (the
      // pruned one differs only in its frame CTEs re-derived from the
      // kept table), scores compared as the ladder's exact 1e4-scaled
      // integers — the sums cross the engines bit-for-bit — plus the
      // kept/dropped type and mass arithmetic from the same tri table
      raw"""WITH ${wsCte("tws", "documents WHERE length(source) = 4")},
         ${wsCte("ws", "documents")},
         $knTtrCte,
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3),
         ptri AS (SELECT * FROM tri WHERE c3 >= 2),
         $knCtxCtes,
         pctx2 AS (SELECT w1, w2, sum(c3) AS cctx, count(*) AS t2
                   FROM ptri GROUP BY 1, 2),
         pcontb AS (SELECT w2, w3, count(*) AS cb FROM ptri GROUP BY 1, 2),
         pmid AS (SELECT w2, sum(cb) AS nmid, count(*) AS ndw3
                  FROM pcontb GROUP BY 1),
         $knContinuationCtes,
         $knScaCte,
         ${knStrCte("ws")},
         ${knJoinCte("jb")},
         bp1 AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM jb),
         bp2 AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (greatest(coalesce(cb, 0) - 0.75, 0.0)
                     + (0.75 * ndw3) * p1) / nmid END AS p2 FROM bp1),
         bp3 AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (greatest(coalesce(c3, 0) - 0.75, 0.0)
                     + (0.75 * t2) * p2) / cctx END AS p3 FROM bp2),
         scb AS (
           SELECT doc_id, count(*) AS n_trigrams,
             round(sum(ln(p3)), 4) AS lps
           FROM bp3 GROUP BY 1),
         eb AS (
           SELECT doc_id, n_trigrams,
             (CAST(round(-lps * 10000) AS BIGINT) * 2 + n_trigrams)
               // (n_trigrams * 2) AS e4
           FROM scb WHERE n_trigrams > 0),
         jp AS (
           SELECT s.doc_id, ptri.c3, pctx2.cctx, pctx2.t2, pcontb.cb,
             pmid.nmid, pmid.ndw3, contu.cu, sca.b, sca.wtypes, sca.v
           FROM str s
           LEFT JOIN ptri ON s.w1 = ptri.w1 AND s.w2 = ptri.w2
             AND s.w3 = ptri.w3
           LEFT JOIN pctx2 ON s.w1 = pctx2.w1 AND s.w2 = pctx2.w2
           LEFT JOIN pcontb ON s.w2 = pcontb.w2 AND s.w3 = pcontb.w3
           LEFT JOIN pmid ON s.w2 = pmid.w2
           LEFT JOIN contu ON s.w3 = contu.w2
           CROSS JOIN sca),
         pp1 AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM jp),
         pp2 AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (greatest(coalesce(cb, 0) - 0.75, 0.0)
                     + (0.75 * ndw3) * p1) / nmid END AS p2 FROM pp1),
         pp3 AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (greatest(coalesce(c3, 0) - 0.75, 0.0)
                     + (0.75 * t2) * p2) / cctx END AS p3 FROM pp2),
         scp AS (
           SELECT doc_id, count(*) AS n_trigrams,
             round(sum(ln(p3)), 4) AS lps
           FROM pp3 GROUP BY 1),
         ep AS (
           SELECT doc_id,
             (CAST(round(-lps * 10000) AS BIGINT) * 2 + n_trigrams)
               // (n_trigrams * 2) AS e4
           FROM scp WHERE n_trigrams > 0),
         tstats AS (
           SELECT CAST(count(*) AS BIGINT) AS trigram_types,
             CAST(sum(CASE WHEN c3 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_types,
             CAST(sum(CASE WHEN c3 < 2 THEN c3 ELSE 0 END) AS BIGINT)
               AS dropped_mass
           FROM tri),
         census AS (
           SELECT CAST(count(*) AS BIGINT) AS n_scored,
             CAST(sum(eb.e4) AS BIGINT) AS sum_nll_e4_base,
             CAST(sum(ep.e4) AS BIGINT) AS sum_nll_e4_pruned,
             CAST(sum(CASE WHEN eb.e4 <= 35000 THEN 1 ELSE 0 END) AS BIGINT)
               AS keep_base,
             CAST(sum(CASE WHEN ep.e4 <= 35000 THEN 1 ELSE 0 END) AS BIGINT)
               AS keep_pruned,
             CAST(sum(CASE WHEN (eb.e4 <= 35000) <> (ep.e4 <= 35000)
               THEN 1 ELSE 0 END) AS BIGINT) AS keep_flips
           FROM eb JOIN ep USING (doc_id))
         SELECT trigram_types, kept_types,
           trigram_types - kept_types AS dropped_types, dropped_mass,
           n_scored, sum_nll_e4_base, sum_nll_e4_pruned,
           keep_base, keep_pruned, keep_flips
         FROM tstats CROSS JOIN census""",
    "ngram_lm_mkn" ->
      // the ngram_lm_kn replay with per-class estimated discounts: two
      // count-of-count scalar rows (raw trigram counts, continuation
      // counts), the Y/D1/D2/D3+ arithmetic with the degenerate-estimate
      // fallback CASE, class-picked discounts per count, and the
      // discounted-mass lambda — all integer inputs, frozen grouping
      raw"""WITH ${wsCte("tws", "documents WHERE length(source) = 4")},
         ${wsCte("ws", "documents")},
         $knTtrCte,
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3),
         ctx2 AS (SELECT w1, w2, sum(c3) AS cctx,
                    sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS tn1,
                    sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS tn2,
                    sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS tn3
                  FROM tri GROUP BY 1, 2),
         contb AS (SELECT w2, w3, count(*) AS cb FROM tri GROUP BY 1, 2),
         mid AS (SELECT w2, sum(cb) AS nmid,
                   sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS bn1,
                   sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS bn2,
                   sum(CASE WHEN cb >= 3 THEN 1 ELSE 0 END) AS bn3
                 FROM contb GROUP BY 1),
         $knContinuationCtes,
         $mknDiscountCtes,
         $knScaCte,
         ${knStrCte("ws")},
         joined AS (
           SELECT s.doc_id, tri.c3, ctx2.cctx, ctx2.tn1, ctx2.tn2,
             ctx2.tn3, contb.cb, mid.nmid, mid.bn1, mid.bn2, mid.bn3,
             contu.cu, sca.b, sca.wtypes, sca.v,
             disc.td1, disc.td2, disc.td3, disc.bd1, disc.bd2, disc.bd3
           FROM str s
           LEFT JOIN tri ON s.w1 = tri.w1 AND s.w2 = tri.w2 AND s.w3 = tri.w3
           LEFT JOIN ctx2 ON s.w1 = ctx2.w1 AND s.w2 = ctx2.w2
           LEFT JOIN contb ON s.w2 = contb.w2 AND s.w3 = contb.w3
           LEFT JOIN mid ON s.w2 = mid.w2
           LEFT JOIN contu ON s.w3 = contu.w2
           CROSS JOIN sca CROSS JOIN disc),
         p1t AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM joined),
         p2t AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (CASE WHEN cb IS NULL THEN 0.0
                           ELSE greatest(cb - (CASE WHEN cb = 1 THEN bd1
                             WHEN cb = 2 THEN bd2 ELSE bd3 END), 0.0) END
                     + (bd1 * bn1 + bd2 * bn2 + bd3 * bn3) * p1) / nmid
                   END AS p2 FROM p1t),
         p3t AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (CASE WHEN c3 IS NULL THEN 0.0
                           ELSE greatest(c3 - (CASE WHEN c3 = 1 THEN td1
                             WHEN c3 = 2 THEN td2 ELSE td3 END), 0.0) END
                     + (td1 * tn1 + td2 * tn2 + td3 * tn3) * p2) / cctx
                   END AS p3 FROM p2t),
         ${knScoreCtes("documents")}""",
    "ngram_lm_mkn_crosstab" ->
      // both KN-family ladders replayed off ONE shared trigram/type
      // aggregation (the fixed-0.75 frames and the estimated-discount
      // frames differ only in their per-context class columns and the
      // rung expression trees, each verbatim from its parent oracle),
      // both cutoff picks, then the doc-keyed crosstab
      raw"""WITH ${wsCte("tws", "documents WHERE length(source) = 4")},
         ${wsCte("ws", "documents")},
         $knTtrCte,
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3),
         contb AS (SELECT w2, w3, count(*) AS cb FROM tri GROUP BY 1, 2),
         kctx2 AS (SELECT w1, w2, sum(c3) AS cctx, count(*) AS t2
                   FROM tri GROUP BY 1, 2),
         kmid AS (SELECT w2, sum(cb) AS nmid, count(*) AS ndw3
                  FROM contb GROUP BY 1),
         mctx2 AS (SELECT w1, w2, sum(c3) AS cctx,
                     sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS tn1,
                     sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS tn2,
                     sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS tn3
                   FROM tri GROUP BY 1, 2),
         mmid AS (SELECT w2, sum(cb) AS nmid,
                    sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS bn1,
                    sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS bn2,
                    sum(CASE WHEN cb >= 3 THEN 1 ELSE 0 END) AS bn3
                  FROM contb GROUP BY 1),
         $knContinuationCtes,
         $mknDiscountCtes,
         $knScaCte,
         ${knStrCte("ws")},
         kj AS (
           SELECT s.doc_id, tri.c3, kctx2.cctx, kctx2.t2, contb.cb,
             kmid.nmid, kmid.ndw3, contu.cu, sca.b, sca.wtypes, sca.v
           FROM str s
           LEFT JOIN tri ON s.w1 = tri.w1 AND s.w2 = tri.w2 AND s.w3 = tri.w3
           LEFT JOIN kctx2 ON s.w1 = kctx2.w1 AND s.w2 = kctx2.w2
           LEFT JOIN contb ON s.w2 = contb.w2 AND s.w3 = contb.w3
           LEFT JOIN kmid ON s.w2 = kmid.w2
           LEFT JOIN contu ON s.w3 = contu.w2
           CROSS JOIN sca),
         kp1 AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM kj),
         kp2 AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (greatest(coalesce(cb, 0) - 0.75, 0.0)
                     + (0.75 * ndw3) * p1) / nmid END AS p2 FROM kp1),
         kp3 AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (greatest(coalesce(c3, 0) - 0.75, 0.0)
                     + (0.75 * t2) * p2) / cctx END AS p3 FROM kp2),
         ksc AS (
           SELECT doc_id, count(*) AS n_trigrams,
             round(sum(ln(p3)), 4) AS logprob_sum
           FROM kp3 GROUP BY 1),
         $knBucketCtes,
         mj AS (
           SELECT s.doc_id, tri.c3, mctx2.cctx, mctx2.tn1, mctx2.tn2,
             mctx2.tn3, contb.cb, mmid.nmid, mmid.bn1, mmid.bn2, mmid.bn3,
             contu.cu, sca.b, sca.wtypes, sca.v,
             disc.td1, disc.td2, disc.td3, disc.bd1, disc.bd2, disc.bd3
           FROM str s
           LEFT JOIN tri ON s.w1 = tri.w1 AND s.w2 = tri.w2 AND s.w3 = tri.w3
           LEFT JOIN mctx2 ON s.w1 = mctx2.w1 AND s.w2 = mctx2.w2
           LEFT JOIN contb ON s.w2 = contb.w2 AND s.w3 = contb.w3
           LEFT JOIN mmid ON s.w2 = mmid.w2
           LEFT JOIN contu ON s.w3 = contu.w2
           CROSS JOIN sca CROSS JOIN disc),
         mp1 AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM mj),
         mp2 AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (CASE WHEN cb IS NULL THEN 0.0
                           ELSE greatest(cb - (CASE WHEN cb = 1 THEN bd1
                             WHEN cb = 2 THEN bd2 ELSE bd3 END), 0.0) END
                     + (bd1 * bn1 + bd2 * bn2 + bd3 * bn3) * p1) / nmid
                   END AS p2 FROM mp1),
         mp3 AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (CASE WHEN c3 IS NULL THEN 0.0
                           ELSE greatest(c3 - (CASE WHEN c3 = 1 THEN td1
                             WHEN c3 = 2 THEN td2 ELSE td3 END), 0.0) END
                     + (td1 * tn1 + td2 * tn2 + td3 * tn3) * p2) / cctx
                   END AS p3 FROM mp2),
         msc AS (
           SELECT doc_id, count(*) AS n_trigrams,
             round(sum(ln(p3)), 4) AS logprob_sum
           FROM mp3 GROUP BY 1),
         mdoc AS (
           SELECT d.doc_id,
             (CAST(round(-msc.logprob_sum * 10000) AS BIGINT) * 2
               + msc.n_trigrams) // (msc.n_trigrams * 2) / 10000.0 AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN msc USING (doc_id)),
         mhist AS (SELECT avg_nll, count(*) AS cnt FROM mdoc
                   WHERE avg_nll IS NOT NULL GROUP BY 1),
         mcum AS (SELECT avg_nll, sum(cnt) OVER (ORDER BY avg_nll
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM mhist),
         mtot AS (SELECT count(*) AS n_total FROM mdoc
                  WHERE avg_nll IS NOT NULL),
         mcuts AS (SELECT
             min(CASE WHEN cum * 3 >= n_total THEN avg_nll END) AS cut_head,
             min(CASE WHEN cum * 3 >= n_total * 2 THEN avg_nll END) AS cut_middle
           FROM mcum CROSS JOIN mtot),
         mbuck AS (
           SELECT doc_id,
             CASE WHEN avg_nll IS NULL THEN 'unscored'
                  WHEN avg_nll <= cut_head THEN 'head'
                  WHEN avg_nll <= cut_middle THEN 'middle'
                  ELSE 'tail' END AS mkn_bucket
           FROM mdoc CROSS JOIN mcuts)
         SELECT kn_bucket, mkn_bucket, count(*) AS n_docs
         FROM kbuck JOIN mbuck USING (doc_id)
         GROUP BY 1, 2""",
    "ngram_lm_kn_crosstab" ->
      // both gates replayed end to end (the bigram backoff scoring +
      // cutoff pick verbatim from perplexity_bucket_assign's oracle, the
      // KN ladder verbatim from ngram_lm_kn's), then the doc-keyed
      // crosstab — the whole decision artifact second-engine-checked
      raw"""WITH $crossModelCtes,
         bsc AS (
           SELECT bi.doc_id,
             round(sum(coalesce(m.logp,
               ln(1.0 / (coalesce(c1.c1, 0) + v.v)))), 4) AS logprob_sum,
             count(*) AS n_bigrams
           FROM bi
           LEFT JOIN model m ON bi.w1 = m.w1 AND bi.w2 = m.w2
           LEFT JOIN c1 ON bi.w1 = c1.w1
           CROSS JOIN v
           GROUP BY 1),
         bdoc AS (
           SELECT d.doc_id,
             round(-bsc.logprob_sum / bsc.n_bigrams, 4) AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN bsc USING (doc_id)),
         bhist AS (SELECT avg_nll, count(*) AS cnt FROM bdoc
                   WHERE avg_nll IS NOT NULL GROUP BY 1),
         bcum AS (SELECT avg_nll, sum(cnt) OVER (ORDER BY avg_nll
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM bhist),
         btot AS (SELECT count(*) AS n_total FROM bdoc
                  WHERE avg_nll IS NOT NULL),
         bcuts AS (SELECT
             min(CASE WHEN cum * 3 >= n_total THEN avg_nll END) AS cut_head,
             min(CASE WHEN cum * 3 >= n_total * 2 THEN avg_nll END) AS cut_middle
           FROM bcum CROSS JOIN btot),
         bbuck AS (
           SELECT doc_id,
             CASE WHEN avg_nll IS NULL THEN 'unscored'
                  WHEN avg_nll <= cut_head THEN 'head'
                  WHEN avg_nll <= cut_middle THEN 'middle'
                  ELSE 'tail' END AS bigram_bucket
           FROM bdoc CROSS JOIN bcuts),
         $knTtrCte,
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3),
         $knCtxCtes,
         tbt AS (SELECT DISTINCT w1, w2 FROM tbi),
         $knContuCte,
         sca AS (SELECT (SELECT sum(cu) FROM contu) AS b,
                        (SELECT count(*) FROM contu) AS wtypes,
                        (SELECT v FROM v) AS v),
         ${knStrCte("ws")},
         ${knJoinCte("joined")},
         $knRungCtes,
         ksc AS (
           SELECT doc_id, count(*) AS n_trigrams,
             round(sum(ln(p3)), 4) AS logprob_sum
           FROM p3t GROUP BY 1),
         $knBucketCtes
         SELECT bigram_bucket, kn_bucket, count(*) AS n_docs
         FROM bbuck JOIN kbuck USING (doc_id)
         GROUP BY 1, 2""",
    "perplexity_bucket_assign" ->
      // the cross-score replay above + the threshold arithmetic: tertile
      // cutoffs picked off the cumulative 4dp-nll histogram with
      // cross-multiplied integer comparisons (3·cum ≥ n), value-based
      // bucket membership (ties share a bucket in both engines)
      raw"""WITH $crossModelCtes,
         ${backoffScoreCte("sc", "bi")},
         doc_sc AS (
           SELECT d.doc_id,
             coalesce(sc.n_bigrams, 0) AS n_bigrams,
             coalesce(sc.n_oov, 0) AS n_oov,
             round(-sc.logprob_sum / sc.n_bigrams, 4) AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN sc USING (doc_id)),
         ${tertileCutCtes("doc_sc")}
         SELECT doc_id, n_bigrams, n_oov, avg_nll,
           CASE WHEN avg_nll IS NULL THEN 'unscored'
                WHEN avg_nll <= cut_head THEN 'head'
                WHEN avg_nll <= cut_middle THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM doc_sc CROSS JOIN cuts""",
    "perplexity_buckets" ->
      // same replay rolled up per bucket, with the two global cutoffs
      raw"""WITH $crossModelCtes,
         ${backoffScoreCte("sc", "bi")},
         doc_sc AS (
           SELECT d.doc_id,
             coalesce(sc.n_bigrams, 0) AS n_bigrams,
             coalesce(sc.n_oov, 0) AS n_oov,
             round(-sc.logprob_sum / sc.n_bigrams, 4) AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN sc USING (doc_id)),
         ${tertileCutCtes("doc_sc")},
         asg AS (
           SELECT doc_id, n_bigrams, n_oov, avg_nll,
             CASE WHEN avg_nll IS NULL THEN 'unscored'
                  WHEN avg_nll <= cut_head THEN 'head'
                  WHEN avg_nll <= cut_middle THEN 'middle'
                  ELSE 'tail' END AS bucket,
             cut_head, cut_middle
           FROM doc_sc CROSS JOIN cuts)
         SELECT bucket, count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(sum(n_oov) AS BIGINT) AS n_oov,
           min(avg_nll) AS min_nll, max(avg_nll) AS max_nll,
           max(cut_head) AS cut_head, max(cut_middle) AS cut_middle
         FROM asg GROUP BY bucket""",
    "ngram_lm_top_bigrams" ->
      raw"""WITH ${wsCte("ws", "documents")},
         ${bigramCte("bi", "ws")},
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
               FROM (SELECT unnest(w) AS tk FROM ws) u)
         SELECT rank, w1, w2, c12, logp FROM (
           SELECT row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rank,
             w1, w2, c12,
             round(ln((c12 + 1.0) / (c1 + 1.0 * v)), 6) AS logp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v) h
         WHERE rank <= 20""",
    "domain_cap" ->
      // the exact single-window form of the two-phase salted ranking —
      // equal because both phases order by the same (md5 priority, id)
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(source || ':' || cast(doc_id AS varchar)),
                        doc_id) AS rk
           FROM documents) c
         WHERE rk <= 10""",
    "domain_cap_stats" ->
      """WITH kept AS (
           SELECT source, count(*) AS n_kept FROM (
             SELECT source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(source || ':' || cast(doc_id AS varchar)),
                          doc_id) AS rk
             FROM documents) c
           WHERE rk <= 10 GROUP BY 1)
         SELECT d.source, count(*) AS n_docs,
           coalesce(any_value(kept.n_kept), 0) AS n_kept,
           count(*) > 10 AS capped
         FROM documents d LEFT JOIN kept ON d.source = kept.source
         GROUP BY 1""",
    "encoding_repair" ->
      // full replay: the plant transform is replace-chain arithmetic
      // (chr() composition avoids any literal-encoding ambiguity:
      // 228=ä 233=é 195=Ã 164=¤ 169=© 402=ƒ 194=Â), and the repair's
      // EXPECTED output is the clean text for planted rows / the raw
      // text otherwise — the kernel must land on it byte for byte
      """WITH t AS (
           SELECT doc_id, text,
             replace(replace(text, 'data', 'd' || chr(228) || 'ta'),
                     'key', 'k' || chr(233) || 'y') AS clean
           FROM documents),
         m AS (
           SELECT doc_id, text, clean,
             replace(replace(clean, chr(228), chr(195) || chr(164)),
                     chr(233), chr(195) || chr(169)) AS m1,
             replace(replace(clean,
                 chr(228), chr(195) || chr(402) || chr(194) || chr(164)),
                 chr(233), chr(195) || chr(402) || chr(194) || chr(169)) AS m2
           FROM t),
         io AS (
           SELECT doc_id, text, clean,
             CASE WHEN doc_id % 5 = 0 THEN m1
                  WHEN doc_id % 5 = 1 THEN m2
                  ELSE text END AS input,
             CASE WHEN doc_id % 5 IN (0, 1) THEN clean
                  ELSE text END AS repaired
           FROM m)
         SELECT doc_id, md5(input) AS input_hash,
           md5(repaired) AS repaired_hash,
           input <> repaired AS was_repaired,
           repaired = clean AS restored
         FROM io""",
    "url_filter" ->
      // full replay: the synthetic url construction (|| coerces ints in
      // DuckDB exactly like the Spark casts) AND the parse-level rules —
      // host/path/query regexes are explicit character classes, so Java
      // and DuckDB RE2 agree byte for byte
      """WITH u AS (
           SELECT doc_id,
             'https://' || source || '.example.' ||
               (CASE WHEN doc_id % 7 = 2 THEN 'net' ELSE 'com' END) ||
               (CASE WHEN doc_id % 89 = 5
                 THEN '/s' || (doc_id % 10) || '/s' || ((doc_id + 1) % 10)
                   || '/s' || ((doc_id + 2) % 10) || '/s' || ((doc_id + 3) % 10)
                   || '/s' || ((doc_id + 4) % 10) || '/s' || ((doc_id + 5) % 10)
                 ELSE '/s' || (doc_id % 10) || '/s' || ((doc_id + 1) % 10) END) ||
               '/f' || (doc_id % 100) ||
               (CASE WHEN doc_id % 97 = 3 THEN '.jpg' ELSE '.html' END) ||
               (CASE WHEN doc_id % 83 = 7 THEN '?sid=' || (doc_id % 1000)
                     ELSE '' END) AS url
           FROM documents),
         p AS (
           SELECT doc_id, url,
             regexp_extract(url, '^https?://([^/?]+)', 1) AS host,
             regexp_extract(url, '^https?://[^/?]+([^?]*)', 1) AS path,
             regexp_extract(url, '\?(.*)$', 1) AS query
           FROM u),
         v AS (
           SELECT doc_id, url, host,
             CAST(length(path) - length(replace(path, '/', '')) AS INTEGER)
               AS n_segments,
             lower(regexp_extract(path, '\.([a-zA-Z0-9]+)$', 1)) AS ext,
             host IN ('src7.example.net', 'src12.example.net')
               AS blocked_domain,
             lower(regexp_extract(path, '\.([a-zA-Z0-9]+)$', 1)) IN
               ('jpg','jpeg','png','gif','mp3','mp4','css','js','zip','exe')
               AS bad_ext,
             length(path) - length(replace(path, '/', '')) > 5 AS too_deep,
             regexp_matches(query, '(^|&)(sid|sessionid|phpsessid)=')
               AS junk_query
           FROM p)
         SELECT doc_id, url, host, n_segments, ext, blocked_domain,
           bad_ext, too_deep, junk_query,
           NOT (blocked_domain OR bad_ext OR too_deep OR junk_query)
             AS pass_url
         FROM v""",
    "toxicity_filter" ->
      // full rule replay: same punctuation-stripping tokenization, same
      // lexicon, same integer cross-multiplied verdict; per_mille is the
      // floored informational ratio, never the pass predicate
      """WITH t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(coalesce(text, '')),
               '[^a-z0-9]+'), x -> x <> '') AS tw
           FROM documents)
         SELECT doc_id,
           CAST(len(tw) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tw, x -> x IN ('slow', 'big'))) AS BIGINT)
             AS n_blocked,
           CAST(CASE WHEN len(tw) > 0
             THEN 1000 * len(list_filter(tw, x -> x IN ('slow', 'big')))
                  // len(tw)
             ELSE 0 END AS BIGINT) AS per_mille,
           len(list_filter(tw, x -> x IN ('slow', 'big'))) * 1000
             <= 100 * len(tw) AS pass_toxicity
         FROM t""",
    "gopher_quality_rules" ->
      // every ratio in cross-multiplied integer form — no float anywhere
      raw"""WITH $gopherRuleCtes
         SELECT doc_id,
           n_words >= 50 AND n_words <= 100000 AS word_count,
           n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS mean_word_len,
           (hashes + ellipses) * 10 <= n_words AS symbol_ratio,
           bullets * 10 <= n_lines * 9 AS bullet_lines,
           ell_lines * 10 <= n_lines * 3 AS ellipsis_lines,
           alpha_w * 5 >= n_words * 4 AS alpha_words,
           stop_hits >= 2 AS stop_words,
           (n_words >= 50 AND n_words <= 100000)
             AND (n_chars >= n_words * 3 AND n_chars <= n_words * 10)
             AND ((hashes + ellipses) * 10 <= n_words)
             AND (bullets * 10 <= n_lines * 9)
             AND (ell_lines * 10 <= n_lines * 3)
             AND (alpha_w * 5 >= n_words * 4)
             AND (stop_hits >= 2) AS pass_all
         FROM m""",
    "gopher_rule_stats" ->
      raw"""WITH $gopherRuleCtes,
         flags AS (
           SELECT
             n_words >= 50 AND n_words <= 100000 AS word_count,
             n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS mean_word_len,
             (hashes + ellipses) * 10 <= n_words AS symbol_ratio,
             bullets * 10 <= n_lines * 9 AS bullet_lines,
             ell_lines * 10 <= n_lines * 3 AS ellipsis_lines,
             alpha_w * 5 >= n_words * 4 AS alpha_words,
             stop_hits >= 2 AS stop_words
           FROM m),
         agg AS (
           SELECT count(*) AS n_docs,
             cast(sum(CASE WHEN word_count THEN 1 ELSE 0 END) AS bigint) AS word_count,
             cast(sum(CASE WHEN mean_word_len THEN 1 ELSE 0 END) AS bigint) AS mean_word_len,
             cast(sum(CASE WHEN symbol_ratio THEN 1 ELSE 0 END) AS bigint) AS symbol_ratio,
             cast(sum(CASE WHEN bullet_lines THEN 1 ELSE 0 END) AS bigint) AS bullet_lines,
             cast(sum(CASE WHEN ellipsis_lines THEN 1 ELSE 0 END) AS bigint) AS ellipsis_lines,
             cast(sum(CASE WHEN alpha_words THEN 1 ELSE 0 END) AS bigint) AS alpha_words,
             cast(sum(CASE WHEN stop_words THEN 1 ELSE 0 END) AS bigint) AS stop_words,
             cast(sum(CASE WHEN word_count AND mean_word_len AND symbol_ratio
                   AND bullet_lines AND ellipsis_lines AND alpha_words
                   AND stop_words THEN 1 ELSE 0 END) AS bigint) AS pass_all
           FROM flags)
         SELECT rule, n_pass, n_docs - n_pass AS n_fail FROM (
           SELECT n_docs, 'word_count' AS rule, word_count AS n_pass FROM agg
           UNION ALL SELECT n_docs, 'mean_word_len', mean_word_len FROM agg
           UNION ALL SELECT n_docs, 'symbol_ratio', symbol_ratio FROM agg
           UNION ALL SELECT n_docs, 'bullet_lines', bullet_lines FROM agg
           UNION ALL SELECT n_docs, 'ellipsis_lines', ellipsis_lines FROM agg
           UNION ALL SELECT n_docs, 'alpha_words', alpha_words FROM agg
           UNION ALL SELECT n_docs, 'stop_words', stop_words FROM agg
           UNION ALL SELECT n_docs, 'pass_all', pass_all FROM agg) u""",
    "char_entropy" ->
      // same per-position substr chars, same H = ln(n) − Σ c·ln(c)/n
      """WITH t AS (
           SELECT doc_id, coalesce(text, '') AS text FROM documents),
         p AS (
           SELECT doc_id, text,
             unnest(generate_series(1, length(text))) AS i
           FROM t WHERE length(text) > 0),
         c AS (
           SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch FROM p),
         cc AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
         sc AS (
           SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_chars,
             CAST(count(*) AS BIGINT) AS n_distinct,
             round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
           FROM cc GROUP BY 1)
         SELECT d.doc_id,
           coalesce(sc.n_chars, 0) AS n_chars,
           coalesce(sc.n_distinct, 0) AS n_distinct,
           sc.entropy,
           coalesce(sc.entropy >= 2.0, false) AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN sc USING (doc_id)""",
    "dsir_weights" ->
      // full DSIR replay: same tokenize, same md5-prefix buckets, same
      // add-1-over-the-bucket-space smoothing, round-the-SUM discipline
      raw"""WITH $dsirRatioCtes,
         sc AS (
           SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
             round(sum(n * logratio), 4) AS weight
           FROM hist JOIN ratio USING (b) GROUP BY 1)
         SELECT d.doc_id, coalesce(sc.n_feats, 0) AS n_feats, sc.weight,
           coalesce(sc.weight >= 0.0, false) AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN sc USING (doc_id)""",
    "dsir_mix_shift" ->
      // per-source census over the dsir_weights body
      raw"""WITH $dsirRatioCtes,
         $dsirWeightCte,
         w AS (
           SELECT d.doc_id, sc.weight,
             coalesce(sc.weight >= 0.0, false) AS keep
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN sc USING (doc_id))
         SELECT doc.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN w.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(sum(w.weight), 4) AS weight_sum
         FROM documents doc JOIN w ON doc.doc_id = w.doc_id
         GROUP BY 1""",
    "dsir_resample" ->
      // the dsir_weights body + the exact Gumbel-key replay: u from the
      // same md5-prefix arithmetic ((v + 0.5)/2^32 is exact binary, so u
      // is the identical double), key rounded at 4dp, doc_id tiebreak
      raw"""WITH $dsirRatioCtes,
         $dsirWeightCte,
         keyed AS (
           SELECT doc_id, weight,
             round(weight - ln(-ln(
               (('0x' || substr(md5('gum:' || doc_id), 1, 8))::BIGINT + 0.5)
                 / 4294967296.0)), 4) AS key
           FROM sc WHERE weight IS NOT NULL),
         top AS (
           SELECT doc_id, weight, key FROM keyed
           ORDER BY key DESC, doc_id LIMIT 200)
         SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
             AS rank,
           doc_id, weight, key
         FROM top""",
    "epoch_mix_plan" ->
      // same tokenize + weight rule; floor/round on doubles both sides
      """WITH t AS (
           SELECT source,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
             CASE WHEN length(source) = 4 THEN CAST(2.0 AS DOUBLE)
                  ELSE CAST(1.0 AS DOUBLE) END AS w
           FROM documents),
         p AS (
           SELECT source, CAST(sum(n_tokens) AS BIGINT) AS available_tokens,
             max(w) AS weight
           FROM t GROUP BY 1),
         z AS (SELECT sum(weight) AS z FROM p)
         SELECT source, available_tokens, weight,
           CAST(floor(100000000.0 * weight / z) AS BIGINT) AS target_tokens,
           round(CAST(floor(100000000.0 * weight / z) AS BIGINT)
             / available_tokens, 4) AS epochs
         FROM p CROSS JOIN z""",
    "epoch_shuffle" ->
      // same md5("ep:<epoch>:<id>") key: shard = 4-hex-prefix mod 8
      // (the hashSplit arithmetic), pos = rank within shard by (full
      // lowercase-hex key, id) — hex string order is byte order in both
      // engines
      """WITH t AS (
           SELECT doc_id, md5('ep:1:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents)
         SELECT
           CAST(('0x' || substr(k, 1, 4))::BIGINT % 8 AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY ('0x' || substr(k, 1, 4))::BIGINT % 8
             ORDER BY k, doc_id) AS INT) AS pos,
           doc_id
         FROM t""",
    "split_leakage" ->
      // same md5-prefix bucket arithmetic as dataset_split; duplicate
      // content groups + the distinct splits they span
      raw"""WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 5000000, text FROM documents WHERE doc_id < 5),
         s AS (
           SELECT doc_id, text,
             CASE WHEN $docMd5Prefix
                    % 100 < 80 THEN 'train'
                  WHEN $docMd5Prefix
                    % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM u),
         h AS (SELECT md5(text) AS content_hash, doc_id, split FROM s),
         agg AS (
           SELECT content_hash, CAST(count(*) AS BIGINT) AS n_docs
           FROM h GROUP BY 1),
         d AS (SELECT DISTINCT content_hash, split FROM h),
         spl AS (
           SELECT content_hash, CAST(count(*) AS BIGINT) AS n_splits,
             string_agg(split, ',' ORDER BY split) AS splits
           FROM d GROUP BY 1)
         SELECT agg.content_hash, agg.n_docs, spl.n_splits, spl.splits,
           spl.n_splits >= 2 AS leaked
         FROM agg JOIN spl USING (content_hash)
         WHERE agg.n_docs >= 2""",
    "curation_provenance" ->
      // the full-chain stage bodies (shared CTE prefix curationChainSql
      // — ONE source of truth with the funnel oracle), reassembled per
      // doc: left joins of the staged survivor sets with the
      // three-state not_reached-below-first-failure CASEs
      (curationChainSql + """
         SELECT d.doc_id,
           CASE WHEN u2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_url,
           CASE WHEN u2.doc_id IS NULL THEN 'not_reached'
                WHEN s1.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_linecut,
           CASE WHEN s1.doc_id IS NULL THEN 'not_reached'
                WHEN g2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_gopher,
           CASE WHEN g2.doc_id IS NULL THEN 'not_reached'
                WHEN t2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_toxicity,
           CASE WHEN t2.doc_id IS NULL THEN 'not_reached'
                WHEN l2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_lm,
           CASE WHEN l2.doc_id IS NULL THEN 'not_reached'
                WHEN c2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS is_canonical,
           CASE WHEN c2.doc_id IS NULL THEN 'not_reached'
                WHEN n2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_neardup,
           CASE WHEN n2.doc_id IS NULL THEN 'not_reached'
                WHEN sc2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS pass_scrub,
           CASE WHEN sc2.doc_id IS NULL THEN 'not_reached'
                WHEN k2.doc_id IS NOT NULL THEN 'pass'
                ELSE 'fail' END AS within_cap,
           CASE WHEN u2.doc_id IS NULL THEN 'url_rules'
                WHEN s1.doc_id IS NULL THEN 'line_cut'
                WHEN g2.doc_id IS NULL THEN 'gopher_rules'
                WHEN t2.doc_id IS NULL THEN 'toxicity'
                WHEN l2.doc_id IS NULL THEN 'lm_keep'
                WHEN c2.doc_id IS NULL THEN 'exact_dedup'
                WHEN n2.doc_id IS NULL THEN 'near_dup'
                WHEN sc2.doc_id IS NULL THEN 'span_scrub'
                WHEN k2.doc_id IS NULL THEN 'domain_cap'
                ELSE 'kept' END AS drop_stage,
           k2.doc_id IS NOT NULL AS keep
         FROM corpus d
         LEFT JOIN s0u u2 ON d.doc_id = u2.doc_id
         LEFT JOIN s1 ON d.doc_id = s1.doc_id
         LEFT JOIN sg g2 ON d.doc_id = g2.doc_id
         LEFT JOIN stx t2 ON d.doc_id = t2.doc_id
         LEFT JOIN sl l2 ON d.doc_id = l2.doc_id
         LEFT JOIN sd c2 ON d.doc_id = c2.doc_id
         LEFT JOIN snd n2 ON d.doc_id = n2.doc_id
         LEFT JOIN ssc sc2 ON d.doc_id = sc2.doc_id
         LEFT JOIN scap k2 ON d.doc_id = k2.doc_id"""),
    "curation_funnel" ->
      // the same shared stage-CTE prefix, aggregated to the census: one
      // count per stage frame + a lag window for n_dropped
      (curationChainSql + curationCensusSql),
    "curation_funnel_banded" ->
      // same chained replay as curation_funnel: the banded form's
      // exact-Jaccard verify makes the two candidate strategies agree on
      // this corpus (the one qualifying pair is at ~0.86, S-curve ~1)
      (curationChainSql + curationCensusSql),
    "lang_id" ->
      // same stopword-profile scores + lexicographic (score, lang) argmax
      // as TextOps.langId: struct comparison via list_max mirrors Spark's
      // greatest() over (score, lang) structs
      """WITH t AS (
           SELECT doc_id, text,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, [
             struct_pack(score := len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) * 1.0 / greatest(len(toks), 1), lang := 'de'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('the','a','of','and','to','is','in','that'))) * 1.0 / greatest(len(toks), 1), lang := 'en'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('el','la','los','y','es','una','que','en'))) * 1.0 / greatest(len(toks), 1), lang := 'es'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('le','la','les','et','est','une','que','dans'))) * 1.0 / greatest(len(toks), 1), lang := 'fr'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('的','是','了','在','我','有','他','这'))) * 1.0 / greatest(len(toks), 1)
               + least(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) * 1.0 / greatest(length(text), 1), 1.0), lang := 'zh')
           ] AS cand
           FROM t)
         SELECT doc_id, list_max(cand).lang AS detected_lang,
           round(list_max(cand).score, 4) AS lang_score
         FROM s""",
    "lang_id_trained" ->
      // FULL replay of the trained scorer: same normalization, same
      // code-point 1/2/3-gram enumeration, same md5-prefix 1024-bucket
      // hash, and the same 1e6-scaled INTEGER weights (interpolated from
      // the live model — training drift is pinned separately by the
      // hardcoded lang_id_model_check golden). Class scores are exact
      // Long sums, so no float-summation-order caveat anywhere; the
      // margin divides identical integers and rounds to 6dp. The
      // whitespace collapse spells Java's \s class out ([ \t\n\x0b\f\r])
      // because RE2's \s EXCLUDES vertical tab — with bare \s a \x0b doc
      // would word-split in Spark but control-strip-merge in DuckDB.
      raw"""WITH norm AS (
           SELECT doc_id,
             lower(trim(regexp_replace(regexp_replace(text,
               '[ \t\n\x0b\f\r]+', ' ', 'g'),
               '[\x00-\x1f]', '', 'g'))) AS nt
           FROM documents),
         g AS (
           SELECT doc_id, substr(nt, i, 1) AS t FROM
             (SELECT doc_id, nt, unnest(generate_series(1, length(nt))) AS i
              FROM norm WHERE length(nt) >= 1) u1
           UNION ALL
           SELECT doc_id, substr(nt, i, 2) FROM
             (SELECT doc_id, nt, unnest(generate_series(1, length(nt) - 1)) AS i
              FROM norm WHERE length(nt) >= 2) u2
           UNION ALL
           SELECT doc_id, substr(nt, i, 3) FROM
             (SELECT doc_id, nt, unnest(generate_series(1, length(nt) - 2)) AS i
              FROM norm WHERE length(nt) >= 3) u3),
         bkt AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) % 1024 AS b
           FROM g),
         wts AS (SELECT ${graft.operators.LangIdModel.duckdbWeightLists}),
         sc AS (
           SELECT n.doc_id, count(b.b) AS n_grams,
             CAST(coalesce(sum(w_de[b.b + 1]), 0) AS BIGINT) AS s_de,
             CAST(coalesce(sum(w_en[b.b + 1]), 0) AS BIGINT) AS s_en,
             CAST(coalesce(sum(w_es[b.b + 1]), 0) AS BIGINT) AS s_es,
             CAST(coalesce(sum(w_fr[b.b + 1]), 0) AS BIGINT) AS s_fr,
             CAST(coalesce(sum(w_und[b.b + 1]), 0) AS BIGINT) AS s_und,
             CAST(coalesce(sum(w_zh[b.b + 1]), 0) AS BIGINT) AS s_zh
           FROM norm n LEFT JOIN bkt b USING (doc_id) CROSS JOIN wts
           GROUP BY n.doc_id),
         rk AS (
           SELECT doc_id, lang, s,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY s DESC, lang ASC) AS r
           FROM (
             SELECT doc_id,
               unnest(['de','en','es','fr','und','zh']) AS lang,
               unnest([s_de, s_en, s_es, s_fr, s_und, s_zh]) AS s
             FROM sc) u),
         top2 AS (
           SELECT doc_id,
             max(CASE WHEN r = 1 THEN lang END) AS lang,
             max(CASE WHEN r = 1 THEN s END) AS s1,
             max(CASE WHEN r = 2 THEN s END) AS s2
           FROM rk GROUP BY doc_id)
         SELECT sc.doc_id, sc.n_grams, sc.s_de, sc.s_en, sc.s_es, sc.s_fr,
           sc.s_und, sc.s_zh, t.lang,
           round((t.s1 - t.s2) * 1.0
             / (nullif(sc.n_grams, 0) * 1000000.0), 6) AS margin,
           CASE WHEN sc.n_grams < 12
                  OR round((t.s1 - t.s2) * 1.0
                       / (nullif(sc.n_grams, 0) * 1000000.0), 6) < 0.05
                THEN 'und' ELSE t.lang END AS route
         FROM sc JOIN top2 t USING (doc_id)""",
    "lang_id_model_check" ->
      // golden model head (the quality_classifier_weights pattern):
      // per-class nonzero count, weight sum, position-weighted checksum
      // [GOLDEN @ seed corpus, buckets=1024, iters=2000, step=8.0,
      //  l2=0.0002 — re-derive on trainer change by dumping the Spark
      //  side of this query (LangIdModel.modelCheck) and repinning]
      """SELECT lang, CAST(n_nonzero AS BIGINT) AS n_nonzero,
           CAST(w_sum AS BIGINT) AS w_sum,
           CAST(checksum AS BIGINT) AS checksum
         FROM (VALUES
           ('de', 985, -71984456, 97700088),
           ('en', 985, -67767770, 309585736),
           ('es', 985, -65416106, 785791121),
           ('fr', 985, -83363086, 6253541),
           ('und', 985, 38953447, 811447497),
           ('zh', 985, 249577914, 989187456))
           t(lang, n_nonzero, w_sum, checksum)""",
    "text_normalize" ->
      """SELECT doc_id,
           md5(lower(trim(regexp_replace(regexp_replace(text, '\s+', ' ', 'g'),
                                         '[\x00-\x1f]', '', 'g')))) AS norm_hash,
           length(lower(trim(regexp_replace(regexp_replace(text, '\s+', ' ', 'g'),
                                            '[\x00-\x1f]', '', 'g')))) AS norm_chars
         FROM documents""",
    "dataset_split" ->
      // same md5-prefix bucket arithmetic as Sample.hashSplit: bucket in
      // [0,100), boundaries at 80/90
      raw"""SELECT
           CASE WHEN $docMd5Prefix
                  % 100 < 80 THEN 'train'
                WHEN $docMd5Prefix
                  % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000007) AS BIGINT) AS checksum
         FROM documents GROUP BY 1, 2""",
    "token_budget_sample" ->
      // same md5 draw order, same exclusive running sum, same budgets
      raw"""WITH $mixtureDocsCte,
         w AS (
           SELECT *, coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY ok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
             CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 800
                       WHEN 'fr' THEN 500 ELSE -1 END AS b
           FROM t)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM w WHERE b >= 0 AND bef < b GROUP BY lang""",
    "temperature_mixture" ->
      // budget derivation (per-lang token mass → sqrt flatten → floor
      // allocation) AND the md5-ordered exclusive-running-sum draw, both
      // replayed; sqrt is IEEE-correctly-rounded in both engines so the
      // budgets agree bit-for-bit
      raw"""WITH $mixtureDocsCte,
         m AS (SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS mass
               FROM t GROUP BY lang),
         wt AS (SELECT lang, sqrt(mass) AS w FROM m),
         -- z accumulated over a lang-ordered list, NOT a bare sum(w):
         -- the engine sums weights in sorted-stratum order, and a
         -- hash-aggregate-order fp sum could differ by an ulp — enough
         -- to flip a floor() budget at an exact boundary
         z AS (SELECT list_sum(list(w ORDER BY lang)) AS z FROM wt),
         b AS (SELECT lang, CAST(floor(6000 * w / z) AS BIGINT) AS budget
               FROM wt, z),
         w2 AS (
           SELECT t.*, b.budget,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY t.lang ORDER BY ok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
           FROM t JOIN b ON t.lang = b.lang)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens, budget
         FROM w2 WHERE bef < budget GROUP BY lang, budget""",
    "corpus_pipeline" ->
      // full-chain replay: same planted unions (exact copies +1e6,
      // jittered copies +2e6, model-bad translate-generated docs +3e6),
      // same NFC+regex normalize chain, same min-id dedup rule, same
      // three keep-rules AND the composed pinned-weight model filter,
      // same prefix-blocked
      // 3-shingle Jaccard near-dup drop (keep-first), same stride-1
      // 8-token span scrub (>=2 occurrences corpus-wide, covered
      // positions cut, emptied docs dropped), same chunk boundaries as
      // the chunk_docs oracle. packed_tokens is the one column the
      // oracle CANNOT take from graft's packer — it recomputes the
      // chunk-stage token sum analytically over the scrubbed survivors,
      // so the equality IS the conservation proof, and the scrub ledger
      // (tokens_before − tokens_removed entering chunking) pins the two
      // new stage edges.
      raw"""WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id BETWEEN 20 AND 39
               THEN text || ' common license boilerplate notice follows' ||
                    ' terms apply everywhere always more'
               ELSE text END AS text
           FROM documents),
         mb AS (
           SELECT CAST(3000000 + k AS BIGINT) AS doc_id,
             string_agg('qz' || translate(lpad(CAST(k * 100 + i AS VARCHAR),
               8, '0'), '0123456789', 'abcdefghij'), ' ' ORDER BY i) AS text
           FROM range(0, 20) a(k) CROSS JOIN range(0, 40) b(i)
           GROUP BY k),
         src AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 1000000, text FROM base WHERE doc_id < 10
           UNION ALL
           SELECT doc_id + 2000000, text || ' nearline jitter marker pad'
           FROM base WHERE doc_id >= 10 AND doc_id < 20
           UNION ALL
           SELECT doc_id, text FROM mb),
         ${normDedCtes("src")},
         kept AS (
           SELECT doc_id, t FROM ded
           WHERE rn = 1
             AND length(t) >= 100
             AND length(regexp_replace(t, '[^0-9]', '', 'g')) * 1.0
                 / greatest(length(t), 1) <= 0.2
             AND length(regexp_replace(t, '\s+', '', 'g')) * 1.0
                 / greatest(len(string_split_regex(trim(t), '\s+')), 1)
                 BETWEEN 3 AND 12
             -- composed model filter: the pinned quality_classifier
             -- weights applied to the normalized text (same 4dp feature
             -- forms, same left-associated multiply-add)
             AND round(6.423447
               + 2.151676 * round(least(len(string_split_regex(trim(t),
                   '\s+')) / 100.0, 1.0), 4)
               + 1.776349 * round(len(list_filter(string_split_regex(trim(t),
                     '\s+'), x -> x = 'the' OR x = 'a' OR x = 'of'
                     OR x = 'and' OR x = 'to' OR x = 'in')) * 1.0
                 / len(string_split_regex(trim(t), '\s+')), 4)
               + (-10.556339) * round(least(length(regexp_replace(t, '\s+',
                   '', 'g')) * 1.0
                 / len(string_split_regex(trim(t), '\s+')) / 10.0, 1.0), 4)
               + 0.0 * round(length(regexp_replace(t, '[A-Za-z0-9\s]', '',
                   'g')) * 1.0 / greatest(length(t), 1), 4), 4) > 0),
         ksh AS (
           SELECT doc_id, t, toks,
             array_to_string(toks[1:2], ' ') AS blk,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 3, 0) + 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, t,
                   string_split_regex(trim(t), '\s+') AS toks FROM kept)),
         $nearDupLosersCte,
         nd AS (
           SELECT doc_id, t, toks FROM ksh
           WHERE doc_id NOT IN (SELECT doc_id FROM nd_losers)),
         ${scrubCoverCtes("nd")},
         scrub AS (
           SELECT x.doc_id, string_agg(x.tok, ' ' ORDER BY x.p) AS t
           FROM post x LEFT JOIN covered cv
             ON cv.doc_id = x.doc_id AND cv.p = x.p
           WHERE cv.p IS NULL
           GROUP BY x.doc_id),
         c AS (
           SELECT doc_id, toks,
             CAST(unnest(generate_series(1, greatest(len(toks) - 8, 1), 24))
               AS INT) AS st
           FROM (SELECT doc_id, string_split_regex(trim(t), '\s+') AS toks
                 FROM scrub)),
         ch AS (SELECT len(toks[st:st+31])::BIGINT AS n FROM c)
         SELECT
           (SELECT count(*) FROM src) AS docs_in,
           (SELECT count(*) FROM ded WHERE rn = 1) AS docs_unique,
           (SELECT count(*) FROM kept) AS docs_kept,
           (SELECT count(*) FROM nd) AS docs_after_neardup,
           (SELECT CAST(sum(len(toks)) AS BIGINT) FROM nd)
             AS tokens_before_scrub,
           (SELECT CAST(count(*) AS BIGINT) FROM covered)
             AS tokens_removed_scrub,
           (SELECT count(*) FROM scrub) AS docs_after_scrub,
           count(*) AS n_chunks,
           CAST(sum(n) AS BIGINT) AS packed_tokens,
           TRUE AS budget_ok
         FROM ch""",
    "compression_ratio" ->
      // [GOLDEN @ gate corpus: sf0.01, Deflater level 6, JDK zlib —
      // re-derive on SF/JDK change by dumping the Spark side] DuckDB
      // has no deflate; the planted brackets read as designed: xxrep
      // 0.0267 << the prose band (0.48-0.51) < xxhex 0.5663
      """SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(raw_bytes AS BIGINT) AS raw_bytes,
           CAST(deflate_bytes AS BIGINT) AS deflate_bytes, ratio4
         FROM (VALUES
           ('de', 70, 19525, 9968, 0.5105),
           ('en', 218, 64437, 32209, 0.4999),
           ('es', 73, 21756, 10854, 0.4989),
           ('fr', 64, 20623, 9994, 0.4846),
           ('xxhex', 1, 1319, 747, 0.5663),
           ('xxrep', 1, 749, 20, 0.0267),
           ('zh', 75, 22833, 11324, 0.4959))
           t(lang, n_docs, raw_bytes, deflate_bytes, ratio4)""",
    "corpus_pipeline_linecut" ->
      // conservation replay with the line tier up front: the line-cut
      // CTEs are the line_dedup oracle verbatim (split on \n, the three
      // explicit-class normalization regexes, count >= 2 cut), and the
      // cleaned texts feed the same normalize → min-id dedup → 3-rule
      // filter → analytic chunk-sum chain as the corpus_pipeline oracle
      // (near-dup/scrub off, so the neardup/scrub ledger columns read
      // pass-through: docs_after_neardup = docs_kept, removed = 0)
      raw"""WITH corpus AS (
           SELECT doc_id,
             CASE WHEN doc_id BETWEEN 40 AND 59
               THEN 'Subscribe to our newsletter today!' || chr(10) || text
               ELSE text END AS text
           FROM documents
           UNION ALL
           SELECT CAST(4000000 + i AS BIGINT),
             'Subscribe to our newsletter today!'
           FROM range(0, 5) t(i)),
         lc_lines AS (
           SELECT doc_id, generate_subscripts(ls, 1) AS idx,
             unnest(ls) AS line
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
                 FROM corpus) u),
         lc_normed AS (
           SELECT doc_id, idx, line,
             trim(regexp_replace(regexp_replace(regexp_replace(lower(line),
               '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'), ' +', ' ', 'g'))
               AS lnorm
           FROM lc_lines),
         lc_rep AS (
           SELECT lnorm FROM lc_normed WHERE lnorm <> ''
           GROUP BY lnorm HAVING count(*) >= 2),
         src AS (
           SELECT n.doc_id,
             coalesce(string_agg(CASE WHEN r.lnorm IS NULL THEN n.line END,
               chr(10) ORDER BY n.idx), '') AS text
           FROM lc_normed n LEFT JOIN lc_rep r ON n.lnorm = r.lnorm
           GROUP BY n.doc_id),
         ${normDedCtes("src")},
         $keptCte,
         ktoks AS (
           SELECT doc_id, string_split_regex(trim(t), '\s+') AS toks
           FROM kept),
         c AS (
           SELECT doc_id, toks,
             CAST(unnest(generate_series(1, greatest(len(toks) - 8, 1), 24))
               AS INT) AS st
           FROM ktoks),
         ch AS (SELECT len(toks[st:st+31])::BIGINT AS n FROM c)
         SELECT
           (SELECT count(*) FROM src) AS docs_in,
           (SELECT count(*) FROM ded WHERE rn = 1) AS docs_unique,
           (SELECT count(*) FROM kept) AS docs_kept,
           (SELECT count(*) FROM kept) AS docs_after_neardup,
           (SELECT CAST(sum(len(toks)) AS BIGINT) FROM ktoks)
             AS tokens_before_scrub,
           CAST(0 AS BIGINT) AS tokens_removed_scrub,
           (SELECT count(*) FROM kept) AS docs_after_scrub,
           count(*) AS n_chunks,
           CAST(sum(n) AS BIGINT) AS packed_tokens,
           TRUE AS budget_ok
         FROM ch""",
    "corpus_pipeline_banded" ->
      // GOLDEN row: the banded (MinHash LSH) near-dup strategy has no
      // DuckDB mirror (hash-derived band buckets), but every stage is
      // deterministic (fixed xxhash64 seeds), so the whole summary row
      // pins to literals — derived once via `Harness rows` at sf0.01 and equal,
      // column for column, to the exact-form corpus_pipeline row above:
      // on this corpus the planted jittered copies are the only >=0.6
      // pairs and they sit at Jaccard ~0.95, where 8x4 banding recall
      // is ~1, so BOTH strategies must drop exactly the same 31 docs.
      // (final r10: +20 docs_in/docs_unique for the planted model-bad
      // docs the composed classifier filter must drop before near-dup —
      // kept and every downstream count unchanged.)
      """SELECT 540::BIGINT AS docs_in, 530::BIGINT AS docs_unique,
           473::BIGINT AS docs_kept, 442::BIGINT AS docs_after_neardup,
           25625::BIGINT AS tokens_before_scrub,
           208::BIGINT AS tokens_removed_scrub,
           442::BIGINT AS docs_after_scrub, 1123::BIGINT AS n_chunks,
           30865::BIGINT AS packed_tokens, TRUE AS budget_ok""",
    "contamination_check" ->
      // full replay over shingle STRINGS (the hash is injective up to
      // negligible collisions, so intersection counts agree) — same
      // 8-gram derivation as graft's, same probe-sentence concat
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id < 5 OR (doc_id BETWEEN 10 AND 12)
               THEN text || ' the quick brown contamination probe sentence' ||
                 ' lurks verbatim inside selected training documents'
             ELSE text END AS text
           FROM documents),
         t AS (SELECT doc_id,
                 string_split_regex(trim(text), '\s+') AS toks FROM base),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(toks) - 8, 0) + 2),
             i -> array_to_string(toks[i:i+7], ' '))) AS gr
           FROM t),
         bench AS (
           SELECT list_distinct(flatten(list(gr))) AS bg FROM sh WHERE doc_id < 5)
         SELECT doc_id, len(gr)::BIGINT AS n_grams,
           len(list_intersect(gr, bg))::BIGINT AS n_contaminated,
           len(list_intersect(gr, bg)) > 0 AS contaminated
         FROM sh CROSS JOIN bench WHERE doc_id >= 5""",
    "html_extract" ->
      // the same page-template concat, the same removal chain — subtree
      // drops (comment/script/style/title, inline (?is) flags so RE2 and
      // Java agree), block closers → newline, tag strip → space, entity
      // decode with &amp; LAST (the &amp;lt; trap must yield literal
      // '&lt;'), whitespace normalization. Full extracted TEXT compared,
      // not a hash
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id < 10 THEN
               '<!DOCTYPE html><html><head><title>Skip Me</title>' ||
               '<style>body { color: #fff; }</style>' ||
               '<script type="text/javascript">var x = 1 < 2; ' ||
               'var s = "sneaky</div>"; track();</script></head>' ||
               '<body><div class="nav"><ul><li>Home</li><li>About</li></ul>' ||
               '</div><h1>Entry &amp; Report &#39;notes&#39;</h1><p>' ||
               text ||
               '</p><p>1 &lt; 2 &gt; 0&nbsp;&quot;quoted&quot; &amp;lt;keep' ||
               '&gt;</p><!-- hidden --><br/>footer</body></html>'
             ELSE text END AS html
           FROM documents),
         sub AS (
           SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
               '(?s)<!--.*?-->', '', 'g'),
               '(?is)<script\b[^>]*>.*?</script>', '', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', '', 'g'),
               '(?is)<title\b[^>]*>.*?</title>', '', 'g') AS s
           FROM t),
         untag AS (
           SELECT doc_id, html,
             regexp_replace(regexp_replace(s,
               '(?i)</(p|div|h[1-6]|li|ul|ol|tr|table|blockquote)>|<br\b[^>]*>',
               chr(10), 'g'),
               '(?s)<[^>]*>', ' ', 'g') AS s
           FROM sub),
         dec AS (
           SELECT doc_id, html,
             replace(replace(replace(replace(replace(replace(s,
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS s
           FROM untag),
         fin AS (
           SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(s,
               '[ \t\x0B\f\r]+', ' ', 'g'),
               ' *\n[ \n]*', chr(10), 'g'),
               '^[ \n]+|[ \n]+$', '', 'g') AS text
           FROM dec)
         SELECT doc_id, text,
           len(regexp_extract_all(html, '<[^>]*>'))::BIGINT AS n_tags,
           length(text)::BIGINT AS n_chars
         FROM fin""",
    "pii_scrub" ->
      // same synthesized-PII concat, same 4-pattern mask chain (RE2 vs
      // Java regex — patterns chosen to agree), counts on the pre-scrub
      // text
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id < 5 THEN text ||
               ' Contact jo.doe+x@mail.example.org or +1 (555) 123-4567;' ||
               ' host 10.0.42.7; card 4111 1111 1111 1111.'
             ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b', '<CARD>', 'g'),
             '\+\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{2,4}', '<PHONE>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS scrub_hash,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
           len(regexp_extract_all(text,
             '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b'))::BIGINT AS n_card,
           len(regexp_extract_all(text,
             '\+\d{1,3}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{2,4}'))::BIGINT AS n_phone,
           len(regexp_extract_all(text,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4
         FROM t""",
    "repetition_stats" ->
      // same line/token/2-gram derivations; top-gram mass via unnest +
      // group-by max instead of the sorted-run fold — same number
      """WITH t AS (
           SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
               l -> trim(l)), l -> l <> '') AS lines,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, lines,
             list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1]) AS grams
           FROM t),
         top AS (
           SELECT doc_id, max(c) AS topc FROM (
             SELECT doc_id, gm, count(*) AS c
             FROM (SELECT doc_id, unnest(grams) AS gm FROM g)
             GROUP BY 1, 2)
           GROUP BY 1)
         SELECT g.doc_id,
           len(lines)::BIGINT AS n_lines,
           round(CASE WHEN len(lines) > 0
             THEN (len(lines) - len(list_distinct(lines))) * 1.0 / len(lines)
             ELSE 0 END, 4) AS dup_line_ratio,
           len(grams)::BIGINT AS n_2grams,
           round(CASE WHEN len(grams) > 0
             THEN coalesce(top.topc, 0) * 1.0 / len(grams)
             ELSE 0 END, 4) AS top_2gram_ratio
         FROM g LEFT JOIN top USING (doc_id)""",
    "nfc_normalize" ->
      // ICU (DuckDB) vs JDK (UnicodeNorm) NFC on the same code points —
      // composition cases, the ASCII fast path, and the NFC-invariant
      // U+FB03 ligature negative control
      """WITH t(id, s) AS (VALUES
           (1, 'e' || chr(769)),
           (2, 'n' || chr(771) || 'o'),
           (3, chr(8491)),
           (4, chr(4352) || chr(4449) || chr(4523)),
           (5, 'plain ascii text.'),
           (6, chr(64259)))
         SELECT id, nfc_normalize(s) AS nfc, length(s) AS len_raw,
           length(nfc_normalize(s)) AS len_nfc
         FROM t""",
    "doc_filter_stats" ->
      """WITH t AS (
           SELECT text,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
             length(regexp_replace(text, '\s+', '', 'g')) * 1.0
               / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS mean_wl
           FROM documents)
         SELECT count(*) AS total_records,
           count(CASE WHEN coalesce(n_chars >= 100, FALSE)
                       AND coalesce(n_digits * 1.0 / greatest(n_chars, 1) <= 0.2, FALSE)
                       AND coalesce(regexp_matches(text, '[.!?]\s*$'), FALSE)
                       AND coalesce(mean_wl >= 3 AND mean_wl <= 12, FALSE)
                      THEN 1 END) AS valid_records,
           count(CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 1 END) AS too_short_cnt,
           count(CASE WHEN NOT coalesce(n_digits * 1.0 / greatest(n_chars, 1) <= 0.2, FALSE)
                      THEN 1 END) AS digit_heavy_cnt,
           count(CASE WHEN NOT coalesce(regexp_matches(text, '[.!?]\s*$'), FALSE)
                      THEN 1 END) AS no_terminal_punct_cnt,
           count(CASE WHEN NOT coalesce(mean_wl >= 3 AND mean_wl <= 12, FALSE)
                      THEN 1 END) AS word_len_outlier_cnt
         FROM t"""
  )
}
