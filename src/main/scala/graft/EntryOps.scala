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


  /** Corpus for the ANN recall gates: the embeddings table plus three
    * deterministically-jittered near-copies of each query vector (ids
    * q+1M/q+2M/q+3M, per-component hash noise ±0.005) — planted true
    * neighbors the ANN tiers must recover. Returns (corpus, queries). */
  /** The full batch rebuild over corpus version 2, replayed end-to-end
    * in DuckDB (normalize chain, min-id dedup, three keep rules, chunk
    * boundaries, md5 doc-sharding, the greedy packer as a recursive
    * CTE) — the oracle BOTH incremental gates must equal: the repack
    * frame (`incremental_pipeline`) and the refreshed lake tree
    * (`incremental_sink`). */
  /** The batch spanScrub replayed over scrub corpus version 2 in DuckDB
    * — the oracle BOTH scrub refresh gates must equal: the frame form
    * (`incremental_scrub`) and the streamed four-lake form
    * (`stream_scrub`). */
  private[graft] val oracleSqlScrubBatch: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
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
         winstr AS (
           SELECT doc_id, n, st, array_to_string(toks[st:st+7], ' ') AS wstr
           FROM (SELECT doc_id, toks, len(toks) AS n,
                   CAST(unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                     AS INT) AS st
                 FROM t)),
         rep AS (SELECT wstr FROM winstr GROUP BY wstr HAVING count(*) >= 2),
         repst AS (
           SELECT doc_id, st, least(st + 7, n) AS en
           FROM winstr WHERE wstr IN (SELECT wstr FROM rep)),
         post AS (
           SELECT doc_id, p, toks[p] AS tok
           FROM (SELECT doc_id, toks,
                   CAST(unnest(generate_series(1, len(toks))) AS INT) AS p
                 FROM t)),
         covered AS (
           SELECT DISTINCT x.doc_id, x.p FROM post x JOIN repst r
             ON r.doc_id = x.doc_id AND x.p BETWEEN r.st AND r.en),
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

  private[graft] val incrRebuildSql: String =
    """WITH RECURSIVE
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
         norm AS (
           SELECT doc_id,
             lower(trim(regexp_replace(regexp_replace(nfc_normalize(text),
               '\s+', ' ', 'g'), '[\x00-\x1f]', '', 'g'))) AS t
           FROM curr),
         ded AS (
           SELECT doc_id, t,
             row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
           FROM norm),
         kept AS (
           SELECT doc_id, t FROM ded
           WHERE rn = 1
             AND length(t) >= 100
             AND length(regexp_replace(t, '[^0-9]', '', 'g')) * 1.0
                 / greatest(length(t), 1) <= 0.2
             AND length(regexp_replace(t, '\s+', '', 'g')) * 1.0
                 / greatest(len(string_split_regex(trim(t), '\s+')), 1)
                 BETWEEN 3 AND 12),
         c AS (
           SELECT doc_id, toks,
             CAST(unnest(generate_series(1, greatest(len(toks) - 8, 1), 24))
               AS INT) AS st
           FROM (SELECT doc_id, string_split_regex(trim(t), '\s+') AS toks
                 FROM kept)),
         ch AS (
           SELECT doc_id * 1000000 + CAST((st - 1) / 24 AS INT) AS chunk_key,
             len(toks[st:st+31])::BIGINT AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 64
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
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
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
