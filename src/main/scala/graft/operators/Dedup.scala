package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: the reference pipeline's keyed upsert
  * (base_assets.py:207 `ON CONFLICT (event_id_cnty) DO UPDATE` — latest
  * write wins) plus the large-scale training-data dedup family (exact,
  * MinHash-LSH, SimHash) built for 100 TB corpora.
  *
  * Scale shape: every variant reduces to hash-partitioned groupBy/window on
  * a derived key — no cross joins. Near-dup candidate generation goes
  * through LSH band buckets so the pair space is |bucket|², not |corpus|².
  */
object Dedup {

  /** Intermediate frames persisted by the operators below (each returns a
    * LAZY frame, so the operator itself cannot unpersist — its consumer
    * has not run yet; contrast connectedComponents, which materializes
    * internally and releases its own caches). A long-lived session that
    * invokes these operators repeatedly should call
    * [[unpersistIntermediates]] once the results are consumed; otherwise
    * the cached projections accumulate until LRU eviction. */
  private val persistedIntermediates =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  private[graft] def persistTracked(df: DataFrame): DataFrame =
    persistTracked(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private[graft] def persistTracked(
      df: DataFrame, level: org.apache.spark.storage.StorageLevel): DataFrame = {
    val p = df.persist(level)
    persistedIntermediates.add(p)
    p
  }

  /** Spread a per-row CPU-bound kernel's input across the cluster before
    * the kernel (guide §2.5: repartition immediately after a read whose
    * byte-derived splits under-provision a compute-bound stage). A small
    * corpus sits in one parquet row group, so its scan yields a single
    * non-empty split and the whole kernel map serializes on one task at
    * ANY core count; at lake scale the same move neutralizes input skew
    * (one unsplittable file, one hot ingest day). Hash-partitioned on the
    * id: deterministic under task retries and uniform for unique ids.
    *
    * MEASURED ONLY WORTH IT FOR HEAVY KERNELS (~1 ms+/row): the PNG/GIF
    * render+decode paths win 3-4× (multimodal_video 4.4 → 1.1 s quiet
    * A/B at sf0.1/32c). For cheap per-row work the added exchange + AQE
    * stage LOSES — quiet A/Bs: tokenize/shingle+minhash (minhash_dedup
    * 0.91 → 1.51 s), simhash vote (0.91 → 1.41), n-gram explode
    * (ngram_lm_kn 4.2 → 5.4), WAV PCM render (multimodal_audio
    * 0.67 → 1.11), TF-IDF explode (doc_embed 0.94 → 1.07) — all
    * REJECTED. Don't reach for this without measuring the kernel. */
  private[graft] def spreadForCompute(df: DataFrame, idCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))

  /** Release every intermediate frame persisted by dedup operators since
    * the last call (non-blocking unpersist; safe while jobs run — Spark
    * recomputes evicted blocks from lineage). */
  def unpersistIntermediates(): Unit = {
    var d = persistedIntermediates.poll()
    while (d != null) { d.unpersist(false); d = persistedIntermediates.poll() }
  }

  /** Latest-wins upsert semantics as a batch operator: one row per key,
    * ordered by recency with a total-order tie-break (deterministic under
    * ties, unlike bare dropDuplicates). Single hash shuffle on the key. */
  def latestWins(df: DataFrame, keys: Seq[String], orderCol: String,
                 tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact content dedup by hash: keep the lowest-id row per distinct
    * content hash. groupBy on the 128-bit hash, not the payload, so the
    * shuffle carries 16-byte keys instead of documents. */
  def exactByHash(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Normalization under which two lines count as "the same line" for
    * [[lineDedup]] (CCNet's hash normalization, Wenzek et al. 2020 §3:
    * case, digits, and punctuation are cosmetic for boilerplate
    * detection): lowercase, strip everything outside [a-z0-9 ], collapse
    * digit runs to a single 0, collapse/trim spaces. Explicit character
    * classes only — identical under Java regex and RE2, so a DuckDB
    * replay is byte-exact. */
  def lineNorm(line: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(lower(line),
      "[^a-z0-9 ]", ""), "[0-9]+", "0"), " +", " "))

  /** CCNet-style per-LINE exact dedup (Wenzek et al. 2020 §3) — the cheap
    * tier below [[spanScrub]]'s windowed passages that CommonCrawl
    * pipelines run first: count every normalized line across the corpus
    * and CUT every occurrence of a line whose count reaches `minCount`
    * (order-free and deterministic, unlike CCNet's first-seen-wins hash
    * set — all copies of boilerplate are boilerplate). Lines whose
    * normalization is EMPTY (blank/pure punctuation) never participate:
    * they carry no dedup signal, and exempting them keeps the count
    * aggregate free of the one degenerate mega-group every real corpus
    * has (the blank line) — the hot-key guard this operator needs at
    * 100 TB.
    *
    * Returns the per-doc ledger `(id, n_lines, n_cut, cleaned_text)` with
    * `cleaned_text` the kept lines re-joined by \n in original order
    * ("" when everything was boilerplate — callers drop or quarantine).
    * Scale shape: one explode + map-side-combined count on the skinny
    * normalized-line key, one join of lines against the repeated-line
    * set (aggregated and usually broadcastable; under a sort-merge fall
    * back AQE's skew split handles the residual hot lines), one per-doc
    * re-assembly bounded by document size. No driver-side state. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minCount: Long = 2L): DataFrame = {
    val lines = explodedLines(docs, idCol, textCol)
    val repeated = lines
      .filter(col("__norm") =!= "")
      .groupBy("__norm").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("__norm"))
    cutLines(lines, repeated)
  }

  /** Distinct non-empty normalized lines of a reference corpus — the
    * "lines we already have" index the SERVING form of line dedup cuts
    * against ([[lineDedupAgainst]]; built once per corpus snapshot, the
    * novelty-index economics). Skinny one-column frame. */
  def lineIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    explodedLines(docs, idCol, textCol)
      .filter(col("__norm") =!= "")
      .select(col("__norm")).distinct()

  /** Cut every line whose normalization is IN `index` (a `__norm`-column
    * frame from [[lineIndex]]) — the crawler-ingest semantics: a line the
    * corpus already contains is never ingested twice. Verdicts are
    * per-line functions of (line, index) only, so the output is
    * independent of how the docs are batched — the property the streaming
    * gate pins. */
  def lineDedupAgainst(docs: DataFrame, idCol: String, textCol: String,
                       index: DataFrame): DataFrame =
    // distinct is load-bearing, not hygiene: a caller-supplied index with
    // duplicate norms would MULTIPLY line rows through the left join and
    // corrupt every ledger count (lineIndex is already distinct; this is
    // a no-op there and a correctness guard everywhere else)
    cutLines(explodedLines(docs, idCol, textCol),
      index.select(col("__norm")).filter(col("__norm") =!= "").distinct())

  private def explodedLines(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs
      // NULL text normalizes to '' (GopherRules convention): split(null)
      // explodes to ZERO rows, which would silently drop the doc from the
      // ledger — null docs must surface as (n_lines=1, cleaned_text="")
      // so downstream quarantine sees them rather than losing them.
      .select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("idx", "line")))
      .withColumn("__norm", lineNorm(col("line")))

  private def cutLines(lines: DataFrame, repeatedNorms: DataFrame): DataFrame =
    lines.join(repeatedNorms.withColumn("__dup", lit(true)), Seq("__norm"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_cut"),
        array_join(
          transform(
            filter(
              sort_array(collect_list(struct(col("idx"), col("line"),
                coalesce(col("__dup"), lit(false)).as("dup")))),
              x => !x.getField("dup")),
            x => x.getField("line")),
          "\n").as("cleaned_text"))

  // ---------------------------------------------------------------------
  // MinHash + LSH near-duplicate detection (shingle → minhash signature →
  // band buckets → in-bucket candidate pairs → exact Jaccard verify).
  // All built-in higher-order functions — fully codegen-friendly, no UDFs.
  // ---------------------------------------------------------------------

  /** 31-bit Mersenne prime hash domain: with h, a, b < 2^31 the affine
    * step a*h + b stays under 2^62 — no long overflow under ANSI mode. */
  private val P31 = 2147483647L

  /** Deterministic per-permutation coefficients (seeded LCG — avoids any
    * runtime randomness so signatures are reproducible across runs). */
  private def perm(seed: Long, n: Int): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x & Long.MaxValue }
    Seq.fill(n)((next() % (P31 - 1) + 1, next() % P31))
  }

  /** Word-level w-shingles as a deduped array column. */
  def shingles(textCol: Column, w: Int): Column = {
    val tokens = split(trim(textCol), "\\s+")
    val ngrams = transform(
      sequence(lit(0), greatest(size(tokens) - w, lit(0))),
      i => concat_ws(" ", slice(tokens, i + 1, lit(w))))
    array_distinct(ngrams)
  }

  /** Hash a shingle array to its 31-bit hash array (the compact form every
    * downstream MinHash step works on — long arrays shuffle and compare
    * far cheaper than the shingle strings, and Jaccard over hashes equals
    * Jaccard over shingles up to negligible collision odds). */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => pmod(xxhash64(s), lit(P31)))

  /** k-permutation MinHash signature over a pre-hashed shingle array,
    * computed in ONE aggregate pass: each hash folds into a k-element
    * running-minimum accumulator (zip_with over a literal (a,b)
    * coefficient-pair array). The naive form — k independent
    * array_min(transform(...)) expressions — re-hashes every shingle k
    * times unless subexpression elimination happens to fire; this shape
    * doesn't rely on it. Linear in k·|shingles|, no shuffle. */
  def minhashSignatureFromHashes(hashCol: Column, k: Int, seed: Long = 42L): Column = {
    val abLit = typedLit(perm(seed, k).map { case (a, b) => (a, b) })
    aggregate(
      hashCol,
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, abLit,
        (m, p) => least(m, pmod(h * p.getField("_1") + p.getField("_2"), lit(P31)))))
  }

  /** MinHash signature straight from the shingle strings. */
  def minhashSignature(shingleCol: Column, k: Int, seed: Long = 42L): Column =
    minhashSignatureFromHashes(shingleHashes(shingleCol), k, seed)

  /** Candidate near-dup pairs via LSH banding: signature split into
    * `bands` bands of `rows` hashes; docs sharing any band hash become
    * candidates. The self-join is on (band_index, band_hash) — a hash
    * shuffle join whose key cardinality grows with the corpus, never a
    * cross join. Pairs are then verified with exact Jaccard over shingles.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * `maxBucket` caps band-bucket size (skew guard for boilerplate
    * clusters); pass Int.MaxValue to disable. See the inline comment.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleWidth: Int = 3, bands: Int = 8, rows: Int = 4,
                      threshold: Double = 0.7,
                      maxBucket: Int = 100000): DataFrame = {
    // (id, hashed shingles): the one pass over the raw text, via the native
    // TextHash expression. Persisted because the plan reuses it three times
    // (signature + both verify legs) — recomputing tokenization 3× over a
    // 100 TB corpus costs more than materializing the compact
    // (id, array<long>) projection.
    val base = df
      .select(col(idCol).as("id"),
        graft.functions.TextHash.shingleHashesCol(col(textCol), shingleWidth).as("shh"))
      .filter(size(col("shh")) > 0)
      .transform(persistTracked)
    // The band join shuffles (band, band_hash, id) ONLY — never the shingle
    // arrays; at corpus scale that is ~16 bytes/row/band through the
    // exchange instead of the full token content on both sides.
    val banded = bandedFrame(base, bands, rows)
    // Hot-bucket guard: a band bucket with B members emits B² candidate
    // rows from the self-join below — at corpus scale one boilerplate
    // cluster (empty docs, template pages) can dominate the entire stage.
    // Buckets over `maxBucket` are dropped from CANDIDATE GENERATION only:
    // their members still pair through their other bands (true near-dups
    // agree on several bands with high probability), so recall degrades
    // gracefully instead of the stage dying with a 10^12-row join. Bucket
    // sizes come from a count window over the SAME (band, band_hash)
    // partitioning the self-join shuffles on — the window rides the
    // join's own exchange, so the guard costs a per-partition count, not
    // an extra aggregate + join.
    val pruned =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
        .filter(col("__n") <= maxBucket).drop("__n")
    val a = pruned.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = pruned.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // Hashed-shingle re-join for the surviving candidate pairs only (a tiny
    // fraction of the corpus) to compute the exact Jaccard verify.
    cand
      .join(base.select(col("id").as("id_a"), col("shh").as("shh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("shh").as("shh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("shh_a"), col("shh_b"))))
      .withColumn("uni", size(array_union(col("shh_a"), col("shh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Banding step shared by the near-dup join and its guard telemetry:
    * MinHash signature → per-band hashes → one (id, band, band_hash) row
    * per band. `base` is the persisted (id, hashed-shingles) projection. */
  private def bandedFrame(base: DataFrame, bands: Int, rows: Int): DataFrame = {
    val withSig = base.select(col("id"),
      graft.functions.TextHash.minhashSigCol(col("shh"), bands * rows).as("sig"))
    val bandHashes = (0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, rows)), lit(b)))
    withSig.select(col("id"), posexplode(array(bandHashes: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** Hot-bucket guard telemetry for [[minhashNearDups]]: ONE row counting
    * the band buckets over `maxBucket` and the banded rows they drop from
    * candidate generation (as an absolute count and as a fraction of all
    * banded rows). The guard trades those rows for a bounded join — this
    * is the observability half of that trade: a pipeline pins these
    * numbers per corpus, and a drop-fraction step change flags a new
    * boilerplate flood BEFORE recall quietly sags. Cost: the same banding
    * projection as the join plus one two-level aggregate on (band,
    * band_hash) — map-side partial agg, no self-join, runs fine at any
    * corpus size. */
  def minhashGuardStats(df: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int = 3, bands: Int = 8, rows: Int = 4,
                        maxBucket: Int = 100000): DataFrame = {
    val base = df
      .select(col(idCol).as("id"),
        graft.functions.TextHash.shingleHashesCol(col(textCol), shingleWidth).as("shh"))
      .filter(size(col("shh")) > 0)
    bandedFrame(base, bands, rows)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("__n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("__n")).as("banded_rows"),
        sum(when(col("__n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("buckets_capped"),
        sum(when(col("__n") > maxBucket, col("__n")).otherwise(lit(0L)))
          .as("rows_dropped"))
      .select(col("n_buckets"), col("banded_rows"), col("buckets_capped"),
        col("rows_dropped"),
        // zero guard: an empty corpus (or all-zero-shingle docs) reports
        // 0.0, not null — monitoring thresholds compare numerically
        round(when(col("banded_rows") > 0,
          col("rows_dropped").cast("double") / col("banded_rows"))
          .otherwise(lit(0.0)), 6).as("drop_fraction"))
  }

  /** Repeated-SPAN detection at arbitrary alignment — the stride-1
    * companion to [[paraDedup]] (which windows at stride w and therefore
    * misses a repeated passage that straddles a window boundary; the
    * public reference point is Lee et al., ACL 2022, "Deduplicating
    * Training Data Makes Language Models Better", which dedups exact
    * ≥k-token substrings): EVERY w-token window (stride 1) is
    * hash-counted across the corpus, windows occurring >= `minDf` times
    * mark their positions repeated, and per doc the overlapping repeated
    * windows are coalesced into MAXIMAL SPANS. Emits per-doc span count,
    * covered-token count/fraction — the numbers a curation pass
    * thresholds on before cutting spans out.
    *
    * Scale shape: [[paraDedup]]'s machinery with w× the window rows, and
    * a tighter attach than even the passage form needs: the frequency
    * aggregate (map-side pre-collapsed) is FILTERED to repeated hashes
    * BEFORE the attach, which becomes a left-semi join whose build side
    * holds only the repeated-window hashes (a small fraction of the
    * corpus — broadcastable for most corpora, and the per-doc rollup
    * then processes repeated rows only, never the full window stream).
    * `n_windows` is arithmetic in the token count, so the non-repeated
    * windows never cross an exchange at all. Span coalescing happens
    * INSIDE the per-doc aggregate as one fold over the sorted start list
    * (integer arithmetic, exact). */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                window: Int = 8, minDf: Int = 2): DataFrame = {
    require(window > 0 && minDf >= 2, "window > 0, minDf >= 2")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    // persisted for the same two-consumer reason as paraDedup's passages
    // frame (frequency aggregate + semi-join probe): one tokenize+hash
    // pass over the corpus, not two
    val wins = df
      .select(col(idCol).as("__id"), toks.as("__toks"))
      .select(col("__id"), size(col("__toks")).as("__n"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("__toks")) - (window - 1), lit(1))),
          st => xxhash64(array_join(slice(col("__toks"), st, lit(window)), " ")))))
      .select(col("__id"), col("__n"), col("pos").as("__start"), col("col").as("__h"))
      .transform(persistTracked)
    val repHashes = wins.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("__h")
    val perDocRep = wins.join(repHashes, Seq("__h"), "left_semi")
      .groupBy(col("__id"), col("__n"))
      .agg(
        count(lit(1)).as("n_rep_windows"),
        sort_array(collect_list(col("__start"))).as("__rep_starts"))
      // interval union of [s, s+w-1] over the ASCENDING start list: a new
      // span opens when s starts past the running end; covered length adds
      // the non-overlapped tail of each window. Pure integer fold — exact.
      .withColumn("__fold",
        aggregate(col("__rep_starts"),
          struct(lit(-1).as("prev_end"), lit(0L).as("spans"), lit(0L).as("covered")),
          (st, s) => {
            // starts are 0-based (posexplode index); the end is capped at
            // the last token so a short doc's single sub-w window can
            // never claim more coverage than the doc has tokens
            val winEnd = least(s + lit(window - 1), col("__n") - 1)
            val newSpan = s > st.getField("prev_end")
            struct(
              winEnd.as("prev_end"),
              (st.getField("spans") + when(newSpan, 1L).otherwise(0L)).as("spans"),
              (st.getField("covered") +
                (winEnd - greatest(st.getField("prev_end"), s - 1)).cast("long"))
                .as("covered"))
          }))
      .select(col("__id"), col("n_rep_windows"),
        col("__fold.spans").as("n_spans"),
        col("__fold.covered").as("covered_tokens"))
    // every doc gets a row; docs with no repeated window fill with zeros
    // (their windows never left the frequency aggregate's partial side)
    df.select(col(idCol).as("__id"), size(toks).as("__n"))
      .join(perDocRep, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        col("__n").cast("long").as("n_tokens"),
        greatest(col("__n") - (window - 1), lit(1)).cast("long").as("n_windows"),
        coalesce(col("n_rep_windows"), lit(0L)).as("n_rep_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(when(col("__n") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("__n"))
          .otherwise(lit(0.0)), 4).as("covered_fraction"))
  }

  /** The SCRUB companion to [[spanDedup]]: CUT the repeated spans out and
    * return the rebuilt text — what a curation pass actually applies after
    * thresholding on spanDedup's stats. Same detection semantics (every
    * stride-1 w-token window hash-counted corpus-wide, >= minDf occurrences
    * marks its positions repeated, short docs get one truncated window),
    * then per doc the covered positions are removed and the survivors
    * rejoined with single spaces. Operates on the text VERBATIM (no case
    * folding — callers scrub normalized text; [[spanDedup]]'s reporting
    * form folds case itself).
    *
    * Returns (idCol, scrubbed_text, n_tokens, n_removed) — one row per
    * input doc (n_removed = 0 when nothing repeats), so the caller can
    * both filter emptied docs and account tokens across the stage edge:
    * n_tokens - n_removed tokens enter the next stage, exactly.
    *
    * Scale shape: identical to spanDedup — one persisted tokenize pass,
    * frequency aggregate map-side pre-collapsed and FILTERED to repeated
    * hashes before a left-semi attach, rebuild from the doc's own token
    * array via an interval-union fold (repeated starts merge into disjoint
    * spans first, so the per-token coverage probe is over the few merged
    * spans, not every repeated window). */
  def spanScrub(df: DataFrame, idCol: String, textCol: String,
                window: Int = 8, minDf: Int = 2): DataFrame = {
    require(window > 0 && minDf >= 2, "window > 0, minDf >= 2")
    val toks = split(trim(col(textCol)), "\\s+")
    val wins = df
      .select(col(idCol).as("__id"), toks.as("__toks"))
      .select(col("__id"), size(col("__toks")).as("__n"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("__toks")) - (window - 1), lit(1))),
          st => xxhash64(array_join(slice(col("__toks"), st, lit(window)), " ")))))
      .select(col("__id"), col("pos").as("__start"), col("col").as("__h"))
      .transform(persistTracked)
    val repHashes = wins.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("__h")
    val perDocRep = wins.join(repHashes, Seq("__h"), "left_semi")
      .groupBy("__id")
      .agg(sort_array(collect_list(col("__start"))).as("__rep_starts"))
    val src = df.select(col(idCol).as("__id"), toks.as("__toks"))
      .join(perDocRep, Seq("__id"), "left")
      .withColumn("__rep_starts",
        coalesce(col("__rep_starts"), array().cast("array<int>")))
    scrubFromStarts(src, idCol, window)
  }

  /** The rebuild half of [[spanScrub]], shared with the incremental form
    * (IncrementalScrub): given (__id, __toks, __rep_starts) — the doc's
    * token array plus the sorted 0-based starts of its repeated windows,
    * however those starts were derived — merge covered intervals and emit
    * (id, scrubbed_text, n_tokens, n_removed). */
  private[graft] def scrubFromStarts(src: DataFrame, idCol: String,
                                     window: Int): DataFrame = {
    // merge overlapping/adjacent covered intervals [s, min(s+w-1, n-1)]
    // (0-based starts, ascending) into disjoint spans — same interval
    // union as spanDedup's fold, but KEEPING the spans for the rebuild
    val emptySpans = array().cast("array<struct<st:int,en:int>>")
    val spansCol = aggregate(
      col("__rep_starts"), emptySpans,
      (acc, s) => {
        val en = least(s + lit(window - 1), size(col("__toks")) - 1).cast("int")
        val last = element_at(acc, -1)
        when(size(acc) === 0 || s > last.getField("en") + 1,
          concat(acc, array(struct(s.cast("int").as("st"), en.as("en")))))
          .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("st").as("st"),
              greatest(last.getField("en"), en).as("en")))))
      })
    src
      .withColumn("__spans", spansCol)
      .select(
        col("__id").as(idCol),
        array_join(
          transform(
            filter(
              zip_with(col("__toks"),
                sequence(lit(0), size(col("__toks")) - 1),
                (t, i) => struct(t.as("t"), i.as("i"))),
              p => !exists(col("__spans"),
                sp => p.getField("i") >= sp.getField("st") &&
                  p.getField("i") <= sp.getField("en"))),
            p => p.getField("t")),
          " ").as("scrubbed_text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(col("__spans"), lit(0),
          (acc, sp) => acc + sp.getField("en") - sp.getField("st") + 1)
          .cast("long").as("n_removed"))
  }

  /** Incremental NEAR-dup novelty: which docs of a fresh crawl batch are
    * genuinely novel against an existing corpus, where "seen before" means
    * near-duplicate (band-bucket collision + exact-Jaccard verify), not
    * just byte-identical — the incremental form of [[minhashNearDups]]
    * and the near-dup upgrade of [[novelDocs]] (which only catches exact
    * content-hash matches, so a crawler re-serving a page with a tweaked
    * footer slips through it).
    *
    * Fresh docs are judged against the CORPUS only, not against each
    * other (batch-internal dedup is a separate pass — [[minhashNearDups]]
    * on the batch); a fresh doc with zero shingles is vacuously novel.
    *
    * Scale shape: the corpus side is a SIGNATURE INDEX — the banded
    * (band, band_hash, id) projection an incremental pipeline computes
    * once, persists, and reuses across probe batches (persisted here via
    * the same tracked-cache discipline as the other dedup intermediates).
    * The probe is a hash join on (band, band_hash) whose fresh side
    * carries `bands` skinny rows per doc — never the corpus, never a
    * pair explosion (the hot-bucket guard caps index buckets exactly like
    * the self-join form). Only band-colliding candidates are re-joined to
    * shingles for the exact verify, and the final novelty decision is one
    * left-anti join against the matched ids. */
  /** A persisted corpus signature index: the banded (band, band_hash, cid)
    * projection plus the per-doc shingle sets backing the exact verify —
    * what an incremental pipeline computes ONCE and probes with every
    * fresh batch ([[probeNovel]]), in batch or per streaming micro-batch
    * (EventStream.noveltyStream). Both frames ride the tracked-cache
    * discipline, released by [[unpersistIntermediates]]. */
  case class SignatureIndex(corpusBase: DataFrame, corpusIndex: DataFrame,
                            shingleWidth: Int, bands: Int, rows: Int)

  private def shingleBase(df: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextHash.shingleHashesCol(col(textCol), shingleWidth).as("shh"))
      .filter(size(col("shh")) > 0)

  def buildSignatureIndex(corpus: DataFrame, idCol: String, textCol: String,
                          shingleWidth: Int = 3, bands: Int = 8, rows: Int = 4,
                          maxBucket: Int = 100000): SignatureIndex = {
    val corpusBase = shingleBase(corpus, idCol, textCol, shingleWidth)
      .transform(persistTracked)
    val banded = bandedFrame(corpusBase, bands, rows)
    val guarded =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
        .filter(col("__n") <= maxBucket).drop("__n")
    SignatureIndex(
      corpusBase,
      guarded.select(col("band"), col("band_hash"), col("id").as("cid"))
        .transform(persistTracked),
      shingleWidth, bands, rows)
  }

  /** Judge one fresh batch against a prebuilt [[SignatureIndex]]: banded
    * probe join, exact-Jaccard verify on colliding candidates only,
    * left-anti to the novel survivors. Per-doc verdicts depend only on
    * (doc, index) — never on how the fresh stream was split into batches
    * — which is exactly what makes the streaming drain equal the batch
    * run (batch-split independence, pinned in EventStreamSpec). */
  def probeNovel(fresh: DataFrame, index: SignatureIndex,
                 idCol: String, textCol: String,
                 threshold: Double = 0.7): DataFrame = {
    val freshBase = shingleBase(fresh, idCol, textCol, index.shingleWidth)
      .transform(persistTracked)
    val cand = bandedFrame(freshBase, index.bands, index.rows)
      .join(index.corpusIndex, Seq("band", "band_hash"))
      .select(col("id"), col("cid"))
      .dropDuplicates("id", "cid")
    val matched = cand
      .join(freshBase.select(col("id"), col("shh").as("shh_f")), Seq("id"))
      .join(index.corpusBase.select(col("id").as("cid"), col("shh").as("shh_c")), Seq("cid"))
      .filter(size(array_intersect(col("shh_f"), col("shh_c"))).cast("double")
        / size(array_union(col("shh_f"), col("shh_c"))) >= threshold)
      .select("id").distinct()
    fresh.join(matched.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  def novelNearDups(fresh: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String,
                    shingleWidth: Int = 3, bands: Int = 8, rows: Int = 4,
                    threshold: Double = 0.7,
                    maxBucket: Int = 100000): DataFrame =
    probeNovel(fresh,
      buildSignatureIndex(corpus, idCol, textCol, shingleWidth, bands, rows, maxBucket),
      idCol, textCol, threshold)

  /** Anchored exact-substring dedup (r20, D44) — the variable-length
    * ≥minLen-token exact-repeat tier the span/line/para tiers bracket
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better", public: dedup exact substrings ≥50 tokens via a corpus
    * suffix array). A global suffix array does not distribute; this is
    * the Spark-shaped equivalent: CONTENT-DEFINED anchor sampling
    * (winnowing-family, Schleimer et al. 2003) — position i is an anchor
    * iff the last hex digit of md5(tokens[i..i+k-1]) ∈ {0, 8}, a
    * deterministic 1-in-8 sample that is ALIGNMENT-FREE (two copies of
    * the same substring anchor at the same relative offsets, whatever
    * their absolute positions — the property the fixed window grid
    * lacks) — then the minLen-token span STRING at each anchor is keyed
    * by md5 and shared keys across docs are verified exact repeats.
    *
    * Contract: a cross-doc shared substring of exactly minLen tokens is
    * caught iff an anchor lands at its start (1/8 per eligible offset);
    * length minLen+m is missed with probability (7/8)^(m+1) — ~0.008%
    * at m = 70 — while PRECISION is exact (a shared span key IS an
    * identical minLen-token window; no false positives, unlike the
    * minhash tier). Deterministic: anchors are a pure function of
    * content, so the same corpus always yields the same pairs, and a
    * second engine replays the chain bit-for-bit (md5 + string slicing
    * only — no engine-private hash).
    *
    * Scale shape: the anchor array builds INSIDE each row (transform +
    * filter — no position explode of the token array, the O(n²)-bytes
    * trap), exploding only ~n/8 (pos, span-key) rows per doc; one
    * shuffle on span md5 with the hot-bucket guard riding its exchange
    * (a boilerplate span shared by B docs would otherwise emit B²
    * pairs); pair aggregation on (id_a, id_b). No suffix array, no
    * all-pairs, no cartesian.
    *
    * Returns (id_a, id_b, n_spans): cross-doc pairs sharing >= 1
    * verified minLen-token span, with the count of DISTINCT shared span
    * keys (adjacent anchors inside one long shared substring each
    * contribute their own offset's key). */
  def anchoredSubstringPairs(df: DataFrame, idCol: String, textCol: String,
                             minLen: Int = 50, shingleK: Int = 5,
                             maxBucket: Int = 100000): DataFrame = {
    require(minLen > shingleK && shingleK > 0, "need minLen > shingleK > 0")
    val toks = split(trim(coalesce(col(textCol), lit(""))), "\\s+")
    val nPos = size(col("__toks")) - (minLen - 1)
    // anchor offsets first (cheap k-token shingle test), span strings
    // only for the 1/8 survivors — the order that keeps the per-row
    // intermediate at O(n + anchors*minLen) instead of O(n*minLen)
    val anchorPos = filter(
      when(nPos >= 1, sequence(lit(1), nPos)).otherwise(array().cast("array<int>")),
      i => substring(md5(array_join(slice(col("__toks"), i, lit(shingleK)), " ")), 32, 1)
        .isin("0", "8"))
    val spans = df
      .select(col(idCol).as("__id"), toks.as("__toks"))
      .select(col("__id"), explode(transform(anchorPos,
        i => md5(array_join(slice(col("__toks"), i, lit(minLen)), " ")))).as("__sk"))
      .dropDuplicates("__id", "__sk")
    val guarded =
      if (maxBucket == Int.MaxValue) spans
      else spans
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("__sk")))
        .filter(col("__n") <= maxBucket).drop("__n")
    val a = guarded.select(col("__sk"), col("__id").as("id_a"))
    val b = guarded.select(col("__sk"), col("__id").as("id_b"))
    a.join(b, Seq("__sk"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_spans"))
  }

  /** 64-bit SimHash over tokens: per-token xxhash64, bitwise majority vote.
    * Native Catalyst expression (graft.functions.TextHash) — one tight JVM
    * loop per row inside whole-stage codegen, no per-token allocation. */
  def simhash(textCol: Column): Column = graft.functions.TextHash.simhash64Col(textCol)

  /** Column-function form of [[simhash]] (single aggregate pass with a
    * 64-long vote accumulator). Same bits as the native expression —
    * NativeHashSpec asserts the agreement; kept as the composable
    * reference implementation. */
  def simhashColumnar(textCol: Column): Column = {
    val hashes = transform(split(trim(textCol), "\\s+"), t => xxhash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitIdx,
        (v, i) => v + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L))))
    aggregate(
      zip_with(votes, bitIdx,
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dup candidate pairs: block on 16-bit bands of the 64-bit
    * fingerprint (two near-identical docs share at least one exact band for
    * hamming distance <= 3 in expectation), then verify with bit_count(xor).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = 100000): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sim")),
      "id", "sim", maxHamming, bandBits = 16, maxBucket = maxBucket)

  /** Banded form of a 64-bit fingerprint frame: one row per (id, band)
    * with the band's `bandBits`-wide slice as `band_val` (the original
    * hash rides along as `h` for the verify step). THE one banding body —
    * the self-join pair tiers and the stream-probe novelty tiers must
    * band identically or their recall contracts silently diverge. */
  private[graft] def banded64(base: DataFrame, idCol: String, hashCol: String,
                              bandBits: Int): DataFrame = {
    require(bandBits == 8 || bandBits == 16, "bandBits must be 8 or 16")
    val bands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val bandVals = (0 until bands).map(b =>
      shiftrightunsigned(col(hashCol), b * bandBits).bitwiseAND(lit(mask)))
    base.select(col(idCol).as("id"), col(hashCol).as("h"),
        posexplode(array(bandVals: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
  }

  /** The banded-hamming join shared by every 64-bit fingerprint tier
    * (simhash text near-dup, dHash image near-dup — one body, so a guard
    * or tie-break fix cannot silently miss a sibling): split the hash
    * into `64/bandBits` bands, self-join within (band, value) buckets
    * only, verify with bit_count(xor). Pigeonhole: hamming ≤ bands-1
    * pairs share at least one exact band, so recall is total up to
    * there. bandBits is the scale/recall dial — 16 (4 bands, h≤3,
    * 65536-value buckets) is the production default; 8 buys recall to 7
    * bits at 256-value buckets (candidate space n²/512), a moderate-n
    * high-recall tier only. The hot-bucket guard (the minhash cap, a
    * count window riding the join's own exchange) bounds a pathological
    * bucket — a boilerplate cluster with identical fingerprints would
    * emit B² pairs — to `maxBucket` members. Dropping a bucket is only
    * recall-neutral for IDENTICAL fingerprints (which re-pair via every
    * other band); a hamming 1..bands-1 pair whose sole matching band is
    * over-cap is lost — so under `requireTotalRecall` an over-cap bucket
    * FAILS the query (lazy raise_error naming the bucket) rather than
    * silently voiding the guarantee. The hashed frame is persisted
    * (tracked): both self-join legs reuse it — without that the
    * fingerprint computation (a full tokenize+vote pass, or a corpus of
    * real image decodes) runs once per leg. */
  def bandedHammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
                         maxHamming: Int, bandBits: Int = 16,
                         maxBucket: Int = 100000,
                         requireTotalRecall: Boolean = false): DataFrame = {
    require(bandBits == 8 || bandBits == 16, "bandBits must be 8 or 16")
    val bands = 64 / bandBits
    // two documented recall contracts share this body: the simhash text
    // tier runs loose (maxHamming past bands-1 is legal — recall beyond
    // the pigeonhole bound is probabilistic, "≤3 in expectation" per its
    // doc), while the image phash gate demands the guarantee
    if (requireTotalRecall) require(maxHamming <= bands - 1,
      s"banding with $bands bands only guarantees recall to hamming ${bands - 1}")
    val base = hashed.select(col(idCol).as("id"), col(hashCol).as("h"))
      .transform(persistTracked)
    val bandedAll = banded64(base, "id", "h", bandBits)
    val banded =
      if (maxBucket == Int.MaxValue) bandedAll
      else {
        val counted = bandedAll
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "band_val")))
        if (requireTotalRecall)
          // the total-recall contract cannot coexist with silent bucket
          // drops: a hamming 1..bands-1 pair whose ONLY matching band lands
          // in an over-cap bucket would vanish (the "members still pair
          // through their other bands" argument holds only for identical
          // fingerprints). The cap still guards the B² blowup — but by
          // failing LOUDLY with the offending bucket named, riding the
          // count window the guard already pays, instead of losing recall.
          counted.withColumn("__ok",
            when(col("__n") <= maxBucket, lit(true)).otherwise(raise_error(
              format_string(
                "bandedHammingPairs: bucket (band=%d, value=%d) has %d members" +
                  " > maxBucket=%d; the total-recall contract forbids dropping" +
                  " it — raise maxBucket or drop requireTotalRecall",
                col("band"), col("band_val"), col("__n"), lit(maxBucket))).cast("boolean")))
            .filter(col("__ok")).drop("__n", "__ok")
        else counted.filter(col("__n") <= maxBucket).drop("__n")
      }
    val a = banded.select(col("band"), col("band_val"), col("id").as("id_a"), col("h").as("h_a"))
    val b = banded.select(col("band"), col("band_val"), col("id").as("id_b"), col("h").as("h_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise similarity into dedup CLUSTERS (a≈b, b≈c ⇒ {a,b,c} even when
    * a≉c directly). Iterative min-label propagation with POINTER JUMPING:
    * each round every vertex adopts the smallest label in its neighborhood
    * (one join + one groupBy, O(E) shuffle) and then shortcuts to its
    * label's label (one self-join on the O(V) label frame) — path lengths
    * halve per round, so chain-shaped graphs converge in O(log n) rounds
    * instead of O(diameter). The previous round's label travels through the
    * same aggregation as `old`, so the convergence check is a filter over
    * the just-materialized cached frame — no extra join job per round; the
    * driver reads ONE scalar (the changed count) and data never leaves the
    * cluster.
    *
    * Returns (id, component) with component = min id of the cluster.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponentsStats(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of propagation rounds the
    * fixpoint took — the observable a skew/worst-case gate pins (a round
    * is the expensive unit: one O(E) neighborhood shuffle + one O(V)
    * pointer jump, so "rounds stayed O(log n) on a mega-component" is the
    * scale contract worth a spec, not just a comment). */
  def connectedComponentsStats(pairs: DataFrame, aCol: String, bCol: String,
                               maxIter: Int = 20): (DataFrame, Int) = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Bidirectional edges via ONE explode pass, not a two-leg union: union
    // legs are independent plan subtrees, so the union form EXECUTES the
    // caller's pair-generation plan twice (for minhash edges that is the
    // whole band join + Jaccard verify, the most expensive stage of the
    // query — measured ~2× the edge-build cost at sf10). The explode
    // evaluates each pair row once and emits both directions from it.
    // Persisted REPARTITIONED ON src: every propagation round joins edges
    // on src, and a cached frame exposes its partitioning to the planner —
    // pre-shuffling once means each round's join exchanges only the O(V)
    // label frame, never the O(E) edge set.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()
      .repartition(col("src"))
      .persist(sl)
    // Eager checkpoint, not persist: the label frame feeds the next
    // round's plan FOUR times (both union legs + both jump-join sides), so
    // without lineage truncation the logical plan quadruples per round and
    // plan analysis itself becomes the bottleneck after ~10 rounds.
    // localCheckpoint blocks are NOT recoverable on executor loss — fine in
    // local[n]; on a real cluster set spark.graft.cc.reliableCheckpoint=true
    // (with sc.setCheckpointDir) to write each round's O(V) snapshot to
    // fault-tolerant storage instead, trading round latency for the ability
    // to survive a lost executor mid-iteration.
    val spark = pairs.sparkSession
    val reliable = spark.conf
      .getOption("spark.graft.cc.reliableCheckpoint").exists(_.toBoolean)
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    var labels = truncate(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    val labelType = labels.schema("label").dataType
    var freePrev = checkpointFree(labels)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      // one aggregation carries BOTH the neighborhood min and the previous
      // label (min ignores the null sentinel, and each id has exactly one
      // non-null old) — the convergence check needs no second join
      val combined = labels
        .select(col("id"), col("label"), col("label").as("old"))
        .unionByName(viaNeighbor.withColumn("old", lit(null).cast(labelType)))
        .groupBy("id").agg(min("label").as("label"), min("old").as("old"))
      // pointer jumping: label ← label(label). Every label is itself a
      // vertex id, so the lookup is a self-join of the O(V) label frame.
      val next = truncate(combined
        .join(combined.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("jump"), col("label")).as("label"),
          col("old")))
      changed = next.filter(col("label") =!= col("old")).count()
      freePrev()
      freePrev = checkpointFree(next)
      labels = next.select("id", "label")
      iter += 1
    }
    edges.unpersist()
    (labels.withColumnRenamed("label", "component"), iter)
  }

  /** Deterministic storage release for an eagerly checkpointed frame
    * (Dataset.unpersist does not cover checkpoint RDDs; without this each
    * round's O(V) label snapshot would linger until GC + ContextCleaner).
    * In reliable mode the checkpoint FILES are deleted too: Spark only
    * removes them itself under
    * spark.cleaner.referenceTracking.cleanCheckpoints=true, so without this
    * every pointer-jumping round would leak an O(V) snapshot to the
    * checkpoint dir for the app lifetime. */
  private def checkpointFree(df: DataFrame): () => Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        () => {
          // getCheckpointFile is Some only for RELIABLE checkpoints — a
          // localCheckpoint frees everything via unpersist alone
          val ckptDir = r.rdd.getCheckpointFile
          r.rdd.unpersist(false)
          ckptDir.foreach { dir =>
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
          ()
        }
    }.getOrElse(() => ())

  /** Full dedup: collapse every near-dup cluster to its canonical (min-id)
    * member. Docs that appear in no pair survive untouched. */
  def canonicalize(docs: DataFrame, pairs: DataFrame, idCol: String,
                   aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val losers = comp.filter(col("id") =!= col("component")).select("id")
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Novelty check for incremental ingestion: keep only the rows of `fresh`
    * whose content does not already exist in `corpus` — the "is this crawl
    * batch new?" gate that runs before anything else in a training-data
    * pipeline. Anti-join on the 128-bit content hash: the shuffle carries
    * 16-byte keys, the (huge) corpus side is never materialized beyond its
    * hash projection, and self-duplicates inside the batch collapse too. */
  def novelDocs(fresh: DataFrame, corpus: DataFrame, contentCol: String,
                idCol: String): DataFrame = {
    val seen = corpus.select(md5(col(contentCol)).as("__h")).distinct()
    exactByHash(fresh, contentCol, idCol)
      .join(seen, md5(col(contentCol)) === col("__h"), "left_anti")
  }

  /** n-gram Jaccard similarity for candidate pairs blocked by a caller-
    * supplied key (at corpus scale the block key bounds the pair space;
    * pass an LSH band or a metadata bucket). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int = 3,
                        threshold: Double = 0.0): DataFrame = {
    // one tokenization pass, persisted: both join legs reuse it (and the
    // caller's block key — often itself a SimHash/LSH derivation — is
    // evaluated once instead of once per leg); hashed shingles keep the
    // self-join exchange to arrays of longs.
    val base = df.select(
      col(idCol).as("id"), col(blockCol).as("block"),
      graft.functions.TextHash.shingleHashesCol(col(textCol), n).as("shh"))
      .transform(persistTracked)
    // Block-join form: every within-block pair with its similarity — the
    // full pairwise-similarity report (thresholded callers get the filter
    // fused into the same stage). |block|² by definition, so the CALLER
    // owns keeping blocks bounded (a SimHash band at scale); the
    // corpus-scale answer is the BANDED strategy
    // (CorpusPipeline.NearDup.banded / minhashNearDups), whose bucket
    // count grows with the corpus and whose hot buckets are guarded.
    val a = base.select(col("block"), col("id").as("id_a"), col("shh").as("shh_a"))
    val b = base.select(col("block"), col("id").as("id_b"), col("shh").as("shh_b"))
    val pairs = a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("shh_a"), col("shh_b"))))
      .withColumn("uni", size(array_union(col("shh_a"), col("shh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .select("block", "id_a", "id_b", "jaccard")
    if (threshold <= 0.0) pairs else pairs.filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: per training doc, how many of its word
    * `n`-grams appear in the evaluation set (and the boolean an LLM data
    * pipeline actually filters on). Distinct from [[novelDocs]], which
    * anti-joins whole-document hashes — eval contamination hides as a
    * quoted PASSAGE inside an otherwise-novel doc, so the unit here is
    * the n-gram.
    *
    * Scale shape: the benchmark side is small by definition (eval suites,
    * not corpora) — its distinct gram hashes form one array in a 1-row
    * broadcast frame, and the corpus pass is a pure projection computing
    * an array intersection per row. Nothing explodes, nothing shuffles:
    * at 100 TB this is a map-only scan, same family as novelty's
    * broadcast anti join. */
  def contamination(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    val grams = (t: Column) => graft.functions.TextHash.shingleHashesCol(t, n)
    val bench = broadcast(
      benchmark.select(explode(grams(col(textCol))).as("g"))
        .agg(sort_array(collect_set(col("g"))).as("__bench")))
    docs.select(col(idCol), grams(col(textCol)).as("__g"))
      .crossJoin(bench)
      // the intersection is computed ONCE behind a projection boundary;
      // the flag derives from the count, never re-evaluating the O(|g|)
      // set operation (same CSE discipline as the HOF kernels)
      .select(col(idCol),
        size(col("__g")).cast("long").as("n_grams"),
        size(array_intersect(col("__g"), col("__bench"))).cast("long")
          .as("n_contaminated"))
      .select(col(idCol), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated") > 0).as("contaminated"))
  }

  /** Passage-granularity dedup — the production tier BETWEEN exact-document
    * ([[exactByHash]]) and near-document ([[minhashNearDups]]): repeated
    * passages (boilerplate headers, license blocks, quoted spans) survive
    * both doc-hash and MinHash because the surrounding document differs,
    * yet they dominate token counts in real crawls. Documents are split
    * into fixed non-overlapping `window`-token passages (the
    * paragraph-proxy for single-line corpora; a `\n\n` split composes
    * upstream for prose), each passage is hash-counted across the CORPUS,
    * and any passage occurring >= `minDf` times is marked repeated.
    * Returns per-doc (n_passages, n_repeated, repeated_ratio by char
    * mass, clean_text with repeated passages scrubbed).
    *
    * Scale shape — the text never rides the frequency machinery:
    *  - the passage frame projects to (doc_id, pos, xxhash64, chars) —
    *    ~28 bytes/row through every exchange, never passage strings;
    *  - the corpus-frequency aggregate partial-aggregates map-side, so a
    *    boilerplate passage in half the corpus arrives at the reduce side
    *    as one row PER MAP PARTITION, not one row per occurrence — the
    *    hot-key pre-aggregation that banded joins need an explicit salt
    *    for is built into hash aggregation here;
    *  - the frequency attach is a join whose build side has exactly ONE
    *    row per hash, so no pair explosion is possible for any bucket
    *    size (unlike LSH band self-joins, which need the maxBucket cap);
    *    residual probe-partition imbalance is AQE skew-split territory;
    *  - clean text is REBUILT from the source projection via each doc's
    *    repeated-position set (bounded by windows-per-doc), so document
    *    content crosses exactly one exchange — the final doc_id join.
    *
    * Grouping by the 64-bit hash instead of the passage string is the
    * wire-efficiency trade: a collision would over-mark one passage as
    * repeated with probability ~n²/2^65 — negligible below ~10^9 distinct
    * passages per corpus (the DuckDB oracle groups by the string itself,
    * so the gate would catch a collision at the test corpus). */
  def paraDedup(df: DataFrame, idCol: String, textCol: String,
                window: Int = 8, minDf: Int = 2): DataFrame = {
    require(window > 0 && minDf >= 2, "window > 0, minDf >= 2")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val starts = (ts: Column) =>
      sequence(lit(1), greatest(size(ts), lit(1)), lit(window))
    // persisted: the frequency aggregate and the attach-join probe side
    // both consume this frame — unpersisted, the tokenize+window+hash
    // pass over the whole corpus would execute twice (the same
    // materialize-the-compact-projection discipline as minhashNearDups'
    // `base`; this is the skinny (id, pos, hash, chars) form, cheap to hold)
    val passages = df
      .select(col(idCol).as("__id"), toks.as("__toks"))
      .select(col("__id"),
        posexplode(transform(starts(col("__toks")),
          st => array_join(slice(col("__toks"), st, lit(window)), " "))))
      .select(col("__id"), col("pos").as("__pos"),
        xxhash64(col("col")).as("__h"),
        length(col("col")).cast("long").as("__chars"))
      .transform(persistTracked)
    val freq = passages.groupBy("__h").agg(count(lit(1)).as("__df"))
    val perDoc = passages.join(freq, Seq("__h"))
      .withColumn("__rep", col("__df") >= minDf)
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("__rep"), lit(1L)).otherwise(lit(0L))).as("n_repeated"),
        sum(col("__chars")).as("__total_chars"),
        sum(when(col("__rep"), col("__chars")).otherwise(lit(0L))).as("__rep_chars"),
        sort_array(collect_list(when(col("__rep"), col("__pos")))).as("__rep_pos"))
    df.select(col(idCol).as("__id"), toks.as("__toks"))
      .join(perDoc, Seq("__id"))
      .select(
        col("__id").as(idCol),
        col("n_passages"), col("n_repeated"),
        round(when(col("__total_chars") > 0,
          col("__rep_chars").cast("double") / col("__total_chars"))
          .otherwise(lit(0.0)), 4).as("repeated_ratio"),
        array_join(
          transform(
            filter(
              transform(starts(col("__toks")),
                (st, i) => struct(st.as("st"), i.as("i"))),
              s => !array_contains(col("__rep_pos"), s.getField("i"))),
            s => array_join(
              slice(col("__toks"), s.getField("st"), lit(window)), " ")),
          " ").as("clean_text"))
  }
}
