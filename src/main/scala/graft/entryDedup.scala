package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.ml.FatalityModel
import graft.operators._
import graft.sources.{Jsonl, Sink, Tables}
import graft.streaming.{EventStream, IncrementalStream}

import EntryOps._

/** Deduplication, similarity search (ANN tiers), novelty, snapshot
  * diff, and diversity selection over the embedding/document corpora.
  *
  * Registration slice of the [[SparkEntry]] driver contract — query
  * lambdas and their DuckDB oracle replays, split per tier (r15) so the
  * contract file stops being the single merge bottleneck. Entry text is
  * unchanged from the monolithic registration. */
private[graft] object DedupEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §D LLM-data pipeline ----------------------------------------
    "exact_dedup" -> ((s, d) =>
      Dedup.exactByHash(Tables.documents(s, d), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars")),
    "line_dedup" -> ((s, d) => {
      // CCNet per-LINE exact dedup (Wenzek 2020 §3) — the cheap first
      // tier below para/span dedup: normalized lines counted corpus-wide,
      // every occurrence of a repeated line cut, per-doc ledger + cleaned
      // text out. The gate corpus is single-line word-soup (no organic
      // newlines, no duplicate texts at this SF), so planted multi-line
      // docs carry the whole workload: a shared banner line in three
      // case/punctuation variants (the normalization must unify them), a
      // repeated footer in two variants, digit-bearing phone lines whose
      // digit runs collapse to one 0 (two different numbers must count as
      // the same line), and unique interior lines that must survive with
      // order preserved. Full DuckDB replay — split, normalize, count,
      // cut, string_agg by line index.
      import s.implicits._
      val planted = Seq(
        (8200001L, "All rights reserved.\nalpha beta unique one\n" +
          "Subscribe to our newsletter!"),
        (8200002L, "all rights reserved\ngamma delta unique two\n" +
          "Subscribe to our newsletter!!!"),
        (8200003L, "ALL RIGHTS RESERVED???\nepsilon zeta unique three\n" +
          "call 555-123 now\ncall 555-999 now"))
        .toDF("doc_id", "text")
      Dedup.lineDedup(
          Tables.documents(s, d).select(col("doc_id"), col("text"))
            .unionByName(planted),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines"), col("n_cut"),
          col("cleaned_text"))
    }),
    "para_dedup" -> ((s, d) =>
      // Passage-granularity dedup: corpus-frequency-thresholded 8-token
      // windows; per-doc repeated-span mass + scrubbed text. The oracle is
      // a FULL DuckDB replay grouping the passage STRINGS (so the 64-bit
      // hash grouping is cross-checked against the semantic spec).
      Dedup.paraDedup(Tables.documents(s, d), "doc_id", "text")),
    "span_dedup" -> ((s, d) =>
      // Stride-1 repeated-span detection: every 8-token window counted
      // across the corpus, repeated windows coalesced into maximal spans
      // per doc (catches passages at arbitrary alignment that para_dedup's
      // fixed windows straddle). Full DuckDB replay: same windows, string-
      // grouped frequencies, lag-based span starts, position-union cover.
      Dedup.spanDedup(Tables.documents(s, d), "doc_id", "text")),
    "substring_dedup" -> ((s, d) => {
      // Anchored exact-substring dedup (r20, D44 — Lee et al. 2022):
      // cross-doc EXACT repeats >= 50 tokens at arbitrary alignment, via
      // content-defined md5 anchors + 50-token span keys (no suffix
      // array — see Dedup.anchoredSubstringPairs). The gate corpus is
      // unique word-soup, so planted probes carry the workload: two docs
      // share an identical 120-token passage at DIFFERENT offsets (30-
      // vs 17-token prefixes — the alignment the fixed window grid
      // straddles) and must pair on every anchored in-passage offset;
      // a second pair shares only 49 tokens and must NOT pair (precision
      // is exact: no 50-token window can coincide). The oracle replays
      // the whole chain — tokens, shingle-md5 anchor test, span keys,
      // pair counts — bit-for-bit.
      import s.implicits._
      def run(tag: String, n: Int) =
        (0 until n).map(j => s"$tag$j").mkString(" ")
      val seed = run("ss", 120)
      val seedC = run("sc", 49)
      val planted = Seq(
        (9400001L, run("pa", 30) + " " + seed + " " + run("qa", 10)),
        (9400002L, run("pb", 17) + " " + seed + " " + run("qb", 25)),
        (9400003L, run("pc", 20) + " " + seedC + " " + run("qc", 31)),
        (9400004L, run("pd", 11) + " " + seedC + " " + run("qd", 40)))
        .toDF("doc_id", "text")
      Dedup.anchoredSubstringPairs(
        Tables.documents(s, d).select(col("doc_id"), col("text"))
          .unionByName(planted),
        "doc_id", "text")
    }),
    "minhash_dedup" -> ((s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text", threshold = 0.5)),
    "simhash_dedup" -> ((s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text", maxHamming = 8)),
    "minhash_guard_stats" -> ((s, d) =>
      // The hot-bucket guard's observability: bucket census + exactly what
      // a cap of 1 would drop at this corpus (cap 1 so the gate exercises
      // the capped/dropped counters — the corpus's organic near-dup band
      // collisions are its only multi-member buckets). Deterministic (the
      // banding chain is seeded), so the gate pins golden values; at
      // production corpora the same one-aggregate probe is what a
      // pipeline monitors for boilerplate-flood step changes.
      Dedup.minhashGuardStats(Tables.documents(s, d), "doc_id", "text",
        maxBucket = 1)),
    "minhash_planted_pairs" -> ((s, d) => {
      // End-to-end MinHash check with a KNOWN answer: plant exact copies of
      // docs 0..9 at id+1000000 — identical text ⇒ identical signature ⇒
      // same bands ⇒ candidate ⇒ Jaccard exactly 1.0. The corpus has no
      // organic exact dups (exact_dedup keeps all 500 rows), so the
      // (id, id+1000000) pairs are exactly the planted ones.
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.minhashNearDups(
          docs.select("doc_id", "text").unionByName(planted),
          "doc_id", "text", threshold = 0.5)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),
    "simhash_planted_pairs" -> ((s, d) => {
      // Same planted-recovery shape for SimHash: identical text ⇒ identical
      // 64-bit fingerprint ⇒ hamming 0 through band blocking + verify.
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.simhashNearDups(
          docs.select("doc_id", "text").unionByName(planted),
          "doc_id", "text", maxHamming = 8)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),
    "ngram_jaccard" -> ((s, d) =>
      // Block on a 16-bit SimHash band, not a metadata column: bucket count
      // grows with the corpus (|block|² stays bounded), while near-identical
      // docs still collide — the scale-safe blocking key.
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d)
          .withColumn("simband", shiftrightunsigned(Dedup.simhash(col("text")), 48)),
        "doc_id", "text", "simband")),
    "ngram_jaccard_exact" -> ((s, d) =>
      // Oracle-checkable slice of the same operator: Jaccard over hashed
      // shingles equals Jaccard over the shingle strings themselves (the
      // hash is injective up to negligible collisions), and blocking on a
      // metadata column is a shape DuckDB can replay with list functions —
      // so every pair's similarity is verified end to end by a second
      // engine. The simband-blocked production form above stays the scale
      // path.
      Dedup.ngramJaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 100),
          "doc_id", "text", "lang")
        .select(col("block"), col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))),
    "embedding_dedup" -> ((s, d) => {
      // Random vectors have no organic cos>0.8 pairs at this SF, so the query
      // plants deterministic jittered copies of the first 20 vectors — the
      // operator must recover exactly those near-dup pairs (verifiable, not
      // vacuous; a test compares against brute-force cosine).
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((pmod(xxhash64(col("vec_id"), i), lit(1000L)).cast("float")
            - lit(500.0f)) / lit(100000.0f))).as("embedding"))
      // gate output is the recovered PAIRS (the verifiable property; the
      // golden VALUES oracle lists them) — cos itself is float math over
      // hash jitter no second engine reproduces; SimilaritySpec checks it
      // against brute force
      Similarity.nearDupPairs(emb.unionByName(planted), "vec_id", "embedding",
        dim = 64, nPlanes = 12, threshold = 0.8)
        .select("id_a", "id_b")
    }),
    "semantic_dedup" -> ((s, d) => {
      // SemDeDup-style cluster-blocked dedup: the same planted jittered
      // copies as embedding_dedup, but candidate blocking is the TRAINED
      // KMeans coarse quantizer instead of random hyperplanes — a
      // near-identical copy must land in its original's cluster (argmax
      // over the same centroids), so the golden pairs are recovered
      // through data-adaptive blocking. cos itself is float math over
      // hash jitter; the golden oracle pins the recovered pair ids.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((pmod(xxhash64(col("vec_id"), i), lit(1000L)).cast("float")
            - lit(500.0f)) / lit(100000.0f))).as("embedding"))
      Similarity.semanticDedupPairs(emb.unionByName(planted), "vec_id", "embedding",
          nlist = 16, threshold = 0.8)
        .select("id_a", "id_b")
    }),
    "cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    }),
    "ann_matryoshka" -> ((s, d) => {
      // D7i: Matryoshka two-stage top-k (r18) — prefix-dim (16/64)
      // cosine shortlist of 20, exact full-dim rerank to top-5; the
      // shortlist-then-rerank ANN shape with dimension truncation as
      // the cheap stage. Fully replayable: bit-identical dot folds on
      // the sliced arrays, vec_id tie-breaks at both ranks.
      val emb = Tables.embeddings(s, d)
      Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", prefixDim = 16, shortlist = 20, k = 5)
    }),
    "doc_embed" -> ((s, d) =>
      // The text→vector BRIDGE (r16, TextOps.hashedTfidfSparse): hashed
      // TF-IDF vectors over real documents text — closes the seam where
      // the vector tier's input was the synthetic embeddings table. All
      // integer arithmetic after one rint'ed IDF, so the full DuckDB
      // replay is exact (md5-prefix bucket, ln rounded once at 1e3,
      // Long tf·idf sums).
      TextOps.hashedTfidfSparse(Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("dim"), col("w"))),
    "doc_semantic_dedup" -> ((s, d) => {
      // SemDeDup over the BRIDGE vectors — near-duplicate TEXT caught in
      // embedding space, in the two classes the exact/n-gram tiers
      // handle worst. (1) REORDERED copies (docs 0-9 at +1e6, first two
      // words swapped): textually different, but hashed TF-IDF is
      // bag-of-words, so the embedding is IDENTICAL — cos exactly 1,
      // same argmax cluster by construction, recovery guaranteed; exact
      // dedup misses them and shingle Jaccard degrades. (2) APPENDED
      // copies (docs 10-14 at +2e6, one extra occurrence of the common
      // token "the"): a genuine sub-1.0 near-dup (cos ≈ 0.98-0.999,
      // doc-length-dependent) probing real blocking recall — a copy
      // whose tiny delta flips the argmax at a cluster boundary is
      // MISSED by design (the SemDeDup blocking trade; its jitter gate
      // twin semantic_dedup documents the same). Organic word-soup
      // pairs top out at 0.9718 on these vectors (measured globally),
      // so threshold 0.98 excludes them with margin; everything is
      // deterministic (exact integer vectors + seeded KMeans) → golden
      // pair ids, the semantic_dedup convention. Unlike that gate's
      // fixed nlist=16, this one runs the PRODUCTION nlist ∝ n contract
      // in-query (≈256 docs per cluster, floor 16 — resolves to 16 at
      // the sf0.01 golden corpus), with the KMeans fit on a hash sample
      // once the corpus outgrows the fit: mean cluster size, and so the
      // in-cluster pair space per doc, stays constant at any corpus
      // size.
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val t = split(col("text"), " ")
      val swapped = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(concat(
            array(element_at(t, 2), element_at(t, 1)),
            slice(t, lit(3), greatest(size(t) - 2, lit(0)))), " ").as("text"))
      val appended = docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" the")).as("text"))
      val corpus = docs.unionByName(swapped).unionByName(appended)
      val nDocs = corpus.count()
      // persisted: the bridge build (tokenize + two aggs + join) would
      // otherwise re-run for the KMeans fit, the assignment pass, and
      // BOTH sides of the in-cluster self-join — four lineage replays of
      // the most expensive stage (tracked; the per-query cache release
      // retires it)
      val vecs = Dedup.persistTracked(
        TextOps.hashedTfidf(corpus, "doc_id", "text")
          .select(col("id"),
            transform(col("vec"), v => TextOps.floatExact(v)).as("vec")))
      Similarity.semanticDedupPairs(vecs, "id", "vec",
          // ∝ n, clamped to the literal-matrix codegen bound — past ~256k
          // docs a production run raises the cap onto the broadcast-fold
          // path (or pre-fits centroids once and reuses them)
          nlist = math.min(1024L, math.max(16L, nDocs / 256)).toInt,
          threshold = 0.98,
          sampleFraction = if (nDocs > 20000) 0.2 else 1.0)
        .select("id_a", "id_b")
    }),
    "doc_embed_ivf" -> ((s, d) => {
      // The SCALE path over the bridge vectors: IVF (nprobe=4 of
      // nlist=16) on the hashed-TF-IDF embeddings, recall-gated against
      // the exact brute-force ranking over the SAME vectors (k=5,
      // floor recall@5 >= 0.6) — proves the ANN tier a 100 TB corpus
      // would actually run works end to end on REAL text, not just the
      // synthetic embeddings table. Deterministic (md5-drawn gate
      // quantizer + exact integer-valued vectors), so per-query hit
      // counts pin as golden VALUES. Vectors cast to float for the IVF
      // machinery (embedding-table convention) — exact, since the
      // integer weights stay far below 2^24.
      // persisted (the doc_semantic_dedup rationale): the bridge build
      // (tokenize + two aggs + join) otherwise re-runs for the gate
      // quantizer's centroid collect, the IVF corpus and query sides,
      // AND both sides of the brute-force recall baseline — five lineage
      // replays of the query's most expensive stage (tracked; the
      // per-query cache release retires it)
      val vecs = Dedup.persistTracked(
        TextOps.hashedTfidf(Tables.documents(s, d), "doc_id", "text")
          .filter(exists(col("vec"), v => v =!= 0.0))
          .select(col("id"),
            transform(col("vec"), v => TextOps.floatExact(v)).as("vec")))
      val q = vecs.filter(col("id") < 5)
      val ann = Similarity.ivfTopK(vecs, q, "id", "vec",
        k = 5, nlist = 16, nprobe = 4)
      annRecall(Similarity.cosineTopK(vecs, q, "id", "vec", k = 5),
        ann, minHits = 3)
    }),
    "doc_embed_topk" -> ((s, d) => {
      // D6's brute-force cosine operator RE-RUN over the bridge vectors:
      // real-text neighbors end to end (tokenize → hash → weight → dense
      // assemble → cosineTopK), second-engine-checked because dots and
      // norms of the integer-valued vectors are exact in both engines
      // (< 2^53), so even the ranking doubles are bit-identical. Zero
      // vectors (a doc whose every token is corpus-ubiquitous) are
      // excluded on both sides — cosine is undefined there.
      val vecs = TextOps.hashedTfidf(Tables.documents(s, d), "doc_id", "text")
        .filter(exists(col("vec"), v => v =!= 0.0))
      Similarity.cosineTopK(vecs, vecs.filter(col("id") < 5), "id", "vec", k = 3)
        .select(col("query_id"), col("vec_id"),
          round(col("cos"), 4).as("cos4"), col("rank"))
    }),
    "lsh_ann" -> ((s, d) => {
      // Recall gate with a KNOWN answer: three jittered near-copies of
      // each query are planted into the corpus (cos ≈ 0.9999 — the true
      // top-3 by construction, same trick as embedding_dedup), ground
      // truth is the oracle-green brute-force cosine_topk over the SAME
      // corpus, and the multi-probe LSH top-5 must hit ≥3 of 5 of it
      // (recall@5 ≥ 0.6 — the floor is asserted in-query; golden rows pin
      // the exact hit counts). Unstructured random vectors have no
      // locality for ANN to exploit, so the planted neighbors are what
      // "recall" verifiably means here.
      val (corpus, q) = plantedAnnCorpus(s, d)
      val ann = Similarity.lshTopK(corpus, q, "vec_id", "embedding",
        dim = 64, k = 5, nPlanes = 6, probeBits = 3)
      annRecall(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", k = 5),
        ann, minHits = 3)
    }),
    "ivf_ann" -> ((s, d) => {
      // Same planted-recall gate for the IVF tier: a jittered copy lands
      // in its original's inverted list, so nprobe=4 of nlist=16 must
      // recover the planted true neighbors (floor recall@5 ≥ 0.6).
      val (corpus, q) = plantedAnnCorpus(s, d)
      val ann = Similarity.ivfTopK(corpus, q, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      annRecall(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", k = 5),
        ann, minHits = 3)
    }),
    "ivf_topk_broadcast" -> ((s, d) => {
      // Large-nlist IVF path parity, surfaced to the driver gate: the
      // broadcast-centroid variant must return EXACTLY the literal-matrix
      // variant's neighbors (SimilaritySpec proves it per-row; this pins
      // it in CORRECTNESS against golden counts).
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 8)
      val lit_ = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4).select("query_id", "vec_id", "rank")
      val bc = Similarity.ivfTopKBroadcast(emb, q, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4).select("query_id", "vec_id", "rank")
      bc.agg(count(lit(1)).as("n_rows")).crossJoin(
        bc.exceptAll(lit_).unionByName(lit_.exceptAll(bc))
          .agg(count(lit(1)).as("n_mismatch")))
    }),
    "ivf_ann_trained" -> ((s, d) => {
      // Production-quantizer tier: KMeans-fitted coarse centroids (MLlib,
      // hash-sampled fit), same literal-matrix probe machinery — now under
      // the same planted-neighbor recall gate as lsh_ann/ivf_ann: a
      // jittered copy quantizes to (almost surely) its original's list, so
      // the trained tier must recover the planted true neighbors too
      // (recall@5 ≥ 0.6 asserted in-query; golden hit counts pinned).
      val (corpus, q) = plantedAnnCorpus(s, d)
      val ann = Similarity.ivfTopKTrained(corpus, q, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      annRecall(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", k = 5),
        ann, minHits = 3)
    }),
    "ivf_pq_ann" -> ((s, d) => {
      // The memory-bound ANN tier under the same planted-neighbor recall
      // gate as lsh_ann/ivf_ann/ivf_ann_trained: vectors live as 8 one-
      // byte PQ codes (32× smaller than float32×64), search scores codes
      // via a per-(query, list) asymmetric-distance table, and a jittered
      // near-copy's codes collapse to the query's own argmin rows — so
      // the planted true neighbors must surface even through the coarse
      // 16-codeword-per-subspace quantizer (recall@5 ≥ 0.6 asserted
      // in-query; golden hit counts pinned).
      val (corpus, q) = plantedAnnCorpus(s, d)
      val ann = Similarity.ivfPqTopK(corpus, q, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4, m = 8, codebookSize = 16)
      annRecall(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", k = 5),
        ann, minHits = 3)
    }),
    "ivf_pq_rerank" -> ((s, d) => {
      // Two-stage retrieval quality gate: ADC shortlists 50 from codes,
      // exact cosine re-ranks only the shortlist. Quantization error can
      // then only cost a candidate its shortlist spot, not its order —
      // recall must be >= the plain PQ gate's (golden hit counts pin it).
      val (corpus, q) = plantedAnnCorpus(s, d)
      val ann = Similarity.ivfPqTopKRerank(corpus, q, "vec_id", "embedding",
        k = 5, shortlist = 50, nlist = 16, nprobe = 4, m = 8, codebookSize = 16)
      annRecall(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", k = 5),
        ann, minHits = 3)
    }),
    "ivf_opq_rerank" -> ((s, d) => {
      // OPQ tier: a seeded orthogonal rotation decorrelates coordinates
      // before PQ coding (Ge et al., CVPR 2013 — the FAISS OPQMatrix
      // init), then the same two-stage ADC-shortlist + exact-cosine
      // re-rank as ivf_pq_rerank. Rotation preserves inner products, so
      // the brute-force gate is unchanged; recall must hold through the
      // rotated codebooks (recall@5 ≥ 0.6 in-query; golden hit counts
      // pinned). This is the live caller of the VecOps.matvec kernel.
      val (corpus, q) = plantedAnnCorpus(s, d)
      val ann = Similarity.ivfOpqTopKRerank(corpus, q, "vec_id", "embedding",
        k = 5, dim = 64, shortlist = 50, nlist = 16, nprobe = 4, m = 8,
        codebookSize = 16)
      annRecall(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", k = 5),
        ann, minHits = 3)
    }),
    "embedding_quantize" -> ((s, d) => {
      // int8 storage tier roundtrip: quantize → dequantize → cosine vs
      // original over a single scan (no self-join), rolled up to prove the
      // 4× compression keeps similarity structure. The scale (an O(dim)
      // array_max reduction) is hoisted behind a projection boundary:
      // higher-order transform() lambdas re-evaluate their whole body per
      // element, so scale inlined in the lambda is O(dim²) per row — the
      // hoist measured 3× on this gate. CollapseProject keeps the stages
      // apart because dscale is non-cheap and referenced twice.
      Tables.embeddings(s, d)
        .select(col("embedding"),
          (greatest(array_max(transform(col("embedding"), x => abs(x.cast("double")))),
            lit(1e-12)) / 127.0).as("dscale"))
        // qvec from the DOUBLE scale, dequantize through the stored FLOAT
        // scale — cast-for-cast what quantize()/dequantize() persist.
        .select(col("embedding"),
          col("dscale").cast("float").as("fscale"),
          transform(col("embedding"),
            x => round(x.cast("double") / col("dscale")).cast("tinyint")).as("qvec"))
        .select(col("embedding"),
          Similarity.dequantize(col("qvec"), col("fscale")).as("deq"))
        .select(Similarity.cosine(
          col("embedding"), col("deq"),
          Similarity.l2norm(col("embedding")), Similarity.l2norm(col("deq"))).as("cos"))
        .agg(count(lit(1)).as("n_vectors"),
          round(min("cos"), 4).as("worst_cosine"),
          round(avg("cos"), 4).as("avg_cosine"))
    }),
    "diversity_sample" -> ((s, d) =>
      // D4-family cluster-balanced selection: 60 slots filled round-robin
      // over 8 md5-drawn centroids, most-prototypical-first — assignment
      // is a map-only literal-matrix cosine, the per-cluster rank rides
      // the InferWindowGroupLimit pushdown (the domain_cap lesson), and
      // the whole selection replays bit-for-bit in the oracle
      Similarity.diversitySample(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 60, nlist = 8)),
    "diversity_sample_trained" -> ((s, d) => {
      // the ACTUAL D4 protocol (Tirumala et al. 2023): SemDeDup removes
      // the near-copies first, THEN cluster-balanced selection fills the
      // slots with Lloyd-TRAINED centroids over the survivor set — the
      // trained tier above diversity_sample's md5-drawn gate quantizer.
      // Every stage is deterministic (hash-ordered Lloyd sample, fixed
      // iters, pure-double kernels), so the 60 picked rows pin as a
      // golden oracle at the gate corpus. The planted jittered copies
      // (the semantic_dedup setup) must be gone before selection.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((pmod(xxhash64(col("vec_id"), i), lit(1000L)).cast("float")
            - lit(500.0f)) / lit(100000.0f))).as("embedding"))
      val corpus = emb.unionByName(planted)
      val losers = Similarity.semanticDedupPairs(corpus, "vec_id", "embedding",
          nlist = 16, threshold = 0.8)
        .select(col("id_b").as("vec_id")).distinct()
      val survivors = corpus.join(losers, Seq("vec_id"), "left_anti")
      val cents = Similarity.lloydCentroids(survivors, "vec_id", "embedding",
        nlist = 8)
      Similarity.diversitySample(survivors, "vec_id", "embedding", k = 60,
          centroids = Some(cents))
        .select("pick_order", "vec_id", "cluster_id", "cluster_rank")
    }),
    "dedup_clusters" -> ((s, d) => {
      // Pairs → transitive clusters → size distribution: the step that
      // makes pairwise near-dup output actionable (keep one per cluster).
      // The edge set is the UNION of every near-dup tier a production
      // dedup run emits — MinHash band pairs, SimHash hamming pairs, and
      // SemDeDup cluster-blocked embedding pairs (vec i embeds doc i) —
      // deduped by (src,dst) so a pair surfaced by several tiers enters
      // CC once. Each tier keeps its own recall gate; this gate exercises
      // the cross-tier transitive closure.
      val docs = Tables.documents(s, d)
      val minhash = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b")
      val simhash = Dedup.simhashNearDups(docs, "doc_id", "text")
        .select("id_a", "id_b")
      val semantic = Similarity.semanticDedupPairs(
          Tables.embeddings(s, d).select("vec_id", "embedding"),
          "vec_id", "embedding", nlist = 16, threshold = 0.8)
        .select("id_a", "id_b")
      val edges = minhash.unionByName(simhash).unionByName(semantic).distinct()
      Dedup.connectedComponents(edges, "id_a", "id_b")
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
    }),
    "dedup_clusters_exact" -> ((s, d) => {
      // Connected components verified end to end by a second engine over
      // a UNION of replayable edge families — the exact companion to the
      // multi-tier production form above (whose minhash/simhash/semantic
      // edges have no DuckDB mirror): (a) organic exact-dup stars — each
      // doc linked to the min-id doc sharing its
      // md5(normalizeTextNfc(text)), a hash groupBy + join on 16-byte
      // keys, NO quadratic pair join; (b) a second SIMILARITY tier —
      // prefix-blocked word-3-shingle Jaccard >= 0.6 over the raw text
      // (organic near-dup edges DuckDB rederives with list functions);
      // (c) a deterministic stress topology over synthetic ids (a 12-node
      // chain and a 7-node star: multi-hop shapes pointer jumping must
      // close in O(log n) rounds, present at every SF even when the
      // corpus has no normalized dups); (d) cross-tier BRIDGE edges
      // joining a document cluster to the chain and the star to the
      // chain — the multi-source risk is exactly cross-tier transitivity,
      // so the closure must merge components across edge families. The
      // union is deduped by (src,dst) before clustering, mirroring the
      // production union's dedup. DuckDB replays the clustering itself as
      // a recursive-CTE reachability closure + min-label GROUP BY.
      import s.implicits._
      val docs = Tables.documents(s, d)
      val h = docs.select(col("doc_id"),
        md5(TextOps.normalizeTextNfc(col("text"))).as("h"))
      val organic = h.join(h.groupBy("h").agg(min("doc_id").as("id_a")), "h")
        .filter(col("doc_id") =!= col("id_a"))
        .select(col("id_a"), col("doc_id").as("id_b"))
      val blocked = docs.select(col("doc_id"), col("text"),
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 2)).as("__blk"))
      val ngramEdges = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
          "__blk", threshold = 0.6)
        .select(col("id_a"), col("id_b"))
      val chain = (0 until 11).map(i => (10000L + i, 10001L + i))
      val star = (1 to 6).map(i => (20000L, 20000L + i))
      val synth = (chain ++ star).toDF("id_a", "id_b")
      val bridges = Seq((0L, 10000L), (20000L, 10011L)).toDF("id_a", "id_b")
      val edges = organic.unionByName(ngramEdges).unionByName(synth)
        .unionByName(bridges).distinct()
      Dedup.connectedComponents(edges, "id_a", "id_b")
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
    }),
    "novelty_check" -> ((s, d) => {
      // Incremental-crawl gate: which of the "new" docs (second half of the
      // corpus) are genuinely novel against the existing corpus (first
      // half)? Anti-join on content hash, self-dups collapsed first.
      val docs = Tables.documents(s, d)
      Dedup.novelDocs(docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "text", "doc_id")
        .select("doc_id", "lang", "source")
    }),
    "novelty_bloom" -> ((s, d) => {
      // The 100 TB form of the novelty gate: a Bloom filter built once per
      // corpus refresh answers "definitely novel" map-only for the fresh
      // majority; only bloom positives pay the exact anti-join. No false
      // negatives ⇒ the verdicts equal novelty_check's exactly, so the
      // oracle is the SAME SQL — the equality IS the gate.
      val docs = Tables.documents(s, d)
      Bloom.novelDocsBloom(docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "text", "doc_id",
          bitsPerShard = 4096, k = 5, shards = 2)
        .select("doc_id", "lang", "source")
    }),
    "novelty_near_dup" -> ((s, d) => {
      // The NEAR-dup form of the incremental-crawl gate: a re-crawled page
      // with a tweaked footer must NOT count as novel even though its
      // content hash differs. Fresh batch = second half of the corpus
      // plus planted probes: JITTERED copies of corpus docs 0-9 (four
      // appended tokens → ~0.95 Jaccard vs their originals — the
      // cross-batch near-dup the band-bucket probe must catch) and two
      // genuinely novel docs (no corpus near-match — must pass). Output
      // is the planted probes' verdicts (golden: the organic fresh docs'
      // verdicts ride the LSH-banding recall the D2 gates already pin,
      // and hash-derived bands have no DuckDB mirror).
      import s.implicits._
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
      val jittered = corpus.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" crawl jitter suffix pad")).as("text"))
      val novel = Seq(
        (4000000L, "wholly novel planted crawl document zyx about nothing" +
          " previously indexed qqj in this corpus at all"),
        (4000001L, "another genuinely novel planted document kvw carrying" +
          " entirely fresh content pqz never crawled before"))
        .toDF("doc_id", "text")
      val fresh = docs.filter(col("doc_id") >= 250).select("doc_id", "text")
        .unionByName(jittered).unionByName(novel)
      val novelOut = Dedup.novelNearDups(fresh, corpus, "doc_id", "text",
        threshold = 0.7)
      fresh.filter(col("doc_id") >= 3000000L)
        .join(novelOut.select(col("doc_id"), lit(true).as("__novel")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__novel"), lit(false)).as("is_novel"))
    }),
    "corpus_snapshot_diff" -> ((s, d) => {
      // Incremental-curation bookkeeping: the row-level delta between two
      // corpus versions. Gate versions are deterministic slices of the
      // documents table — prev = docs <400, curr = docs >=100 with every
      // 50th doc's text rewritten (a re-crawl edit) — so the output is
      // 100 added + 100 removed + the planted changed docs, replayable
      // exactly. The join ships (id, 16-byte hash), never text, and the
      // unchanged mass never materializes.
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") < 400)
      val curr = docs.filter(col("doc_id") >= 100)
        .withColumn("text", when(col("doc_id") % 50 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Snapshot.diff(prev, curr, "doc_id", "text")
    }),
    "corpus_snapshot_summary" -> ((s, d) => {
      // The per-refresh census a pipeline pins to catch step changes
      // (a crawler rewriting 40% of the corpus is an incident): same gate
      // versions, one full-outer hash join + one aggregate.
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") < 400)
      val curr = docs.filter(col("doc_id") >= 100)
        .withColumn("text", when(col("doc_id") % 50 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Snapshot.diffSummary(prev, curr, "doc_id", "text")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "substring_dedup" ->
      // full chain replay: plant construction, whitespace tokens, the
      // 5-token-shingle md5 last-hex-digit anchor test, 50-token span
      // md5 keys, distinct-(doc, key) cross-doc pair counts — every step
      // engine-portable string/md5 arithmetic (no engine-private hash)
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT 9400001,
             (SELECT string_agg('pa' || j, ' ' ORDER BY j) FROM range(0, 30) t(j))
             || ' ' ||
             (SELECT string_agg('ss' || j, ' ' ORDER BY j) FROM range(0, 120) t(j))
             || ' ' ||
             (SELECT string_agg('qa' || j, ' ' ORDER BY j) FROM range(0, 10) t(j))
           UNION ALL
           SELECT 9400002,
             (SELECT string_agg('pb' || j, ' ' ORDER BY j) FROM range(0, 17) t(j))
             || ' ' ||
             (SELECT string_agg('ss' || j, ' ' ORDER BY j) FROM range(0, 120) t(j))
             || ' ' ||
             (SELECT string_agg('qb' || j, ' ' ORDER BY j) FROM range(0, 25) t(j))
           UNION ALL
           SELECT 9400003,
             (SELECT string_agg('pc' || j, ' ' ORDER BY j) FROM range(0, 20) t(j))
             || ' ' ||
             (SELECT string_agg('sc' || j, ' ' ORDER BY j) FROM range(0, 49) t(j))
             || ' ' ||
             (SELECT string_agg('qc' || j, ' ' ORDER BY j) FROM range(0, 31) t(j))
           UNION ALL
           SELECT 9400004,
             (SELECT string_agg('pd' || j, ' ' ORDER BY j) FROM range(0, 11) t(j))
             || ' ' ||
             (SELECT string_agg('sc' || j, ' ' ORDER BY j) FROM range(0, 49) t(j))
             || ' ' ||
             (SELECT string_agg('qd' || j, ' ' ORDER BY j) FROM range(0, 40) t(j))),
         tk AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
                         x -> x <> '') AS t
           FROM corpus),
         pos AS (
           SELECT doc_id, t,
             CAST(unnest(generate_series(1, len(t) - 49)) AS INT) AS i
           FROM tk WHERE len(t) >= 50),
         anch AS (
           SELECT doc_id, md5(array_to_string(t[i:i+49], ' ')) AS sk
           FROM pos
           WHERE substr(md5(array_to_string(t[i:i+4], ' ')), 32, 1)
                 IN ('0', '8')),
         ds AS (SELECT DISTINCT doc_id, sk FROM anch)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_spans
         FROM ds a JOIN ds b ON a.sk = b.sk AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",
    "ivf_topk_broadcast" ->
      // golden parity: broadcast-centroid IVF returns exactly the
      // literal-matrix IVF's (query, neighbor, rank) set — 8 queries × 5
      // neighbors, zero disagreements in either direction
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      """SELECT CAST(40 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch""",
    "ivf_opq_rerank" ->
      // golden hit counts for the OPQ-rotated two-stage tier. Identical
      // to ivf_pq_rerank's counts at this corpus — expected, and itself
      // evidence the two-stage design works: the generous shortlist (50
      // of ~33 probed-list candidates per query) saturates candidate
      // coverage, and the exact re-rank recovers brute-force order among
      // candidates regardless of which rotation coded them. The rotation
      // earns its keep when m starves subspaces at production dims.
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change;
      //  counts also depend on rotation seed + hash-ordered training caps]
      ivfRecallGoldenSql,
    "ivf_pq_rerank" ->
      // golden hit counts for the two-stage (ADC shortlist + exact
      // re-rank) tier: strictly dominates plain ivf_pq_ann's counts
      // (33/40 planted neighbors vs 27/40 at the gate corpus)
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change;
      //  counts also depend on the hash-ordered coarse+PQ training caps]
      ivfRecallGoldenSql,
    "ivf_pq_ann" ->
      // golden per-query hit counts of the PQ-coded tier against
      // brute-force truth over the planted corpus; recall_ok pins
      // recall@5 >= 0.6
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change;
      //  counts also depend on the hash-ordered coarse+PQ training caps]
      """SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(n_hits AS BIGINT) AS n_hits, recall_ok
         FROM (VALUES (0, 3, TRUE), (1, 3, TRUE), (2, 4, TRUE), (3, 4, TRUE),
                      (4, 3, TRUE), (5, 4, TRUE), (6, 3, TRUE), (7, 3, TRUE))
           t(query_id, n_hits, recall_ok)""",
    "lsh_ann" ->
      // golden per-query hit counts of multi-probe LSH against brute-force
      // truth over the planted corpus; recall_ok pins recall@5 >= 0.6
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      """SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(n_hits AS BIGINT) AS n_hits, recall_ok
         FROM (VALUES (0, 3, TRUE), (1, 4, TRUE), (2, 3, TRUE), (3, 4, TRUE),
                      (4, 3, TRUE), (5, 4, TRUE), (6, 3, TRUE), (7, 5, TRUE))
           t(query_id, n_hits, recall_ok)""",
    "ivf_ann" ->
      // golden per-query hit counts of IVF (nprobe=4/16) against
      // brute-force truth over the planted corpus; recall@5 >= 0.6
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      """SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(n_hits AS BIGINT) AS n_hits, recall_ok
         FROM (VALUES (0, 5, TRUE), (1, 3, TRUE), (2, 5, TRUE), (3, 3, TRUE),
                      (4, 3, TRUE), (5, 3, TRUE), (6, 4, TRUE), (7, 4, TRUE))
           t(query_id, n_hits, recall_ok)""",
    "ivf_ann_trained" ->
      // golden per-query hit counts of KMeans-trained IVF (nprobe=4/16,
      // seed=42 fit) against brute-force truth over the planted corpus;
      // recall@5 >= 0.6
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      """SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(n_hits AS BIGINT) AS n_hits, recall_ok
         FROM (VALUES (0, 5, TRUE), (1, 5, TRUE), (2, 4, TRUE), (3, 5, TRUE),
                      (4, 5, TRUE), (5, 5, TRUE), (6, 4, TRUE), (7, 5, TRUE))
           t(query_id, n_hits, recall_ok)""",
    "ngram_jaccard_exact" ->
      // Full second-engine replay of the n-gram Jaccard operator: same
      // tokenization (whitespace split of trimmed text), same distinct
      // word-3-shingles (one truncated shingle when a doc has <3 tokens),
      // same block join — Jaccard over shingle STRINGS equals graft's
      // Jaccard over hashed shingles up to negligible collision odds.
      """WITH t AS (
           SELECT doc_id, lang,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE doc_id < 100),
         s AS (
           SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 3, 0) + 2),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM t)
         SELECT a.lang AS block, a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
         FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id""",
    "dedup_clusters_exact" ->
      // CC replayed by a second engine over the UNIONED edge families:
      // md5-of-normalized-text star edges + prefix-blocked 3-shingle
      // Jaccard near-dup edges + the synthetic chain/star topology +
      // cross-tier bridges, deduped by (src,dst), clustered via a
      // recursive-CTE reachability closure (every (node, seed-label) pair
      // in a component is eventually derived; min per node = the
      // component's min id, exactly connectedComponents' label policy).
      """WITH RECURSIVE
           hashes AS (
             SELECT doc_id,
               md5(lower(trim(regexp_replace(regexp_replace(
                 nfc_normalize(text), '\s+', ' ', 'g'),
                 '[\x00-\x1f]', '', 'g')))) AS h
             FROM documents),
           minper AS (SELECT h, min(doc_id) AS id_a FROM hashes GROUP BY h),
           organic AS (
             SELECT m.id_a, d.doc_id AS id_b
             FROM hashes d JOIN minper m USING (h)
             WHERE d.doc_id <> m.id_a),
           ksh AS (
             SELECT doc_id, array_to_string(toks[1:2], ' ') AS blk,
               list_distinct(list_transform(
                 range(1, greatest(len(toks) - 3, 0) + 2),
                 i -> array_to_string(toks[i:i+2], ' '))) AS sh
             FROM (SELECT doc_id,
                     string_split_regex(trim(text), '\s+') AS toks
                   FROM documents)),
           ngram AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ksh a JOIN ksh b
               ON a.blk = b.blk AND a.doc_id < b.doc_id
             WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
           synth AS (
             SELECT CAST(10000 + i AS BIGINT) AS id_a,
                    CAST(10001 + i AS BIGINT) AS id_b FROM range(0, 11) r(i)
             UNION ALL
             SELECT CAST(20000 AS BIGINT), CAST(20000 + i AS BIGINT)
             FROM range(1, 7) r(i)),
           bridges AS (
             SELECT CAST(0 AS BIGINT) AS id_a, CAST(10000 AS BIGINT) AS id_b
             UNION ALL
             SELECT CAST(20000 AS BIGINT), CAST(10011 AS BIGINT)),
           pairs AS (SELECT id_a, id_b FROM organic
                     UNION SELECT id_a, id_b FROM ngram
                     UNION SELECT id_a, id_b FROM synth
                     UNION SELECT id_a, id_b FROM bridges),
           edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                     UNION SELECT id_b, id_a FROM pairs),
           reach(id, label) AS (
             SELECT a, a FROM edges
             UNION
             SELECT e.b, r.label FROM reach r JOIN edges e ON r.id = e.a),
           labels AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
         SELECT component, count(*) AS cluster_size
         FROM labels GROUP BY component""",
    "exact_dedup" ->
      """SELECT doc_id, lang, source, n_chars FROM (
           SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn = 1""",
    "line_dedup" ->
      // full replay of the CCNet line tier: split on \n, normalize with
      // the same three explicit-class regexes (lower → strip [^a-z0-9 ] →
      // digit runs to 0 → collapse/trim spaces — Java and RE2 agree on
      // every class here), count non-empty norms corpus-wide, cut every
      // line whose norm repeats, reassemble kept lines by index
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (8200001, 'All rights reserved.' || chr(10) ||
               'alpha beta unique one' || chr(10) ||
               'Subscribe to our newsletter!'),
             (8200002, 'all rights reserved' || chr(10) ||
               'gamma delta unique two' || chr(10) ||
               'Subscribe to our newsletter!!!'),
             (8200003, 'ALL RIGHTS RESERVED???' || chr(10) ||
               'epsilon zeta unique three' || chr(10) ||
               'call 555-123 now' || chr(10) || 'call 555-999 now')
           ) t(doc_id, text)),
         lines AS (
           SELECT doc_id, generate_subscripts(ls, 1) AS idx,
             unnest(ls) AS line
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
                 FROM corpus) u),
         normed AS (
           SELECT doc_id, idx, line,
             trim(regexp_replace(regexp_replace(regexp_replace(lower(line),
               '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'), ' +', ' ', 'g'))
               AS norm
           FROM lines),
         rep AS (
           SELECT norm FROM normed WHERE norm <> ''
           GROUP BY norm HAVING count(*) >= 2)
         SELECT n.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(r.norm) AS BIGINT) AS n_cut,
           coalesce(string_agg(CASE WHEN r.norm IS NULL THEN n.line END,
             chr(10) ORDER BY n.idx), '') AS cleaned_text
         FROM normed n LEFT JOIN rep r ON n.norm = r.norm
         GROUP BY n.doc_id""",
    "span_dedup" ->
      // full replay: stride-1 windows, frequency by passage STRING, span
      // starts via lag (a repeated start opens a span iff the previous
      // repeated start is >= 8 back), covered tokens as the distinct
      // position union of all repeated windows (a different algorithm
      // than the engine's interval fold — same answer, which is the point)
      raw"""WITH $dedupToksCte,
         w AS (
           SELECT doc_id, len(toks) AS n,
             CAST(unnest(generate_series(1, greatest(len(toks) - 7, 1), 1))
               AS INT) - 1 AS s0,
             toks
           FROM t),
         p AS (
           SELECT doc_id, n, s0,
             array_to_string(toks[s0+1:s0+8], ' ') AS passage
           FROM w),
         f AS (SELECT passage, count(*) AS df FROM p GROUP BY passage),
         r AS (SELECT p.doc_id, p.n, p.s0
               FROM p JOIN f USING (passage) WHERE f.df >= 2),
         spans AS (
           SELECT doc_id, count(*) AS n_spans FROM (
             SELECT doc_id, s0,
               lag(s0) OVER (PARTITION BY doc_id ORDER BY s0) AS prev
             FROM r) q
           WHERE prev IS NULL OR s0 - prev >= 8 GROUP BY doc_id),
         cov AS (
           SELECT doc_id, count(DISTINCT pos) AS covered FROM (
             SELECT doc_id,
               unnest(generate_series(s0, least(s0 + 7, n - 1))) AS pos
             FROM r) u
           GROUP BY doc_id),
         base AS (
           SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
                  count(*)::BIGINT AS n_windows,
                  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_rep_windows
           FROM p JOIN f USING (passage) GROUP BY doc_id)
         SELECT b.doc_id, b.n_tokens, b.n_windows, b.n_rep_windows,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
           round(CASE WHEN b.n_tokens > 0
             THEN coalesce(c.covered, 0) * 1.0 / b.n_tokens
             ELSE 0.0 END, 4) AS covered_fraction
         FROM base b
         LEFT JOIN spans s USING (doc_id)
         LEFT JOIN cov c USING (doc_id)""",
    "para_dedup" ->
      // full replay: same lower+trim+\s+ tokenization, same 1, 9, 17, …
      // non-overlapping 8-token windows (short tail kept), frequency
      // grouped by the passage STRING (the semantic spec the 64-bit hash
      // grouping must agree with), same >= 2 threshold, same char-mass
      // ratio, clean text re-joined with single spaces in window order
      raw"""WITH $dedupToksCte,
         w AS (
           SELECT doc_id, toks,
             CAST(unnest(generate_series(1, greatest(len(toks), 1), 8))
               AS INT) AS st
           FROM t),
         p AS (
           SELECT doc_id, CAST((st - 1) / 8 AS INT) AS pos,
             array_to_string(toks[st:st+7], ' ') AS passage
           FROM w),
         f AS (SELECT passage, count(*) AS df FROM p GROUP BY passage),
         m AS (
           SELECT p.doc_id, p.pos, p.passage,
             len(p.passage) AS chars, (f.df >= 2) AS rep
           FROM p JOIN f USING (passage))
         SELECT doc_id,
           count(*)::BIGINT AS n_passages,
           CAST(sum(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
           round(CASE WHEN sum(chars) > 0
             THEN sum(CASE WHEN rep THEN chars ELSE 0 END) * 1.0 / sum(chars)
             ELSE 0.0 END, 4) AS repeated_ratio,
           coalesce(string_agg(CASE WHEN NOT rep THEN passage END, ' '
             ORDER BY pos), '') AS clean_text
         FROM m GROUP BY doc_id""",
    "diversity_sample" ->
      // full replay of the selection: centroids = the 8 rows with the
      // smallest md5-prefix draw, assignment = argmax cosine (ties to the
      // smaller centroid id), in-cluster rank by cos desc, round-robin
      // pick order; cosines ride the same double-fold dot chain the
      // cosine_topk oracle pins, so every comparison sees identical bits
      """WITH e AS (
           SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])) > 0),
         cand AS (
           SELECT v, row_number() OVER (
             ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
               vec_id) AS rn
           FROM e),
         cent AS (SELECT v, CAST(rn - 1 AS INT) AS cid FROM cand WHERE rn <= 8),
         a AS (
           SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.v) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(c.v, c.v))) AS cos,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.v) /
                 (sqrt(list_dot_product(e.v, e.v)) *
                  sqrt(list_dot_product(c.v, c.v))) DESC, c.cid ASC) AS rn
           FROM e CROSS JOIN cent c),
         r AS (
           SELECT vec_id, cid AS cluster_id, cos,
             CAST(row_number() OVER (PARTITION BY cid
               ORDER BY cos DESC, vec_id ASC) AS INT) AS cluster_rank
           FROM a WHERE rn = 1),
         p AS (
           SELECT CAST(row_number() OVER (
               ORDER BY cluster_rank, cluster_id) AS INT) AS pick_order,
             vec_id, cluster_id, cluster_rank, cos
           FROM r WHERE cluster_rank <= 8)
         SELECT pick_order, vec_id, cluster_id, cluster_rank, cos
         FROM p WHERE pick_order <= 60""",
    "diversity_sample_trained" ->
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change
      // via DiversitySampleSpec's printGolden helper]
      // the 60 picked rows of the full trained chain (plant jittered
      // copies → SemDeDup survivor filter → Lloyd centroids → balanced
      // selection); Lloyd's KMeans fit can't replay in DuckDB, so the
      // deterministic end-to-end output pins as a VALUES table (the
      // bpe_merges convention). Determinism itself is spec-gated
      // (repartition-invariance + twice-in-one-session stability).
      """SELECT CAST(pick_order AS INT) AS pick_order,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cluster_id AS INT) AS cluster_id,
           CAST(cluster_rank AS INT) AS cluster_rank
         FROM (VALUES
           (1,310,0,1),(2,23,1,1),(3,477,2,1),(4,199,3,1),(5,195,4,1),
           (6,181,5,1),(7,417,6,1),(8,179,7,1),(9,364,0,2),(10,436,1,2),
           (11,83,2,2),(12,101,3,2),(13,317,4,2),(14,438,5,2),(15,50,6,2),
           (16,370,7,2),(17,325,0,3),(18,58,1,3),(19,72,2,3),(20,123,3,3),
           (21,382,4,3),(22,337,5,3),(23,355,6,3),(24,338,7,3),
           (25,277,0,4),(26,48,1,4),(27,308,2,4),(28,108,3,4),(29,80,4,4),
           (30,266,5,4),(31,247,6,4),(32,406,7,4),(33,380,0,5),
           (34,193,1,5),(35,460,2,5),(36,324,3,5),(37,495,4,5),
           (38,442,5,5),(39,79,6,5),(40,482,7,5),(41,331,0,6),(42,200,1,6),
           (43,196,2,6),(44,443,3,6),(45,19,4,6),(46,18,5,6),(47,70,6,6),
           (48,62,7,6),(49,290,0,7),(50,409,1,7),(51,469,2,7),
           (52,147,3,7),(53,316,4,7),(54,398,5,7),(55,335,6,7),(56,53,7,7),
           (57,131,0,8),(58,34,1,8),(59,201,2,8),(60,361,3,8)
         ) AS t(pick_order, vec_id, cluster_id, cluster_rank)""",
    "novelty_near_dup" ->
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      // planted-probe verdicts: every jittered cross-batch duplicate
      // (ids 3000000-3000009) caught as non-novel, both genuinely novel
      // plants (4000000-4000001) passed
      noveltyGoldenSql,
    "novelty_bloom" ->
      // identical to novelty_check's oracle BY DESIGN: the Bloom tier's
      // contract is verdict equality with the exact gate (no false
      // negatives; positives exact-verified), so the second engine replays
      // the exact semantics and the bloom path must land on them
      noveltyExactSql,
    "novelty_check" ->
      // NOT EXISTS (not NOT IN): a NULL content hash must stay novel in
      // both engines — NOT IN drops it, the anti-join keeps it
      noveltyExactSql,
    "corpus_snapshot_diff" ->
      raw"""WITH $snapshotCtes
         SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
           CASE WHEN prev_hash IS NULL THEN 'added'
                WHEN curr_hash IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           prev_hash, curr_hash
         FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
         WHERE prev_hash IS NULL OR curr_hash IS NULL
            OR prev_hash <> curr_hash""",
    "corpus_snapshot_summary" ->
      raw"""WITH $snapshotCtes
         SELECT
           CAST(sum(CASE WHEN prev_hash IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_added,
           CAST(sum(CASE WHEN curr_hash IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(sum(CASE WHEN prev_hash IS NOT NULL AND curr_hash IS NOT NULL
                          AND prev_hash <> curr_hash THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(sum(CASE WHEN prev_hash = curr_hash THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unchanged
         FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id""",
    "cosine_topk" ->
      // same double-accumulation chain as Similarity.dot (float elements
      // cast to double, sequential fold): bit-identical across engines
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
           q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e
                 FROM embeddings WHERE vec_id < 8)
         SELECT query_id, vec_id, cos, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id,
             list_dot_product(c.e, q.e)
               / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e))) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_dot_product(c.e, q.e)
                 / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e))) DESC,
               c.vec_id) AS rank
           FROM c JOIN q ON c.vec_id <> q.vec_id) t
         WHERE rank <= 5""",
    "ann_matryoshka" ->
      // the two-stage replay: prefix-slice cosine shortlist (DuckDB
      // slices the DOUBLE-cast array — elementwise cast commutes with
      // slicing, so folds match Spark's slice-then-cast), vec_id
      // tie-breaks at both ranks, exact full-dim rerank of the 20
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
           q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e
                 FROM embeddings WHERE vec_id < 8),
           pre AS (
             SELECT q.vec_id AS query_id, c.vec_id, c.e, q.e AS qe,
               list_dot_product(c.e[1:16], q.e[1:16])
                 / (sqrt(list_dot_product(c.e[1:16], c.e[1:16]))
                    * sqrt(list_dot_product(q.e[1:16], q.e[1:16]))) AS pcos
             FROM c JOIN q ON c.vec_id <> q.vec_id),
           short AS (
             SELECT query_id, vec_id, e, qe FROM (
               SELECT query_id, vec_id, e, qe,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY pcos DESC, vec_id) AS prank
               FROM pre) t WHERE prank <= 20)
         SELECT query_id, vec_id, cos, rank FROM (
           SELECT query_id, vec_id,
             list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e))
                  * sqrt(list_dot_product(qe, qe))) AS cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e))
                    * sqrt(list_dot_product(qe, qe))) DESC,
               vec_id) AS rank
           FROM short) r
         WHERE rank <= 5""",
    "doc_semantic_dedup" ->
      // golden recovered pairs [GOLDEN @ gate corpus: sf0.01, seed=42 —
      // re-derive on SF change]: all 10 reorder pairs (guaranteed,
      // identical vectors) AND all 5 appended near-dup pairs (blocking
      // held at this corpus; a boundary split would drop a +2e6 row and
      // is the documented SemDeDup trade)
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
         FROM (VALUES
           (0, 1000000), (1, 1000001), (2, 1000002), (3, 1000003),
           (4, 1000004), (5, 1000005), (6, 1000006), (7, 1000007),
           (8, 1000008), (9, 1000009),
           (10, 2000010), (11, 2000011), (12, 2000012), (13, 2000013),
           (14, 2000014)) t(id_a, id_b)""",
    "doc_embed_ivf" ->
      // golden per-query hit counts of IVF (nprobe=4/16) over the
      // hashed-TF-IDF bridge vectors against brute-force truth on the
      // same vectors; recall@5 >= 0.6
      // [GOLDEN @ gate corpus: sf0.01 — re-derive on SF change]
      """SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(n_hits AS BIGINT) AS n_hits, recall_ok
         FROM (VALUES (0, 5, TRUE), (1, 3, TRUE), (2, 4, TRUE),
                      (3, 4, TRUE), (4, 4, TRUE))
           t(query_id, n_hits, recall_ok)""",
    "doc_embed" ->
      // exact replay of the bridge: lowerToks tokenize (explicit \s
      // class), md5-prefix bucket mod 64, smoothed IDF ln rounded once
      // at 1e3, integer tf·idf sums per (doc, dim)
      raw"""WITH $embedToksCte,
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS BIGINT) AS dim,
           CAST(sum(tf * CAST(round(ln((n_docs + 1.0) / (df + 1.0)) * 1000)
             AS BIGINT)) AS BIGINT) AS w
         FROM tf JOIN dfq USING (tok) CROSS JOIN n
         GROUP BY 1, 2""",
    "doc_embed_topk" ->
      // the D6 ranking replayed over the bridge vectors: dots/norms from
      // the SPARSE replay above (integer sums, exact), zero-dot pairs
      // restored via the full query×corpus frame so a sparse miss can't
      // drop a candidate, cosine divided from exact integers in both
      // engines
      raw"""WITH $embedToksCte,
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sparse AS (
           SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS dim,
             CAST(sum(tf * CAST(round(ln((n_docs + 1.0) / (df + 1.0)) * 1000)
               AS BIGINT)) AS BIGINT) AS w
           FROM tf JOIN dfq USING (tok) CROSS JOIN n
           GROUP BY 1, 2),
         norms AS (
           SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
           FROM sparse GROUP BY 1 HAVING sum(w * w) > 0),
         dots AS (
           SELECT a.doc_id AS query_id, b.doc_id AS vec_id,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
           FROM sparse a JOIN sparse b ON a.dim = b.dim
           WHERE a.doc_id < 5 AND b.doc_id <> a.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT q.doc_id AS query_id, c.doc_id AS vec_id,
             coalesce(d.dot, 0) / (sqrt(q.n2) * sqrt(c.n2)) AS cos
           FROM norms q JOIN norms c ON q.doc_id < 5 AND c.doc_id <> q.doc_id
           LEFT JOIN dots d ON d.query_id = q.doc_id AND d.vec_id = c.doc_id)
         SELECT query_id, vec_id, round(cos, 4) AS cos4, rank FROM (
           SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, vec_id) AS rank
           FROM pairs) t
         WHERE rank <= 3""",
    "embedding_quantize" ->
      // mirrors Similarity.quantized/dequantize cast-for-cast: qvec from
      // the DOUBLE scale, dequantize through the stored FLOAT scale
      """WITH t AS (
           SELECT CAST(embedding AS DOUBLE[]) AS e,
             greatest(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS dscale
           FROM embeddings),
         q AS (
           SELECT e, CAST(dscale AS FLOAT) AS fscale,
             list_transform(e, x -> CAST(round(x / dscale) AS TINYINT)) AS qvec
           FROM t),
         d AS (
           SELECT e, CAST(list_transform(qvec,
             v -> CAST(CAST(v AS DOUBLE) * fscale AS FLOAT)) AS DOUBLE[]) AS dq
           FROM q),
         c AS (
           SELECT list_dot_product(e, dq)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(dq, dq))) AS cos
           FROM d)
         SELECT count(*) AS n_vectors, round(min(cos), 4) AS worst_cosine,
           round(avg(cos), 4) AS avg_cosine
         FROM c""",
    "embedding_dedup" ->
      // golden oracle: the query plants jittered copies of vectors 0..19 at
      // id+1000000; the operator must recover exactly those pairs
      """SELECT i AS id_a, i + 1000000 AS id_b FROM range(0, 20) t(i)""",
    "semantic_dedup" ->
      // same golden planted pairs, recovered through TRAINED-cluster
      // blocking instead of random hyperplanes (a jittered copy assigns to
      // its original's cluster by the same centroid argmax)
      """SELECT i AS id_a, i + 1000000 AS id_b FROM range(0, 20) t(i)""",
    "minhash_planted_pairs" ->
      """SELECT i AS id_a, i + 1000000 AS id_b, 1.0 AS jaccard
         FROM range(0, 10) t(i)""",
    "minhash_guard_stats" ->
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      // bucket census of the seeded banding chain at cap 1: 3828 band
      // buckets over 500 docs × 8 bands; 164 multi-member buckets (the
      // corpus's organic near-dup collisions) would drop 336 rows = 8.4%
      """SELECT CAST(3828 AS BIGINT) AS n_buckets,
           CAST(4000 AS BIGINT) AS banded_rows,
           CAST(164 AS BIGINT) AS buckets_capped,
           CAST(336 AS BIGINT) AS rows_dropped,
           0.084 AS drop_fraction""",
    "simhash_planted_pairs" ->
      """SELECT i AS id_a, i + 1000000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM range(0, 10) t(i)"""
  )
}
