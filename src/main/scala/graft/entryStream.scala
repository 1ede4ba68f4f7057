package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.ml.FatalityModel
import graft.operators._
import graft.sources.{Jsonl, Sink, Tables}
import graft.streaming.{CurationStream, EventStream, IncrementalStream}

import EntryOps._

/** Structured Streaming forms of the batch operators: windowed/
  * sliding/session aggregations, streaming dedup state, upserts, and the
  * checkpointed incremental/scrub/LM-score streams.
  *
  * Registration slice of the [[SparkEntry]] driver contract — query
  * lambdas and their DuckDB oracle replays, split per tier (r15) so the
  * contract file stops being the single merge bottleneck. Entry text is
  * unchanged from the monolithic registration. */
private[graft] object StreamEntries {

  /** Bootstrap-vs-drain attribution for the two heaviest gate queries
    * (stream_incremental / stream_scrub — the #1/#2 bench wall since
    * r13): wrap each phase and print wall-clock when GRAFT_STREAM_TIMING
    * is set (the GRAFT_FUNNEL_TIMING pattern). The gate shape bootstraps
    * full lake state in-query and then runs two checkpointed drains —
    * this probe says which side the seconds live on, so the pin note can
    * attribute them (gate cost vs serving cost) instead of re-litigating
    * the absolute number every round. */
  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.contains("GRAFT_STREAM_TIMING"))
      println(f"[stream-timing] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §E streaming (batch-equivalent plan for the gate) -------------
    "stream_dedup_state" -> ((s, d) => {
      // The streaming dedup-by-key operator (dropDuplicatesWithinWatermark,
      // the stream form of the reference's keyed upsert) in its batch
      // form: every 50th event re-delivered, the SAME transform must
      // collapse each key back to exactly one row. The MemoryStream suite
      // drives the stateful/watermarked behavior; this pins the semantics
      // against DuckDB's DISTINCT.
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val redelivered = ev.filter(pmod(col("event_id"), lit(50L)) === 0)
      EventStream.dedupStream(ev.unionByName(redelivered))
        .select("event_id")
    }),
    "stream_windowed_counts" -> ((s, d) =>
      EventStream.windowedCounts(Tables.events(s, d))),
    "stream_sliding_counts" -> ((s, d) =>
      // Hopping window (1h window, 30min slide): each event lands in
      // exactly 2 windows. Same plan streams with bounded state
      // (EventStreamSpec); the gate runs it in batch against a DuckDB
      // spine-join oracle.
      EventStream.windowedCounts(Tables.events(s, d), slide = Some("30 minutes"))),
    "stream_sessions" -> ((s, d) =>
      // Declarative sessionization (session_window): per-user sessions
      // that extend while events arrive within 4h of the last and close
      // at last+4h. The gate runs the batch form; DuckDB replays it as
      // gaps-and-islands SQL (LAG + cumulative session counter) — the
      // window-merge semantics (touching windows MERGE; only a gap
      // strictly larger than 4h breaks a session) must agree exactly. EventStreamSpec drives the same plan as a real
      // watermarked stream and pins stream==batch on closed sessions.
      EventStream.sessionWindows(Tables.events(s, d))),
    "stream_correlate" -> ((s, d) => {
      // Click→purchase attribution within 30 minutes per user — the
      // stream-stream interval join (sensors.py's correlation window) in
      // its batch form; both engines run the same interval predicate.
      val ev = Tables.events(s, d)
      EventStream.correlate(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "30 minutes")
    }),
    "stream_upsert" -> ((s, d) => {
      // The full sensor loop, actually STREAMING in the gate: two delivery
      // waves into a landing dir, each drained by an AvailableNow run of
      // the file-source → foreachBatch merge (the checkpoint carries the
      // cursor between runs, batchId is the version). Wave 2 re-delivers
      // every 100th event with value+1000 — latest wins in the lake table.
      val base = sinkPath(d, "stream_upsert")
      val (landing, tbl, ckpt) = (s"$base/landing", s"$base/table", s"$base/ckpt")
      Sink.reset(base)
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      ev.write.parquet(landing)
      EventStream.upsertStream(s, landing, tbl, ckpt, availableNow = true)
        .awaitTermination()
      ev.filter(pmod(col("event_id"), lit(100L)) === 0)
        .withColumn("value", col("value") + 1000)
        .write.mode("append").parquet(landing)
      EventStream.upsertStream(s, landing, tbl, ckpt, availableNow = true)
        .awaitTermination()
      Tables.parquet(s, tbl).select("event_id", "value")
    }),
    "stream_jsonl_ingest" -> ((s, d) => {
      // The corpus boundary as a STREAM: the JSONL landing prefix (with
      // the same two planted corrupt lines as jsonl_ingest) drained by an
      // AvailableNow run of the quarantined parse (maxFilesPerTrigger=2);
      // foreachBatch appends each batch's ingest profile as telemetry.
      // The gate rolls the telemetry up — counts and char-sums are
      // decomposable, so the rollup must equal the batch profile EXACTLY,
      // pinned by the same oracle as jsonl_ingest. The testdata tables are
      // single files, so the landing holds one data file plus the corrupt
      // one and drains in ONE micro-batch here: this gate does not split
      // the drain. Batch-split independence is pinned by JsonlSpec's
      // "multi-batch AvailableNow drain" test (five files, one per trigger).
      val base = sinkPath(d, "stream_jsonl")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      Jsonl.write(Tables.documents(s, d), landing)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, "zz-corrupt.json"),
        java.util.Arrays.asList(
          """{"doc_id": 1, "text": "unterminated""",
          """this is not json"""))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string, lang string, source string, n_chars long")
      Jsonl.readStream(s, landing, schema, maxFilesPerTrigger = 2)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // batch-stamped idempotent sink (the serving-stream contract):
          // the rollup SUMS per-batch telemetry, so a replayed batch
          // appended twice would double-count — the stamp makes replay
          // overwrite instead (the batch partition column is the ledger)
          Sink.writeBatchStamped(
            Jsonl.ingestProfile(batch, "lang", "n_chars"), out, batchId)
        }
        .start().awaitTermination()
      Tables.parquet(s, out).groupBy("lang", "is_corrupt")
        .agg(sum("n_docs").as("n_docs"), sum("total_chars").as("total_chars"))
    }),
    "stream_incremental" -> ((s, d) => {
      // The incremental refresh loop ACTUALLY STREAMING — the production
      // shape: the planted two-version delta arrives as two crawler
      // waves (doc_id, op, text) in a landing dir, each drained by an
      // AvailableNow run (maxFilesPerTrigger=1, checkpointed cursor —
      // the E7 delivery discipline), and each micro-batch advances ALL
      // the carried state delta-bound: raw corpus lake (touched shard
      // dirs only), packed lake (Incremental.refreshInPlace), ledger
      // rollforward. Every refresh equals the batch rebuild over its
      // intermediate version by the Incremental contract, so the final
      // lake equals the rebuild over version 2 NO MATTER how the delta
      // splits into waves — the same incrRebuildSql oracle as
      // incremental_pipeline/incremental_sink, now proving the
      // STREAMING write path.
      val (prev, curr) = incrCorpus(s, d)
      val base = sinkPath(d, "stream_incremental")
      val (landing, raw, packed, ledger, ckpt) =
        (s"$base/landing", s"$base/raw", s"$base/packed",
          s"$base/ledger", s"$base/ckpt")
      Sink.reset(base)
      phase("incr:bootstrap") {
        IncrementalStream.bootstrap(prev, raw, packed, ledger,
          "doc_id", "text", incrKeep,
          maxTokens = 32, overlap = 8, budget = 256L, shards = 64, incrShard)
      }
      // pinned once: the delta frame is written twice (one filtered half
      // per wave), and each lazy write would re-execute the Snapshot.diff
      // full-outer join + curr re-join — the wave split should cost two
      // cheap filters of a materialized delta, not two diff passes
      val waves = Snapshot.diff(prev, curr, "doc_id", "text")
        .select(col("doc_id"),
          when(col("status") === "removed", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
        .join(curr.select(col("doc_id"), col("text")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("op"), col("text"))
        .localCheckpoint()
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, op string, text string")
      def drain(): Unit =
        IncrementalStream.refreshStream(s, landing, schema, raw, packed,
          ledger, ckpt, "doc_id", "text", incrKeep,
          maxTokens = 32, overlap = 8, budget = 256L, shards = 64,
          incrShard).awaitTermination()
      phase("incr:wave1+drain") {
        waves.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
          .coalesce(1).write.mode("append").parquet(landing)
        drain()
      }
      phase("incr:wave2+drain") {
        waves.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 1)
          .coalesce(1).write.mode("append").parquet(landing)
        drain()
      }
      Tables.parquet(s, packed).select(
        col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("shard").cast("int").as("shard"), col("seq_id"))
    }),
    "stream_scrub" -> ((s, d) => {
      // The frequency-delta scrub refresh ACTUALLY STREAMING (ScrubStream)
      // — the four-lake loop: the same planted scrub delta arrives as two
      // crawler waves, and each checkpointed micro-batch rewrites ONLY
      // the touched partitions of the raw corpus lake, the window
      // posting index (doc-keyed shards), the frequency table (whash
      // buckets), and the scrub output lake. Every replacement row-set
      // is staged before any lake overwrite (the refresh plan reads the
      // pre-wave lakes). The waves split the delta by id parity, so
      // BOTH df-crossing ripples land in different micro-batches than
      // some of their holders — and the drained scrub lake must still
      // equal the batch spanScrub over version 2: the same oracle as
      // incremental_scrub, now through the streaming four-lake path.
      val (prev, curr) = scrubCorpus(s, d)
      val base = sinkPath(d, "stream_scrub")
      val (landing, raw, wins, dfl, scrub, ckpt) =
        (s"$base/landing", s"$base/raw", s"$base/wins",
          s"$base/df", s"$base/scrub", s"$base/ckpt")
      Sink.reset(base)
      val shardOf: Column => Column = k =>
        conv(substring(md5(k.cast("string")), 1, 4), 16, 10).cast("long") % 64
      phase("scrub:bootstrap") {
        graft.streaming.ScrubStream.bootstrap(prev, raw, wins, dfl, scrub,
          "doc_id", "text", window = 8, minDf = 2, hashBuckets = 32, shardOf)
      }
      // pinned once (the stream_incremental rationale): two filtered wave
      // writes must not re-run the Snapshot.diff pass each
      val waves = Snapshot.diff(prev, curr, "doc_id", "text")
        .select(col("doc_id"),
          when(col("status") === "removed", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
        .join(curr.select(col("doc_id"), col("text")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("op"), col("text"))
        .localCheckpoint()
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, op string, text string")
      def drain(): Unit =
        graft.streaming.ScrubStream.refreshStream(s, landing, schema, raw,
          wins, dfl, scrub, ckpt, "doc_id", "text", window = 8, minDf = 2,
          hashBuckets = 32, shardOf).awaitTermination()
      phase("scrub:wave1+drain") {
        waves.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
          .coalesce(1).write.mode("append").parquet(landing)
        drain()
      }
      phase("scrub:wave2+drain") {
        waves.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 1)
          .coalesce(1).write.mode("append").parquet(landing)
        drain()
      }
      Tables.parquet(s, scrub).select(col("id").as("doc_id"),
        md5(col("scrubbed_text")).as("scrub_hash"),
        col("n_tokens"), col("n_removed"))
    }),
    "stream_lm_score" -> ((s, d) => {
      // LM model SERVING on a stream: the bigram model trains and
      // persists ONCE from the corpus, then two parquet delivery waves
      // of fresh crawl docs (jittered corpus derivatives with planted
      // OOV tails + two wholly-novel docs) drain through checkpointed
      // AvailableNow runs, each micro-batch scored via the backoff
      // ladder against the STATIC model frames. Scores are per-doc
      // functions of (doc, model), so the drained lake must equal the
      // batch scoreAgainst over the same docs no matter the wave/batch
      // split — the oracle replays exactly that in SQL.
      import s.implicits._
      val base = sinkPath(d, "stream_lm_score")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      val (model, margins, vocab) =
        NgramLm.servingFrames(docs, "doc_id", "text")
      Seq(model, margins, vocab).foreach(_.persist())
      val probes = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" qq zz qq zz")).as("text"))
      val novels = Seq(
        (4000000L, "wholly novel planted stream document zyx about" +
          " nothing previously modeled qqj at all"),
        (4000001L, "another genuinely novel planted document kvw" +
          " carrying entirely fresh content pqz never scored before"))
        .toDF("doc_id", "text")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string")
      probes.filter(col("doc_id") < 3000005L)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.lmScoreStream(s, landing, schema, model, margins, vocab,
        "doc_id", "text", out, ckpt, maxFilesPerTrigger = 1)
        .awaitTermination()
      probes.filter(col("doc_id") >= 3000005L).unionByName(novels)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.lmScoreStream(s, landing, schema, model, margins, vocab,
        "doc_id", "text", out, ckpt, maxFilesPerTrigger = 1)
        .awaitTermination()
      Seq(model, margins, vocab).foreach(_.unpersist())
      // drop the batch-stamped sink's delivery-ledger partition column —
      // the gate compares score content, not delivery bookkeeping
      Tables.parquet(s, out)
        .select("doc_id", "n_bigrams", "n_oov", "logprob_sum", "avg_nll",
          "ppl", "keep")
    }),
    "stream_kn_score" -> ((s, d) => {
      // D31c SERVING (the stream_lm_score contract one model rung up):
      // the KN trigram frames train ONCE from the corpus, then two
      // delivery waves of fresh docs (OOV-tailed corpus derivatives +
      // two wholly-novel docs) drain through checkpointed AvailableNow
      // runs, each micro-batch three-rung backoff-scored against the
      // static frames and committed exactly-once via the batch-stamped
      // sink. Verdicts are per-doc functions of (doc, frames), so the
      // drained lake must equal the batch ladder over the same probes
      // whatever the wave/batch split — the oracle replays the model,
      // the continuation counts, the probes, and the scoring in SQL.
      import s.implicits._
      val base = sinkPath(d, "stream_kn_score")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      val frames = NgramLm.knFrames(docs, "doc_id", "text")
      val held = Seq(frames.tri, frames.ctx2, frames.contb, frames.mid,
        frames.contu, frames.scalars)
      held.foreach(_.persist())
      val probes = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" qq zz qq zz")).as("text"))
      val novels = Seq(
        (6100000L, "wholly novel planted stream document zyx about" +
          " nothing previously modeled qqj at all"),
        (6100001L, "another genuinely novel planted document kvw" +
          " carrying entirely fresh content pqz never scored before"))
        .toDF("doc_id", "text")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string")
      probes.filter(col("doc_id") < 6000005L)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.knScoreStream(s, landing, schema, frames, "doc_id", "text",
        out, ckpt, maxFilesPerTrigger = 1).awaitTermination()
      probes.filter(col("doc_id") >= 6000005L).unionByName(novels)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.knScoreStream(s, landing, schema, frames, "doc_id", "text",
        out, ckpt, maxFilesPerTrigger = 1).awaitTermination()
      held.foreach(_.unpersist())
      Tables.parquet(s, out)
        .select("doc_id", "n_trigrams", "n_hit3", "n_hit2", "logprob_sum",
          "avg_nll", "ppl", "keep")
    }),
    "stream_perplexity_buckets" -> ((s, d) => {
      // CCNet stratification SERVING (E12, the stream form of D31b): the
      // trusted-slice model and the corpus-percentile cutoffs are
      // deployment artifacts — trained once from the reference corpus,
      // NOT per batch (per-batch cutoffs would make a doc's bucket
      // depend on its batch-mates) — then the same two probe waves as
      // stream_lm_score drain through checkpointed AvailableNow runs,
      // each micro-batch backoff-scored and threshold-assigned against
      // the static frames. Buckets are per-doc functions of (doc, model,
      // cuts), so the drained lake must equal the batch assignment over
      // the same probes — the oracle replays model, corpus cutoffs, and
      // probe scoring end to end in SQL.
      import s.implicits._
      val base = sinkPath(d, "stream_perplexity_buckets")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      val trusted = docs.filter(length(col("source")) === 4)
      val (model, margins, vocab) =
        NgramLm.servingFrames(trusted, "doc_id", "text")
      Seq(model, margins, vocab).foreach(_.persist())
      // the cutoff artifact: corpus scored once against the trusted
      // slice, tertile cuts collected into a literal 1-row frame (what a
      // deployment ships beside the model — micro-batches must never
      // re-trigger the corpus pass)
      val cutRow = NgramLm.cutoffs(
        NgramLm.scoreWithModel(docs, model, margins, vocab,
          "doc_id", "text")).collect()(0)
      // cutoffs are min(when(...)) over scoreable docs — null (not a
      // crash) when the reference corpus has none, so fail loud here
      require(!cutRow.isNullAt(0) && !cutRow.isNullAt(1),
        "perplexity cutoffs are null: reference corpus has no scoreable docs")
      val cuts = Seq((cutRow.getDouble(0), cutRow.getDouble(1)))
        .toDF("cut_head", "cut_middle")
      val probes = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" qq zz qq zz")).as("text"))
      val novels = Seq(
        (4000000L, "wholly novel planted stream document zyx about" +
          " nothing previously modeled qqj at all"),
        (4000001L, "another genuinely novel planted document kvw" +
          " carrying entirely fresh content pqz never scored before"))
        .toDF("doc_id", "text")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string")
      probes.filter(col("doc_id") < 3000005L)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.lmBucketStream(s, landing, schema, model, margins, vocab,
        cuts, "doc_id", "text", out, ckpt, maxFilesPerTrigger = 1)
        .awaitTermination()
      probes.filter(col("doc_id") >= 3000005L).unionByName(novels)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.lmBucketStream(s, landing, schema, model, margins, vocab,
        cuts, "doc_id", "text", out, ckpt, maxFilesPerTrigger = 1)
        .awaitTermination()
      Seq(model, margins, vocab).foreach(_.unpersist())
      Tables.parquet(s, out)
        .select("doc_id", "n_bigrams", "n_oov", "avg_nll", "bucket")
    }),
    "stream_seq_packing" -> ((s, d) => {
      // E15: token-budget packing AT CRAWL-INGEST (the streaming form of
      // D16) — the first gate whose keyed state is a cross-batch
      // ACCUMULATOR: each md5 shard's open sequence (seq, used) lives in
      // the state store, so a bin left part-full by delivery wave 1
      // keeps filling from wave 2 (the spec pins a bin spanning the
      // waves). Greedy next-fit is deliberately the streaming shape —
      // O(1) state per shard vs BFD's full open-bin ledger (D16b) — and
      // the doc_id-ordered single-file waves make the drained assignment
      // EQUAL the batch packer's, which is what the oracle replays
      // (the packing recursion in doc_id order). Parquet file-sink
      // transaction log = exactly-once lake.
      val base = sinkPath(d, "stream_seq_packing")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string")
      docs.filter(col("doc_id") < 250).coalesce(1)
        .write.mode("append").parquet(landing)
      EventStream.packingStream(s, landing, schema, out, ckpt,
        budget = 128, shards = 2).awaitTermination()
      docs.filter(col("doc_id") >= 250).coalesce(1)
        .write.mode("append").parquet(landing)
      EventStream.packingStream(s, landing, schema, out, ckpt,
        budget = 128, shards = 2).awaitTermination()
      Tables.parquet(s, out)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"), col("seq_id"))
    }),
    "stream_domain_cap" -> ((s, d) => {
      // E16: per-domain ingest QUOTA (the serving form of D32's domain
      // cap) — keyed state is a cross-batch COUNTER: each domain's
      // arrival count carries across delivery waves, so a domain whose
      // quota part-fills in wave 1 crosses the cap MID-WAVE-2 (the gate
      // corpus has 20 sources x 25 docs, ids interleaved mod 20 — at
      // cap 15 every domain fills ~12 slots in wave 1 and crosses in
      // wave 2). First-arrival semantics, deliberately not the batch
      // cap's md5 rank (a stream can't know future arrivals; batch
      // re-cap when unbiased sampling matters); the doc_id-ordered
      // single-file waves make arrival rank == doc_id rank, which is
      // what the oracle replays. Every doc gets a ledger row, over-quota
      // included. Parquet file-sink transaction log = exactly-once lake.
      val base = sinkPath(d, "stream_domain_cap")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, source string")
      docs.filter(col("doc_id") < 250).sort("doc_id").coalesce(1)
        .write.mode("append").parquet(landing)
      EventStream.domainCapStream(s, landing, schema, out, ckpt, cap = 15L)
        .awaitTermination()
      docs.filter(col("doc_id") >= 250).sort("doc_id").coalesce(1)
        .write.mode("append").parquet(landing)
      EventStream.domainCapStream(s, landing, schema, out, ckpt, cap = 15L)
        .awaitTermination()
      Tables.parquet(s, out).select("doc_id", "domain", "seen_rank", "kept")
    }),
    "stream_provenance" -> ((s, d) => {
      // E17 (r19): D34b's provenance ledger at CRAWL-INGEST — the
      // deployed artifacts (corpus line index, corpus-trained LM serving
      // frames, url-rule config, per-domain quota delta lake) score two
      // arriving waves into a batch-stamped ledger, one staged-verdict
      // row per arriving doc. Four arrival families exercise every arm:
      //   A (+7.0e6, 'probeA'): corpus line + novel tail line — the
      //     known line cuts, the 4-word remainder fails gopher;
      //   B (+7.5e6, 'probeB'): a corpus line verbatim — cut to empty,
      //     the line_cut drop;
      //   C (+7.1e6, corpus source): stopword prefix + corpus text —
      //     url verdicts vary by id residue, gopher by doc length, LM
      //     passes (in-model text), survivors hit the cap per source;
      //   D (+7.2e6, 'probeD'): stopword prefix + 'the qqN' alternations
      //     — gopher-passing, but every ('the', qqN) bigram is OOV under
      //     a HIGH-frequency margin (lp = ln(1/(c1_the + v)), NLL ~7)
      //     so the LM gate fails it; plain unique words would sit at
      //     ln(v) ≈ the threshold, measured in r19.
      // Verdicts are per-doc functions of (doc, artifacts) except the
      // quota, whose first-arrival rank the waves make (id%2, id) order
      // — exactly what the oracle replays. Quota state crosses batches
      // through the batch-stamped delta lake (crash-replay idempotent).
      import s.implicits._
      val base = sinkPath(d, "stream_provenance")
      val (landing, out, quota, ckpt) =
        (s"$base/landing", s"$base/out", s"$base/quota", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      val index = Dedup.lineIndex(docs, "doc_id", "text").persist()
      val (model, margins, vocab) =
        NgramLm.servingFrames(docs, "doc_id", "text")
      Seq(model, margins, vocab).foreach(_.persist())
      val stop = lit("the of and that ")
      val famA = docs.filter(col("doc_id") < 40).select(
        (col("doc_id") + 7000000L).as("doc_id"),
        concat(col("text"), lit("\n"), lit("zz novel "),
          col("doc_id").cast("string"), lit(" tail")).as("text"),
        lit("probeA").as("source"))
      val famB = docs.filter(col("doc_id") < 5).select(
        (col("doc_id") + 7500000L).as("doc_id"), col("text"),
        lit("probeB").as("source"))
      val famC = docs.filter(col("doc_id") < 200).select(
        (col("doc_id") + 7100000L).as("doc_id"),
        concat(stop, col("text")).as("text"), col("source"))
      val famD = docs.filter(col("doc_id") < 3).select(
        (col("doc_id") + 7200000L).as("doc_id"),
        concat(stop,
          lit((0 until 30).map(i => s"the qq$i").mkString(" "))).as("text"),
        lit("probeD").as("source"))
      // pinned once: the four probe families scan the documents table per
      // branch, and the frame is written twice (one parity half per wave)
      val arrivals = famA.unionByName(famB).unionByName(famC)
        .unionByName(famD).localCheckpoint()
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string, source string")
      def drain(): Unit =
        CurationStream.provenanceStream(s, landing, schema, out, quota,
          ckpt, index, model, margins, vocab,
          nllKeep = 4.0, cap = 3L).awaitTermination()
      arrivals.filter(col("doc_id") % 2 === 0).sort("doc_id")
        .coalesce(1).write.mode("append").parquet(landing)
      drain()
      arrivals.filter(col("doc_id") % 2 === 1).sort("doc_id")
        .coalesce(1).write.mode("append").parquet(landing)
      drain()
      index.unpersist()
      Tables.parquet(s, out).select(
        col("doc_id"), col("domain"), col("pass_url"),
        col("pass_linecut"), col("pass_gopher"), col("pass_lm"),
        col("within_cap"), col("drop_stage"), col("keep"),
        col("batch_id"))
    }),
    "stream_line_dedup" -> ((s, d) => {
      // The LINE tier at crawl-ingest time (the serving form of D25d):
      // the corpus line index is built and persisted ONCE, then fresh
      // docs arrive as two delivery waves, each drained by an
      // AvailableNow run (maxFilesPerTrigger=1 → real micro-batches, the
      // checkpoint carries the cursor). Each probe doc carries one line
      // the corpus already contains (its source doc's text, verbatim)
      // plus a novel line — the known line must be cut, the novel one
      // kept, per-doc, regardless of the wave/batch split (verdicts are
      // (line, index) functions only). Full DuckDB replay: the oracle
      // rebuilds the probes, the index, and the cut from the raw tables.
      import s.implicits._
      val base = sinkPath(d, "stream_line_dedup")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      val index = Dedup.lineIndex(docs, "doc_id", "text").persist()
      val probes = docs.filter(col("doc_id") < 4)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit("\nwholly novel probe line qqz "),
            col("doc_id").cast("string")).as("text"))
      val pure = Seq((5100000L,
        "entirely novel document pqz\nanother novel line vvk"))
        .toDF("doc_id", "text")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string")
      probes.filter(col("doc_id") < 5000002L)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.lineDedupStream(s, landing, schema, index, "doc_id", "text",
        out, ckpt, maxFilesPerTrigger = 1).awaitTermination()
      probes.filter(col("doc_id") >= 5000002L).unionByName(pure)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.lineDedupStream(s, landing, schema, index, "doc_id", "text",
        out, ckpt, maxFilesPerTrigger = 1).awaitTermination()
      index.unpersist()
      Tables.parquet(s, out)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_cut"),
          col("cleaned_text"))
    }),
    "stream_novelty" -> ((s, d) => {
      // The incremental-crawl near-dup gate ACTUALLY STREAMING: the same
      // planted probes as novelty_near_dup arrive as two parquet delivery
      // waves, each drained by an AvailableNow run of the stream-static
      // banded probe (maxFilesPerTrigger=1 forces real micro-batches; the
      // checkpoint carries the cursor between runs). The corpus signature
      // index is built and persisted ONCE before the drain — micro-batches
      // pay only their own banding + the skinny probe join. Verdicts are
      // per-doc functions of (doc, index), so the drained output must
      // equal the batch form no matter the wave/batch split — the same
      // golden planted-probe rows as novelty_near_dup.
      import s.implicits._
      val base = sinkPath(d, "stream_novelty")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
      val index = Dedup.buildSignatureIndex(corpus, "doc_id", "text")
      val jittered = corpus.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" crawl jitter suffix pad")).as("text"))
      val novel = Seq(
        (4000000L, "wholly novel planted crawl document zyx about nothing" +
          " previously indexed qqj in this corpus at all"),
        (4000001L, "another genuinely novel planted document kvw carrying" +
          " entirely fresh content pqz never crawled before"))
        .toDF("doc_id", "text")
      // wave 1: half the jittered probes; wave 2: the rest + the novels —
      // a cross-wave split of the SAME probe family, so a verdict that
      // depended on wave composition would diverge from the golden rows
      jittered.filter(col("doc_id") < 3000005L)
        .repartition(2).write.mode("append").parquet(landing)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string")
      EventStream.noveltyStream(s, landing, schema, index, "doc_id", "text",
        out, ckpt, threshold = 0.7, maxFilesPerTrigger = 1).awaitTermination()
      jittered.filter(col("doc_id") >= 3000005L).unionByName(novel)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.noveltyStream(s, landing, schema, index, "doc_id", "text",
        out, ckpt, threshold = 0.7, maxFilesPerTrigger = 1).awaitTermination()
      Tables.parquet(s, out).filter(col("doc_id") >= 3000000L)
        .select("doc_id", "is_novel")
    }),
    "stream_phash_novelty" -> ((s, d) => {
      // E-row (r19 verdict #4): the multimodal novelty gate ACTUALLY
      // STREAMING — D12d's perceptual-hash tier composed with E7's
      // novelty shape. A deployed image corpus (250 rendered docs + the
      // 5 smooth plant images) is indexed ONCE (exact md5 tier + banded
      // dHash tier, both persisted); arriving image payloads are judged
      // per micro-batch: exact byte re-crawls, BMP re-encodes (same
      // raster, new container), and half-size box-mean resizes of
      // indexed images must be caught, wholly-new renders must pass as
      // novel. The re-encode family is split ACROSS the two delivery
      // waves, so a verdict depending on wave composition would diverge
      // from the structural oracle. maxFilesPerTrigger=1 forces real
      // micro-batches; the checkpoint carries the cursor between drains.
      val base = sinkPath(d, "stream_phash_novelty")
      val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
      Sink.reset(base)
      val docs = Tables.documents(s, d)
      // plantedAssets over docs 0-4 supplies all four probe families
      // (base renders + exact copies at 1e9, BMP re-encodes at 2e9,
      // smooth fulls at 3e9, their halves at 3.5e9); persisted — sliced
      // by id range below for the corpus and both waves
      val planted = Dedup.persistTracked(
        Multimodal.plantedAssets(docs.filter(col("doc_id") < 5), "doc_id", "text"),
        Multimodal.persistLevel(s))
      val corpus = Dedup.persistTracked(
        Multimodal.asMultimodal(docs.filter(col("doc_id") < 250), "doc_id", "text")
          .select("asset_id", "payload")
          .unionByName(planted
            .filter(col("asset_id") >= Multimodal.SmoothBase &&
              col("asset_id") < Multimodal.ResizedBase)
            .select("asset_id", "payload")),
        Multimodal.persistLevel(s))
      val index = Multimodal.buildPhashIndex(corpus)
      val exactCopies = planted
        .filter(col("asset_id") >= Multimodal.ExactCopyBase &&
          col("asset_id") < Multimodal.ReencodeBase)
        .select("asset_id", "payload")
      val reencodes = planted
        .filter(col("asset_id") >= Multimodal.ReencodeBase &&
          col("asset_id") < Multimodal.SmoothBase)
        .select("asset_id", "payload")
      val resizes = planted.filter(col("asset_id") >= Multimodal.ResizedBase)
        .select("asset_id", "payload")
      // novel arrivals: renders of docs the index never saw (different
      // LCG seeds — the corpus render admits no accidental hamming<=3,
      // the image_phash_dedup oracle's standing argument)
      val novel = Multimodal.asMultimodal(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 255),
          "doc_id", "text")
        .select((col("asset_id") + 4000000000L).as("asset_id"), col("payload"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "asset_id long, payload binary")
      exactCopies.unionByName(
          reencodes.filter(col("asset_id") < Multimodal.ReencodeBase + 3))
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.phashNoveltyStream(s, landing, schema, index, out, ckpt,
        maxFilesPerTrigger = 1).awaitTermination()
      reencodes.filter(col("asset_id") >= Multimodal.ReencodeBase + 3)
        .unionByName(resizes).unionByName(novel)
        .repartition(2).write.mode("append").parquet(landing)
      EventStream.phashNoveltyStream(s, landing, schema, index, out, ckpt,
        maxFilesPerTrigger = 1).awaitTermination()
      Tables.parquet(s, out).select("asset_id", "method", "is_novel")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "stream_kn_score" ->
      // the drained lake must equal the batch KN ladder over the same
      // probes: full model replay (trigram counts, context margins, the
      // two continuation-count tables, scalars) trained on ALL documents,
      // probes rebuilt from the raw table, the three frozen rungs and the
      // integer avg_nll — the ngram_lm_kn oracle with the stream's
      // train/target split
      """WITH tws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         probes AS (
           SELECT doc_id + 6000000 AS doc_id,
             text || ' qq zz qq zz' AS text
           FROM documents WHERE doc_id < 10
           UNION ALL
           SELECT * FROM (VALUES
             (6100000, 'wholly novel planted stream document zyx about' ||
               ' nothing previously modeled qqj at all'),
             (6100001, 'another genuinely novel planted document kvw' ||
               ' carrying entirely fresh content pqz never scored before')
           ) t(doc_id, text)),
         pws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM probes),
         ttr AS (
           SELECT w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3 FROM (
             SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
             FROM tws) p),
         tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ttr GROUP BY 1, 2, 3),
         ctx2 AS (SELECT w1, w2, sum(c3) AS cctx, count(*) AS t2
                  FROM tri GROUP BY 1, 2),
         contb AS (SELECT w2, w3, count(*) AS cb FROM tri GROUP BY 1, 2),
         mid AS (SELECT w2, sum(cb) AS nmid, count(*) AS ndw3
                 FROM contb GROUP BY 1),
         tbt AS (
           SELECT DISTINCT w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
             FROM tws) p),
         contu AS (SELECT w2, count(*) AS cu FROM tbt GROUP BY 1),
         sca AS (SELECT (SELECT sum(cu) FROM contu) AS b,
                        (SELECT count(*) FROM contu) AS wtypes,
                        (SELECT count(DISTINCT tk) FROM
                          (SELECT unnest(w) AS tk FROM tws) u) AS v),
         str AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3 FROM (
             SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             FROM pws) p),
         joined AS (
           SELECT s.doc_id, tri.c3, ctx2.cctx, ctx2.t2, contb.cb,
             mid.nmid, mid.ndw3, contu.cu, sca.b, sca.wtypes, sca.v
           FROM str s
           LEFT JOIN tri ON s.w1 = tri.w1 AND s.w2 = tri.w2 AND s.w3 = tri.w3
           LEFT JOIN ctx2 ON s.w1 = ctx2.w1 AND s.w2 = ctx2.w2
           LEFT JOIN contb ON s.w2 = contb.w2 AND s.w3 = contb.w3
           LEFT JOIN mid ON s.w2 = mid.w2
           LEFT JOIN contu ON s.w3 = contu.w2
           CROSS JOIN sca),
         p1t AS (SELECT *, (greatest(coalesce(cu, 0) - 0.75, 0.0)
                   + (0.75 * wtypes) / v) / b AS p1 FROM joined),
         p2t AS (SELECT *, CASE WHEN nmid IS NULL THEN p1
                   ELSE (greatest(coalesce(cb, 0) - 0.75, 0.0)
                     + (0.75 * ndw3) * p1) / nmid END AS p2 FROM p1t),
         p3t AS (SELECT *, CASE WHEN cctx IS NULL THEN p2
                   ELSE (greatest(coalesce(c3, 0) - 0.75, 0.0)
                     + (0.75 * t2) * p2) / cctx END AS p3 FROM p2t),
         sc AS (
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
           FROM (SELECT DISTINCT doc_id FROM probes) d
           LEFT JOIN sc USING (doc_id))
         SELECT doc_id, n_trigrams, n_hit3, n_hit2, logprob_sum, avg_nll,
           round(exp(avg_nll), 4) AS ppl,
           coalesce(avg_nll <= 3.5, false) AS keep
         FROM fin""",
    "stream_seq_packing" ->
      // the drained lake must equal the BATCH greedy packer on the same
      // md5 routing in doc_id order — the wave/batch split must be
      // invisible because the open-bin state carries across batches: the
      // shared packGreedyCtes state machine (EntryOps) over ws token
      // counts at budget 128
      (s"""WITH RECURSIVE
         ${packToksCte(2)},
         ${packGreedyCtes("gpack", 128)}
         SELECT doc_id, n AS n_tokens, CAST(shard AS BIGINT) AS shard,
           CAST(seq AS BIGINT) AS seq_id
         FROM gpack"""),
    "stream_domain_cap" ->
      // the drained ledger must equal the first-arrival quota over the
      // whole corpus in doc_id order — the wave/batch split must be
      // invisible because the per-domain counter carries across batches
      """SELECT doc_id, source AS domain,
           row_number() OVER (PARTITION BY source ORDER BY doc_id)
             AS seen_rank,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15
             AS kept
         FROM documents""",
    "stream_provenance" ->
      // the drained batch-stamped ledger must equal the batch staged
      // provenance over all four arrival families: url rules (residue
      // shortcut — url_filter carries the parse-level replay), line tier
      // vs the corpus index, gopher on the CUT text, the add-1 backoff
      // LM vs the corpus model, and the first-arrival quota whose rank
      // the (id%2, id) wave order fixes; batch_id = id parity (one
      // single-file wave per AvailableNow run)
      """WITH arr AS (
           SELECT doc_id + 7000000 AS doc_id,
             text || chr(10) || 'zz novel ' || doc_id || ' tail' AS text,
             'probeA' AS source
           FROM documents WHERE doc_id < 40
           UNION ALL
           SELECT doc_id + 7500000, text, 'probeB'
           FROM documents WHERE doc_id < 5
           UNION ALL
           SELECT doc_id + 7100000, 'the of and that ' || text, source
           FROM documents WHERE doc_id < 200
           UNION ALL
           SELECT doc_id + 7200000,
             'the of and that ' ||
               (SELECT string_agg('the qq' || i, ' ' ORDER BY i)
                FROM range(0, 30) t(i)),
             'probeD'
           FROM documents WHERE doc_id < 3),
         u AS (
           SELECT doc_id,
             NOT ((source || '.example.' ||
                 CASE WHEN doc_id % 7 = 2 THEN 'net' ELSE 'com' END)
                 IN ('src7.example.net', 'src12.example.net')
               OR doc_id % 97 = 3 OR doc_id % 89 = 5 OR doc_id % 83 = 7)
               AS p_url
           FROM arr),
         idx AS (
           SELECT DISTINCT nrm FROM (
             SELECT trim(regexp_replace(regexp_replace(regexp_replace(
               lower(line), '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'),
               ' +', ' ', 'g')) AS nrm
             FROM (SELECT unnest(string_split(coalesce(text, ''), chr(10)))
                     AS line FROM documents) x) y
           WHERE nrm <> ''),
         anrm AS (
           SELECT doc_id, idx_, line,
             trim(regexp_replace(regexp_replace(regexp_replace(
               lower(line), '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'),
               ' +', ' ', 'g')) AS nrm
           FROM (
             SELECT doc_id, generate_subscripts(ls, 1) AS idx_,
               unnest(ls) AS line
             FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10))
                     AS ls FROM arr) q) z),
         lc AS (
           SELECT a.doc_id,
             coalesce(string_agg(CASE WHEN i.nrm IS NULL THEN a.line END,
               chr(10) ORDER BY a.idx_), '') AS cleaned
           FROM anrm a LEFT JOIN idx i ON a.nrm = i.nrm
           GROUP BY a.doc_id),
         gm AS (
           SELECT doc_id,
             len(ws) AS n_words,
             length(regexp_replace(text, '\s+', '', 'g')) AS n_chars,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS bullets,
             len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$'))) AS ell_lines,
             len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_w,
             len(list_intersect(list_distinct(ws),
               ['the','be','to','of','and','that','have','with'])) AS stop_hits
           FROM (
             SELECT doc_id, coalesce(cleaned, '') AS text,
               list_filter(regexp_split_to_array(trim(lower(coalesce(cleaned, ''))), '\s+'),
                           x -> x <> '') AS ws,
               string_split(coalesce(cleaned, ''), chr(10)) AS lines
             FROM lc) t),
         g AS (
           SELECT doc_id,
             ((n_words >= 50 AND n_words <= 100000)
              AND (n_chars >= n_words * 3 AND n_chars <= n_words * 10)
              AND ((hashes + ellipses) * 10 <= n_words)
              AND (bullets * 10 <= n_lines * 9)
              AND (ell_lines * 10 <= n_lines * 3)
              AND (alpha_w * 5 >= n_words * 4)
              AND (stop_hits >= 2)) AS p_go
           FROM gm),
         tws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         tbi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM tws) p),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM tbi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM tbi GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
               FROM (SELECT unnest(w) AS tk FROM tws) u0),
         model AS (
           SELECT w1, w2, ln((c12 + 1.0) / (c1 + 1.0 * v)) AS logp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v),
         ws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(cleaned)), '\s+'),
                         x -> x <> '') AS w
           FROM lc),
         bi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM ws) p),
         sc AS (
           SELECT bi.doc_id, count(*) AS n_bigrams,
             round(sum(coalesce(m.logp,
               ln(1.0 / (coalesce(c1.c1, 0) + v.v)))), 4) AS logprob_sum
           FROM bi
           LEFT JOIN model m ON bi.w1 = m.w1 AND bi.w2 = m.w2
           LEFT JOIN c1 ON bi.w1 = c1.w1
           CROSS JOIN v
           GROUP BY 1),
         lmk AS (
           SELECT lc.doc_id,
             coalesce(round(-sc.logprob_sum / sc.n_bigrams, 4) <= 4.0,
               false) AS p_lm
           FROM lc LEFT JOIN sc USING (doc_id)),
         flags AS (
           SELECT arr.doc_id, arr.source AS domain,
             u.p_url,
             trim(lc.cleaned) <> '' AS p_lc,
             coalesce(g.p_go, false) AS p_go,
             coalesce(lmk.p_lm, false) AS p_lm
           FROM arr
           JOIN u USING (doc_id)
           JOIN lc USING (doc_id)
           LEFT JOIN g USING (doc_id)
           LEFT JOIN lmk USING (doc_id)),
         ranked AS (
           SELECT *,
             (p_url AND p_lc AND p_go AND p_lm) AS surv,
             sum(CASE WHEN p_url AND p_lc AND p_go AND p_lm
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY domain ORDER BY doc_id % 2, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS seen
           FROM flags)
         SELECT doc_id, domain,
           CASE WHEN p_url THEN 'pass' ELSE 'fail' END AS pass_url,
           CASE WHEN NOT p_url THEN 'not_reached'
                WHEN p_lc THEN 'pass' ELSE 'fail' END AS pass_linecut,
           CASE WHEN NOT (p_url AND p_lc) THEN 'not_reached'
                WHEN p_go THEN 'pass' ELSE 'fail' END AS pass_gopher,
           CASE WHEN NOT (p_url AND p_lc AND p_go) THEN 'not_reached'
                WHEN p_lm THEN 'pass' ELSE 'fail' END AS pass_lm,
           CASE WHEN NOT surv THEN 'not_reached'
                WHEN seen <= 3 THEN 'pass' ELSE 'fail' END AS within_cap,
           CASE WHEN NOT p_url THEN 'url_rules'
                WHEN NOT p_lc THEN 'line_cut'
                WHEN NOT p_go THEN 'gopher_rules'
                WHEN NOT p_lm THEN 'lm_keep'
                WHEN seen > 3 THEN 'domain_cap'
                ELSE 'kept' END AS drop_stage,
           (surv AND seen <= 3) AS keep,
           CAST(doc_id % 2 AS BIGINT) AS batch_id
         FROM ranked""",
    "stream_line_dedup" ->
      // the drained lake must equal batch line-dedup-against-index over
      // the same probes: rebuild the corpus line index (distinct
      // non-empty norms, the line_dedup normalization), rebuild the
      // probes from the raw table, cut lines the index contains
      """WITH idx AS (
           SELECT DISTINCT norm FROM (
             SELECT trim(regexp_replace(regexp_replace(regexp_replace(
               lower(line), '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'),
               ' +', ' ', 'g')) AS norm
             FROM (SELECT unnest(string_split(coalesce(text, ''), chr(10))) AS line
                   FROM documents) u0) u1
           WHERE norm <> ''),
         probes AS (
           SELECT doc_id + 5000000 AS doc_id,
             text || chr(10) || 'wholly novel probe line qqz ' ||
               CAST(doc_id AS VARCHAR) AS text
           FROM documents WHERE doc_id < 4
           UNION ALL
           SELECT 5100000, 'entirely novel document pqz' || chr(10) ||
             'another novel line vvk'),
         lines AS (
           SELECT doc_id, generate_subscripts(ls, 1) AS idx,
             unnest(ls) AS line
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
                 FROM probes) u),
         normed AS (
           SELECT doc_id, idx, line,
             trim(regexp_replace(regexp_replace(regexp_replace(lower(line),
               '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'), ' +', ' ', 'g'))
               AS norm
           FROM lines)
         SELECT n.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(i.norm) AS BIGINT) AS n_cut,
           coalesce(string_agg(CASE WHEN i.norm IS NULL THEN n.line END,
             chr(10) ORDER BY n.idx), '') AS cleaned_text
         FROM normed n LEFT JOIN idx i ON n.norm = i.norm
         GROUP BY n.doc_id""",
    "stream_dedup_state" ->
      // re-delivered copies must collapse back to one row per key
      """SELECT event_id FROM events""",
    "stream_lm_score" ->
      // the streamed lake must equal batch cross-scoring of the SAME
      // derived probes + novel literals against the corpus-trained model
      // — full backoff-ladder replay, batch-split independence included
      """WITH tws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         tgt AS (
           SELECT doc_id + 3000000 AS doc_id,
             text || ' qq zz qq zz' AS text
           FROM documents WHERE doc_id < 10
           UNION ALL
           SELECT cast(id AS bigint), t FROM (VALUES
             (4000000, 'wholly novel planted stream document zyx about nothing previously modeled qqj at all'),
             (4000001, 'another genuinely novel planted document kvw carrying entirely fresh content pqz never scored before'))
             v(id, t)),
         ws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM tgt),
         tbi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM tws) p),
         bi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM ws) p),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM tbi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM tbi GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
               FROM (SELECT unnest(w) AS tk FROM tws) u),
         model AS (
           SELECT w1, w2, ln((c12 + 1.0) / (c1 + 1.0 * v)) AS logp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v),
         sc AS (
           SELECT bi.doc_id, count(*) AS n_bigrams,
             cast(sum(CASE WHEN m.logp IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_oov,
             round(sum(coalesce(m.logp,
               ln(1.0 / (coalesce(c1.c1, 0) + v.v)))), 4) AS logprob_sum
           FROM bi
           LEFT JOIN model m ON bi.w1 = m.w1 AND bi.w2 = m.w2
           LEFT JOIN c1 ON bi.w1 = c1.w1
           CROSS JOIN v
           GROUP BY 1)
         SELECT t.doc_id,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           coalesce(sc.n_oov, 0) AS n_oov,
           sc.logprob_sum,
           round(-sc.logprob_sum / sc.n_bigrams, 4) AS avg_nll,
           round(exp(round(-sc.logprob_sum / sc.n_bigrams, 4)), 4) AS ppl,
           coalesce(round(-sc.logprob_sum / sc.n_bigrams, 4) <= 6.0, false) AS keep
         FROM (SELECT DISTINCT doc_id FROM tgt) t
         LEFT JOIN sc USING (doc_id)""",
    "stream_perplexity_buckets" ->
      // trusted-slice model + CORPUS-percentile cutoffs (the
      // perplexity_bucket_assign arithmetic) + the stream_lm_score probe
      // replay, assigned by the static cuts — the full serving chain in
      // one SQL: a drained bucket that depended on wave composition (or
      // per-batch cutoffs) would diverge
      """WITH tws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents WHERE length(source) = 4),
         cws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         tgt AS (
           SELECT doc_id + 3000000 AS doc_id,
             text || ' qq zz qq zz' AS text
           FROM documents WHERE doc_id < 10
           UNION ALL
           SELECT cast(id AS bigint), t FROM (VALUES
             (4000000, 'wholly novel planted stream document zyx about nothing previously modeled qqj at all'),
             (4000001, 'another genuinely novel planted document kvw carrying entirely fresh content pqz never scored before'))
             v(id, t)),
         pws AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x <> '') AS w
           FROM tgt),
         tbi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM tws) p),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM tbi GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM tbi GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
               FROM (SELECT unnest(w) AS tk FROM tws) u),
         model AS (
           SELECT w1, w2, ln((c12 + 1.0) / (c1 + 1.0 * v)) AS logp
           FROM c12 JOIN c1 USING (w1) CROSS JOIN v),
         cbi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM cws) p),
         csc AS (
           SELECT cbi.doc_id,
             round(sum(coalesce(m.logp,
               ln(1.0 / (coalesce(c1.c1, 0) + v.v)))), 4) AS logprob_sum,
             count(*) AS n_bigrams
           FROM cbi
           LEFT JOIN model m ON cbi.w1 = m.w1 AND cbi.w2 = m.w2
           LEFT JOIN c1 ON cbi.w1 = c1.w1
           CROSS JOIN v
           GROUP BY 1),
         doc_sc AS (
           SELECT d.doc_id,
             round(-csc.logprob_sum / csc.n_bigrams, 4) AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN csc USING (doc_id)),
         hist AS (SELECT avg_nll, count(*) AS cnt FROM doc_sc
                  WHERE avg_nll IS NOT NULL GROUP BY 1),
         cum AS (SELECT avg_nll, sum(cnt) OVER (ORDER BY avg_nll
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM hist),
         tot AS (SELECT count(*) AS n_total FROM doc_sc
                 WHERE avg_nll IS NOT NULL),
         cuts AS (SELECT
             min(CASE WHEN cum * 3 >= n_total THEN avg_nll END) AS cut_head,
             min(CASE WHEN cum * 3 >= n_total * 2 THEN avg_nll END) AS cut_middle
           FROM cum CROSS JOIN tot),
         pbi AS (
           SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
             SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
             FROM pws) p),
         psc AS (
           SELECT pbi.doc_id, count(*) AS n_bigrams,
             cast(sum(CASE WHEN m.logp IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_oov,
             round(sum(coalesce(m.logp,
               ln(1.0 / (coalesce(c1.c1, 0) + v.v)))), 4) AS logprob_sum
           FROM pbi
           LEFT JOIN model m ON pbi.w1 = m.w1 AND pbi.w2 = m.w2
           LEFT JOIN c1 ON pbi.w1 = c1.w1
           CROSS JOIN v
           GROUP BY 1),
         probe_sc AS (
           SELECT t.doc_id,
             coalesce(psc.n_bigrams, 0) AS n_bigrams,
             coalesce(psc.n_oov, 0) AS n_oov,
             round(-psc.logprob_sum / psc.n_bigrams, 4) AS avg_nll
           FROM (SELECT DISTINCT doc_id FROM tgt) t
           LEFT JOIN psc USING (doc_id))
         SELECT doc_id, n_bigrams, n_oov, avg_nll,
           CASE WHEN avg_nll IS NULL THEN 'unscored'
                WHEN avg_nll <= cut_head THEN 'head'
                WHEN avg_nll <= cut_middle THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM probe_sc CROSS JOIN cuts""",
    "stream_novelty" ->
      // [GOLDEN @ gate corpus: sf0.01, seed=42 — re-derive on SF change]
      // the STREAMING drain of the same probe family must land on the
      // exact batch verdicts (batch-split independence): same golden rows
      // as novelty_near_dup
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, is_novel FROM (VALUES
           (3000000, FALSE), (3000001, FALSE), (3000002, FALSE),
           (3000003, FALSE), (3000004, FALSE), (3000005, FALSE),
           (3000006, FALSE), (3000007, FALSE), (3000008, FALSE),
           (3000009, FALSE), (4000000, TRUE), (4000001, TRUE))
           t(doc_id, is_novel)""",
    "stream_phash_novelty" ->
      // structural replay, not pinned goldens: the planted arrival
      // families FORCE the ledger — exact byte copies hit the md5 tier;
      // BMP re-encodes and grid-aligned half-resizes land at hamming 0
      // by the dHash construction (spec-pinned), so the banded tier
      // catches them; and the LCG render corpus admits no accidental
      // hamming<=3 (P ~ 2^-44 per pair — image_phash_dedup's standing
      // argument), so the unseen-doc renders MUST read novel. Any
      // missed catch, false catch, or wrong tier fails the compare.
      """SELECT CAST(asset_id AS BIGINT) AS asset_id, method, is_novel
         FROM (
           SELECT doc_id + 1000000000 AS asset_id, 'exact' AS method,
                  FALSE AS is_novel
             FROM documents WHERE doc_id < 5
           UNION ALL
           SELECT doc_id + 2000000000, 'phash', FALSE
             FROM documents WHERE doc_id < 5
           UNION ALL
           SELECT 3500000000 + g, 'phash', FALSE
             FROM (VALUES (0), (1), (2), (3), (4)) t(g)
           UNION ALL
           SELECT doc_id + 4000000000, 'novel', TRUE
             FROM documents WHERE doc_id >= 250 AND doc_id < 255
         ) q""",
    "stream_incremental" ->
      // same rebuild again, now through the STREAMING write path: two
      // checkpointed micro-batch waves of the same delta must land the
      // same final lake (wave-split independence of the refresh loop)
      incrRebuildSql,
    "stream_scrub" ->
      // the batch spanScrub replay over scrub version 2 — the SAME SQL
      // as incremental_scrub, now gating the streamed four-lake path
      // (wave-split independence of the frequency-delta refresh)
      oracleSqlScrubBatch,
    "stream_windowed_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS event_count, sum(value) AS total_value
         FROM events GROUP BY 1, 2""",
    "stream_sliding_counts" ->
      // hopping window via a 2-row spine: an event at t belongs to the
      // windows starting at trunc30(t) and trunc30(t) - 30min (exactly 2
      // for len=1h, slide=30min); both engines' 30-min grids align (epoch
      // and 2000-01-01 are both on the half-hour boundary)
      """SELECT time_bucket(INTERVAL '30 minutes', ts)
                - i * INTERVAL '30 minutes' AS window_start,
           event_type, count(*) AS event_count, sum(value) AS total_value
         FROM events CROSS JOIN range(0, 2) t(i)
         GROUP BY 1, 2""",
    "stream_sessions" ->
      // gaps-and-islands replay of session_window: a session breaks only
      // when the inter-event gap EXCEEDS 4h — windows that touch merge
      // (an event at exactly last+4h still extends the session; verified
      // against the engine); session_end = last event + 4h
      """WITH gaps AS (
           SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts > LAG(ts) OVER w + INTERVAL '4 hours'
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         islands AS (
           SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
           FROM gaps)
         SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '4 hours' AS session_end,
           user_id, count(*) AS n_events, sum(value) AS total_value
         FROM islands GROUP BY user_id, session_id""",
    "stream_correlate" ->
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
           l.ts AS l_ts, r.ts AS r_ts
         FROM events l JOIN events r
           ON l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '30 minutes'
         WHERE l.event_type = 'click' AND r.event_type = 'purchase'""",
    "stream_upsert" ->
      // wave 2 re-delivered every 100th event with value+1000 at a later
      // stream batch — the merged lake table must show the update winning
      """SELECT event_id,
           CASE WHEN event_id % 100 = 0 THEN value + 1000 ELSE value END AS value
         FROM events""",
    "stream_jsonl_ingest" ->
      // identical to jsonl_ingest's oracle: the streamed drain's telemetry
      // rollup must be indistinguishable from the batch profile
      """SELECT lang, FALSE AS is_corrupt, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang
         UNION ALL
         SELECT CAST(NULL AS VARCHAR), TRUE, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)"""
  )
}
