package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming re-expression of the reference's sensor-driven
  * ingestion (dagster_pipeline/dagster_acled/sensors.py: poll → new
  * partition → validate → load). In Spark the sensor loop IS the engine:
  * `readStream` on the landing directory, event-time watermark, windowed
  * aggregation, and keyed state for sessionization.
  *
  * Each transform below takes a DataFrame so the SAME plan runs in batch
  * (the correctness gate) and as a stream (readStream/MemoryStream) — the
  * unified-API property that makes Structured Streaming the scale path.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The parquet landing read of every checkpointed stream: a file-source
    * stream over a landing directory (the S3 prefix in the reference) with
    * an explicit schema, reading ONE delivery file per micro-batch.
    * DELIBERATELY not a knob: wave rows carry no ordering column, so a
    * trigger that merged two delivery files would apply their rows
    * unordered — an upsert file followed by a delete file of the same id
    * would RESURRECT the doc (IncrementalStream's raw advance keeps the
    * upsert row), two upserts would both survive as duplicate id rows, and
    * a rank taken in doc_id order within a batch (the domain quotas, the
    * packer's next-fit walk) equals arrival order only while each delivery
    * file is its own micro-batch. One file per micro-batch is what makes
    * "last file wins" and "arrival rank == doc_id rank" true. */
  def landing(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** Run `writer` as one checkpointed `Trigger.AvailableNow` drain: start
    * the query and return once it has processed everything landed so far
    * and terminated — the scheduled "catch-up run" form of the reference's
    * sensor; the checkpoint carries the cursor to the next drain. A failed
    * query's exception is rethrown. No wait on `spark.streams.active`:
    * Spark drops a query from the active set before it releases
    * `awaitTermination`, so the next drain over the same checkpoint can
    * start at once (EventStreamSpec pins both). */
  def drain(writer: DataStreamWriter[_], checkpointDir: String): Unit =
    writer.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Tumbling (or, with `slide`, sliding/hopping) window counts + value
    * sums with a watermark. On a stream the watermark bounds state; in
    * batch it is a no-op and the plan degrades to a plain window
    * aggregate — one shuffle on (window, event_type). A sliding window
    * multiplies state by windowLen/slide; keep the ratio small at scale. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours",
                     slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide.getOrElse(windowLen)), col("event_type"))
      .agg(count(lit(1)).as("event_count"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("event_count"), col("total_value"))

  /** Stream-static enrichment: every micro-batch joins the (broadcast)
    * static dimension — stateless, no watermark, the streaming form of the
    * star join (per-batch dim lookup, the reference's region metadata
    * attach in country_assets.py). */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming dedup by key within the watermark horizon — the streaming
    * form of the reference's keyed upsert. On a batch frame the watermark
    * horizon is meaningless (the whole input is one "batch"), so the same
    * call degrades to plain dedup-by-key — Spark rejects
    * dropDuplicatesWithinWatermark outside a stream, and the batch
    * semantics of "collapse re-deliveries of a key" IS dropDuplicates. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Declarative session windows — the Catalyst-native sessionization
    * (`session_window`, Spark 3.2+): per-key windows that extend while
    * events keep arriving within `gap` of the last one and close at
    * `last_event + gap`. Windows that TOUCH merge: an event at exactly
    * `prev_ts + gap` still extends the session (verified against the
    * engine — the gaps-and-islands oracle replays `ts > prev + gap` as
    * the break condition, strictly greater). Prefer
    * this over [[sessionize]]'s hand-rolled mapGroupsWithState when the
    * summary is expressible as aggregates: the state store handles
    * merge/expiry natively, the plan stays in whole-stage codegen, and
    * the SAME query runs in batch (the correctness gate replays it as
    * gaps-and-islands SQL) and as a stream with watermark-bounded state. */
  def sessionWindows(events: DataFrame, gap: String = "4 hours",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  case class SessionUpdate(user_id: Long, n_events: Int, total_value: Double,
                           session_start: java.sql.Timestamp, closed: Boolean)
  // public: the state encoder's generated code must see the constructor
  case class SessionState(n: Int, total: Double, startMs: Long, lastMs: Long)

  /** Keyed session aggregation with explicit state + EVENT-TIME timeout
    * (mapGroupsWithState): emits a running session summary per user,
    * closing a session once the watermark passes `gapMs` past its last
    * event. Event-time (not processing-time) timeouts are the scale-safe
    * choice: batches trigger only on data/watermark movement — a
    * processing-time timeout keeps the engine spinning empty micro-batches
    * — and replays are deterministic. Streaming-only (batch runs have no
    * watermark to arm the timeout against). */
  def sessionize(spark: SparkSession, events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .selectExpr("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(uid, s.n, s.total, new java.sql.Timestamp(s.startMs), closed = true)
          } else {
            val evs = rows.toSeq
            val tsMs = evs.map(_._2.getTime)
            val prev = state.getOption.getOrElse(
              SessionState(0, 0.0, tsMs.min, tsMs.min))
            val next = SessionState(
              prev.n + evs.size,
              prev.total + evs.map(_._3).sum,
              prev.startMs,
              math.max(prev.lastMs, tsMs.max))
            state.update(next)
            // arm the close timer at last-event + gap (kept ahead of the
            // watermark — Spark rejects timeouts at/behind it)
            state.setTimeoutTimestamp(
              math.max(next.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            SessionUpdate(uid, next.n, next.total, new java.sql.Timestamp(next.startMs), closed = false)
          }
      }
  }

  /** Start a windowed-count stream into an in-memory sink (tests / local
    * smoke). Caller stops the query. */
  def startMemorySink(df: DataFrame, name: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append).format("memory").queryName(name).start()

  /** Watermarked stream-stream interval join: for each left event, right
    * events of the same key within `[l.ts, l.ts + within]` (e.g. click →
    * purchase attribution). Both sides carry watermarks and the join
    * condition bounds event-time distance, so state on BOTH sides is
    * finite and old state is evicted as the watermark advances — the only
    * stream-stream join shape that survives unbounded streams. */
  def correlate(left: DataFrame, right: DataFrame, key: String,
                within: String, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"), col("event_id").as("r_id"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("l_key").as(key), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** The reference's full sensor loop as one streaming query: poll the
    * landing directory for new files (sensors.py's cursor is the file
    * source's checkpoint), and merge each micro-batch into the lake table
    * by key — `ON CONFLICT DO UPDATE` per batch via foreachBatch +
    * [[graft.sources.Sink.upsertPartitioned]]. Later batches win
    * (batchId is the version); re-delivered keys within a batch resolve by
    * newest `ts`, on the first batch as on every later one (a key's day,
    * the date of its `ts`, is the stable partition value the merge
    * assumes). Exactly-once to the table comes from the idempotence of
    * the merge + the checkpointed source offsets: if the driver dies
    * anywhere in the sink's [[graft.sources.LakeCommit]] swap or before
    * the offset commit, the batch REPLAYS under the same batchId, heals
    * the lake on entry, and the merge rewrites the merged partitions to
    * the identical state (latest-wins over equal `__version` resolves
    * identically) — a duplicate rewrite, never duplicate rows.
    * EventStreamSpec injects the lost offset commit; LakeCommitSweepSpec
    * kills the merge at every swap step.
    *
    * Each call is one [[drain]] of everything currently in the landing
    * area — what lets the correctness gate drive REAL micro-batches:
    * drain, re-run after the next delivery wave (the checkpoint carries
    * the cursor across runs). */
  def upsertStream(spark: SparkSession, landingDir: String, tablePath: String,
                   checkpointDir: String): Unit =
    drain(landing(spark, landingDir, eventSchema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sink.upsertPartitioned(
          batch.sparkSession, tablePath,
          batch.withColumn("day", to_date(col("ts")))
            .withColumn("__version", lit(batchId)),
          keys = Seq("event_id"), orderCol = "__version", tieBreak = "ts",
          partitionCol = "day")
      }, checkpointDir)

  /** LM model SERVING on a stream — the quality gate applied at crawl
    * ingest time instead of batch curation time: a bigram model trained
    * (and persisted) ONCE from the reference corpus scores every arriving
    * micro-batch through [[graft.operators.NgramLm.scoreWithModel]]'s
    * backoff ladder, appending per-doc scores to the out lake. Scores are
    * pure per-doc functions of (doc, static model), so the drained output
    * must equal the batch `scoreAgainst` over the same docs regardless of
    * the wave/micro-batch split — and the checkpoint guarantees each doc
    * scores once per CLEAN drain. Delivery contract: EXACTLY-ONCE lake
    * contents via [[graft.sources.Sink.writeBatchStamped]] — each
    * micro-batch commits to its own batchId-named partition dir by
    * atomic rename, so a batch that fails after a partial write (or
    * loses its offset commit) replays onto the SAME directory instead of
    * appending duplicates (crash-injection replay pinned in
    * EventStreamSpec). Readers see the batch id as a discovered
    * partition column. Stream-static joins against the
    * persisted model frames: micro-batches pay only their own token
    * explode plus vocab-bounded joins. `k` must be the SAME smoothing
    * constant the frames were trained with — the backoff rungs
    * ln(k/(c1+kV)) are computed here, not baked into the frames. */
  def lmScoreStream(spark: SparkSession, landingDir: String,
                    schema: StructType,
                    model: DataFrame, margins: DataFrame, vocab: DataFrame,
                    idCol: String, textCol: String, outDir: String,
                    checkpointDir: String, k: Double = 1.0,
                    nllKeep: Double = 6.0): Unit =
    drain(landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sink.writeBatchStamped(
          graft.operators.NgramLm.scoreWithModel(
            batch, model, margins, vocab, idCol, textCol, k, nllKeep),
          outDir, batchId)
      }, checkpointDir)

  /** Kneser-Ney trigram scoring on a stream — the serving form of D31c,
    * the same contract as [[lmScoreStream]] one model rung up: the KN
    * frames ([[graft.operators.NgramLm.knFrames]], persisted by the
    * caller) are deployment artifacts trained once, every arriving
    * micro-batch runs the three-rung backoff ladder against them, and
    * each batch commits exactly-once through the batch-stamped sink.
    * Scores are pure per-doc functions of (doc, frames), so the drained
    * lake equals the batch [[graft.operators.NgramLm.knScoreWithFrames]]
    * over the same docs whatever the wave/batch split. Micro-batches pay
    * their own trigram explode plus five skinny model joins. */
  def knScoreStream(spark: SparkSession, landingDir: String,
                    schema: StructType,
                    frames: graft.operators.NgramLm.KnFrames,
                    idCol: String, textCol: String, outDir: String,
                    checkpointDir: String): Unit =
    drain(landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sink.writeBatchStamped(
          graft.operators.NgramLm.knScoreWithFrames(
            batch, frames, idCol, textCol),
          outDir, batchId)
      }, checkpointDir)

  /** CCNet stratification at ingest time — the serving form of the D31b
    * tertile gate: the bigram model AND the head/middle/tail cutoffs are
    * trained once from the reference corpus (cutoffs are corpus
    * percentiles; recomputing them per micro-batch would make a doc's
    * bucket depend on its batch-mates, breaking batch-split
    * independence), then every arriving micro-batch is backoff-scored
    * against the static model frames and assigned by the static cutoff
    * row. Per-doc verdicts are functions of (doc, model, cuts) only, so
    * the drained lake must equal the batch assignment over the same docs
    * whatever the wave/file split. Same EXACTLY-ONCE batch-stamped sink
    * as [[lmScoreStream]] ([[graft.sources.Sink.writeBatchStamped]]): a
    * mid-batch failure replays onto the same batch directory, never
    * appending duplicates. */
  def lmBucketStream(spark: SparkSession, landingDir: String,
                     schema: StructType,
                     model: DataFrame, margins: DataFrame, vocab: DataFrame,
                     cuts: DataFrame, idCol: String, textCol: String,
                     outDir: String, checkpointDir: String,
                     k: Double = 1.0): Unit =
    drain(landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sink.writeBatchStamped(
          graft.operators.NgramLm.assignBuckets(
              graft.operators.NgramLm.scoreWithModel(
                batch, model, margins, vocab, idCol, textCol, k),
              cuts)
            .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
              col("avg_nll"), col("bucket")),
          outDir, batchId)
      }, checkpointDir)

  // public: the state encoder's generated code must see the constructor
  case class PackState(seq: Long, used: Long)

  /** Token-budget sequence packing AT CRAWL-INGEST TIME (E15) — the
    * streaming form of D16: arriving docs are routed to md5 shards and
    * appended to each shard's CURRENT open sequence, with the open bin
    * carried ACROSS micro-batches as keyed state (flatMapGroupsWithState,
    * no timeout — an open bin never expires; a bin left part-full by one
    * delivery wave keeps filling from the next). Greedy next-fit is
    * deliberately the STREAMING shape: its whole state is one (seq, used)
    * pair per shard — O(1) per key, RocksDB-trivial at any corpus size —
    * where best-fit-decreasing (D16b) needs the full open-bin ledger and
    * a global largest-first order no stream can see; the batch/stream
    * pair is the standard packing trade. The state transition is
    * Packing.packSequences' verbatim (raw-n overflow test, min(n, budget)
    * increment, own-sequence overflow for oversized docs), applied in
    * doc_id order within each batch, so a doc_id-ordered delivery drains
    * to EXACTLY the batch packer's assignment — the gate's oracle. The
    * parquet FILE sink (its _spark_metadata transaction log) makes the
    * lake exactly-once on at-least-once execution; the crash window
    * between a state-store commit and the sink commit is replay-pinned
    * by EventStreamSpec's packingStream replay test.
    *
    * CONTRACT CAVEATS (both are the caller's to hold):
    *   - memory: each (shard, micro-batch) group is materialized and
    *     sorted in ONE task (`rows.toArray.sortBy`), so a task holds
    *     O(batch docs / shards) skinny (id, n, shard) rows — bound the
    *     wave size × shard count so that quotient stays in task memory
    *     (a micro-batch is one landed file, [[landing]]);
    *   - ordering: "equals the batch packer" requires each delivery
    *     wave to arrive as a SINGLE landed file (or doc_id-ordered
    *     files): each micro-batch is one file ([[landing]]) and the
    *     in-batch sort restores doc_id order, but a wave split
    *     across files that the file source lists out of doc_id order
    *     packs in file order — a DIFFERENT (still valid, still
    *     exactly-once) assignment. Callers relying on batch-equality
    *     (the gate, the specs) land one file per wave. */
  def packingStream(spark: SparkSession, landingDir: String,
                    schema: StructType, outDir: String, checkpointDir: String,
                    budget: Long, shards: Int): Unit = {
    import spark.implicits._
    val shardCol = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % shards).cast("int")
    drain(landing(spark, landingDir, schema)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(graft.operators.TextOps.tokens(col("text"))).cast("long")
          .as("n_tokens"),
        shardCol.as("shard"))
      .as[(Long, Long, Int)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[PackState, (Long, Long, Int, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (shard, rows, state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(0L, 0L))
          // the iterator's order is not defined — sort the batch's docs
          // (bounded: one micro-batch's share of one shard)
          val out = rows.toArray.sortBy(_._1).map { case (id, n, _) =>
            var seq = st.seq
            var used = st.used
            if (used > 0 && used + n > budget) { seq += 1; used = 0L }
            used += math.min(n, budget)
            st = PackState(seq, used)
            (id, n, shard, seq)
          }
          state.update(st)
          out.iterator
      }
      .toDF("doc_id", "n_tokens", "shard", "seq_id")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append"), checkpointDir)
  }

  // public: the state encoder's generated code must see the constructor
  case class CapState(seen: Long)

  /** Per-domain ingest QUOTA (E16) — the serving form of the D32 domain
    * cap: each arriving doc gets its domain's running arrival rank from
    * keyed state (one (domain → seen-count) long per domain,
    * flatMapGroupsWithState, NoTimeout — a quota never expires) and a
    * kept verdict (rank <= cap); the ledger row is emitted for EVERY doc
    * (kept and over-quota alike — the quarantine-ledger discipline:
    * dropped docs must be visible, not vanished). The semantics are
    * deliberately FIRST-ARRIVAL quota, not the batch cap's md5 rank: a
    * stream cannot know future arrivals, so arrival order is the only
    * honest rank at ingest — the standard trade against D32's
    * diversity-preserving random rank (batch re-cap on the landed corpus
    * when unbiased sampling matters). With doc_id-ordered single-file
    * waves, arrival rank == doc_id rank, which is what the oracle
    * replays (row_number per domain ordered by doc_id).
    *
    * Scale shape: state is ONE long per domain (smaller than packing's
    * per-shard pair), each micro-batch shuffles once on the domain key;
    * the per-(domain, batch) group materializes in one task like
    * [[packingStream]] — the same wave-size caveat, documented there.
    * Exactly-once lake via the parquet file sink's _spark_metadata log
    * (the packingStream replay spec pins the shared mechanism). */
  def domainCapStream(spark: SparkSession, landingDir: String,
                      schema: StructType, outDir: String,
                      checkpointDir: String, cap: Long,
                      idCol: String = "doc_id",
                      domainCol: String = "source"): Unit = {
    import spark.implicits._
    drain(landing(spark, landingDir, schema)
      .select(col(idCol).cast("long").as("doc_id"),
        col(domainCol).cast("string").as("domain"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[CapState, (Long, String, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (domain, rows, state: GroupState[CapState]) =>
          var seen = state.getOption.getOrElse(CapState(0L)).seen
          // the iterator's order is not defined — sort the batch's docs
          // (bounded: one micro-batch's share of one domain)
          val out = rows.toArray.sortBy(_._1).map { case (id, _) =>
            seen += 1
            (id, domain, seen, seen <= cap)
          }
          state.update(CapState(seen))
          out.iterator
      }
      .toDF("doc_id", "domain", "seen_rank", "kept")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append"), checkpointDir)
  }

  /** Line-tier dedup at crawl-ingest time — the serving form of
    * [[graft.operators.Dedup.lineDedupAgainst]]: the corpus line index
    * ([[graft.operators.Dedup.lineIndex]], persisted by the caller) is
    * built ONCE per corpus snapshot, and every arriving micro-batch cuts
    * the lines the corpus already contains, appending the per-doc ledger
    * + cleaned text to the out lake. Verdicts are per-line functions of
    * (line, index), so the drained lake must equal the batch form over
    * the same docs whatever the wave/file split. Micro-batches pay one
    * explode + a skinny join against the static index. Same EXACTLY-ONCE
    * batch-stamped sink as [[lmScoreStream]]; the crash-injection replay
    * spec (EventStreamSpec) pins THIS stream and the other two share the
    * sink helper verbatim. */
  def lineDedupStream(spark: SparkSession, landingDir: String,
                      schema: StructType, index: DataFrame,
                      idCol: String, textCol: String, outDir: String,
                      checkpointDir: String): Unit =
    drain(landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sink.writeBatchStamped(
          graft.operators.Dedup.lineDedupAgainst(batch, idCol, textCol, index)
            .select(col("id"), col("n_lines"), col("n_cut"),
              col("cleaned_text")),
          outDir, batchId)
      }, checkpointDir)

  /** Streaming multimodal novelty gate (E-row stream_phash_novelty): each
    * arriving micro-batch of (asset_id, payload) image rows is judged
    * against a prebuilt [[graft.operators.Multimodal.PhashIndex]] —
    * exact-byte tier first, banded-hamming perceptual tier second (the
    * [[noveltyStream]] shape with D12d's dHash as the content signature).
    * The index is built and persisted ONCE before the drain; micro-batches
    * pay only their own decodes + the skinny probe joins. Per-asset
    * verdicts depend only on (payload, index), so the drained lake equals
    * the batch judgment whatever the wave/batch split. */
  def phashNoveltyStream(spark: SparkSession, landingDir: String,
                         schema: StructType,
                         index: graft.operators.Multimodal.PhashIndex,
                         outDir: String, checkpointDir: String): Unit =
    drain(landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch persist with an EXPLICIT release after the sink write
        // materializes the verdicts: the decoded-hash frame feeds three
        // probe joins (persist earns its keep) but must not outlive its
        // micro-batch — a continuous stream would otherwise accumulate
        // one cached frame per wave until the harness sweep
        val hashed = graft.operators.Multimodal.hashAssets(batch).persist()
        try graft.sources.Sink.writeBatchStamped(
          graft.operators.Multimodal.probeHashedNovelty(hashed, index),
          outDir, batchId)
        finally hashed.unpersist(false): Unit
      }, checkpointDir)

  /** The incremental-crawl near-dup gate as a STREAM: fresh docs land as
    * parquet files, each micro-batch is probed against a prebuilt corpus
    * [[graft.operators.Dedup.SignatureIndex]] (stream-static: the index is
    * computed and persisted ONCE, before the drain — never recomputed per
    * batch), and every doc's verdict is appended to the output table.
    *
    * Because a verdict depends only on (doc, index) — fresh docs are
    * judged against the corpus, not each other — the drained verdicts are
    * independent of how the stream was split into micro-batches and equal
    * the batch [[graft.operators.Dedup.probeNovel]] run over the same
    * docs (batch-split independence, pinned in EventStreamSpec). That is
    * what makes this the production shape for a crawler frontier at
    * scale: the 100 TB corpus index is built once per index refresh,
    * while each arriving batch pays only its own banding + one skinny
    * hash-join probe. */
  def noveltyStream(spark: SparkSession, landingDir: String,
                    schema: StructType,
                    index: graft.operators.Dedup.SignatureIndex,
                    idCol: String, textCol: String, outDir: String,
                    checkpointDir: String, threshold: Double = 0.7): Unit =
    drain(landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val novel = graft.operators.Dedup.probeNovel(
          batch, index, idCol, textCol, threshold)
        graft.sources.Sink.writeBatchStamped(
          batch.select(col(idCol))
            .join(novel.select(col(idCol), lit(true).as("__novel")), Seq(idCol), "left")
            .select(col(idCol),
              coalesce(col("__novel"), lit(false)).as("is_novel")),
          outDir, batchId)
      }, checkpointDir)
}
