package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Incremental corpus preparation — the loop [[Snapshot]] exists to feed.
  * A production corpus refreshes continuously (the reference's sensor
  * polls for new data and re-materializes stale partitions,
  * sensors.py:21-57); at 100 TB the unit of rework must be the DOCUMENT
  * DELTA, not the partition: re-running the batch chain over the whole
  * lake because 0.1% of it changed re-pays normalize/hash/chunk on the
  * 99.9% that didn't.
  *
  * This operator runs the default curation chain
  * (normalize → exact-dedup → filter → chunk → pack — the
  * [[CorpusPipeline.prepare]] default stages) INCREMENTALLY, with an
  * output provably equal to the full rebuild over the new corpus
  * version. The contract rests on three observations:
  *
  *   1. Normalize / hash / filter are per-document pure functions, so
  *      only `added`/`changed` docs (the [[Snapshot.diff]] delta) need
  *      the text work — everything else reuses the carried [[ledger]]
  *      row, a skinny (id, norm_hash, passes) triple.
  *   2. Exact-dedup's canonical rule (lowest id per content hash) is a
  *      function of the LEDGER alone, and membership can only change
  *      inside a hash group the delta touched — so the canonical
  *      recompute runs over the AFFECTED GROUPS only (delta-bound),
  *      reached by map-only broadcast probes of the skinny ledger. The
  *      recompute catches the cross-document ripples a naive delta-only
  *      pass misses: removing a canonical doc PROMOTES its lowest
  *      surviving duplicate, and a changed doc colliding with an
  *      existing lower-id doc DEMOTES the higher id — membership changes
  *      are read off the affected slices' symmetric difference.
  *   3. Packing is deterministic per shard (greedy first-fit over
  *      id-sorted chunks, [[Packing.packSequences]]), so shards whose
  *      chunk set did not change keep their packed rows VERBATIM; only
  *      shards touched by the delta re-run the greedy scan. With
  *      doc-keyed sharding (a doc's chunks colocate — the layout a
  *      training job wants anyway for contiguous reads) the affected
  *      shard count is bounded by the touched-doc count, independent of
  *      corpus size.
  *
  * Scale shape per refresh: text work O(|delta| docs); the ledger and
  * packed state are scanned MAP-ONLY (broadcast semi/anti probes — no
  * corpus-sized shuffle anywhere); the canonical window, survivor diffs,
  * chunking, and repack are all delta-bound; everything else is a
  * shard-anti-join passthrough of the previous packed table. Nothing
  * corpus-sized is re-normalized, re-hashed, re-shuffled, or re-packed;
  * the only O(corpus) terms left are the caller's Snapshot.diff scan
  * (content-change detection is a corpus read by definition) and
  * materializing the output table itself (write only affected shard
  * directories to drop that term too — the packed rows carry `shard`
  * precisely so a partition-overwrite sink can).
  *
  * Near-dup and span-scrub stages are deliberately out of scope here:
  * their incremental forms need frequency-delta state (a window-hash df
  * table updated by the delta) rather than a per-doc ledger — a
  * different state contract. Callers needing them run
  * [[CorpusPipeline.prepare]] over the (much smaller) post-incremental
  * survivor delta or rebuild on a slower cadence.
  */
object Incremental {

  /** The skinny per-document state the incremental loop carries between
    * refreshes: (id, norm_hash, passes) — 24 bytes + a boolean per doc,
    * the whole corpus's curation verdict without a byte of text. */
  def ledger(docs: DataFrame, idCol: String, textCol: String,
             keep: Column => Column): DataFrame =
    docs
      .select(col(idCol).as("id"),
        TextOps.normalizeTextNfc(col(textCol)).as("__norm"))
      // null-content docs hash to a SENTINEL, not NULL: every downstream
      // membership probe is a plain equi-join on norm_hash, and an
      // equi-join drops null keys — a null-text doc would be invisible to
      // the affected-group machinery while the batch window still groups
      // it, silently breaking rebuild equality for any keep predicate
      // that passes null (md5 hex is 32 chars of [0-9a-f], so the
      // sentinel cannot collide)
      .select(col("id"),
        coalesce(md5(col("__norm")), lit("__null__")).as("norm_hash"),
        keep(col("__norm")).as("passes"))

  /** Survivor ids of a ledger: the canonical (lowest-id) row per content
    * hash that also passes the keep rules — [[CorpusPipeline]]'s
    * `is_canonical && passes_filters` computed off state alone. */
  def survivorIds(led: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("norm_hash")).orderBy(col("id").asc)
    led.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("passes"))
      .select("id")
  }

  /** chunk_key packs (doc_id, chunk_id) into one long: id·10^6 + chunk.
    * The encoding is injective ONLY on 0 ≤ id ≤ 9.2e12 with chunk_id <
    * 10^6 — outside that domain the decode attributes rows to the WRONG
    * document with no error (negative ids truncate toward zero; huge ids
    * overflow), so the build fails loudly instead. */
  private def chunkKey(id: Column, chunkId: Column): Column =
    when(id.between(lit(0L), lit(9223372036853L)) && chunkId < lit(1000000),
      id * lit(1000000L) + chunkId)
      .otherwise(raise_error(concat(
        lit("chunk_key domain violation (need 0 <= id <= 9.2e12, "),
        lit("chunk_id < 1e6): id="), id.cast("string"),
        lit(" chunk_id="), chunkId.cast("string"))))

  private def chunksOf(docs: DataFrame, maxTokens: Int, overlap: Int)
      : DataFrame =
    TextOps.chunkDocs(docs, "id", "__norm", maxTokens, overlap)
      .select(
        chunkKey(col("id"), col("chunk_id")).as("chunk_key"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("id").as("__doc"))

  private def packChunks(chunks: DataFrame, budget: Long, shards: Int,
                         docShard: Column => Column): DataFrame =
    Packing.packSequences(chunks, "chunk_key", "n_tokens", budget, shards,
        shardOn = Some(docShard(col("__doc"))))
      .select(
        expr("id div 1000000").as("doc_id"),
        pmod(col("id"), lit(1000000L)).cast("int").as("chunk_id"),
        col("n_tokens"), col("shard"), col("seq_id"))

  /** The batch form of the chain this operator increments — identical
    * semantics to [[CorpusPipeline.prepare]] with both optional stages
    * off, except chunks shard by DOCUMENT id (`docShard`) so a doc's
    * chunks colocate. Runs once to bootstrap `prevPacked`, and in specs
    * as the rebuild the incremental path must equal. */
  def batch(docs: DataFrame, idCol: String, textCol: String,
            keep: Column => Column,
            maxTokens: Int, overlap: Int, budget: Long, shards: Int,
            docShard: Column => Column): DataFrame = {
    val c = docs.select(col(idCol).as("id"), col(textCol).as("__text"))
    val surv = survivorIds(ledger(c, "id", "__text", keep))
    val normDocs = c.join(surv, Seq("id"), "left_semi")
      .select(col("id"), TextOps.normalizeTextNfc(col("__text")).as("__norm"))
    packChunks(chunksOf(normDocs, maxTokens, overlap), budget, shards, docShard)
  }

  /** One incremental refresh: given the previous run's state (`prevLedger`
    * from [[ledger]], `prevPacked` from [[batch]] or a prior [[repack]]),
    * the new corpus version `curr`, and the [[Snapshot.diff]] `delta`
    * between the versions, return the packed table the full rebuild over
    * `curr` would produce — paying text work only for the delta and
    * repacking only the shards it touches.
    *
    * `docShard` maps a document id to its shard in [0, shards) and MUST
    * match the one `prevPacked` was built with — shard identity is what
    * makes the untouched mass reusable. */
  def repack(prevLedger: DataFrame, prevPacked: DataFrame,
             curr: => DataFrame, delta: DataFrame,
             idCol: String, textCol: String,
             keep: Column => Column,
             maxTokens: Int, overlap: Int, budget: Long, shards: Int,
             docShard: Column => Column): DataFrame = {
    val parts = plan(prevLedger, prevPacked, curr, delta, idCol, textCol,
      keep, maxTokens, overlap, budget, shards, docShard)
    parts.untouched.select("doc_id", "chunk_id", "n_tokens", "shard", "seq_id")
      .unionByName(parts.repacked)
  }

  /** The refresh frames [[repack]] and [[refreshInPlace]] assemble from:
    * previous packed rows in unaffected shards (verbatim), freshly packed
    * rows for affected shards, the affected shard-id frame, and the new
    * ledger to carry into the next refresh. */
  private case class Refresh(untouched: DataFrame, repacked: DataFrame,
                             affected: DataFrame, newLedger: DataFrame)

  /** `curr` is BY-NAME and forced only where post-delta corpus TEXT is
    * read: the touched-survivor rechunk (and the delta ledger rows when
    * `deltaDocs` is absent). The ledger/membership pin chain never
    * touches it, so a streaming caller can overlap its raw-lake advance
    * with that chain by handing a thunk that joins the advance first
    * ([[graft.streaming.IncrementalStream]]). `deltaDocs`, when given,
    * must hold exactly the delta ids' post-delta rows (idCol, textCol) —
    * a wave's non-delete rows, which equal `curr ⋉ delta` by the
    * advance construction. */
  private def plan(prevLedger: DataFrame, prevPacked: DataFrame,
                   curr: => DataFrame, delta: DataFrame,
                   idCol: String, textCol: String,
                   keep: Column => Column,
                   maxTokens: Int, overlap: Int, budget: Long, shards: Int,
                   docShard: Column => Column,
                   pinAffected: Boolean = false,
                   deltaDocs: Option[DataFrame] = None): Refresh = {
    lazy val c = curr.select(col(idCol).as("id"), col(textCol).as("__text"))
    // Every delta-bound state frame is EAGERLY localCheckpoint'd, not
    // persist'd: each layer here broadcasts the previous layers into 2-3
    // consumers, so a cache-only cut leaves the LOGICAL tree duplicating
    // the whole upstream DAG per consumer — exponential in the layer
    // count. Execution would still hit the caches, but the driver pays
    // optimizer passes and plan stringification (SQLExecution renders the
    // executed plan per action) over a 100k-node tree: measured 35-55 s
    // of pure driver time on a 300-doc delta, all in generateTreeString/
    // FoldablePropagation, zero jobs over 0.5 s. Checkpointing truncates
    // lineage, so every downstream tree stays shallow. The frames are
    // delta-bound (the whole point of the operator), so materializing
    // them is cheap; on executor loss mid-refresh the refresh re-runs
    // from the caller's durable inputs. Broadcast wherever they join a
    // corpus-sized side: the corpus side stays map-only (a delta so
    // large it won't broadcast is a delta so large the caller should
    // rebuild — BASELINE.md's IncrScale probe section measured the
    // crossover).
    def pin(df: DataFrame): DataFrame = df.localCheckpoint()
    val dIds = pin(delta.select(col(idCol).as("id")))

    // 1. text work, delta-only: removed ids drop out via the semi join
    //    (they are not in curr), added/changed get fresh ledger rows.
    //    deltaDocs, when given, carries the same rows wave-side — no
    //    corpus read.
    val deltaLedger = pin(
      ledger(deltaDocs
          .map(_.select(col(idCol).as("id"), col(textCol).as("__text")))
          .getOrElse(c.join(broadcast(dIds), Seq("id"), "left_semi")),
        "id", "__text", keep))
    val newLedger = prevLedger.join(broadcast(dIds), Seq("id"), "left_anti")
      .unionByName(deltaLedger)

    // 2. membership off state alone — restricted to AFFECTED HASH GROUPS:
    //    survivor membership can only change inside a content-hash group
    //    the delta touched (a removed/changed doc's OLD hash, an added/
    //    changed doc's NEW hash); everywhere else prev and new ledgers
    //    hold identical rows, so the survivor-set symmetric difference is
    //    exactly the affected slices' difference. This keeps the window
    //    and the diff joins delta-bound — no O(corpus) survivor set is
    //    ever materialized. (Null-content docs carry the ledger's hash
    //    SENTINEL, never a null key, so the plain equi-join probes are
    //    total — incremental membership equals the batch window for ANY
    //    keep predicate, including ones that pass null.)
    val affectedHashes = pin(
      prevLedger.join(broadcast(dIds), Seq("id"), "left_semi")
        .select("norm_hash")
        .unionByName(deltaLedger.select("norm_hash"))
        .distinct())
    // the two survivor-slice pins depend on affectedHashes but not on each
    // other — overlap their materializing actions (guide §2.6) instead of
    // paying two serial ledger-scan roundtrips per refresh
    var prevSurvAff: DataFrame = null
    var newSurvAff: DataFrame = null
    graft.sources.Sink.inParallel(Seq(
      () => prevSurvAff = pin(survivorIds(
        prevLedger.join(broadcast(affectedHashes), Seq("norm_hash"), "left_semi"))),
      () => newSurvAff = pin(survivorIds(
        newLedger.join(broadcast(affectedHashes), Seq("norm_hash"), "left_semi")))))
    val touch = pin(
      dIds
        .unionByName(newSurvAff.join(prevSurvAff, Seq("id"), "left_anti"))
        .unionByName(prevSurvAff.join(newSurvAff, Seq("id"), "left_anti"))
        .distinct())

    // 3. chunk only touched survivors (their text is in curr by
    //    construction: removed docs cannot be new survivors). touch cuts
    //    FIRST — a broadcast semi join keeps the corpus scan map-only and
    //    leaves only delta-many rows for the survivor check
    // (every touch doc that survives sits in an affected hash group, so
    // the affected survivor slice IS the survivor filter for rechunk)
    val rechunk = c.join(broadcast(touch), Seq("id"), "left_semi")
      .join(broadcast(newSurvAff), Seq("id"), "left_semi")
      .select(col("id"), TextOps.normalizeTextNfc(col("__text")).as("__norm"))
    val newChunks =
      pin(chunksOf(rechunk, maxTokens, overlap))

    // 4. shard-granular rework: a shard is affected iff it gains a new
    //    chunk or loses a touched doc's old one; everything else is a
    //    verbatim passthrough of the previous packed rows
    val keptPrev = prevPacked.join(broadcast(touch),
      prevPacked("doc_id") === touch("id"), "left_anti")
    // pinned only for the MULTI-ACTION caller (refreshInPlace collects
    // `affected` in one action and writes `repacked` in another — no
    // cross-action exchange reuse, so an un-pinned `affected` rescans the
    // packed lake in both). Single-action callers (repack) keep it lazy:
    // their one plan already dedupes the two broadcast(affected) subtrees
    // via ReusedExchange, and an eager pin would only add a roundtrip.
    val affectedLazy =
      newChunks.select(docShard(col("__doc")).cast("int").as("shard"))
        .unionByName(prevPacked.join(broadcast(touch),
            prevPacked("doc_id") === touch("id"), "left_semi")
          .select(col("shard")))
        .distinct()
    val affected = if (pinAffected) pin(affectedLazy) else affectedLazy
    val untouched = keptPrev.join(broadcast(affected), Seq("shard"), "left_anti")
    val repackInput = keptPrev
      .join(broadcast(affected), Seq("shard"), "left_semi")
      .select(
        chunkKey(col("doc_id"), col("chunk_id")).as("chunk_key"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("doc_id").as("__doc"))
      .unionByName(newChunks)
    Refresh(untouched, packChunks(repackInput, budget, shards, docShard),
      affected, newLedger)
  }

  /** Write a packed table as a shard-partitioned lake
    * (`path/shard=N/...`, one file per shard) — the layout
    * [[refreshInPlace]] refreshes without touching unaffected
    * directories. */
  def writePacked(packed: DataFrame, path: String): Unit =
    packed
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("seq_id"), col("chunk_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** One refresh applied IN PLACE to a [[writePacked]] lake: only the
    * AFFECTED shard directories are rewritten (dynamic partition
    * overwrite), unaffected directories are not opened, rewritten, or
    * even listed by the write — closing the one O(corpus) term [[repack]]
    * keeps (materializing the untouched mass into a new table). Affected
    * shards whose repack came back EMPTY (every doc gone) are deleted
    * explicitly — dynamic overwrite only replaces partitions present in
    * the written data, and a stale directory would resurrect dropped
    * documents on the next read.
    *
    * Returns the new ledger — the state to carry into the next refresh
    * (persist it beside the lake; the packed state IS the lake now). */
  def refreshInPlace(prevLedger: DataFrame, packedPath: String,
                     curr: => DataFrame, delta: DataFrame,
                     idCol: String, textCol: String,
                     keep: Column => Column,
                     maxTokens: Int, overlap: Int, budget: Long, shards: Int,
                     docShard: Column => Column,
                     deltaDocs: Option[DataFrame] = None): DataFrame = {
    val spark = prevLedger.sparkSession
    // a re-run after a crash mid-swap must read the healed lake (every
    // shard directory present) before re-planning the refresh
    graft.sources.Sink.healSwaps(spark, packedPath)
    val prevPacked = Tables.parquet(spark, packedPath)
    val parts = plan(prevLedger, prevPacked, curr, delta, idCol, textCol,
      keep, maxTokens, overlap, budget, shards, docShard, pinAffected = true,
      deltaDocs = deltaDocs)
    val affectedIds = parts.affected.collect().map(_.getInt(0)) // O(|touch|)
    // stage the repacked rows through a temp directory: the final apply
    // targets the same path the plan reads (prevPacked) and Spark's
    // self-overwrite guard inspects the LOGICAL plan, so the lineage
    // must be cut — a parquet hop does that, materializes the
    // (delta-bound) frame exactly once, and unlike localCheckpoint
    // survives an executor loss mid-refresh. The staging is written in
    // its final shard layout, so the apply is pure directory renames
    // (Sink.swapStagedPartitions) — the staged bytes move once, never a
    // second dynamic-overwrite rewrite of the same rows.
    val staging = s"$packedPath.refresh-staging"
    val written = graft.sources.Sink.writeStagedPartitioned(parts.repacked,
      staging, "shard", sortCols = Seq(col("seq_id"), col("chunk_id")))
    graft.sources.Sink.swapStagedPartitions(spark, staging, packedPath,
      "shard", affectedIds.toSeq, written)
    parts.newLedger
  }
}
