package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Incremental
import graft.sources.{LakeCommit, Sink, Tables}

/** The incremental corpus refresh ACTUALLY STREAMING — the production
  * shape of the [[Incremental]] loop: a crawler emits delta waves
  * (doc_id, op, text; op ∈ upsert|delete) as files into a landing
  * directory, and each micro-batch advances THREE pieces of carried
  * state, all delta-bound:
  *
  *   1. the RAW corpus lake (`rawPath`, shard-partitioned by the same
  *      doc-keyed routing as the packed lake): only shard directories
  *      the wave touches are rewritten (emptied dirs deleted) — the
  *      wave's upserts replace, its deletes drop, everyone else's
  *      directory is never opened (`Sink.stageKeyed`);
  *   2. the PACKED lake (`packedPath`): [[Incremental.stageRefresh]] —
  *      delta-only text work, ledger-recomputed membership, affected
  *      shards only;
  *   3. the LEDGER (`ledgerPath`): the next-refresh state, replaced whole
  *      (it reads its own path, so the new version is staged first).
  *
  * Packed and ledger commit together under one [[LakeCommit.commit]]
  * marker keyed by the batch id, so a replay either recomputes from the
  * untouched pre-wave pair or finishes the swaps from the marker; the raw
  * advance is a marker-less pre-step, idempotent under recompute.
  *
  * The file-source checkpoint carries the cursor, so a re-run drains
  * only unseen waves (exactly-once per wave); each run is one
  * [[EventStream.drain]] over [[EventStream.landing]], which puts each
  * delivery file through its own micro-batch. Because every refresh provably equals the batch
  * rebuild over its corpus version (the [[Incremental]] contract), the
  * final lake is the batch rebuild over the final version NO MATTER how
  * the delta was split into waves — which is exactly what the
  * `stream_incremental` gate's oracle (the incremental_sink rebuild
  * replay) checks.
  *
  * Scale shape per micro-batch: everything [[Incremental.refreshInPlace]]
  * guarantees, plus raw-lake maintenance bounded by the wave's touched
  * shards. No stage anywhere re-reads, re-shuffles, or rewrites the
  * untouched corpus mass.
  */
object IncrementalStream {

  /** Bootstrap the three state locations from corpus version 0: raw lake
    * shard-partitioned by `docShard`, packed lake via
    * [[Incremental.writePacked]], ledger as plain parquet. */
  def bootstrap(docs: DataFrame, rawPath: String, packedPath: String,
                ledgerPath: String, idCol: String, textCol: String,
                keep: Column => Column, maxTokens: Int, overlap: Int,
                budget: Long, shards: Int, docShard: Column => Column): Unit = {
    // three independent lake writes (distinct paths, none reading
    // another's output) — overlapped per guide §2.6
    Sink.inParallel(Seq(
      () => writeRaw(docs, rawPath, idCol, textCol, docShard),
      () => Incremental.writePacked(
        Incremental.batch(docs, idCol, textCol, keep,
          maxTokens, overlap, budget, shards, docShard),
        packedPath),
      () => Incremental.ledger(docs, idCol, textCol, keep)
        .write.mode("overwrite").parquet(ledgerPath)))
  }

  /** Write corpus version 0 as the raw lake: (idCol, textCol) rows in
    * `__shard` dirs by `docShard`. [[ScrubStream]] bootstraps the same lake. */
  private[streaming] def writeRaw(docs: DataFrame, rawPath: String, idCol: String,
                                  textCol: String, docShard: Column => Column): Unit =
    Sink.writeLake(docs.select(col(idCol), col(textCol),
      docShard(col(idCol)).cast("int").as("__shard")), rawPath, "__shard")

  /** Advance the raw corpus lake by one wave: rewrite ONLY the shard
    * directories the wave touches (upserts replace by id, deletes drop),
    * delete the ones the wave emptied — one partitioned staging write
    * ([[Sink.stageKeyed]]), applied by directory renames
    * ([[LakeCommit.replace]]; its heal makes a replay read every
    * partition). */
  private[streaming] def advanceRaw(spark: SparkSession, rawPath: String,
                         wave: DataFrame, idCol: String, textCol: String,
                         docShard: Column => Column): Unit =
    LakeCommit.replace(spark, rawPath) {
      Sink.stageKeyed(spark, rawPath, "__shard", docShard(col(idCol)).cast("int"), idCol,
        wave.select(col(idCol)),
        wave.filter(col("op") =!= "delete").select(col(idCol), col(textCol))) -> (())
    }

  /** One wave through the commit protocol — the foreachBatch body,
    * exposed to the spec so crash replays can be driven directly. */
  private[graft] def applyWave(spark: SparkSession, wave: DataFrame,
                               batchId: Long, rawPath: String,
                               packedPath: String, ledgerPath: String,
                               idCol: String, textCol: String,
                               keep: Column => Column, maxTokens: Int,
                               overlap: Int, budget: Long, shards: Int,
                               docShard: Column => Column): Unit =
    LakeCommit.commit(spark, Seq(packedPath, ledgerPath), batchId) {
      // Overlap the raw-lake advance with the refresh's ledger-side pin
      // chain (guide §2.6): the chain reads only the wave and the
      // ledger/packed lakes — its delta text comes from the wave itself
      // (deltaDocs), and the one read that needs post-wave corpus text
      // (the touched-survivor rechunk) goes through the by-name curr
      // thunk, which JOINS the advance first. Nothing reads rawPath
      // mid-swap, and the marker lands after the advance completed.
      Sink.withBackground(() =>
        advanceRaw(spark, rawPath, wave, idCol, textCol, docShard)) { rawAdvance =>
        val (packed, newLedger) = Incremental.stageRefresh(
          Tables.parquet(spark, ledgerPath), packedPath,
          curr = {
            rawAdvance.await()
            Tables.parquet(spark, rawPath).select(col(idCol), col(textCol))
          },
          wave.select(col(idCol)),
          idCol, textCol, keep, maxTokens, overlap, budget, shards,
          docShard,
          deltaDocs = Some(wave.filter(col("op") =!= "delete")
            .select(col(idCol), col(textCol))))
        // the ledger reads its own path: stage the new version whole, so
        // the swap rolls it forward by rename, not a second full write
        Seq(packed, LakeCommit.stage(spark, ledgerPath, whole = true)(
          newLedger.write.mode("overwrite").parquet(_)))
      }
    }

  /** Drain the landing directory: one micro-batch per delivery file, each
    * applying one wave to (raw, packed, ledger). `schema` must carry
    * (idCol, op, textCol). */
  def refreshStream(spark: SparkSession, landingDir: String,
                    schema: StructType, rawPath: String, packedPath: String,
                    ledgerPath: String, checkpointDir: String,
                    idCol: String, textCol: String,
                    keep: Column => Column, maxTokens: Int, overlap: Int,
                    budget: Long, shards: Int, docShard: Column => Column): Unit =
    EventStream.drain(EventStream.landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the wave is read several times (raw advance, delta ids) and
        // must not re-pull from the stream source mid-handler
        val wave = batch.localCheckpoint()
        if (!wave.isEmpty) {
          applyWave(spark, wave, batchId, rawPath, packedPath, ledgerPath,
            idCol, textCol, keep, maxTokens, overlap, budget, shards, docShard)
        }
      }, checkpointDir)
}
