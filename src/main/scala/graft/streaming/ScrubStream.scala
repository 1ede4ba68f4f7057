package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.IncrementalScrub
import graft.sources.{LakeCommit, Sink, Tables}

/** The frequency-delta scrub refresh ACTUALLY STREAMING — the
  * [[IncrementalStream]] loop extended to the stage whose state is not
  * per-document. Each checkpointed micro-batch applies one crawler wave
  * (doc_id, op, text) to FOUR state lakes, every rewrite delta-bound:
  *
  *   1. the RAW corpus lake — [[IncrementalStream.advanceRaw]]'s
  *      touched-shard rewrite;
  *   2. the WINDOW POSTING INDEX (`winsPath`, partitioned by the doc-keyed
  *      shard): a wave changes only its own docs' window rows, so only
  *      the wave ids' shard directories rewrite;
  *   3. the FREQUENCY TABLE (`dfPath`, partitioned by a whash bucket):
  *      only buckets holding a net-adjusted hash rewrite — the
  *      delta-bound `dfTouched`/`dfUpdated` parts of
  *      [[IncrementalScrub.refreshParts]];
  *   4. the SCRUB OUTPUT lake (`scrubPath`, doc-keyed shards): only
  *      shards holding a removed doc or a re-scrubbed doc (wave ids plus
  *      holders of threshold-crossing windows — the honest ripple cost)
  *      rewrite.
  *
  * All four rewrite the same way (`Sink.stageKeyed`). Lakes 2-4 commit
  * together under one [[LakeCommit.commit]] marker keyed
  * by the batch id: every replacement row-set is staged before any lake
  * is swapped (the refresh plan reads the pre-wave lakes, so an in-place
  * overwrite mid-plan would corrupt its own inputs), and a replay finishes
  * a half-swapped wave from the marker instead of recomputing. That
  * matters here more than anywhere: foreachBatch is at-least-once, and
  * the frequency-DELTA recompute is not idempotent against a half-applied
  * wave — with post-wave wins and pre-wave df the window adjustments read
  * as zero, removed docs' counts are never decremented and crossed
  * holders never re-scrubbed. The raw advance is a marker-less pre-step
  * (it recomputes idempotently, and the refresh reads its output). The
  * refresh
  * compute itself is [[IncrementalScrub.refresh]] —
  * provably equal to the batch spanScrub over the wave's corpus version
  * — so the drained scrub lake equals the batch scrub of the final
  * version no matter the wave split (the `stream_scrub` gate's oracle).
  */
object ScrubStream {

  /** Bootstrap the four lakes from corpus version 0. */
  def bootstrap(docs: DataFrame, rawPath: String, winsPath: String,
                dfPath: String, scrubPath: String,
                idCol: String, textCol: String, window: Int, minDf: Int,
                hashBuckets: Int, docShard: Column => Column): Unit = {
    val st = IncrementalScrub.state(docs, idCol, textCol, window, minDf)
    // the four lake writes are mutually independent (four distinct paths,
    // none reading another's output): overlap them (guide §2.6). The
    // shared posting-index cache inside IncrementalScrub.state is
    // materialized safely under concurrency by Spark's block-level
    // cache locking.
    Sink.inParallel(Seq(
      () => IncrementalStream.writeRaw(docs, rawPath, idCol, textCol, docShard),
      () => Sink.writeLake(st.wins.withColumn("__shard", shardOf(docShard)), winsPath, "__shard"),
      () => Sink.writeLake(st.df.withColumn("__hbkt", bucketOf(hashBuckets)), dfPath, "__hbkt"),
      () => Sink.writeLake(st.scrubbed.withColumn("__shard", shardOf(docShard)),
        scrubPath, "__shard")))
    // release only THIS build's tracked caches (the posting-index persist
    // inside IncrementalScrub.state) — a catalog-wide clearCache would
    // evict the caller's unrelated cached frames as collateral
    graft.operators.Dedup.unpersistIntermediates()
  }

  /** The carried state read back off the lakes (partition columns
    * dropped — [[IncrementalScrub.State]] frames carry logical columns
    * only). */
  def readState(spark: SparkSession, winsPath: String, dfPath: String,
                scrubPath: String): IncrementalScrub.State =
    IncrementalScrub.State(
      Tables.parquet(spark, winsPath).select("id", "start", "whash"),
      Tables.parquet(spark, dfPath).select("whash", "df"),
      Tables.parquet(spark, scrubPath)
        .select("id", "scrubbed_text", "n_tokens", "n_removed"))

  /** One wave through the commit protocol — the foreachBatch body,
    * exposed to the spec so crash replays can be driven directly. */
  private[graft] def applyWave(spark: SparkSession, wave: DataFrame,
                               batchId: Long, rawPath: String,
                               winsPath: String, dfPath: String,
                               scrubPath: String, idCol: String,
                               textCol: String, window: Int, minDf: Int,
                               hashBuckets: Int,
                               docShard: Column => Column): Unit =
    LakeCommit.commit(spark, Seq(winsPath, dfPath, scrubPath), batchId) {
      // Overlap the raw-lake advance with the refresh's pin chain (guide
      // §2.6): the chain's early frames (delta ids/windows, the per-hash
      // adjustment, the crossed/affected probes) read ONLY the wave and
      // the wins/df state lakes — never rawPath — because the delta text
      // comes from the wave itself (deltaDocs: the wave's non-delete rows
      // equal the post-advance lake restricted to the delta ids, by
      // advanceRaw's construction). The by-name `curr` thunk JOINS the
      // advance before the one read that needs post-wave corpus text (the
      // affected-doc re-scrub source), so nothing ever reads rawPath
      // mid-swap, and the marker lands after the advance completed.
      Sink.withBackground(() =>
        IncrementalStream.advanceRaw(spark, rawPath, wave, idCol, textCol,
          docShard)) { rawAdvance =>
        def curr = {
          rawAdvance.await()
          Tables.parquet(spark, rawPath).select(col(idCol), col(textCol))
        }
        val prev = readState(spark, winsPath, dfPath, scrubPath)
        val parts = IncrementalScrub.refreshParts(prev, curr,
          wave.select(col(idCol)), idCol, textCol, window, minDf,
          deltaDocs = Some(wave.filter(col("op") =!= "delete")
            .select(col(idCol), col(textCol))))

        // per lake, one delta-bound collect over a pinned delta frame, then
        // a staged rewrite of the PRE-wave lake's touched partitions: the
        // three read no path another writes, so they overlap, and the
        // marker lands strictly after ALL three (inParallel joins)
        Sink.inParallel(Seq(
          () => Sink.stageKeyed(spark, winsPath, "__shard", shardOf(docShard), "id",
            parts.dIds, parts.newDeltaWins),
          () => Sink.stageKeyed(spark, dfPath, "__hbkt", bucketOf(hashBuckets), "whash",
            parts.dfTouched, parts.dfUpdated),
          () => Sink.stageKeyed(spark, scrubPath, "__shard", shardOf(docShard), "id",
            parts.gone, parts.rescrubbed)))
      }
    }

  // the partition columns: the doc-keyed lakes' shard, the df table's bucket
  private def shardOf(docShard: Column => Column) = docShard(col("id")).cast("int")
  private def bucketOf(hashBuckets: Int) = pmod(col("whash"), lit(hashBuckets.toLong)).cast("int")

  /** Drain the landing directory: one micro-batch per delivery file
    * ([[EventStream.landing]]), each applying one wave to the four lakes
    * through [[applyWave]]. `schema` carries (idCol, op, textCol). */
  def refreshStream(spark: SparkSession, landingDir: String,
                    schema: StructType, rawPath: String, winsPath: String,
                    dfPath: String, scrubPath: String, checkpointDir: String,
                    idCol: String, textCol: String, window: Int, minDf: Int,
                    hashBuckets: Int, docShard: Column => Column): Unit =
    EventStream.drain(EventStream.landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val wave = batch.localCheckpoint()
        if (!wave.isEmpty) {
          applyWave(spark, wave, batchId, rawPath, winsPath, dfPath,
            scrubPath, idCol, textCol, window, minDf, hashBuckets, docShard)
        }
      }, checkpointDir)
}
