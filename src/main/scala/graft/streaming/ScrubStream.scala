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
  * Lakes 2-4 commit together under one [[LakeCommit.commit]] marker keyed
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
      () => docs.select(col(idCol), col(textCol),
          docShard(col(idCol)).cast("int").as("__shard"))
        .transform(Sink.byPartition(_, "__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(rawPath),
      () => st.wins.withColumn("__shard", docShard(col("id")).cast("int"))
        .transform(Sink.byPartition(_, "__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(winsPath),
      () => st.df.withColumn("__hbkt",
          pmod(col("whash"), lit(hashBuckets.toLong)).cast("int"))
        .transform(Sink.byPartition(_, "__hbkt"))
        .write.mode("overwrite").partitionBy("__hbkt").parquet(dfPath),
      () => st.scrubbed.withColumn("__shard", docShard(col("id")).cast("int"))
        .transform(Sink.byPartition(_, "__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(scrubPath)))
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

        // touched-partition sets, all delta-bound collects — three
        // independent one-job collects over pinned (localCheckpoint'd)
        // delta frames, overlapped so the wave pays one collect
        // roundtrip, not three (guide §2.6)
        def ints(df: DataFrame): Array[Int] =
          Sink.distinctValues(df).map(_.asInstanceOf[Int])
        var winsTouched: Array[Int] = null
        var dfTouchedBkts: Array[Int] = null
        var scrubTouched: Array[Int] = null
        Sink.inParallel(Seq(
          () => winsTouched = ints(parts.dIds
            .select(docShard(col("id")).cast("int"))),
          () => dfTouchedBkts = ints(parts.dfTouched
            .select(pmod(col("whash"), lit(hashBuckets.toLong)).cast("int"))),
          () => scrubTouched = ints(parts.gone
            .select(docShard(col("id")).cast("int")))))

        // replacement content per touched partition (reads the PRE-wave
        // lakes; no corpus-sized frame — the untouched partitions never
        // enter these plans)
        def inParts(c: Column, touched: Array[Int]): Column =
          c.isin(touched.map(Integer.valueOf): _*)
        val winsNew = Tables.parquet(spark, winsPath)
          .filter(inParts(col("__shard"), winsTouched))
          .join(broadcast(parts.dIds), Seq("id"), "left_anti")
          .unionByName(parts.newDeltaWins
            .withColumn("__shard", docShard(col("id")).cast("int")))
        val dfNew = Tables.parquet(spark, dfPath)
          .filter(inParts(col("__hbkt"), dfTouchedBkts))
          .join(broadcast(parts.dfTouched), Seq("whash"), "left_anti")
          .unionByName(parts.dfUpdated.withColumn("__hbkt",
            pmod(col("whash"), lit(hashBuckets.toLong)).cast("int")))
        val scrubNew = Tables.parquet(spark, scrubPath)
          .filter(inParts(col("__shard"), scrubTouched))
          .join(broadcast(parts.gone), Seq("id"), "left_anti")
          .unionByName(parts.rescrubbed
            .withColumn("__shard", docShard(col("id")).cast("int")))

        // the three staging writes read only PRE-wave lakes + pinned delta
        // frames and write three distinct staging dirs — independent, so
        // they overlap (guide §2.6); the marker still lands strictly after
        // ALL three complete (inParallel joins)
        def stage(df: DataFrame, lake: String, partCol: String,
                  touched: Array[Int]) =
          LakeCommit.stage(spark, lake, LakeCommit.partitionDirs(partCol, touched))(
            Sink.writePartitioned(df, _, partCol))
        val staged = new Array[LakeCommit.Staged](3)
        Sink.inParallel(Seq(
          () => staged(0) = stage(winsNew, winsPath, "__shard", winsTouched),
          () => staged(1) = stage(dfNew, dfPath, "__hbkt", dfTouchedBkts),
          () => staged(2) = stage(scrubNew, scrubPath, "__shard", scrubTouched)))
        staged.toSeq
      }
    }

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
