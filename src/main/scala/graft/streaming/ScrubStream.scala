package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.IncrementalScrub
import graft.sources.{Sink, Tables}

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
  * All replacement row-sets are STAGED (materialized to scratch parquet)
  * before any lake is overwritten: the refresh plan reads the pre-wave
  * lakes, so an in-place overwrite mid-plan would corrupt its own
  * inputs. A commit MARKER between staging and apply makes the wave
  * crash-idempotent — foreachBatch is at-least-once, and the
  * frequency-DELTA recompute (unlike [[IncrementalStream]]'s
  * from-text recomputation) would corrupt state if replayed against a
  * half-applied wave; see the staged-commit notes below. The refresh
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
        .repartition(col("__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(rawPath),
      () => st.wins.withColumn("__shard", docShard(col("id")).cast("int"))
        .repartition(col("__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(winsPath),
      () => st.df.withColumn("__hbkt",
          pmod(col("whash"), lit(hashBuckets.toLong)).cast("int"))
        .repartition(col("__hbkt"))
        .write.mode("overwrite").partitionBy("__hbkt").parquet(dfPath),
      () => st.scrubbed.withColumn("__shard", docShard(col("id")).cast("int"))
        .repartition(col("__shard"))
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

  // ---- staged-commit protocol -------------------------------------
  //
  // foreachBatch is at-least-once: a driver crash BETWEEN the three lake
  // overwrites replays the wave against a HALF-ADVANCED state, and the
  // frequency-delta recompute is not idempotent — with post-wave wins
  // and pre-wave df the window adjustments read as zero, so removed
  // docs' counts are never decremented and crossed-threshold holders
  // are never re-scrubbed: permanent divergence from the batch oracle.
  // (Contrast IncrementalStream, which RECOMPUTES membership from text
  // and so converges on any replay.) The cure is a commit marker: stage
  // all three replacement sets, write the marker (batch id + touched
  // partition lists) via temp-file rename, then apply. A replay that
  // finds its own batch's marker finishes the apply from the FROZEN
  // staged data instead of recomputing; a crash before the marker left
  // the lakes untouched, so recomputing from scratch is safe; a crash
  // after the apply but before the marker delete re-applies the same
  // frozen data — every overwrite is content-idempotent.

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The frozen per-wave commit payload: the touched partition lists
    * (whose lake dirs must end up swapped or deleted) and the WRITTEN
    * lists recorded at stage time (which staged dirs existed before any
    * swap). Written must be frozen in the marker, not re-derived at
    * replay: a half-applied staging dir has already lost its swapped
    * entries, and re-listing it would misread those partitions as
    * emptied and delete fresh data. */
  private[graft] final case class StagedWave(
      winsTouched: Array[Int], dfTouched: Array[Int], scrubTouched: Array[Int],
      winsWritten: Array[Int], dfWritten: Array[Int], scrubWritten: Array[Int])

  /** Write the wave-commit marker atomically (temp + rename): its
    * existence IS the commit point of a staged wave. */
  private def writeMarker(spark: SparkSession, path: String, batchId: Long,
                          staged: StagedWave): Unit = {
    val (fs, p) = hfs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    val lines = Seq(staged.winsTouched, staged.dfTouched, staged.scrubTouched,
      staged.winsWritten, staged.dfWritten, staged.scrubWritten)
      .map(_.mkString(","))
    out.write((s"$batchId\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    // a false return here is either "wasn't there" (fine) or a real
    // failure the rename below will also hit — gate on the rename, which
    // IS the commit point and must not fail silently
    if (fs.exists(p)) fs.delete(p, false): Unit
    require(fs.rename(tmp, p), s"commit-marker rename failed: $tmp -> $p")
  }

  private def readMarker(spark: SparkSession, path: String)
      : Option[(Long, StagedWave)] = {
    val (fs, p) = hfs(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = txt.split("\n", -1)
      def ints(s: String): Array[Int] =
        if (s.isEmpty) Array.empty[Int] else s.split(",").map(_.toInt)
      Some((lines(0).toLong, StagedWave(ints(lines(1)), ints(lines(2)),
        ints(lines(3)), ints(lines(4)), ints(lines(5)), ints(lines(6)))))
    }
  }

  /** Apply a COMMITTED (staged + markered) wave to the three state lakes,
    * then retire the marker. The apply is pure directory renames
    * ([[Sink.swapStagedPartitions]] — the staged bytes were already
    * written in their final partition layout, so no second Spark write).
    * Content-idempotent: a replay swaps whatever staged dirs remain and
    * skips the ones an earlier attempt already moved (the frozen
    * `written` lists in the marker tell an applied partition from an
    * emptied one); a missing staging ROOT means that lake fully applied. */
  private def applyStaged(spark: SparkSession, winsPath: String,
                          dfPath: String, scrubPath: String,
                          markerPath: String, staged: StagedWave): Unit = {
    val (ws, ds, ss) = (s"$winsPath.wave-staging",
      s"$dfPath.wave-staging", s"$scrubPath.wave-staging")
    // three lakes, three staging dirs, zero cross-reads: the swaps are
    // independent, driver-side metadata work — run them serially (three
    // rename batches cost no Spark jobs; a pool would only add threads)
    Sink.swapStagedPartitions(spark, ws, winsPath, "__shard",
      staged.winsTouched, staged.winsWritten)
    Sink.swapStagedPartitions(spark, ds, dfPath, "__hbkt",
      staged.dfTouched, staged.dfWritten)
    Sink.swapStagedPartitions(spark, ss, scrubPath, "__shard",
      staged.scrubTouched, staged.scrubWritten)
    val (fs, p) = hfs(spark, markerPath)
    if (fs.exists(p))
      require(fs.delete(p, false), s"marker delete failed: $markerPath")
    Sink.reset(ws); Sink.reset(ds); Sink.reset(ss)
  }

  /** Advance the raw lake, compute the wave's replacement row-sets off
    * the PRE-wave state, stage all three, and write the commit marker.
    * Returns the touched-partition lists the apply step needs. Exposed
    * to the spec so the crash window between commit and apply can be
    * reproduced exactly. */
  private[graft] def stageWave(spark: SparkSession, wave: DataFrame,
                               batchId: Long, rawPath: String,
                               winsPath: String, dfPath: String,
                               scrubPath: String, idCol: String,
                               textCol: String, window: Int, minDf: Int,
                               hashBuckets: Int, docShard: Column => Column)
      : StagedWave = {
    // Overlap the raw-lake advance with the refresh's pin chain (guide
    // §2.6): the chain's early frames (delta ids/windows, the per-hash
    // adjustment, the crossed/affected probes) read ONLY the wave and the
    // wins/df state lakes — never rawPath — because the delta text comes
    // from the wave itself (deltaDocs: the wave's non-delete rows equal
    // the post-advance lake restricted to the delta ids, by advanceRaw's
    // construction). The by-name `curr` thunk JOINS the advance before
    // the one read that needs post-wave corpus text (the affected-doc
    // re-scrub source), so nothing ever reads rawPath mid-swap, and the
    // external mutation order (raw → staging → marker → apply) is
    // byte-identical to the serial form — the crash contract is
    // untouched.
    val rawAdvance = Sink.inBackground(() =>
      IncrementalStream.advanceRaw(spark, rawPath, wave, idCol, textCol,
        docShard))
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
    // independent jobs over pinned (localCheckpoint'd) delta frames,
    // overlapped so the wave pays one collect roundtrip, not three
    // (guide §2.6)
    def ints(df: DataFrame): Array[Int] =
      df.distinct().collect().map(_.getInt(0))
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
    val winsLake = Tables.parquet(spark, winsPath)
    val winsNew = winsLake
      .filter(inParts(col("__shard"), winsTouched))
      .join(broadcast(parts.dIds), Seq("id"), "left_anti")
      .unionByName(parts.newDeltaWins
        .withColumn("__shard", docShard(col("id")).cast("int")))
    val dfLake = Tables.parquet(spark, dfPath)
    val dfNew = dfLake
      .filter(inParts(col("__hbkt"), dfTouchedBkts))
      .join(broadcast(parts.dfTouched), Seq("whash"), "left_anti")
      .unionByName(parts.dfUpdated.withColumn("__hbkt",
        pmod(col("whash"), lit(hashBuckets.toLong)).cast("int")))
    val scrubLake = Tables.parquet(spark, scrubPath)
    val scrubNew = scrubLake
      .filter(inParts(col("__shard"), scrubTouched))
      .join(broadcast(parts.gone), Seq("id"), "left_anti")
      .unionByName(parts.rescrubbed
        .withColumn("__shard", docShard(col("id")).cast("int")))

    // stage ALL replacement sets before overwriting ANY lake: the
    // refresh plans read the pre-wave lakes, and rescrubbed reads
    // both the posting index and the frequency table. The three staging
    // writes read only PRE-wave lakes + pinned delta frames and write
    // three distinct scratch dirs — independent, so they overlap
    // (guide §2.6); the commit marker still lands strictly after ALL
    // three complete (inParallel joins), preserving the staged-commit
    // crash protocol. Each staging lands in its final partition layout
    // (writeStagedPartitioned) so the apply step is pure renames; the
    // written-partition lists are FROZEN into the marker beside the
    // touched lists (see StagedWave — replay must not re-derive them).
    val (ws, ds, ss) = (s"$winsPath.wave-staging",
      s"$dfPath.wave-staging", s"$scrubPath.wave-staging")
    var winsWritten: Array[Int] = null
    var dfWritten: Array[Int] = null
    var scrubWritten: Array[Int] = null
    Sink.inParallel(Seq(
      () => winsWritten = Sink.writeStagedPartitioned(winsNew, ws, "__shard"),
      () => dfWritten = Sink.writeStagedPartitioned(dfNew, ds, "__hbkt"),
      () => scrubWritten = Sink.writeStagedPartitioned(scrubNew, ss, "__shard")))
    val staged = StagedWave(winsTouched, dfTouchedBkts, scrubTouched,
      winsWritten, dfWritten, scrubWritten)
    // belt: the marker asserts the raw advance completed (replay-from-
    // marker finishes the apply without re-advancing). The re-scrub
    // source already joined it via the curr thunk; await() is idempotent.
    rawAdvance.await()
    writeMarker(spark, s"$scrubPath.wave-commit", batchId, staged)
    staged
  }

  /** One wave through the full staged-commit protocol — the foreachBatch
    * body, exposed to the spec so crash replays can be driven directly. */
  private[graft] def applyWave(spark: SparkSession, wave: DataFrame,
                               batchId: Long, rawPath: String,
                               winsPath: String, dfPath: String,
                               scrubPath: String, idCol: String,
                               textCol: String, window: Int, minDf: Int,
                               hashBuckets: Int,
                               docShard: Column => Column): Unit = {
    val marker = s"$scrubPath.wave-commit"
    val pending = readMarker(spark, marker)
    if (pending.exists(_._1 == batchId)) {
      // crash replay of a wave that COMMITTED mid-apply: the raw lake
      // and staging are complete (the marker is written only after
      // both), so finish from the frozen staged data — recomputing here
      // would read half-advanced state
      applyStaged(spark, winsPath, dfPath, scrubPath, marker, pending.get._2)
    } else {
      // a marker from an OLDER batch can only mean its apply finished
      // but the delete was lost — finishing it is a no-op re-apply and
      // guarantees this wave computes on settled state
      pending.foreach { case (_, staged) =>
        applyStaged(spark, winsPath, dfPath, scrubPath, marker, staged)
      }
      val staged = stageWave(spark, wave, batchId, rawPath, winsPath,
        dfPath, scrubPath, idCol, textCol, window, minDf, hashBuckets,
        docShard)
      applyStaged(spark, winsPath, dfPath, scrubPath, marker, staged)
    }
  }

  /** Drain the landing directory: one micro-batch per delivery file, each
    * applying one wave to the four lakes through the staged-commit
    * protocol above. `schema` carries (idCol, op, textCol). */
  def refreshStream(spark: SparkSession, landingDir: String,
                    schema: StructType, rawPath: String, winsPath: String,
                    dfPath: String, scrubPath: String, checkpointDir: String,
                    idCol: String, textCol: String, window: Int, minDf: Int,
                    hashBuckets: Int, docShard: Column => Column)
      : StreamingQuery =
    spark.readStream
      .schema(schema)
      // DELIBERATELY not a knob (the IncrementalStream rationale): waves
      // carry no ordering column, so a merged micro-batch would apply an
      // upsert and a later delete of the same id unordered
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val wave = batch.localCheckpoint()
        if (!wave.isEmpty) {
          applyWave(spark, wave, batchId, rawPath, winsPath, dfPath,
            scrubPath, idCol, textCol, window, minDf, hashBuckets, docShard)
        }
      }
      .start()
}
