package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Incremental, Snapshot, TextOps}
import graft.sources.Tables

/** Scale probe for the incremental pipeline (D30): measures the claim the
  * sf-gate cannot — that a refresh with a FIXED-SIZE delta costs the
  * delta, not the corpus. The gate corpus re-bootstraps the previous
  * run's state in-query (so the oracle can replay everything); a real
  * lake CARRIES that state between refreshes. This probe does what the
  * lake does: bootstrap once, land the (ledger, packed) state as
  * parquet, then time
  *
  *   rebuild:     Incremental.batch(curr)            — O(corpus) text work
  *   incremental: diff + Incremental.repack(state)   — O(delta) text work,
  *                shard-granular repack
  *
  * at a fixed 300-doc delta (100 edited, 100 removed, 100 added — ids
  * < 200 exist at every SF; ScaleGen copy 0 is the original corpus) as
  * the corpus grows a decade. The rebuild arm grows with the corpus; the
  * incremental arm should move with the delta plus the skinny
  * ledger/diff shuffles, and the CHANGED-shard count should stay pinned
  * near the touched-doc count while the untouched fraction → 100%.
  *
  * Usage: runMain graft.IncrScale [sfDir] [shards] [iters]
  * Prints two JSON lines — `incr_scale` (pipeline repack) and
  * `scrub_scale` (frequency-delta scrub, same fixed delta): per-arm best
  * seconds AND shuffle-write records (the BloomScale discipline — on a
  * cluster the corpus-wide shuffle is network, and records is the cost a
  * 1000-executor run actually pays), changed-shard census, arm-equality.
  */
object IncrScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val shards = if (args.length > 1) args(1).toInt else 1024
    val iters = if (args.length > 2) args(2).toInt else 3
    val probes = if (args.length > 3) args(3) else "all" // all|pipeline|scrub
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    val keep: Column => Column = t => TextOps.corpusFilterRules(t)
      .collect { case (n, r) if n != "no_terminal_punct" => r }
      .reduce(_ && _)
    val docShard: Column => Column = k =>
      conv(substring(md5(k.cast("string")), 1, 4), 16, 10)
        .cast("long") % shards
    val mt = 256; val ov = 32; val budget = 2048L

    val prev = sources.Tables.documents(spark, sfDir).select("doc_id", "text")
    val nCorpus = prev.count()
    val added = spark.range(100)
      .select((col("id") + 20000000000L).as("doc_id"),
        concat(lit("freshly crawled document number "), col("id"),
          lit(" carrying entirely new body content with plenty of plain" +
            " ordinary words filling out the minimum length and keeping" +
            " the digit ratio low and the word shapes inside the bounds" +
            " the keep ruleset demands of every surviving document"))
          .as("text"))
    val curr = prev
      .filter(!col("doc_id").between(100, 199)) // 100 removed
      .select(col("doc_id"),
        when(col("doc_id") < 100,
          concat(col("text"), lit(" refreshed crawl edit"))) // 100 edited
          .otherwise(col("text")).as("text"))
      .unionByName(added) // 100 added

    // lake state: bootstrap ONCE, land as parquet, read back (cuts lineage
    // to the batch plan — the refresh must stand on the stored state)
    val stateDir = s"${sys.props("java.io.tmpdir")}/graft_incrscale"
    sources.Sink.reset(stateDir)
    Incremental.ledger(prev, "doc_id", "text", keep)
      .write.mode("overwrite").parquet(s"$stateDir/ledger")
    Incremental.batch(prev, "doc_id", "text", keep, mt, ov, budget, shards,
        docShard)
      .write.mode("overwrite").parquet(s"$stateDir/packed")
    val prevLedger = Tables.parquet(spark, s"$stateDir/ledger")
    val prevPacked = Tables.parquet(spark, s"$stateDir/packed")

    // wall time AND shuffle-write records (the BloomScale discipline): on
    // a cluster the corpus-wide shuffle is network, and records is the
    // cost a 1000-executor run actually pays
    val shuffleAcc = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = ev.stageInfo.taskMetrics
          if (m != null) {
            shuffleAcc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
          }
        }
      })
    def timed(f: => Long): (Double, Long, Long, Long) = {
      val runs = (1 to iters).map { _ =>
        Dedup.unpersistIntermediates()
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(500) // drain pending listener events
        val s0 = shuffleAcc.get(); val b0 = shuffleBytes.get()
        val t0 = System.nanoTime()
        val n = f
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        (sec, n, shuffleAcc.get() - s0, shuffleBytes.get() - b0)
      }
      (runs.map(_._1).min, runs.head._2, runs.map(_._3).min,
        runs.map(_._4).min)
    }

    if (probes == "all" || probes == "pipeline") {
    def rebuild() = Incremental.batch(curr, "doc_id", "text", keep,
      mt, ov, budget, shards, docShard)
    def incremental() = Incremental.repack(prevLedger, prevPacked, curr,
      Snapshot.diff(prev, curr, "doc_id", "text"),
      "doc_id", "text", keep, mt, ov, budget, shards, docShard)

    val (tRebuild, nRebuild, shRebuild, sbRebuild) =
      timed(rebuild().queryExecution.toRdd.count())
    val (tIncr, nIncr, shIncr, sbIncr) =
      timed(incremental().queryExecution.toRdd.count())

    // untimed: arm equality + the census of shards whose content CHANGED
    // relative to the previous packed table (the rework bound)
    val a = rebuild(); val b = incremental()
    val equal = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val changedShards = b.exceptAll(prevPacked)
      .unionByName(prevPacked.exceptAll(b))
      .select("shard").distinct().count()
    val deltaN = Snapshot.diff(prev, curr, "doc_id", "text").count()
    Dedup.unpersistIntermediates()
    println(
      f"""{"probe":"incr_scale","corpus":$nCorpus,"delta":$deltaN,"shards":$shards,"rebuild_sec":$tRebuild%.2f,"incremental_sec":$tIncr%.2f,"rows_rebuild":$nRebuild,"rows_incremental":$nIncr,"shuffle_recs_rebuild":$shRebuild,"shuffle_recs_incremental":$shIncr,"shuffle_mb_rebuild":${sbRebuild / 1048576},"shuffle_mb_incremental":${sbIncr / 1048576},"changed_shards":$changedShards,"equal":$equal,"sf":"$sfDir"}""")
    }

    if (probes == "all" || probes == "scrub") {
    // same probe for the frequency-delta scrub tier: state (window index,
    // df table, scrub lake) landed as parquet once, then batch spanScrub
    // vs IncrementalScrub.refresh on the same fixed delta
    import graft.operators.IncrementalScrub
    val sDir = s"$stateDir/scrub"
    val st0 = IncrementalScrub.state(prev, "doc_id", "text", 8, 2)
    st0.wins.write.mode("overwrite").parquet(s"$sDir/wins")
    st0.df.write.mode("overwrite").parquet(s"$sDir/df")
    st0.scrubbed.write.mode("overwrite").parquet(s"$sDir/scrubbed")
    Dedup.unpersistIntermediates()
    val stP = IncrementalScrub.State(
      Tables.parquet(spark, s"$sDir/wins"),
      Tables.parquet(spark, s"$sDir/df"),
      Tables.parquet(spark, s"$sDir/scrubbed"))
    val (tScrubBatch, _, shScrubBatch, sbScrubBatch) = timed {
      Dedup.spanScrub(curr, "doc_id", "text", 8, 2)
        .queryExecution.toRdd.count()
    }
    val (tScrubIncr, _, shScrubIncr, sbScrubIncr) = timed {
      IncrementalScrub.refresh(stP, curr,
        Snapshot.diff(prev, curr, "doc_id", "text"),
        "doc_id", "text", 8, 2).scrubbed.queryExecution.toRdd.count()
    }
    val sb = Dedup.spanScrub(curr, "doc_id", "text", 8, 2)
      .withColumnRenamed("doc_id", "id")
    val si = IncrementalScrub.refresh(stP, curr,
      Snapshot.diff(prev, curr, "doc_id", "text"),
      "doc_id", "text", 8, 2).scrubbed
    val scrubEqual = sb.exceptAll(si).isEmpty && si.exceptAll(sb).isEmpty
    Dedup.unpersistIntermediates()
    println(
      f"""{"probe":"scrub_scale","corpus":$nCorpus,"delta":${Snapshot.diff(prev, curr, "doc_id", "text").count()},"batch_sec":$tScrubBatch%.2f,"refresh_sec":$tScrubIncr%.2f,"shuffle_recs_batch":$shScrubBatch,"shuffle_recs_refresh":$shScrubIncr,"shuffle_mb_batch":${sbScrubBatch / 1048576},"shuffle_mb_refresh":${sbScrubIncr / 1048576},"equal":$scrubEqual,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
