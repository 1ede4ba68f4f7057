package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, IncrementalScrub}
import graft.streaming.ScrubStream

/** The streamed four-lake scrub refresh: checkpointed waves must land the
  * batch spanScrub's output, rewrite only the partitions they touch in
  * EVERY state lake, and re-drain idempotently — with the df-crossing
  * ripples landing in different micro-batches than their holders. Crash
  * replays, the three windows once hand-picked here included, are swept
  * step by step in [[LakeCommitSweepSpec]]. */
class ScrubStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val W = 4
  private val tailB = " tb1 tb2 tb3 tb4 tb5 tb6 tb7 tb8"
  private val tailC = " tc1 tc2 tc3 tc4 tc5 tc6 tc7 tc8"
  private def body(i: Long): String =
    (0 until 16).map(j => s"u${i}w$j").mkString(" ")

  // v1: tailB on 30+31 (df 2, scrubbed), tailC on 40 alone (df 1, kept)
  private val prevDocs = (0L until 50L).map { i =>
    val t = if (i == 30 || i == 31) tailB
            else if (i == 40) tailC else ""
    (i, body(i) + t)
  }.toDF("doc_id", "text")

  // v2: 31 removed (tailB 2→1: untouched 30 RESTORED), 100 added with
  // tailC (1→2: untouched 40 CUT), plain edit of 5
  private val currDocs = (
    (0L until 50L).filterNot(_ == 31L).map { i =>
      val t = if (i == 30) tailB else if (i == 40) tailC else ""
      val b = if (i == 5) body(i) + " edited suffix" else body(i)
      (i, b + t)
    } ++ Seq((100L, body(100) + tailC))).toDF("doc_id", "text")

  private val docShard: Column => Column = k =>
    conv(substring(md5(k.cast("string")), 1, 4), 16, 10).cast("long") % 16

  private def rows(df: DataFrame): Set[(Long, String, Long, Long)] =
    df.select(col("id"), col("scrubbed_text"), col("n_tokens"), col("n_removed"))
      .as[(Long, String, Long, Long)].collect().toSet

  test("waves land batch spanScrub; every lake rewrites delta-bound; re-drain idempotent") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_scrub_stream_spec"
    graft.sources.Sink.reset(base)
    val (landing, raw, wins, dfl, scrub, ckpt) =
      (s"$base/landing", s"$base/raw", s"$base/wins",
        s"$base/df", s"$base/scrub", s"$base/ckpt")
    def snapshot(path: String): Map[String, Long] = {
      val dir = new java.io.File(path)
      dir.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (s"${d.getName}/${f.getName}", f.lastModified())))
        .toMap
    }
    try {
      ScrubStream.bootstrap(prevDocs, raw, wins, dfl, scrub,
        "doc_id", "text", W, 2, hashBuckets = 8, docShard)
      val before = Map("wins" -> snapshot(wins), "scrub" -> snapshot(scrub))
      // wave 1: the removal whose ripple restores untouched 30;
      // wave 2: the addition whose ripple cuts untouched 40, plus the edit
      val wave1 = Seq((31L, "delete", null.asInstanceOf[String]))
        .toDF("doc_id", "op", "text")
      val wave2 = Seq((100L, "upsert", body(100) + tailC),
        (5L, "upsert", body(5) + " edited suffix"))
        .toDF("doc_id", "op", "text")
      val schema = StructType.fromDDL("doc_id long, op string, text string")
      def drain(): Unit =
        ScrubStream.refreshStream(spark, landing, schema, raw, wins, dfl,
          scrub, ckpt, "doc_id", "text", W, 2, hashBuckets = 8, docShard)
      wave1.coalesce(1).write.mode("append").parquet(landing)
      drain()
      wave2.coalesce(1).write.mode("append").parquet(landing)
      drain()
      // 1. scrub lake == batch spanScrub over version 2
      val want = rows(Dedup.spanScrub(currDocs, "doc_id", "text", W, 2)
        .select(col("doc_id").as("id"), col("scrubbed_text"),
          col("n_tokens"), col("n_removed")))
      assert(rows(ScrubStream.readState(spark, wins, dfl, scrub).scrubbed)
        === want)
      // 2. posting index and frequency table == a fresh bootstrap's
      val fresh = IncrementalScrub.state(currDocs, "doc_id", "text", W, 2)
      val gotWins = spark.read.parquet(wins).select("id", "start", "whash")
        .as[(Long, Int, Long)].collect().toSet
      assert(gotWins === fresh.wins.as[(Long, Int, Long)].collect().toSet)
      val gotDf = spark.read.parquet(dfl).select("whash", "df")
        .as[(Long, Long)].collect().toSet
      assert(gotDf === fresh.df.as[(Long, Long)].collect().toSet)
      // 3. wave-touched partitions only: ids 31, 100, 5 plus the ripple
      //    holders 30 (restored) and 40 (cut) — every OTHER doc's shard
      //    dir in wins/scrub must be byte-untouched (same file, same
      //    mtime) unless it shares a shard with a touched doc
      val touchedIds = Seq(31L, 100L, 5L, 30L, 40L)
      val touchedShards = touchedIds.map(i =>
        spark.range(1).select(docShard(lit(i)).cast("int")).as[Int].head())
        .map(v => s"__shard=$v").toSet
      for ((lake, path) <- Seq("wins" -> wins, "scrub" -> scrub)) {
        val after = snapshot(path)
        val rewritten = before(lake).keySet.filter(k =>
          !after.get(k).contains(before(lake)(k)))
        assert(rewritten.forall(k => touchedShards.contains(k.split("/")(0))),
          s"$lake rewrote untouched dirs: ${rewritten -- touchedShards}")
      }
      // 4. empty re-drain changes nothing
      val scrubBefore = snapshot(scrub)
      drain()
      assert(snapshot(scrub) === scrubBefore)
    } finally {
      Dedup.unpersistIntermediates()
      graft.sources.Sink.reset(base)
    }
  }
}
