package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Incremental
import graft.streaming.IncrementalStream

/** The streaming incremental refresh: checkpointed delta waves must land
  * the batch rebuild's lake no matter the wave split, touch only the raw
  * shard directories their ids route to, and re-drain idempotently. */
class IncrementalStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def body(seed: String): String =
    (1 to 40).map(i => s"$seed word$i token").mkString(" ").take(400) +
      " tail marker closing words here"

  private val keep: Column => Column = t =>
    graft.operators.TextOps.corpusFilterRules(t)
      .collect { case (n, r) if n != "no_terminal_punct" => r }
      .reduce(_ && _)
  private val docShard: Column => Column = k =>
    conv(substring(md5(k.cast("string")), 1, 4), 16, 10).cast("long") % 16

  private val prevDocs = ((0L until 20L).map(i => (i, body(s"doc$i"))) ++
    Seq((1003L, body("doc3")))).toDF("doc_id", "text") // dup partner of 3

  // version 2: 3 removed (partner 1003 PROMOTES), 7 removed outright,
  // 11 edited, two fresh adds
  private val currDocs = (
    (0L until 20L).filterNot(i => i == 3 || i == 7)
      .map {
        case 11L => (11L, body("doc11") + " rev two")
        case i   => (i, body(s"doc$i"))
      } ++ Seq((1003L, body("doc3")),
        (2000L, body("fresh2000")), (2001L, body("fresh2001"))))
    .toDF("doc_id", "text")

  private def rows(df: DataFrame): Set[(Long, Int, Long, Int, Long)] =
    df.select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("shard").cast("int"), col("seq_id"))
      .as[(Long, Int, Long, Int, Long)].collect().toSet

  test("two checkpointed waves land the batch rebuild; raw dirs delta-bound; re-drain idempotent") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_incr_stream_spec"
    graft.sources.Sink.reset(base)
    val (landing, raw, packed, ledger, ckpt) =
      (s"$base/landing", s"$base/raw", s"$base/packed",
        s"$base/ledger", s"$base/ckpt")
    try {
      IncrementalStream.bootstrap(prevDocs, raw, packed, ledger,
        "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)
      def rawSnapshot(): Map[String, Long] = {
        val dir = new java.io.File(raw)
        dir.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
          .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (s"${d.getName}/${f.getName}", f.lastModified())))
          .toMap
      }
      val rawBefore = rawSnapshot()
      // waves: removals+edit in one, adds in the other — removal of 3 and
      // its partner's promotion land in DIFFERENT micro-batches than the
      // adds, so the loop's per-wave state carry is what's under test
      val wave1 = Seq((3L, "delete", null.asInstanceOf[String]),
        (7L, "delete", null.asInstanceOf[String]),
        (11L, "upsert", body("doc11") + " rev two"))
        .toDF("doc_id", "op", "text")
      val wave2 = Seq((2000L, "upsert", body("fresh2000")),
        (2001L, "upsert", body("fresh2001")))
        .toDF("doc_id", "op", "text")
      val schema = StructType.fromDDL("doc_id long, op string, text string")
      def drain(): Unit =
        IncrementalStream.refreshStream(spark, landing, schema, raw, packed,
          ledger, ckpt, "doc_id", "text", keep,
          maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)
      wave1.coalesce(1).write.mode("append").parquet(landing)
      drain()
      wave2.coalesce(1).write.mode("append").parquet(landing)
      drain()
      val want = rows(Incremental.batch(currDocs, "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard))
      assert(rows(spark.read.parquet(packed)) === want)
      // raw lake: content equals version 2, and untouched shard dirs were
      // never rewritten (same file, same mtime)
      val gotRaw = spark.read.parquet(raw).select("doc_id", "text")
        .as[(Long, String)].collect().toSet
      assert(gotRaw === currDocs.as[(Long, String)].collect().toSet)
      val touchedShards = Seq(3L, 7L, 11L, 2000L, 2001L)
        .map(i => spark.range(1).select(docShard(lit(i)).cast("int"))
          .as[Int].head())
        .map(s => s"__shard=$s").toSet
      val rawAfter = rawSnapshot()
      val rewritten = rawBefore.keySet.filter(k =>
        !rawAfter.get(k).contains(rawBefore(k)))
      assert(rewritten.forall(k => touchedShards.contains(k.split("/")(0))),
        s"untouched raw dirs rewritten: $rewritten")
      // ledger rolled forward to version 2's
      val wantLedger = Incremental.ledger(currDocs, "doc_id", "text", keep)
        .collect().map(_.toSeq).toSet
      assert(spark.read.parquet(ledger).collect().map(_.toSeq).toSet
        === wantLedger)
      // an empty re-drain (no new files) changes nothing
      val packedBefore = rows(spark.read.parquet(packed))
      drain()
      assert(rows(spark.read.parquet(packed)) === packedBefore)
    } finally graft.sources.Sink.reset(base)
  }
}
