package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** Drives the streaming operators through MemoryStream — the reference's
  * sensor loop (sensors.py: poll → validate → load) as real micro-batches,
  * not just the batch-equivalent plans the gate checks. */
class EventStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, uid: Long = 1L, typ: String = "click",
                 v: Double = 1.0) = Ev(id, ts(t), uid, typ, v, "{}")

  test("windowedCounts streams: window finalizes once the watermark passes") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.startMemorySink(
      EventStream.windowedCounts(input.toDF()), "wc_stream")
    try {
      // batch 1: three events inside [10:00, 11:00)
      input.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00", v = 2.0),
        ev(3, "2024-01-01 10:40:00"))
      q.processAllAvailable()
      assert(spark.table("wc_stream").count() === 0, "window must not emit early")
      // batch 2: advance event time; watermark still trails by one batch
      input.addData(ev(4, "2024-01-01 14:00:00"))
      q.processAllAvailable()
      // batch 3: watermark is now 12:00 (14:00 - 2h) → [10:00,11:00) finalizes
      input.addData(ev(5, "2024-01-01 14:30:00"))
      q.processAllAvailable()
      val rows = spark.table("wc_stream")
        .as[(Timestamp, String, Long, Double)].collect()
      assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 3L, 4.0)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("dedupStream: duplicate event ids dropped within the watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00"),
        ev(2, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 10:02:00"), ev(3, "2024-01-01 10:03:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id").as[Long].collect().sorted
      assert(ids === Array(1L, 2L, 3L), "event 1 must appear exactly once")
    } finally q.stop()
  }

  test("dedupStream: the watermark EVICTS expired state (bounded, not append-only)") {
    // The scale property behind dropDuplicatesWithinWatermark: dedup state
    // holds only keys younger than the watermark. 50 keys land; event time
    // then jumps 6 hours (watermark delay is 2h), and after the next
    // batch applies the advanced watermark the old keys must be gone —
    // state is O(keys per watermark window), not O(keys ever seen).
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_evict").start()
    try {
      input.addData((1 to 50).map(i => ev(i.toLong, "2024-01-01 10:00:00")): _*)
      q.processAllAvailable()
      val grown = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).max
      assert(grown >= 50, s"expected 50 keys in state, saw $grown")
      // watermark advances at batch END; the eviction lands in the batch
      // AFTER the jump, so feed one more event to run it
      input.addData(ev(1000L, "2024-01-01 16:00:00"))
      q.processAllAvailable()
      input.addData(ev(1001L, "2024-01-01 16:00:01"))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators.head.numRowsTotal
      assert(after < 50, s"watermark must evict expired dedup keys, state=$after")
      assert(after <= 5, s"only the post-jump keys may remain, state=$after")
    } finally q.stop()
  }

  test("windowedCounts: per-batch state telemetry plateaus under steady ingestion") {
    // The first thing an operator reads at scale is stateOperators
    // numRowsTotal / memoryUsedBytes per micro-batch (the reference's
    // sensor cursor is the analogous run-over-run observable). Under
    // steady ingestion with advancing event time and a 2h watermark over
    // 1h windows, windowed-agg state must PLATEAU at the few windows the
    // watermark keeps open — not grow with batches ever processed.
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.windowedCounts(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("state_telemetry").start()
    try {
      val rowsPerBatch = scala.collection.mutable.ArrayBuffer[Long]()
      for (wave <- 0 until 10) {
        // 20 events per wave, event time advancing one hour per wave
        input.addData((1 to 20).map(i =>
          ev(wave * 100L + i, f"2024-01-01 ${8 + wave}%02d:${i % 60}%02d:00")): _*)
        q.processAllAvailable()
        val so = q.lastProgress.stateOperators.head
        rowsPerBatch += so.numRowsTotal
        assert(so.memoryUsedBytes > 0, "state memory telemetry must be reported")
      }
      // watermark horizon = 2h behind max event time → at most ~3 open
      // 1h windows × 1 event_type; allow slack for the batch that lands
      // just before eviction applies
      assert(rowsPerBatch.last <= 4,
        s"steady-state rows must stay at the watermark horizon: $rowsPerBatch")
      assert(rowsPerBatch.drop(4).max <= 4,
        s"state must plateau, not grow with batch count: $rowsPerBatch")
      // eviction is observable batch-over-batch: rows removed were counted
      assert(q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum > 0,
        "watermark eviction must report removed rows")
    } finally q.stop()
  }

  test("dedupStream runs on the RocksDB state store (production state tier)") {
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevChangelog = spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    GraftSession.tuneStreaming(spark)
    val input = MemoryStream[Ev]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("rocks_dedup").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00"),
        ev(2, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      assert(spark.table("rocks_dedup").count() === 2)
      // the running query's state store really is RocksDB, not the default
      val progress = q.lastProgress.stateOperators
      assert(progress.nonEmpty &&
        progress.head.customMetrics.keySet.toString.contains("rocksdb"),
        s"expected rocksdb state metrics, got ${progress.map(_.customMetrics)}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevChangelog match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }

  test("dedupStream on RocksDB: exact state row count pinned per micro-batch") {
    // The bounded-state claim as a REGRESSION BAR, not just a plateau
    // assertion: four deterministic micro-batches on the production
    // RocksDB tier, each batch's stateOperators.numRowsTotal pinned
    // exactly. Any change to watermark arithmetic, dedup key handling, or
    // eviction timing moves a number in this vector.
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevChangelog = spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    GraftSession.tuneStreaming(spark)
    val input = MemoryStream[Ev]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("rocks_state_pin").start()
    try {
      val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
      def drain(): Unit = {
        q.processAllAvailable()
        val so = q.lastProgress.stateOperators.head
        assert(so.customMetrics.keySet.toString.contains("rocksdb"),
          "this pin is for the RocksDB tier specifically")
        stateRows += so.numRowsTotal
      }
      // batch 1: ids 1-10 at 10:00, ids 1 and 2 duplicated in-batch →
      // 10 distinct keys in state
      input.addData(((1 to 10) ++ Seq(1, 2)).map(i =>
        ev(i.toLong, "2024-01-01 10:00:00")): _*)
      drain()
      // batch 2: ids 5-14 at 10:30 — 5-10 are cross-batch dups (dropped
      // from output, keys already present), 11-14 are new → 14 keys
      input.addData((5 to 14).map(i => ev(i.toLong, "2024-01-01 10:30:00")): _*)
      drain()
      // batch 3: event time jumps to 16:00 (watermark delay 2h). The
      // post-batch metrics report AFTER eviction under the watermark the
      // batch itself advanced (16:00 − 2h = 14:00), and every pre-jump
      // key's expiry (event time + 2h ≤ 12:30) is behind it → only this
      // batch's 5 keys remain in state
      input.addData((100 to 104).map(i => ev(i.toLong, "2024-01-01 16:00:00")): _*)
      drain()
      // batch 4: one more 16:00-ish event joins the surviving keys
      // (their expiry 18:00 is ahead of the 14:00 watermark) → 6
      input.addData(ev(1000L, "2024-01-01 16:00:01"))
      drain()
      assert(stateRows.toSeq === Seq(10L, 14L, 5L, 6L),
        s"state row vector drifted: $stateRows")
      // output saw each distinct id exactly once
      val out = spark.table("rocks_state_pin").select("event_id").as[Long].collect()
      assert(out.length === out.distinct.length)
      assert(out.length === 20, s"10 + 4 + 5 + 1 novel ids, got ${out.length}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevChangelog match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }

  test("sessionWindows streams: sessions merge within the gap, close past the watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.startMemorySink(
      EventStream.sessionWindows(input.toDF(), gap = "30 minutes"), "sess_stream")
    try {
      // user 1: two events 20min apart (merge), then one 40min later (new
      // session). user 2: a single event.
      input.addData(
        ev(1, "2024-01-01 10:00:00", uid = 1, v = 1.0),
        ev(2, "2024-01-01 10:20:00", uid = 1, v = 2.0),
        ev(3, "2024-01-01 11:00:00", uid = 1, v = 4.0),
        ev(4, "2024-01-01 10:10:00", uid = 2, v = 8.0))
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() === 0,
        "append mode must not emit sessions the watermark could still extend")
      // advance the watermark far past every session's close
      input.addData(ev(5, "2024-01-01 20:00:00", uid = 3))
      q.processAllAvailable()
      input.addData(ev(6, "2024-01-01 20:30:00", uid = 3))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .as[(Timestamp, Timestamp, Long, Long, Double)].collect().sortBy(r => (r._3, r._1.getTime))
      val closed = rows.filter(_._3 <= 2)
      assert(closed === Array(
        (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00"), 1L, 2L, 3.0),
        (ts("2024-01-01 11:00:00"), ts("2024-01-01 11:30:00"), 1L, 1L, 4.0),
        (ts("2024-01-01 10:10:00"), ts("2024-01-01 10:40:00"), 2L, 1L, 8.0)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("sessionWindows: boundary semantics — touching windows MERGE, past-gap splits") {
    // pins the engine behavior the gaps-and-islands oracle must mirror:
    // an event at EXACTLY last+gap still extends the session (touching
    // windows merge); only a strictly larger gap breaks it
    val batch = Seq(
      ev(1, "2024-01-01 10:00:00", uid = 1),
      ev(2, "2024-01-01 10:30:00", uid = 1), // exactly gap later → merges
      ev(3, "2024-01-01 11:00:01", uid = 1)  // 30:01 after → new session
    ).toDF()
    val got = EventStream.sessionWindows(batch, gap = "30 minutes")
      .as[(Timestamp, Timestamp, Long, Long, Double)].collect().sortBy(_._1.getTime)
    assert(got.length === 2, s"got ${got.toSeq}")
    assert(got(0)._1 === ts("2024-01-01 10:00:00") && got(0)._4 === 2L,
      "the boundary event extends the first session")
    assert(got(0)._2 === ts("2024-01-01 11:00:00"), "end = last event + gap")
    assert(got(1)._1 === ts("2024-01-01 11:00:01") && got(1)._4 === 1L,
      "past the gap opens a new session")
  }

  test("sessionWindows: stream drain equals the batch plan on closed sessions") {
    implicit val ctx = spark.sqlContext
    val events = Seq(
      ev(1, "2024-01-01 09:00:00", uid = 1, v = 1.0),
      ev(2, "2024-01-01 09:10:00", uid = 1, v = 2.0),
      ev(3, "2024-01-01 09:55:00", uid = 1, v = 3.0),
      ev(4, "2024-01-01 09:05:00", uid = 2, v = 4.0),
      ev(5, "2024-01-01 10:30:00", uid = 2, v = 5.0))
    val input = MemoryStream[Ev]
    val q = EventStream.startMemorySink(
      EventStream.sessionWindows(input.toDF(), gap = "30 minutes"), "sess_eq")
    try {
      input.addData(events.take(3): _*)
      q.processAllAvailable()
      input.addData(events.drop(3): _*)
      q.processAllAvailable()
      // watermark-advancing tail, far away so every real session closes
      input.addData(ev(99, "2024-01-02 12:00:00", uid = 99))
      q.processAllAvailable()
      input.addData(ev(100, "2024-01-02 12:30:00", uid = 99))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq")
        .as[(Timestamp, Timestamp, Long, Long, Double)].collect()
        .filter(_._3 < 99).sortBy(r => (r._3, r._1.getTime))
      val batch = EventStream.sessionWindows(events.toDF(), gap = "30 minutes")
        .as[(Timestamp, Timestamp, Long, Long, Double)].collect()
        .sortBy(r => (r._3, r._1.getTime))
      assert(streamed === batch,
        s"stream ${streamed.toSeq} must equal batch ${batch.toSeq}")
    } finally q.stop()
  }

  test("sessionize: keyed state accumulates per-user session summaries") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.sessionize(spark, input.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_stream").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", uid = 7, v = 2.0),
        ev(2, "2024-01-01 10:05:00", uid = 7, v = 3.0),
        ev(3, "2024-01-01 10:06:00", uid = 9, v = 1.0))
      q.processAllAvailable()
      val sess = spark.table("sess_stream")
        .as[EventStream.SessionUpdate].collect().map(s => s.user_id -> s).toMap
      assert(sess(7L).n_events === 2 && sess(7L).total_value === 5.0)
      assert(sess(7L).session_start === ts("2024-01-01 10:00:00"))
      assert(sess(9L).n_events === 1)
      assert(!sess(7L).closed)
      // a second batch folds into the same open session
      input.addData(ev(4, "2024-01-01 10:10:00", uid = 7, v = 10.0))
      q.processAllAvailable()
      val s7 = spark.table("sess_stream").as[EventStream.SessionUpdate]
        .collect().filter(_.user_id == 7L).maxBy(_.n_events)
      assert(s7.n_events === 3 && s7.total_value === 15.0)
      // advance the watermark beyond last-event + gap (30 min): batch 3
      // moves the watermark to 11:20, batch 4 fires the event-time timeout
      input.addData(ev(5, "2024-01-01 11:30:00", uid = 1))
      q.processAllAvailable()
      input.addData(ev(6, "2024-01-01 11:31:00", uid = 1))
      q.processAllAvailable()
      val closed = spark.table("sess_stream").as[EventStream.SessionUpdate]
        .collect().filter(_.closed).map(s => s.user_id -> s).toMap
      assert(closed.contains(7L) && closed.contains(9L), s"closed=$closed")
      assert(closed(7L).n_events === 3 && closed(7L).total_value === 15.0)
      assert(closed(7L).session_start === ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("noveltyStream: drained verdicts equal the batch probe, split-independent") {
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-novelty").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "red orange yellow green blue indigo violet ultraviolet rays")
    ).toDF("doc_id", "text")
    val index = Dedup.buildSignatureIndex(corpus, "doc_id", "text")
    val fresh = Seq(
      // near-dup of corpus doc 1 (one appended token)
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa pad"),
      // genuinely novel
      (102L, "completely unrelated fresh document about nothing indexed"),
      // near-dup of corpus doc 3
      (103L, "red orange yellow green blue indigo violet ultraviolet rays x"),
      (104L, "another novel document with entirely new words throughout here")
    ).toDF("doc_id", "text")
    // batch reference run over the same index
    val batchNovel = Dedup.probeNovel(fresh, index, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(batchNovel === Set(102L, 104L), "batch probe sanity")
    // stream the same docs in two waves with single-file micro-batches
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    fresh.filter($"doc_id" <= 102L).repartition(2).write.mode("append").parquet(landing)
    EventStream.noveltyStream(spark, landing, schema, index, "doc_id", "text",
      out, ckpt)
    fresh.filter($"doc_id" > 102L).write.mode("append").parquet(landing)
    EventStream.noveltyStream(spark, landing, schema, index, "doc_id", "text",
      out, ckpt)
    val drained = spark.read.parquet(out).select("doc_id", "is_novel")
      .as[(Long, Boolean)].collect()
    assert(drained.length === 4, "each fresh doc judged exactly once across waves")
    assert(drained.filter(_._2).map(_._1).toSet === batchNovel,
      "streamed verdicts must equal the batch probe's")
    Dedup.unpersistIntermediates()
  }


  test("packingStream: open bin carries across waves; drain equals the batch packer") {
    import graft.operators.Packing
    val root = java.nio.file.Files.createTempDirectory("graft-packstream").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    // 12 docs of 5 tokens, budget 12 -> exactly 2 docs per bin; with ONE
    // shard the assignment is a pure function of doc order, and the wave
    // boundary lands MID-BIN on purpose: wave 1 is docs 0-4, so seq 2
    // holds doc 4 alone when the first drain ends and MUST receive doc 5
    // from wave 2 through the state store
    val docs = (0L until 12L).map(i => (i, "a b c d e")).toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    docs.filter($"doc_id" < 5L).coalesce(1).write.mode("append").parquet(landing)
    EventStream.packingStream(spark, landing, schema, out, ckpt,
      budget = 12L, shards = 1)
    docs.filter($"doc_id" >= 5L).coalesce(1).write.mode("append").parquet(landing)
    EventStream.packingStream(spark, landing, schema, out, ckpt,
      budget = 12L, shards = 1)
    val drained = spark.read.parquet(out)
      .select("doc_id", "n_tokens", "shard", "seq_id")
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    assert(drained.length === 12, "each doc assigned exactly once across waves")
    // batch reference: the same md5 routing collapses to shard 0 at
    // shards=1, so packSequences in doc_id order is the exact expectation
    val batch = Packing.packSequences(docs.select($"doc_id",
        org.apache.spark.sql.functions.lit(5L).as("n")), "doc_id", "n", budget = 12L, shards = 1,
        shardOn = Some(org.apache.spark.sql.functions.lit(0)))
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    assert(drained.map(r => (r._1, r._4)) === batch.map(r => (r._1, r._4)),
      "streamed assignment must equal the batch packer row-for-row")
    // the cross-batch accumulator: doc 4 (last of wave 1) and doc 5
    // (first of wave 2) share seq 2 -- the bin was open in the state
    // store between the two AvailableNow runs
    val bySeq = drained.map(r => r._1 -> r._4).toMap
    assert(bySeq(4L) === bySeq(5L),
      s"wave-spanning bin expected: ${bySeq(4L)} vs ${bySeq(5L)}")
    // third drain with no new files appends nothing (checkpoint cursor)
    EventStream.packingStream(spark, landing, schema, out, ckpt,
      budget = 12L, shards = 1)
    assert(spark.read.parquet(out).count() === 12)
  }

  test("packingStream replay: crash between state-store and sink commit, lake still equals the batch packer") {
    // The E15-specific crash window the other replay specs (E13/E3) can't
    // cover: packingStream's keyed state is a cross-batch ACCUMULATOR
    // (each shard's open bin), and its exactly-once story is the parquet
    // FILE sink's _spark_metadata log, not writeBatchStamped. The state
    // store commits at task level DURING a batch; the sink's metadata
    // entry and the checkpoint's commits/<id> marker land driver-side at
    // batch end — so a driver death in between leaves: state deltas for
    // the batch PRESENT, orphaned data files on disk, sink log entry and
    // commit marker ABSENT. Injected here by deleting both trailing
    // markers after a clean drain. The contract under replay: the engine
    // re-runs the batch against the state VERSION IT ORIGINALLY READ
    // (the store is versioned per batch; the advanced version is not
    // consulted), so the open-bin walk re-emits byte-identical rows, the
    // sink commits fresh files to the log, and the log-aware reader never
    // sees the first attempt's orphans — the lake equals the batch packer
    // exactly, duplicate delivery but never duplicate rows.
    import graft.operators.Packing
    val root = java.nio.file.Files.createTempDirectory("graft-packreplay").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    // same geometry as the carry-across-waves spec: the wave boundary
    // lands MID-BIN, so the replayed batch 1 depends on batch 0's state —
    // a replay that consulted the POST-batch-1 state version would shift
    // doc 5 into a fresh bin and break row-equality with the batch packer
    val docs = (0L until 12L).map(i => (i, "a b c d e")).toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    def drain(): Unit =
      EventStream.packingStream(spark, landing, schema, out, ckpt,
        budget = 12L, shards = 1)
    docs.filter($"doc_id" < 5L).coalesce(1).write.mode("append").parquet(landing)
    drain()
    docs.filter($"doc_id" >= 5L).coalesce(1).write.mode("append").parquet(landing)
    drain()
    val expected = spark.read.parquet(out)
      .select("doc_id", "n_tokens", "shard", "seq_id")
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    assert(expected.length === 12)
    def dropTrailing(dir: String): Unit = {
      val entries = new java.io.File(dir).listFiles
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(entries.nonEmpty, s"no batch entries under $dir")
      assert(entries.last.delete())
      // RawLocalFileSystem CRC sidecar (absent on HDFS/S3) would block
      // the replayed entry's atomic rename
      val crc = new java.io.File(entries.last.getParent, s".${entries.last.getName}.crc")
      if (crc.exists()) assert(crc.delete())
    }
    // the injection: offsets say batch 1 ran, state deltas for it exist,
    // but neither the sink log nor the commit marker made it to disk
    dropTrailing(s"$ckpt/commits")
    dropTrailing(s"$out/_spark_metadata")
    val orphans = new java.io.File(out).listFiles
      .count(_.getName.endsWith(".parquet"))
    drain()
    val after = spark.read.parquet(out)
      .select("doc_id", "n_tokens", "shard", "seq_id")
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    assert(after === expected,
      "replayed accumulator batch must re-emit byte-identical assignments")
    // the replay wrote NEW files alongside the first attempt's orphans;
    // only the log keeps the read exactly-once
    val filesAfter = new java.io.File(out).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter > orphans,
      "replay should land fresh files beside the orphaned first attempt")
    val batch = Packing.packSequences(docs.select($"doc_id",
        org.apache.spark.sql.functions.lit(5L).as("n")), "doc_id", "n",
        budget = 12L, shards = 1,
        shardOn = Some(org.apache.spark.sql.functions.lit(0)))
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    assert(after.map(r => (r._1, r._4)) === batch.map(r => (r._1, r._4)),
      "post-replay lake must equal the batch packer row-for-row")
  }

  test("domainCapStream: quota counter carries across waves; ledger equals doc_id-order rank") {
    val root = java.nio.file.Files.createTempDirectory("graft-capstream").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    // two domains, ids interleaved; cap 3: domain a fills 2 slots in
    // wave 1 and crosses the cap mid-wave-2 THROUGH the state store —
    // a fresh counter per drain would re-admit wave-2 docs
    val docs = Seq(
      (1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"),           // wave 1
      (5L, "a"), (6L, "a"), (7L, "b"), (8L, "b"), (9L, "b") // wave 2
    ).toDF("doc_id", "source")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, source string")
    docs.filter($"doc_id" <= 4L).sort("doc_id").coalesce(1)
      .write.mode("append").parquet(landing)
    EventStream.domainCapStream(spark, landing, schema, out, ckpt, cap = 3L)
    docs.filter($"doc_id" > 4L).sort("doc_id").coalesce(1)
      .write.mode("append").parquet(landing)
    EventStream.domainCapStream(spark, landing, schema, out, ckpt, cap = 3L)
    val drained = spark.read.parquet(out)
      .select("doc_id", "domain", "seen_rank", "kept")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
    assert(drained.length === 9, "every doc ledgered exactly once, over-quota included")
    // batch reference: first-arrival == doc_id rank per domain
    val expected = docs.as[(Long, String)].collect().sortBy(_._1)
      .groupBy(_._2).toSeq.flatMap { case (dom, rows) =>
        rows.zipWithIndex.map { case ((id, _), i) =>
          (id, dom, i + 1L, i + 1L <= 3L)
        }
      }.sortBy(_._1)
    assert(drained.toSeq === expected,
      "streamed quota ledger must equal the doc_id-order rank")
    // the cross-batch counter: doc 5 is domain a's 3rd arrival (kept),
    // doc 6 its 4th (over quota) — both verdicts depend on wave-1 state
    val byId = drained.map(r => r._1 -> ((r._3, r._4))).toMap
    assert(byId(5L) === ((3L, true)))
    assert(byId(6L) === ((4L, false)))
    // third drain with no new files appends nothing (checkpoint cursor)
    EventStream.domainCapStream(spark, landing, schema, out, ckpt, cap = 3L)
    assert(spark.read.parquet(out).count() === 9)
  }

  test("lmScoreStream: drained scores equal batch scoreAgainst; re-drain appends nothing") {
    import graft.operators.NgramLm
    val root = java.nio.file.Files.createTempDirectory("graft-lmstream").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta gamma"),
      (2L, "alpha beta gamma alpha beta gamma")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "alpha beta gamma"),           // fully in-model
      (102L, "alpha zork"),                 // OOV under seen w1
      (103L, "qq zz qq")                    // wholly OOV
    ).toDF("doc_id", "text")
    val (model, margins, vocab) = NgramLm.servingFrames(corpus, "doc_id", "text")
    Seq(model, margins, vocab).foreach(_.persist())
    val batch = NgramLm.scoreAgainst(corpus, fresh, "doc_id", "text")
      .orderBy("doc_id").collect()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    fresh.filter($"doc_id" <= 102L).repartition(2).write.mode("append").parquet(landing)
    EventStream.lmScoreStream(spark, landing, schema, model, margins, vocab,
      "doc_id", "text", out, ckpt)
    fresh.filter($"doc_id" > 102L).write.mode("append").parquet(landing)
    EventStream.lmScoreStream(spark, landing, schema, model, margins, vocab,
      "doc_id", "text", out, ckpt)
    // project away the batch-stamped sink's delivery-ledger column
    val drained = spark.read.parquet(out)
      .select("doc_id", "n_bigrams", "n_oov", "logprob_sum", "avg_nll",
        "ppl", "keep")
      .orderBy("doc_id").collect()
    assert(drained.length === 3, "each doc scored exactly once across waves")
    assert(drained.toSeq === batch.toSeq,
      "streamed scores must equal the batch backoff scoring")
    // checkpointed cursor: a third drain with nothing new appends nothing
    EventStream.lmScoreStream(spark, landing, schema, model, margins, vocab,
      "doc_id", "text", out, ckpt)
    assert(spark.read.parquet(out).count() === 3L, "re-drain is idempotent")
    Seq(model, margins, vocab).foreach(_.unpersist())
  }

  test("knScoreStream: drained scores equal the batch KN ladder; re-drain appends nothing") {
    import graft.operators.NgramLm
    val root = java.nio.file.Files.createTempDirectory("graft-knstream").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    val corpus = Seq(
      (1L, "a b c a b c"),
      (2L, "a b c d e f")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "a b c"),                     // seen trigram
      (102L, "a b z"),                     // OOV w3 under a seen context
      (103L, "q q a")                      // wholly unseen context
    ).toDF("doc_id", "text")
    val frames = NgramLm.knFrames(corpus, "doc_id", "text")
    val held = Seq(frames.tri, frames.ctx2, frames.contb, frames.mid,
      frames.contu, frames.scalars)
    held.foreach(_.persist())
    val batch = NgramLm.knScoreWithFrames(fresh, frames, "doc_id", "text")
      .orderBy("doc_id").collect()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    fresh.filter($"doc_id" <= 102L).repartition(2).write.mode("append").parquet(landing)
    EventStream.knScoreStream(spark, landing, schema, frames, "doc_id", "text",
      out, ckpt)
    fresh.filter($"doc_id" > 102L).write.mode("append").parquet(landing)
    EventStream.knScoreStream(spark, landing, schema, frames, "doc_id", "text",
      out, ckpt)
    val drained = spark.read.parquet(out)
      .select("doc_id", "n_trigrams", "n_hit3", "n_hit2", "logprob_sum",
        "avg_nll", "ppl", "keep")
      .orderBy("doc_id").collect()
    assert(drained.length === 3, "each doc scored exactly once across waves")
    assert(drained.toSeq === batch.toSeq,
      "streamed KN scores must equal the batch three-rung ladder")
    // checkpointed cursor: a third drain with nothing new appends nothing
    EventStream.knScoreStream(spark, landing, schema, frames, "doc_id", "text",
      out, ckpt)
    assert(spark.read.parquet(out).count() === 3L, "re-drain is idempotent")
    held.foreach(_.unpersist())
    graft.operators.Dedup.unpersistIntermediates()
  }

  test("lmBucketStream: drained buckets equal the batch assignment with static cuts") {
    import graft.operators.NgramLm
    val root = java.nio.file.Files.createTempDirectory("graft-bktstream").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    // reference corpus with a real NLL spread so the tertiles are
    // non-degenerate: in-model docs, a mixed doc, an OOV-heavy doc
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta gamma"),
      (2L, "alpha beta gamma alpha beta gamma"),
      (3L, "alpha beta alpha beta"),
      (4L, "alpha zork mumble frotz"),
      (5L, "qq zz qq zz qq"),
      (6L, "gamma alpha beta gamma alpha")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "alpha beta gamma"),           // in-model → head-ish
      (102L, "alpha zork"),                 // partial OOV
      (103L, "qq zz qq"),                   // wholly OOV → tail
      (104L, "solo")                        // < 2 tokens → unscored
    ).toDF("doc_id", "text")
    val (model, margins, vocab) = NgramLm.servingFrames(corpus, "doc_id", "text")
    Seq(model, margins, vocab).foreach(_.persist())
    // deployment artifacts: cutoffs from the REFERENCE corpus, collected
    // to a literal frame (the registered query's exact recipe)
    val cutRow = NgramLm.cutoffs(
      NgramLm.scoreWithModel(corpus, model, margins, vocab,
        "doc_id", "text")).collect()(0)
    val cuts = Seq((cutRow.getDouble(0), cutRow.getDouble(1)))
      .toDF("cut_head", "cut_middle")
    val batch = NgramLm.assignBuckets(
        NgramLm.scoreWithModel(fresh, model, margins, vocab, "doc_id", "text"),
        cuts)
      .select("doc_id", "n_bigrams", "n_oov", "avg_nll", "bucket")
      .orderBy("doc_id").collect()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    fresh.filter($"doc_id" <= 102L).repartition(2).write.mode("append").parquet(landing)
    EventStream.lmBucketStream(spark, landing, schema, model, margins, vocab,
      cuts, "doc_id", "text", out, ckpt)
    fresh.filter($"doc_id" > 102L).write.mode("append").parquet(landing)
    EventStream.lmBucketStream(spark, landing, schema, model, margins, vocab,
      cuts, "doc_id", "text", out, ckpt)
    val drained = spark.read.parquet(out)
      .select("doc_id", "n_bigrams", "n_oov", "avg_nll", "bucket")
      .orderBy("doc_id").collect()
    assert(drained.length === 4, "each doc bucketed exactly once across waves")
    assert(drained.toSeq === batch.toSeq,
      "streamed buckets must equal the static-cuts batch assignment")
    val byId = drained.map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(byId(104L) === "unscored", "sub-2-token doc routes to unscored")
    assert(byId(103L) === "tail", "wholly-OOV doc lands in the tail")
    // checkpointed cursor: a third drain with nothing new appends nothing
    EventStream.lmBucketStream(spark, landing, schema, model, margins, vocab,
      cuts, "doc_id", "text", out, ckpt)
    assert(spark.read.parquet(out).count() === 4L, "re-drain is idempotent")
    Seq(model, margins, vocab).foreach(_.unpersist())
  }

  test("lineDedupStream replay: losing the offset commit re-lands the batch, zero duplicates") {
    // Crash injection for the batch-stamped serving sink (the
    // stream_upsert replay test ported to the foreachBatch family): a
    // batch's output lands in its batch=<id> dir but the engine "dies"
    // before recording the commit. Restart replays the batch under the
    // same batchId; writeBatchStamped's delete+rename overwrites the same
    // directory — duplicate delivery, never duplicate rows.
    // lmScoreStream/lmBucketStream/noveltyStream share the sink verbatim.
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-linereplay").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    val corpus = Seq(
      (1L, "alpha beta gamma\nshared banner line"),
      (2L, "shared banner line\nother corpus content here")
    ).toDF("doc_id", "text")
    val index = Dedup.lineIndex(corpus, "doc_id", "text").persist()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id long, text string")
    def drain(): Unit =
      EventStream.lineDedupStream(spark, landing, schema, index,
        "doc_id", "text", out, ckpt)
    Seq((101L, "shared banner line\nnovel line one"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    drain()
    Seq((102L, "novel line two\nalpha beta gamma"),
        (103L, "wholly novel document text"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(landing)
    drain()
    val expected = spark.read.parquet(out)
      .select("id", "n_lines", "n_cut", "cleaned_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(expected.map(_._1) === Array(101L, 102L, 103L),
      "each probe doc ledgered exactly once across waves")
    assert(expected(0)._3 === 1L, "the corpus-known line is cut")
    // crash injection: drop the newest commit marker — offsets say the
    // batch ran, commits say it didn't, so restart MUST replay it
    val commits = new java.io.File(s"$ckpt/commits").listFiles
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    drain()
    val after = spark.read.parquet(out)
      .select("id", "n_lines", "n_cut", "cleaned_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(after === expected, "replayed batch overwrote its own dir — no duplicate rows")
    index.unpersist()
  }

  test("upsertStream replay: losing the offset commit re-runs the batch idempotently") {
    // Exactly-once failure injection: after a batch's sink merge lands but
    // before the engine records the commit, the driver "dies". On restart
    // the engine replays the batch under the same batchId; the
    // latest-wins merge rewrites the already-merged partitions to the
    // identical state — duplicate rewrite, never duplicate rows.
    val root = java.nio.file.Files.createTempDirectory("graft-replay").toFile.getAbsolutePath
    val (landing, table, ckpt) = (s"$root/landing", s"$root/table", s"$root/ckpt")
    new java.io.File(landing).mkdirs()
    def land(rows: Seq[Ev], name: String): Unit = {
      val stage = s"$root/stage_$name"
      rows.toDF().coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles.find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit = EventStream.upsertStream(spark, landing, table, ckpt)
    land(Seq(ev(1, "2024-01-01 10:00:00", v = 1.0), ev(2, "2024-01-02 10:00:00", v = 2.0)), "w1.parquet")
    drain()
    land(Seq(ev(2, "2024-01-02 11:00:00", v = 22.0), ev(3, "2024-01-03 10:00:00", v = 3.0)), "w2.parquet")
    drain()
    val expected = spark.read.parquet(table).select("event_id", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(expected === Array((1L, 1.0), (2L, 22.0), (3L, 3.0)))
    // crash injection: drop the newest commit marker — offsets say the
    // batch ran, commits say it didn't, so restart MUST replay it
    val commits = new java.io.File(s"$ckpt/commits").listFiles
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // the local FS keeps a CRC sidecar per file (an artifact of
    // RawLocalFileSystem, absent on HDFS/S3); a stale one would block the
    // replayed commit's atomic rename
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    drain()
    val after = spark.read.parquet(table).select("event_id", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(after === expected)
  }

  test("drain: the query has left the active set when drain returns; the next drain starts at once") {
    // no stop() and no wait loop: Spark unregisters a terminated query
    // before it releases awaitTermination, so back-to-back drains over one
    // checkpoint never meet "another query with same id is already active"
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files.createTempDirectory("graft-drain").toFile.getAbsolutePath
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long")
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    for (wave <- 0 until 8) {
      spark.range(wave * 10L, wave * 10L + 10L).coalesce(1)
        .write.mode("append").parquet(landing)
      EventStream.drain(EventStream.landing(spark, landing, schema).writeStream
        .queryName("drain_spec")
        .foreachBatch { (batch: DataFrame, _: Long) => seen.addAndGet(batch.count()): Unit },
        ckpt)
      assert(!spark.streams.active.exists(_.name == "drain_spec"),
        s"wave $wave: the drained query is still in spark.streams.active")
      assert(seen.get === wave * 10L + 10L, s"wave $wave drained exactly its own file")
    }
  }

  test("drain: a throwing foreachBatch body surfaces from drain") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQueryException
    val root = java.nio.file.Files.createTempDirectory("graft-drainfail").toFile.getAbsolutePath
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    spark.range(5).coalesce(1).write.parquet(landing)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long")
    val e = intercept[StreamingQueryException] {
      EventStream.drain(EventStream.landing(spark, landing, schema).writeStream
        .queryName("drain_fail_spec")
        .foreachBatch { (_: DataFrame, batchId: Long) =>
          throw new IllegalStateException(s"planted failure in batch $batchId")
        }, ckpt)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("planted failure in batch 0"))),
      chain.mkString("\n"))
    assert(!spark.streams.active.exists(_.name == "drain_fail_spec"))
  }

  test("src/main sets Trigger.AvailableNow, checkpointLocation and awaitTermination only in EventStream.drain") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try f.getPath -> src.getLines().toVector finally src.close()
    }
    def code(l: String) = !Seq("*", "/*", "//").exists(l.trim.startsWith)
    // each hit named by its file and the nearest enclosing `def`
    def owners(token: String): Seq[String] = sources.flatMap { case (path, lines) =>
      lines.indices.filter(i => lines(i).contains(token) && code(lines(i))).map { i =>
        val owner = lines.take(i + 1).reverse.find(l => code(l) && l.contains("def "))
          .map(_.trim.stripPrefix("private ").stripPrefix("def ").takeWhile(_ != '('))
        s"$path:${owner.getOrElse("?")}"
      }
    }
    val drain = "src/main/scala/graft/streaming/EventStream.scala:drain"
    for (token <- Seq("Trigger.AvailableNow", "\"checkpointLocation\"", ".awaitTermination()"))
      assert(owners(token) === Seq(drain), token)
    assert(owners("\"maxFilesPerTrigger\"").sorted === Seq(
      "src/main/scala/graft/sources/Jsonl.scala:readStream",
      "src/main/scala/graft/streaming/EventStream.scala:landing"))
  }

  test("windowedCounts batch plan matches a hand-rolled aggregate") {
    val batch = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:59:59", v = 4.0),
      ev(3, "2024-01-01 11:00:00", v = 2.0)).toDF()
    val got = EventStream.windowedCounts(batch)
      .orderBy("window_start").as[(Timestamp, String, Long, Double)].collect()
    assert(got === Array(
      (ts("2024-01-01 10:00:00"), "click", 2L, 5.0),
      (ts("2024-01-01 11:00:00"), "click", 1L, 2.0)))
  }

  test("windowedCounts sliding: overlapping windows each count the event") {
    val batch = Seq(ev(1, "2024-01-01 10:40:00", v = 2.0)).toDF()
    val got = EventStream.windowedCounts(batch, windowLen = "1 hour",
        slide = Some("30 minutes"))
      .orderBy("window_start").as[(Timestamp, String, Long, Double)].collect()
    // one event at 10:40 lands in [10:00,11:00) and [10:30,11:30)
    assert(got.map(_._1) === Array(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")))
    assert(got.forall(r => r._3 == 1L && r._4 == 2.0))
  }

  test("enrichStream: micro-batches join the broadcast static dimension") {
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (9L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val q = EventStream.enrichStream(input.toDF(), dim, "user_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_stream").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", uid = 1), ev(2, "2024-01-01 10:01:00", uid = 5))
      q.processAllAvailable()
      val got = spark.table("enrich_stream").select("event_id", "tier")
        .as[(Long, Option[String])].collect().sortBy(_._1)
      assert(got === Array((1L, Some("gold")), (2L, None)))
    } finally q.stop()
  }

  test("correlate: stream-stream interval join within the time bound") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStream.correlate(clicks.toDF(), purchases.toDF(), "user_id",
        within = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("corr_stream").start()
    try {
      clicks.addData(ev(1, "2024-01-01 10:00:00", uid = 7),
        ev(2, "2024-01-01 10:00:00", uid = 8))
      purchases.addData(
        ev(100, "2024-01-01 10:10:00", uid = 7),  // within 30m of click 1
        ev(101, "2024-01-01 11:30:00", uid = 7),  // too late
        ev(102, "2024-01-01 10:05:00", uid = 9))  // wrong user
      q.processAllAvailable()
      // advance both watermarks so results finalize
      clicks.addData(ev(3, "2024-01-01 14:00:00", uid = 1))
      purchases.addData(ev(103, "2024-01-01 14:00:00", uid = 1))
      q.processAllAvailable()
      val got = spark.table("corr_stream").select("l_id", "r_id")
        .as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 100L)), s"expected click1->purchase100 in $got")
      assert(!got.contains((1L, 101L)) && !got.exists(_._2 == 102L))
    } finally q.stop()
  }
}
