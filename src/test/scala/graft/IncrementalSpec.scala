package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Incremental, Snapshot}

/** Incremental corpus preparation (Incremental.repack): the refresh loop
  * must produce EXACTLY the batch rebuild's packed table while paying
  * text work only for the delta and repacking only touched shards. The
  * planted two-version corpus exercises every membership ripple a naive
  * delta-only pass gets wrong: promotion (removing a canonical doc hands
  * its content to the lowest surviving dup), demotion (a changed doc
  * colliding with a higher-id doc's content steals its canonical slot),
  * a changed doc leaving the survivor set via the keep rules, and an
  * added exact dup the dedup stage must drop. */
class IncrementalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // ~40 whitespace tokens each, > 100 chars, digit-free: pass every rule
  private def body(seed: String): String =
    (1 to 40).map(i => s"$seed word$i token").mkString(" ").take(400) +
      " tail marker closing words here"

  private val keep: Column => Column = t =>
    graft.operators.TextOps.corpusFilterRules(t)
      .collect { case (n, r) if n != "no_terminal_punct" => r }
      .reduce(_ && _)
  private val docShard: Column => Column = k =>
    conv(substring(md5(k.cast("string")), 1, 4), 16, 10).cast("long") % 16

  private def pack(docs: DataFrame): DataFrame =
    Incremental.batch(docs, "doc_id", "text", keep,
      maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)

  private def incr(prev: DataFrame, curr: DataFrame): DataFrame = {
    val led = Incremental.ledger(prev, "doc_id", "text", keep)
    Incremental.repack(led, pack(prev), curr,
      Snapshot.diff(prev, curr, "doc_id", "text"),
      "doc_id", "text", keep,
      maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long, Int, Long)] =
    df.select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("shard"), col("seq_id"))
      .as[(Long, Int, Long, Int, Long)].collect().toSet

  private val prevDocs = ((0L until 30L).map(i => (i, body(s"doc$i"))) ++
    // dup partners: same content as 3 and 4 at higher ids (dedup losers)
    Seq((1003L, body("doc3")), (1004L, body("doc4")))).toDF("doc_id", "text")

  private val currDocs = (
    (0L until 30L).filterNot(i => i == 3 || i == 7)  // 3, 7 removed
      .map {
        case 5L => (5L, "short 123")                  // changed → fails keep
        case 8L => (8L, body("doc9"))                 // collides with 9 → 9 demoted
        case 11L => (11L, body("doc11") + " rev two") // plain edit
        case i  => (i, body(s"doc$i"))
      } ++
    Seq((1003L, body("doc3")),                        // promoted: 3 removed
        (1004L, body("doc4")),                        // still a loser (4 stays)
        (2000L, body("freshadded")),                  // added
        (2001L, body("doc12")))                       // added exact dup → dropped
  ).toDF("doc_id", "text")

  test("incremental refresh equals the batch rebuild, ripple cases included") {
    try {
      val got = rows(incr(prevDocs, currDocs))
      val want = rows(pack(currDocs))
      assert(got === want)
      val docs = got.map(_._1)
      assert(docs.contains(1003L), "promoted dup partner must re-enter")
      assert(!docs.contains(9L), "demoted doc 9 must drop (8 took its content)")
      assert(!docs.contains(5L), "changed doc 5 fails the keep rules")
      assert(!docs.contains(2001L), "added exact dup of 12 must dedup away")
      assert(docs.contains(2000L) && docs.contains(11L))
    } finally Dedup.unpersistIntermediates()
  }

  test("empty delta: output IS the previous packed table, shard for shard") {
    try {
      val prevPacked = pack(prevDocs)
      val led = Incremental.ledger(prevDocs, "doc_id", "text", keep)
      val out = Incremental.repack(led, prevPacked, prevDocs,
        Snapshot.diff(prevDocs, prevDocs, "doc_id", "text"),
        "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)
      assert(rows(out) === rows(prevPacked))
    } finally Dedup.unpersistIntermediates()
  }

  test("one-doc edit repacks only that doc's shard; the rest pass through verbatim") {
    try {
      val curr = prevDocs.withColumn("text",
        when(col("doc_id") === 20L, lit(body("doc20") + " edited"))
          .otherwise(col("text")))
      val led = Incremental.ledger(prevDocs, "doc_id", "text", keep)
      val prevPacked = pack(prevDocs)
      val out = Incremental.repack(led, prevPacked, curr,
        Snapshot.diff(prevDocs, curr, "doc_id", "text"),
        "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)
      assert(rows(out) === rows(pack(curr)))
      // the touched shard is doc 20's; every other shard's rows must be
      // the previous run's rows VERBATIM (the reuse contract at scale)
      val touchedShard = prevPacked.filter(col("doc_id") === 20L)
        .select("shard").as[Int].collect().toSet
      assert(touchedShard.size === 1)
      val reused = rows(out).filterNot(r => touchedShard.contains(r._4))
      val prevRows = rows(prevPacked).filterNot(r => touchedShard.contains(r._4))
      assert(reused === prevRows)
    } finally Dedup.unpersistIntermediates()
  }

  test("refreshInPlace: only affected shard dirs rewritten, emptied shards deleted, table = rebuild") {
    import java.io.File
    val path = s"${sys.props("java.io.tmpdir")}/graft_incr_lake"
    graft.sources.Sink.reset(path)
    try {
      Incremental.writePacked(pack(prevDocs), path)
      def dirFiles(): Map[String, Set[String]] =
        new File(path).listFiles().filter(_.getName.startsWith("shard="))
          .map(d => d.getName ->
            d.listFiles().map(f => s"${f.getName}:${f.length}").toSet).toMap
      val before = dirFiles()
      // delta: edit doc 20, and empty one whole shard — remove every doc
      // packed into shard 3, plus the dup partner of any removed doc so
      // no promotion can refill the shard from the side
      val inShard3 = pack(prevDocs).filter(col("shard") === 3)
        .select("doc_id").as[Long].collect().toSet
      assert(inShard3.nonEmpty)
      val victims = inShard3 ++
        inShard3.collect { case v if v == 3L || v == 4L => v + 1000L }
      val curr = prevDocs
        .filter(!col("doc_id").isin(victims.toSeq: _*))
        .withColumn("text",
          when(col("doc_id") === 20L, lit(body("doc20") + " edited"))
            .otherwise(col("text")))
      val newLedger = Incremental.refreshInPlace(
        Incremental.ledger(prevDocs, "doc_id", "text", keep), path,
        curr, Snapshot.diff(prevDocs, curr, "doc_id", "text"),
        "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard)
      val after = dirFiles()
      // the refreshed lake IS the batch rebuild
      val want = rows(pack(curr))
      assert(rows(spark.read.parquet(path)) === want)
      // only shards whose CONTENT changed may have been rewritten
      // (file lists are compared as name:length — a rewrite cannot
      // reproduce the write-UUID file names)
      val prevR = rows(pack(prevDocs))
      val changedDirs = ((prevR diff want) ++ (want diff prevR))
        .map(r => s"shard=${r._4}")
      val touched = before.keySet.filterNot(k => after.get(k).contains(before(k)))
      assert(touched.subsetOf(changedDirs),
        s"rewrote unaffected dirs: ${touched -- changedDirs}")
      // the emptied shard's directory is gone, not resurrecting old rows
      assert(!want.exists(_._4 == 3), "test setup: shard 3 must empty")
      assert(!after.contains("shard=3"),
        s"stale dir survived: ${after.get("shard=3")}")
      // returned state is the next refresh's ledger
      val wantLedger = Incremental.ledger(curr, "doc_id", "text", keep)
        .collect().map(_.toSeq).toSet
      assert(newLedger.collect().map(_.toSeq).toSet === wantLedger)
    } finally {
      Dedup.unpersistIntermediates()
      graft.sources.Sink.reset(path)
    }
  }

  test("a stale staging dir from a crashed refresh cannot corrupt the next one") {
    // crash model: a previous refreshInPlace died after writing its
    // staging dir but before the swap — the lake itself is intact, and the
    // orphaned staging must never reach it: the next refresh clears it,
    // applies cleanly, and removes it. The planted junk holds flat files
    // AND a stale shard dir (shard=63, outside the 16 live shards). A
    // stale PARTITION dir is what a session left in dynamic overwrite mode
    // would keep through a `mode("overwrite")` staging write, so the
    // session runs dynamic here.
    val path = s"${sys.props("java.io.tmpdir")}/graft_incr_stale_staging"
    val staging = graft.sources.LakeCommit.staging(path)
    graft.sources.Sink.reset(path)
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(mode)
    try {
      Incremental.writePacked(pack(prevDocs), path)
      // plant junk where the staging hop writes — wrong schema, wrong data
      Seq((999L, "junk")).toDF("a", "b")
        .write.mode("overwrite").parquet(staging)
      pack(prevDocs).limit(3).withColumn("shard", lit(63))
        .write.mode("append").partitionBy("shard").parquet(staging)
      spark.conf.set(mode, "dynamic")
      val led = Incremental.ledger(prevDocs, "doc_id", "text", keep)
      Incremental.refreshInPlace(led, path, currDocs,
        Snapshot.diff(prevDocs, currDocs, "doc_id", "text"),
        "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, docShard): Unit
      assert(rows(spark.read.parquet(path)) === rows(pack(currDocs)))
      assert(!new java.io.File(s"$path/shard=63").exists(),
        "a stale staged shard must never be swapped into the lake")
      assert(!new java.io.File(staging).exists(),
        "staging dir must be removed after a successful refresh")
    } finally {
      modeBefore.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
      Dedup.unpersistIntermediates()
      graft.sources.Sink.reset(path)
      graft.sources.Sink.reset(staging)
    }
  }

  test("refresh plan stays shallow: state frames are lineage-cut, not just cached") {
    // the r13 pathology gate: with persist-only state frames the refresh
    // output's LOGICAL tree duplicates the whole upstream DAG once per
    // broadcast consumer — exponential in the ~8 state layers, and the
    // driver pays optimizer + plan-stringification over it on EVERY
    // action (50-76 s measured at sf0.1 with all caches hot, zero jobs
    // over 0.5 s). Eager localCheckpoint truncates lineage; this pins
    // that property structurally: the output tree must stay small and
    // must not contain the Snapshot.diff full-outer join (its frames
    // enter only as checkpointed leaves).
    val out = incr(prevDocs, currDocs)
    try {
      val nodes = out.queryExecution.analyzed.collect { case p => p }.size
      assert(nodes < 200,
        s"refresh logical plan has $nodes nodes — the lineage cut regressed")
      val joinTypes = out.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.joinType.sql
      }
      assert(!joinTypes.exists(_.toLowerCase.contains("full")),
        s"diff's full-outer join leaked into the refresh tree: $joinTypes")
    } finally Dedup.unpersistIntermediates()
  }
}
