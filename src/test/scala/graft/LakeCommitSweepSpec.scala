package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Incremental, IncrementalScrub, NgramLm, Snapshot, TextOps, UrlRules}
import graft.sources.{LakeCommit, Sink, Tables}
import graft.streaming.{CurationStream, IncrementalStream, ScrubStream}

/** Crash-point sweep over the one lake-commit protocol. For each
  * lake-mutating gate and each single-lake commit, a clean run records the
  * label of every mutation step. Then, for each step and once more after
  * the last one, the pre-wave lakes are restored from a directory copy,
  * the wave is killed at that step (every later step fails too, in
  * `Sink.inParallel` and background branches alike, as on a dead driver),
  * the same batch id is replayed, and the lakes must equal the clean run's
  * — which itself equals the batch rebuild — with no staging, tombstone
  * or marker left behind.
  *
  * The sweeps are independent (own lakes, own crash hook per thread), so
  * they run three at a time and each test awaits its own; the
  * stream_scrub sweep (about 340 s on 4 cores) bounds the suite. */
class LakeCommitSweepSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private final class Crash(label: String) extends RuntimeException(s"crash at $label")

  /** The crash hook of the case running on this thread. The threads
    * `Sink.inParallel` and `Sink.withBackground` start inherit it. */
  private val hook = new InheritableThreadLocal[String => Unit] {
    override def initialValue(): String => Unit = _ => ()
  }
  override def beforeAll(): Unit = LakeCommit.beforeStep = label => hook.get()(label)
  override def afterAll(): Unit = {
    LakeCommit.beforeStep = _ => ()
    pool.shutdown()
    Sink.reset(root)
  }

  private val root = s"${sys.props("java.io.tmpdir")}/graft_commit_sweep"

  private def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    Using.resource(Files.walk(src)) { paths =>
      paths.forEach { (p: Path) =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted
  private def project(lake: String, cols: String*): Seq[String] =
    rowsOf(Tables.parquet(spark, lake).select(cols.map(col): _*))

  /** Runs `body` with this thread's hook recording labels into `seen`
    * or — given a target — failing at it and at every step after it. */
  private def withSeam[T](target: Option[String], seen: mutable.Buffer[String])
                         (body: => T): T = {
    val dead = new AtomicBoolean(false)
    hook.set { label =>
      seen.synchronized(seen += label)
      if (dead.get || target.contains(label)) {
        dead.set(true)
        throw new Crash(label)
      }
    }
    try body finally hook.remove()
  }

  /** A sweep's crash cases, as (wave, label or "after last step"), and a
    * summary line. */
  private final case class Swept(cases: Seq[(Int, String)], summary: String)

  /** The sweep over `lakes` under `$root/$name`. `setup` builds the
    * pre-wave lakes, `waves` apply one batch each (a replay re-runs the
    * same one), and `check(i)` asserts the clean run's lakes after wave i
    * against the batch rebuild. */
  private def sweep(name: String, lakes: Seq[String], setup: () => Unit,
                    waves: Seq[() => Unit], check: Int => Unit): Swept = {
    val base = s"$root/$name"
    val snap = (i: Int) => s"$root/$name.snap$i"
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(base))
    setup()
    def contents = lakes.map(project(_, "*")).toList
    // the clean run: labels of every step, and the lakes after each wave
    val (labels, clean) = waves.indices.map { i =>
      copyTree(base, snap(i))
      val seen = mutable.Buffer.empty[String]
      withSeam(None, seen)(waves(i)())
      check(i)
      (seen.toSeq, contents)
    }.unzip
    val cases = for {
      i <- waves.indices
      at <- labels(i).map(Some(_)) :+ None
    } yield {
      val what = s"$name wave $i, crash ${at.fold("after last step")(l => s"at '$l'")}"
      Sink.reset(base)
      copyTree(snap(i), base)
      val crashed = try { withSeam(at, mutable.Buffer.empty)(waves(i)()); false }
                    catch { case _: Crash => true }
      assert(crashed === at.isDefined, s"$what: the step was never reached")
      waves(i)() // the replay, same batch id
      val differ = lakes.zip(contents.zip(clean(i))).collect { case (l, (g, c)) if g != c => l }
      assert(differ.isEmpty, s"$what: lakes differ from the clean run: ${differ.mkString(", ")}")
      val left = lakes.flatMap(LakeCommit.leftovers).filter(p => new java.io.File(p).exists())
      assert(left.isEmpty, s"$what: left behind $left")
      (i, at.getOrElse("after last step"))
    }
    Swept(cases, f"$name: ${cases.size} crash cases (${labels.map(_.size).mkString(" + ")} " +
      f"steps + ${waves.size} after-last), ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def applyOps(docs: Seq[(Long, String)], ops: Seq[(Long, String, String)]) =
    docs.filterNot(d => ops.exists(_._1 == d._1)) ++
      ops.filter(_._2 != "delete").map(o => (o._1, o._3))

  // ---- stream_scrub: four lakes, wins/df/scrub under one marker -------

  private val W = 4
  private val tailB = " tb1 tb2 tb3 tb4 tb5 tb6 tb7 tb8"
  private val tailC = " tc1 tc2 tc3 tc4 tc5 tc6 tc7 tc8"
  private def words(i: Long): String = (0 until 16).map(j => s"u${i}w$j").mkString(" ")
  // v0: tailB on 30+31 (df 2, scrubbed), tailC on 40 alone (df 1, kept)
  private val scrubV0: Seq[(Long, String)] = (0L until 50L).map { i =>
    (i, words(i) + (if (i == 30 || i == 31) tailB else if (i == 40) tailC else ""))
  }
  // wave 0 removes 31 (tailB 2→1: untouched 30 restored); wave 1 adds 100
  // with tailC (untouched 40 cut) and edits 5
  private val scrubWaves = Seq(
    Seq((31L, "delete", null.asInstanceOf[String])),
    Seq((100L, "upsert", words(100) + tailC), (5L, "upsert", words(5) + " edited suffix")))
  // 31 alone in shard 7, so its removal empties a partition of three
  // lakes; every other touched or ripple doc in shard 2, so each wave
  // swaps few partitions
  private val scrubShard: Column => Column = k =>
    when(k === 31L, lit(7L)).when(k.isin(5L, 30L, 40L, 100L), lit(2L))
      .otherwise(pmod(k, lit(7L)))

  private def scrubSweep(): Swept = {
    val base = s"$root/scrub"
    val (raw, wins, dfl, scrub) = (s"$base/raw", s"$base/wins", s"$base/df", s"$base/scrub")
    val versions = scrubWaves.scanLeft(scrubV0)(applyOps).tail.map(_.toDF("doc_id", "text"))
    val waves = scrubWaves.map(_.toDF("doc_id", "op", "text").localCheckpoint())
    sweep("scrub", Seq(raw, wins, dfl, scrub),
      () => ScrubStream.bootstrap(scrubV0.toDF("doc_id", "text"), raw, wins, dfl, scrub,
        "doc_id", "text", W, 2, hashBuckets = 2, scrubShard),
      waves.zipWithIndex.map { case (w, i) => () =>
        ScrubStream.applyWave(spark, w, i.toLong, raw, wins, dfl, scrub,
          "doc_id", "text", W, 2, hashBuckets = 2, scrubShard)
      },
      i => {
        val docs = versions(i)
        val st = IncrementalScrub.state(docs, "doc_id", "text", W, 2)
        assert(project(raw, "doc_id", "text") === rowsOf(docs))
        assert(project(wins, "id", "start", "whash")
          === rowsOf(st.wins.select("id", "start", "whash")))
        assert(project(dfl, "whash", "df") === rowsOf(st.df.select("whash", "df")))
        assert(project(scrub, "id", "scrubbed_text", "n_tokens", "n_removed")
          === rowsOf(Dedup.spanScrub(docs, "doc_id", "text", W, 2).select(
            col("doc_id").as("id"), col("scrubbed_text"), col("n_tokens"), col("n_removed"))))
      })
  }

  // ---- stream_incremental: raw pre-step, packed + ledger under one marker

  private def body(seed: String): String =
    (1 to 40).map(i => s"$seed word$i token").mkString(" ").take(400) +
      " tail marker closing words here"
  private val keep: Column => Column = t =>
    TextOps.corpusFilterRules(t).collect { case (n, r) if n != "no_terminal_punct" => r }
      .reduce(_ && _)
  // 7 alone in shard 15, so its removal empties a raw and a packed shard;
  // each wave's other docs share one shard
  private val incrShard: Column => Column = k =>
    when(k === 7L, lit(15L)).when(k.isin(3L, 11L, 1003L), lit(3L))
      .when(k.isin(2000L, 2001L), lit(5L)).otherwise(pmod(k, lit(15L)))
  private val incrV0: Seq[(Long, String)] =
    (0L until 20L).map(i => (i, body(s"doc$i"))) :+ ((1003L, body("doc3")))
  // wave 0: 3 removed (dup partner 1003 promotes), 7 removed, 11 edited;
  // wave 1: two adds
  private val incrWaves = Seq(
    Seq((3L, "delete", null.asInstanceOf[String]), (7L, "delete", null.asInstanceOf[String]),
      (11L, "upsert", body("doc11") + " rev two")),
    Seq((2000L, "upsert", body("fresh2000")), (2001L, "upsert", body("fresh2001"))))
  private def pack(docs: DataFrame): DataFrame =
    Incremental.batch(docs, "doc_id", "text", keep,
      maxTokens = 8, overlap = 2, budget = 24L, shards = 16, incrShard)
  private val packedCols = Seq("doc_id", "chunk_id", "n_tokens", "shard", "seq_id")

  private def incrSweep(): Swept = {
    val base = s"$root/incr"
    val (raw, packed, ledger) = (s"$base/raw", s"$base/packed", s"$base/ledger")
    val versions = incrWaves.scanLeft(incrV0)(applyOps).tail.map(_.toDF("doc_id", "text"))
    val waves = incrWaves.map(_.toDF("doc_id", "op", "text").localCheckpoint())
    sweep("incr", Seq(raw, packed, ledger),
      () => IncrementalStream.bootstrap(incrV0.toDF("doc_id", "text"), raw, packed, ledger,
        "doc_id", "text", keep, maxTokens = 8, overlap = 2, budget = 24L, shards = 16,
        incrShard),
      waves.zipWithIndex.map { case (w, i) => () =>
        IncrementalStream.applyWave(spark, w, i.toLong, raw, packed, ledger,
          "doc_id", "text", keep, maxTokens = 8, overlap = 2, budget = 24L, shards = 16,
          incrShard)
      },
      i => {
        val docs = versions(i)
        assert(project(raw, "doc_id", "text") === rowsOf(docs))
        assert(project(packed, packedCols: _*) ===
          rowsOf(pack(docs).select(packedCols.map(col): _*)))
        assert(project(ledger, "id", "norm_hash", "passes") ===
          rowsOf(Incremental.ledger(docs, "doc_id", "text", keep)))
      })
  }

  // ---- stream_provenance: two batch-stamped lakes, no marker -----------

  private def provSweep(): Swept = {
    val base = s"$root/prov"
    val (out, quota) = (s"$base/out", s"$base/quota")
    val text = ("the cat sat of mat and dogs that have ran with joy here " * 5).trim
    val corpus = Seq((1L, text, "bulk"), (2L, text.replace("cat", "dog"), "bulk"),
      (3L, "known boilerplate banner line", "bulk")).toDF("doc_id", "text", "source")
    val index = Dedup.lineIndex(corpus, "doc_id", "text").localCheckpoint()
    val (model, margins, vocab) = NgramLm.servingFrames(corpus, "doc_id", "text")
    val frames = Seq(model, margins, vocab).map(_.localCheckpoint())
    val arrivals = ((10L to 15L).map(i => (i, s"$text extra $i", "capd")) ++ Seq(
      (20L, "known boilerplate banner line", "probes"),
      (21L, "short novel", "probes"))).toDF("doc_id", "text", "source")
    val batches = Seq(arrivals.filter(col("doc_id") % 2 === 0),
      arrivals.filter(col("doc_id") % 2 === 1)).map(_.localCheckpoint())
    sweep("prov", Seq(out, quota), () => (),
      batches.zipWithIndex.map { case (b, i) => () =>
        CurationStream.applyBatch(b, i.toLong, out, quota, index, frames(0), frames(1),
          frames(2), UrlRules.Cfg(), nllKeep = 2.5, cap = 3L)
      },
      i => {
        val ledger = Tables.parquet(spark, out)
        assert(ledger.count() === batches.take(i + 1).map(_.count()).sum)
        // the quota deltas sum to the ledger's gate-passer census
        assert(project(quota, "batch", "domain", "n_pass") === rowsOf(
          ledger.filter(col("keep") || col("within_cap") === "fail")
            .groupBy(col("batch"), col("domain")).agg(count(lit(1)).as("n_pass"))))
      })
  }

  // ---- the single-lake commits ----------------------------------------

  private def upsertSweep(): Swept = {
    val lake = s"$root/upsert/lake"
    val load = (1L to 12L).map(i => (i, s"2024-01-0${i % 4 + 1}", i * 1.0, 0))
      .toDF("id", "day", "value", "version")
    val merge = Seq((2L, "2024-01-03", 20.0, 1), (5L, "2024-01-02", 50.0, 1),
      (40L, "2024-01-09", 4.0, 1)).toDF("id", "day", "value", "version")
    sweep("upsert", Seq(lake), () => (),
      Seq(load, merge).map(u => () =>
        Sink.upsertPartitioned(spark, lake, u, Seq("id"), "version", "id", "day")),
      i => assert(project(lake, "id", "value") === rowsOf(
        Dedup.latestWins(Seq(load, merge).take(i + 1).reduce(_ unionByName _),
          Seq("id"), "version", "id").select("id", "value"))))
  }

  private def compactSweep(): Swept = {
    val lake = s"$root/compact/lake"
    val rows = (1L to 40L).map(i => (i, s"2024-01-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "day", "value")
    sweep("compact", Seq(lake),
      () => rows.repartition(3, col("id")).write.partitionBy("day").parquet(lake),
      Seq(() => Sink.compactPartitions(spark, lake, "day").collect(): Unit),
      _ => {
        assert(project(lake, "id", "day", "value") === rowsOf(rows))
        new java.io.File(lake).listFiles.filter(_.getName.startsWith("day=")).foreach(d =>
          assert(d.listFiles.count(_.getName.endsWith(".parquet")) === 1))
      })
  }

  private def stampedSweep(): Swept = {
    val lake = s"$root/stamped/out"
    val batches = Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c"))).map(_.toDF("id", "text"))
    sweep("stamped", Seq(lake), () => (),
      batches.zipWithIndex.map { case (b, i) => () => Sink.writeBatchStamped(b, lake, i.toLong) },
      i => assert(project(lake, "id", "batch") === rowsOf(batches.zipWithIndex.take(i + 1)
        .map { case (b, j) => b.select(col("id"), lit(j).as("batch")) }.reduce(_ union _))))
  }

  private def refreshSweep(): Swept = {
    val lake = s"$root/refresh/packed"
    val v0 = incrV0.toDF("doc_id", "text")
    val v1 = applyOps(incrV0, incrWaves.head).toDF("doc_id", "text")
    val ledger = Incremental.ledger(v0, "doc_id", "text", keep).localCheckpoint()
    val delta = Snapshot.diff(v0, v1, "doc_id", "text").localCheckpoint()
    sweep("refresh", Seq(lake),
      () => Incremental.writePacked(pack(v0), lake),
      Seq(() => Incremental.refreshInPlace(ledger, lake, v1, delta, "doc_id", "text", keep,
        maxTokens = 8, overlap = 2, budget = 24L, shards = 16, incrShard): Unit),
      _ => assert(project(lake, packedCols: _*) ===
        rowsOf(pack(v1).select(packedCols.map(col): _*))))
  }

  private lazy val pool = Executors.newFixedThreadPool(3)
  /** Every sweep, started together on first use, longest first. */
  private lazy val sweeps: Map[String, Future[Swept]] = {
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    Sink.reset(root)
    Seq[(String, () => Swept)]("scrub" -> scrubSweep, "incr" -> incrSweep,
      "refresh" -> refreshSweep, "prov" -> provSweep, "upsert" -> upsertSweep,
      "compact" -> compactSweep, "stamped" -> stampedSweep)
      .map { case (n, run) => n -> Future(run()) }.toMap
  }
  private def swept(name: String): Seq[(Int, String)] = {
    val s = Await.result(sweeps(name), Duration.Inf)
    info(s.summary)
    s.cases
  }

  test("stream_scrub: a crash at every commit step of a two-wave run replays to the batch rebuild") {
    val cases = swept("scrub")
    assert(cases.contains((0, "drop wins/__shard=7")), "an emptied partition must be swept")
    val w1 = cases.filter(_._1 == 1).map(_._2)
    // the three hand-picked crash windows the sweep generalizes, in wave 1
    val (marker, winsDone) = (w1.indexOf("marker write"), w1.indexOf("unstage wins"))
    assert(marker >= 0 && marker < winsDone)
    Seq("after the marker, before any swap" -> w1(marker + 1),
      "mid-apply: wins swapped, df and scrub stale" -> w1(winsDone + 1),
      "replay of a fully applied wave" -> "after last step").foreach {
      case (window, label) => info(s"window '$window' = wave 1 crash at '$label'")
    }
  }

  test("stream_incremental: a crash at every commit step of a two-wave run replays to the batch rebuild") {
    val cases = swept("incr")
    assert(cases.contains((0, "drop packed/shard=15")), "an emptied partition must be swept")
    assert(cases.contains((0, "swap-out ledger")), "the whole-lake swap must be swept")
  }

  test("stream_provenance: a crash at every commit step of a two-batch run replays to the clean run") {
    assert(swept("prov").contains((1, "swap-in quota/batch=1")))
  }

  test("upsertPartitioned: a crash at every step of a load and a merge replays to the clean run") {
    assert(swept("upsert").contains((1, "swap-out lake/day=2024-01-03")))
  }

  test("compactPartitions: a crash at every step replays to the clean run") {
    assert(swept("compact").nonEmpty)
  }

  test("writeBatchStamped: a crash at every step of two batches replays to the clean run") {
    assert(swept("stamped").contains((1, "swap-in out/batch=1")))
  }

  test("refreshInPlace: a crash at every step replays to the batch rebuild") {
    assert(swept("refresh").contains((0, "drop packed/shard=15")),
      "an emptied partition must be swept")
  }
}
