package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, NgramLm}
import graft.streaming.CurationStream

/** Streaming curation ledger (E17): staged verdicts against deployed
  * artifacts, the cross-batch quota delta lake, and wave-split equality —
  * the drained two-wave ledger must match the one-wave ledger except for
  * quota ranks, which follow arrival order by design. */
class CurationStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // corpus: enough stopword-bearing text that gopher/LM gates can pass,
  // one known boilerplate line for the line tier
  private val body =
    ("the cat sat of mat and dogs that have ran with joy here " * 5).trim
  private lazy val corpus = Seq(
    (1L, body, "bulk"),
    (2L, body.replace("cat", "dog"), "bulk"),
    (3L, "known boilerplate banner line", "bulk")
  ).toDF("doc_id", "text", "source")

  private def artifacts() = {
    val index = Dedup.lineIndex(corpus, "doc_id", "text").persist()
    val (model, margins, vocab) =
      NgramLm.servingFrames(corpus, "doc_id", "text")
    Seq(model, margins, vocab).foreach(_.persist())
    (index, model, margins, vocab)
  }

  private def drainWaves(tag: String, waves: Seq[org.apache.spark.sql.DataFrame],
                         cap: Long): org.apache.spark.sql.DataFrame = {
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_curation_$tag"
    graft.sources.Sink.reset(base)
    val (index, model, margins, vocab) = artifacts()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id long, text string, source string")
    waves.foreach { w =>
      w.sort("doc_id").coalesce(1).write.mode("append")
        .parquet(s"$base/landing")
      CurationStream.provenanceStream(spark, s"$base/landing", schema,
        s"$base/out", s"$base/quota", s"$base/ckpt",
        index, model, margins, vocab, nllKeep = 2.5, cap = cap)
    }
    index.unpersist()
    spark.read.parquet(s"$base/out")
  }

  // arrivals: 6 cap-bound docs (pass all gates) + one per failure arm
  private lazy val arrivals = Seq(
    // pass-all family, one domain, exercises the quota across waves
    (10L, body + " extra one", "capd"),
    (11L, body + " extra two", "capd"),
    (12L, body + " extra three", "capd"),
    (13L, body + " extra four", "capd"),
    (14L, body + " extra five", "capd"),
    (15L, body + " extra six", "capd"),
    // line tier: the known banner verbatim → cut to empty
    (20L, "known boilerplate banner line", "probes"),
    // gopher: too short after a novel line survives
    (21L, "short novel", "probes"),
    // lm: gopher-passing but OOV bigrams (NLL ~3.2 on this tiny corpus, over the 2.5 gate)
    (22L, "the of and that " +
      (0 until 30).map(i => s"the qq$i").mkString(" "), "probes"),
    // url: a doc_id in the junk-query residue class (90 % 83 == 7)
    (90L, body + " url victim", "probes")
  ).toDF("doc_id", "text", "source")

  test("staged verdicts: each planted arrival drops at exactly its stage") {
    val ledger = drainWaves("staged", Seq(arrivals), cap = 3)
      .select("doc_id", "pass_url", "pass_linecut", "pass_gopher",
        "pass_lm", "within_cap", "drop_stage", "keep")
      .as[(Long, String, String, String, String, String, String, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(ledger(20L)._7 === "line_cut" && ledger(20L)._4 === "not_reached")
    assert(ledger(21L)._7 === "gopher_rules" && ledger(21L)._3 === "pass")
    assert(ledger(22L)._7 === "lm_keep" && ledger(22L)._4 === "pass")
    assert(ledger(90L)._7 === "url_rules" && ledger(90L)._3 === "not_reached")
    // quota: docs 10-12 keep, 13-15 fail the cap with full pass flags
    (10L to 12L).foreach(i => assert(ledger(i)._8, s"doc $i kept"))
    (13L to 15L).foreach { i =>
      assert(ledger(i)._7 === "domain_cap" && ledger(i)._6 === "fail"
        && ledger(i)._5 === "pass", s"doc $i capped")
    }
  }

  test("quota state crosses batches: a domain part-filled in wave 1 crosses the cap mid-wave-2") {
    val ledger = drainWaves("waves",
      Seq(arrivals.filter(col("doc_id") % 2 === 0),
        arrivals.filter(col("doc_id") % 2 === 1)), cap = 3)
    val cap = ledger.filter(col("domain") === "capd")
      .select("doc_id", "within_cap", "batch_id")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    // wave 1 (even ids 10/12/14) fills the 3 slots; every odd id
    // (wave 2, batch 1) arrives over quota — the counter carried
    assert(cap.filter(_._3 == 0).map(_._2) === Seq("pass", "pass", "pass"))
    assert(cap.filter(_._3 == 1).map(_._2) === Seq("fail", "fail", "fail"))
    // and every non-quota verdict is wave-split invariant
    val one = drainWaves("onewave", Seq(arrivals), cap = 3)
      .select("doc_id", "pass_url", "pass_linecut", "pass_gopher", "pass_lm")
    val two = ledger
      .select("doc_id", "pass_url", "pass_linecut", "pass_gopher", "pass_lm")
    assert(one.exceptAll(two).count() === 0)
    assert(two.exceptAll(one).count() === 0)
    // …and the quota delta lake the same drain wrote is batch-stamped
    // (batch=0, batch=1 dirs) with its summed survivor counts equal to
    // the ledger's gate-passer census — asserted here, in the test that
    // produced the dirs, so the suite has no test-ordering dependency
    val base = s"${sys.props("java.io.tmpdir")}/graft_test_curation_waves"
    val deltas = spark.read.parquet(s"$base/quota")
    val fromDeltas = deltas.groupBy("domain").agg(sum("n_pass").as("n"))
      .as[(String, Long)].collect().toMap
    val passers = ledger.filter(col("keep") || col("within_cap") === "fail")
      .groupBy("domain").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(fromDeltas === passers)
    assert(deltas.select("batch").distinct().count() === 2)
  }
}
