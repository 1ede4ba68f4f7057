package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NgramLm

/** Plan-shape pin for the D31 scoring join's skew contract: when the
  * model side is too big to broadcast (corpus scale — emulated by
  * disabling broadcast) and one bigram key dominates the stream, AQE's
  * OptimizeSkewedJoin must split the hot partition — the scoring join
  * plans as a SortMergeJoin carrying the `skew=true` marker in the FINAL
  * adaptive plan. The LmSkewScale probe section of BASELINE.md measured
  * the same rule at sf10 (wall and skew=true nodes with the split on vs
  * off); this spec pins the plan shape deterministically in CI. */
class LmSkewSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("scoring join under a hot bigram key plans with AQE skew=true") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = confs.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // corpus-scale emulation: no broadcast anywhere; skew bars scaled
      // to test bytes so the planted head crosses them
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // the bars are COMPRESSED map-output bytes, and a single-key head
      // of identical rows lz4-compresses ~50×: scale them down far
      // enough that the planted head still crosses them
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      // 2,000 docs of 50 identical tokens: ONE bigram key (zq,zq)
      // carries 98k of the ~100k stream rows — the zipfian head
      val hot = Seq.fill(50)("zq").mkString(" ")
      val target = spark.range(2000)
        .select(col("id").as("doc_id"),
          concat(lit(hot), lit(" t"), (col("id") % 97).cast("string"))
            .as("text"))
      val (m, margins, vocab) =
        NgramLm.servingFrames(target, "doc_id", "text")
      val scored = NgramLm.scoreWithModel(
        target, m, margins, vocab, "doc_id", "text")
      // drive THIS QueryExecution (a .count() would plan separately and
      // leave this one's adaptive plan unfinalized)
      assert(scored.queryExecution.toRdd.count() === 2000L)
      val plan = scored.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not fire on the hot bigram key:\n$plan")
      graft.operators.Dedup.unpersistIntermediates()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
