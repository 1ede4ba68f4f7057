package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Worst-case-shape stress for the connected-components tier (D17): a
  * planted MEGA-COMPONENT — the input a boilerplate flood produces when
  * every near-dup tier links thousands of docs to one template. Two
  * adversarial sub-shapes in one component:
  *
  *  - a 7,000-spoke HOT HUB (vertex 0): the component min sits on a key
  *    with 7k incident edges, so the neighborhood aggregation sees one
  *    giant group — the hash-agg skew case;
  *  - a 3,000-vertex CHAIN hanging off the hub's rim: diameter ~3,000,
  *    the worst case for plain min-label propagation (O(diameter)
  *    rounds), which pointer jumping must collapse to O(log n).
  *
  * The gate pins the two scale observables a 100 TB run lives or dies on:
  * ROUND COUNT (each round = one O(E) neighborhood shuffle + one O(V)
  * pointer jump — the expensive unit) and TOTAL SHUFFLE RECORDS across
  * the whole run (linear in E·rounds; an O(diameter) regression would
  * read ~E·3,000 ≈ 30M records, an accidental re-execution of the edge
  * plan per round would scale it by rounds again). */
class CcStressSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("planted 10k mega-component: O(log n) rounds, linear shuffle volume, exact labels") {
    val hub = (1L to 7000L).map(i => (0L, i))
    val chain = (7000L until 9999L).map(i => (i, i + 1))
    // a small control component that the mega-cluster must NOT absorb
    val side = (0L until 9L).map(i => (20000L + i, 20000L + i + 1))
    val pairs = (hub ++ chain ++ side).toDF("id_a", "id_b")

    val shuffleRecords = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (labels, rounds) =
      try {
        val r = Dedup.connectedComponentsStats(pairs, "id_a", "id_b", maxIter = 18)
        val out = (r._1.as[(Long, Long)].collect(), r._2)
        GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
        out
      } finally spark.sparkContext.removeSparkListener(listener)

    // exactness: 10,010 vertices, the mega-component collapses to min id 0,
    // the side chain keeps its own min — no label bleed across components
    assert(labels.length === 10010)
    val byComp = labels.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byComp.keySet === Set(0L, 20000L))
    assert(byComp(0L) === (0L to 9999L).toSet)
    assert(byComp(20000L) === (20000L to 20009L).toSet)

    // O(log n): the 3,000-diameter chain must converge in pointer-jumping
    // rounds (~log2), nowhere near the propagation-only O(diameter)
    assert(rounds <= 16, s"expected <=16 pointer-jumping rounds, took $rounds")

    // linear shuffle volume: ~E·rounds. Measured ~1.1M records on this
    // shape (E≈10k edges ×2 directions, ≤16 rounds of O(E)+O(V) legs);
    // 4M leaves noise headroom while sitting 8× under the O(diameter)
    // regression's ~30M and far under any per-round edge-plan re-execution
    val recs = shuffleRecords.get()
    assert(recs > 0L, "listener saw no shuffle activity — measurement broken")
    assert(recs < 4000000L,
      s"shuffle volume $recs records — super-linear in E·rounds, skew or lineage regression")
  }
}
