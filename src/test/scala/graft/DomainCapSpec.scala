package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sample

class DomainCapSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // zipfian-ish domains: one mega-domain (the skew case InferWindowGroupLimit
  // defuses — see the operator scaladoc + BASELINE.md's CapScale probe
  // section), a mid one, and one under the cap
  private lazy val docs = ((1 to 3000).map(i => (i.toLong, "mega")) ++
    (3001 to 3200).map(i => (i.toLong, "mid")) ++
    (3201 to 3205).map(i => (i.toLong, "tiny")))
    .toDF("doc_id", "source").cache()

  test("domainCap: exact cap per domain; under-cap domains kept whole") {
    val got = Sample.domainCap(docs, "doc_id", "source", cap = 25)
    val perDomain = got.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(perDomain("mega") === 25L)
    assert(perDomain("mid") === 25L)
    assert(perDomain("tiny") === 5L) // under the cap: everything kept
    // rk is the dense 1..cap ranking within each kept domain
    assert(got.filter(col("source") === "mega")
      .select("rk").as[Int].collect().sorted.toSeq === (1 to 25))
  }

  test("domainCap: the rank filter plans as a map-side WindowGroupLimit") {
    // the skew guard: Catalyst's InferWindowGroupLimit must push a
    // group-limit BELOW the exchange, so a mega-domain ships ≤ cap rows
    // per input partition instead of its whole row mass. If a Spark
    // upgrade or a plan change loses this, the operator's 100 TB story
    // breaks — fail loudly here.
    val plan = Sample.domainCap(docs.repartition(7), "doc_id", "source", 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected a WindowGroupLimit node in:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      "expected BOTH partial (below exchange) and final group-limits:\n" + plan)
  }

  test("domainCap: deterministic under repartitioning") {
    val a = Sample.domainCap(docs, "doc_id", "source", 25)
      .select("doc_id", "rk").as[(Long, Int)].collect().toSet
    val b = Sample.domainCap(docs.repartition(13), "doc_id", "source", 25)
      .select("doc_id", "rk").as[(Long, Int)].collect().toSet
    assert(a === b)
  }

  test("domainCapStats: holdings vs kept, capped flag") {
    val stats = Sample.domainCapStats(docs, "doc_id", "source", cap = 25)
      .as[(String, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(stats("mega") === (("mega", 3000L, 25L, true)))
    assert(stats("mid") === (("mid", 200L, 25L, true)))
    assert(stats("tiny") === (("tiny", 5L, 5L, false)))
  }
}
