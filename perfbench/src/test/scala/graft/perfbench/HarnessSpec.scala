package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry}

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("perfbench-test", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dataDir = "data"

  override def afterAll(): Unit = spark.stop()

  private def fp(rows: Seq[InternalRow], schema: StructType): Fingerprint = {
    val acc = new Fingerprint.Acc(schema)
    rows.foreach(acc.add)
    acc.result
  }

  test("tail is the 11th-largest sample, at percentile 100(n-10)/n") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
    assert(Stats.tail((1 to 11).map(_.toDouble)).map(_._1) == Some(1.0))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq.fill(30)(2.0) ++ Seq.fill(10)(9.0)) == Some((2.0, 75.0)))
  }

  test("fingerprints ignore row order and float rounding, not values") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("x", DoubleType),
      StructField("v", ArrayType(DoubleType))))
    def row(k: String, x: Double, v: Double*) =
      InternalRow(UTF8String.fromString(k), x, org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray))
    val a = fp(Seq(row("a", 0.1, 1.0, 2.0), row("b", 0.2, 3.0)), schema)
    val b = fp(Seq(row("b", 0.2 + 1e-15, 3.0), row("a", 0.1, 1.0, 2.0)), schema)
    assert(a.mismatch(b, rowsOnly = false).isEmpty)
    assert(a.mismatch(fp(Seq(row("a", 0.1, 1.0, 2.0), row("c", 0.2, 3.0)), schema), rowsOnly = false).nonEmpty)
    assert(a.mismatch(fp(Seq(row("a", 0.1, 1.0, 2.0), row("b", 0.3, 3.0)), schema), rowsOnly = false).nonEmpty)
    assert(a.mismatch(fp(Seq(row("a", 0.1, 1.0, 2.0), row("c", 9.0, 3.0)), schema), rowsOnly = true).isEmpty)
    assert(a.mismatch(fp(Seq(row("a", 0.1, 1.0, 2.0)), schema), rowsOnly = true).nonEmpty)
  }

  test("a throwing query and a fingerprint mismatch count as failures and carry no timing") {
    val fns: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "wrong" -> ((s, _) => s.range(11).toDF()))
    val want = new Runner(spark, dataDir, None, Set.empty, fns).run(0, "ok").fp.get
    val runner = new Runner(spark, dataDir, Some(Map("ok" -> want, "boom" -> want, "wrong" -> want)), Set.empty, fns)
    val passes = new Passes(spark, runner, Seq("ok", "boom", "wrong"), seed = 1L)
    val rs = passes.pass(1, "timed").map(r => r.query -> r).toMap
    assert(rs("ok").ok && rs("ok").wallS > 0)
    assert(rs("boom").error.exists(_.contains("boom")))
    assert(rs("wrong").error.exists(_.startsWith("rows 11")))
    Seq("boom", "wrong").foreach(q => assert(rs(q).wallS == 0.0 && rs(q).phases.isEmpty))
    assert(passes.stats.last("failed") == 2)
    assert(passes.stats.last("pass_s") == rs("ok").wallS)
  }

  test("a job launched inside fn lands in build.jobs, not exec.jobs") {
    val fns: Map[String, (SparkSession, String) => DataFrame] = Map(
      "eager" -> { (s, _) =>
        s.sparkContext.parallelize(1 to 100).count()
        s.sparkContext.parallelize(1 to 50).count()
        s.range(5).toDF()
      })
    val runner = new Runner(spark, dataDir, None, Set.empty, fns)
    val tracer = new Tracer(spark)
    tracer.attach()
    try {
      tracer.take()
      val rs = new Passes(spark, runner, Seq("eager"), seed = 1L).pass(1, "traced")
      val m = Layers.passMetrics(Layers.PassTrace(rs, tracer.take(), (0L, 0L)), cores = 2)
      assert(m("build.jobs") == 2.0)
      assert(m("exec.jobs") == 1.0)
      assert(m("exec.tasks") >= 1.0)
    } finally tracer.detach()
  }

  test("ml.build_s in one pass matches the previous pass once memos are cleared") {
    val runner = new Runner(spark, dataDir, None, SparkEntry.rowsOnly)
    val passes = new Passes(spark, runner, Seq("fatality_model"), seed = 1L)
    val builds = (1 to 3).map(n => passes.pass(n, "timed").head.buildS)
    // pass 1 is cold; passes 2 and 3 each refit from scratch
    assert(builds(2) > 0.5 * builds(1) && builds(2) < 2.0 * builds(1), builds.toString)
    // without the clear, the same query reads the memoized fit
    val memoHit = runner.run(4, "fatality_model").buildS
    assert(memoHit < 0.1 * builds(2), s"memo hit $memoHit vs refit ${builds(2)}")
  }
}
