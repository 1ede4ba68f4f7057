package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, MlEntries, SparkEntry}

/** The query subsets the benchmark times, by workload name. A warm pass
  * takes one and a half to three seconds at the committed sf0.01 tables on
  * 4 cores, so a run of twenty seconds holds seven or more timed passes
  * (five in a steal storm). */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // The reference's own surface: typed ingest, latest-wins upsert, a DQ
    // profile, a TPC-H-style join and graft.ml target encoding. Short
    // exec-heavy queries, so the fixed cost per query shows. The GBT fit
    // (19 s a pass) does not fit in a run.
    "acled_pipeline" -> Seq("typed_ingest", "upsert_latest", "completeness_profile",
      "q3_join_agg", "target_encode"),
    // The write path: a latest-wins upsert into a partitioned Sink lake,
    // and a checkpointed AvailableNow drain of several micro-batches.
    // Nearly all of it is job round trips in build.
    "lake_refresh" -> Seq("upsert_sink", "stream_jsonl_ingest"))

  /** The queries of the `graft.ml` tier: the ml layer. */
  val ml: Set[String] = MlEntries.queries.keySet
}

/** One query run: its three phases and what its output check found. */
final case class QueryRun(pass: Int, query: String, error: Option[String],
                          buildS: Double, planS: Double, execS: Double, cpuS: Double,
                          phases: Seq[PhaseSpan], planPhases: Map[String, Double],
                          fp: Option[Fingerprint], heapMb: Double) {
  def ok: Boolean = error.isEmpty
  def wallS: Double = buildS + planS + execS
}

/** Runs queries one at a time and checks each output against its expected
  * fingerprint (no check when `expected` is None: the fingerprints are
  * being recorded). Every run starts from a released session: no cached
  * frame or persisted RDD of an earlier query survives into it. */
final class Runner(spark: SparkSession, dataDir: String,
                   expected: Option[Map[String, Fingerprint]], rowsOnly: Set[String],
                   fns: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def run(pass: Int, name: String): QueryRun = {
    GraftSession.releaseAll(spark)
    // what survives the release and its full GC: memos and leaks of the
    // queries before this one
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val cpu0 = os.getProcessCpuTime
    def now() = (System.currentTimeMillis(), System.nanoTime())
    val marks = mutable.ArrayBuffer(now())
    val outcome: Either[String, (Fingerprint, Map[String, Double])] =
      try {
        val df = fns(name)(spark, dataDir)
        marks += now()
        val qe = df.queryExecution
        qe.executedPlan
        marks += now()
        val fp = Fingerprint.of(qe.toRdd, df.schema)
        marks += now()
        val planPhases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        expected.flatMap(e => e.get(name).fold(Option("no expected fingerprint"))(_.mismatch(fp, rowsOnly(name))))
          .map(Left(_)).getOrElse(Right((fp, planPhases)))
      } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    outcome match {
      case Right((fp, planPhases)) =>
        val phases = Seq("build", "plan", "exec").zip(marks.zip(marks.tail)).map {
          case (ph, ((m0, _), (m1, _))) => PhaseSpan(pass, name, ph, m0, m1)
        }
        val Seq(b, p, e) = marks.zip(marks.tail).map { case ((_, n0), (_, n1)) => (n1 - n0) / 1e9 }.toSeq
        QueryRun(pass, name, None, b, p, e, cpuS, phases, planPhases, Some(fp), heapMb)
      case Left(why) =>
        QueryRun(pass, name, Some(why), 0, 0, 0, 0, Nil, Map.empty, None, heapMb)
    }
  }
}

/** The benchmark's unit of work: every query of the workload once, in an
  * order shuffled by the seed, from the same state. Memoized trained
  * artifacts are dropped before each pass, so every pass pays its fits. */
final class Passes(spark: SparkSession, runner: Runner, queries: Seq[String], seed: Long) {
  private val rng = new scala.util.Random(seed)
  val runs = mutable.ArrayBuffer.empty[QueryRun]
  val stats = mutable.ArrayBuffer.empty[Map[String, Any]]

  def pass(n: Int, kind: String): Seq[QueryRun] = {
    val order = rng.shuffle(queries)
    println(s"# pass $n ($kind) order: ${order.mkString(" ")}")
    val t0 = System.nanoTime()
    SparkEntry.clearSessionMemos(spark)
    val w0 = GraftSession.HostWeather.sample()
    val rs = order.map { q =>
      val r = runner.run(n, q)
      println(f"#   ${r.query}%-30s build ${r.buildS}%8.3f  plan ${r.planS}%7.3f  exec ${r.execS}%8.3f" +
        r.error.fold("")(e => s"  FAILED $e"))
      r
    }
    val steal = GraftSession.HostWeather.stealPctOfUser(w0, GraftSession.HostWeather.sample())
    val wall = rs.map(_.wallS).sum
    val elapsed = (System.nanoTime() - t0) / 1e9
    println(f"# pass $n ($kind): $wall%.3f s in queries, $elapsed%.3f s elapsed, ${rs.count(_.ok)}/${rs.size} ok, " +
      f"steal ${steal.fold("n/a")(_.toString)}%%")
    runs ++= rs
    stats += Map("pass" -> n, "kind" -> kind, "order" -> order, "pass_s" -> wall, "elapsed_s" -> elapsed,
      "cpu_s" -> rs.map(_.cpuS).sum, "heap_peak_mb" -> rs.map(_.heapMb).max,
      "steal_pct" -> steal.map(Double.box).orNull, "failed" -> rs.count(!_.ok))
    rs
  }
}

/** Entry point. Arguments, all required unless noted:
  *   --workload NAME  --seed N  --seconds S  --trace 0|1
  *   --data DIR       the input tables
  *   --expected FILE  expected fingerprints, from `--record-expected`
  *   --record FILE    where the run record is written
  *   --sha SHA        the program's revision, for the header
  *   --record-expected FILE (optional) run one pass and write its
  *                    fingerprints to FILE instead of timing anything
  *
  * Timed runs (`--trace 0`) attach no listener. Traced runs time untraced
  * passes for the first half of `--seconds`, then attach the tracer for the
  * second half, so the record states the tracing overhead on `pass_s`. */
object Harness {
  val Warmups = 4
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val code =
      try run(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
      catch {
        case NonFatal(e) => e.printStackTrace(); 2
        case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(3); 3
      }
    System.exit(code)
  }

  def readExpected(path: String): Map[String, Fingerprint] = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(new File(path))
    root.fieldNames.asScala.map { q =>
      val n = root.get(q)
      def doubles(k: String) = n.get(k).elements.asScala.map(_.asDouble).toVector
      q -> Fingerprint(n.get("rows").asLong, java.lang.Long.parseUnsignedLong(n.get("hash").asText, 16),
        doubles("sums"), doubles("abs"))
    }.toMap
  }

  def fingerprintJson(fp: Fingerprint): Map[String, Any] =
    Map("rows" -> fp.rows, "hash" -> java.lang.Long.toUnsignedString(fp.hash, 16),
      "sums" -> fp.sums, "abs" -> fp.abs)

  private def readFirstLine(path: String, prefix: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    } catch { case NonFatal(_) => None }

  def run(opt: Map[String, String]): Int = {
    val workload = opt("workload")
    val queries = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dataDir = opt("data")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder("perfbench", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val header = Map(
      "sha" -> opt.getOrElse("sha", "unknown"), "nproc" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "mem_total" -> readFirstLine("/proc/meminfo", "MemTotal:").map(_.split("\\s+")(1) + " kB").getOrElse("unknown"),
      "jdk" -> sys.props("java.version"), "spark" -> spark.version,
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "loadavg" -> readFirstLine("/proc/loadavg", "").getOrElse("unknown"))
    println("# header " + mapper.writeValueAsString(header))

    val expected =
      if (opt.contains("record-expected")) None
      else Some(opt.get("expected").filter(new File(_).isFile).map(readExpected).getOrElse(Map.empty))
    val runner = new Runner(spark, dataDir, expected, SparkEntry.rowsOnly)
    val passes = new Passes(spark, runner, queries, seed)
    import passes.pass
    // The warmup passes fill the JIT and the codegen caches; they are
    // billed to setup, since a user pays them once per session. The first
    // is three to four times as slow as a warm pass; with three warmups,
    // the first timed passes still ran 10-25% slower than the rest.
    val warm = pass(0, "warmup")
    opt.get("record-expected") match {
      case Some(path) =>
        val fps = warm.collect { case r if r.fp.isDefined => r.query -> fingerprintJson(r.fp.get) }.toMap
        mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), fps)
        spark.stop()
        return if (fps.size == queries.size) 0 else 1
      case None => (1 until Warmups).foreach(pass(_, "warmup"))
    }
    val setupDoneMs = System.currentTimeMillis()

    // Timed passes: closed loop, one query in flight, until --seconds.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val plainBudget = if (traced) seconds / 2 else seconds
    var n = Warmups - 1
    val timed = mutable.ArrayBuffer.empty[Seq[QueryRun]]
    while (timed.isEmpty || elapsed < plainBudget) { n += 1; timed += pass(n, "timed") }
    val tracedPasses = mutable.ArrayBuffer.empty[Layers.PassTrace]
    if (traced) {
      val tracer = new Tracer(spark)
      tracer.attach()
      while (tracedPasses.isEmpty || elapsed < seconds) {
        n += 1
        val rs = pass(n, "traced")
        tracedPasses += Layers.PassTrace(rs, tracer.take(), Layers.lakes(new File(sys.props("java.io.tmpdir"))))
      }
      tracer.detach()
    }
    val releaseT0 = System.nanoTime()
    GraftSession.releaseAll(spark)
    spark.stop()
    val releaseS = (System.nanoTime() - releaseT0) / 1e9

    val runs = passes.runs
    val attempted = runs.size
    val failed = runs.count(!_.ok)
    // Each query's wall time is its median over the timed passes; the
    // query percentiles are taken over those, one sample per query.
    val perQuery = timed.flatten.filter(_.ok).groupBy(_.query).values
      .map(rs => Stats.median(rs.map(_.wallS).toSeq)).toSeq
    val tail = Stats.tail(perQuery)
    val setupS = (setupDoneMs - jvmStartMs) / 1e3
    val passStat = passes.stats.filter(_("kind") == "timed")
    def med(k: String) = Stats.median(passStat.map(_(k).asInstanceOf[Double]))
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (med("pass_s"), "s"),
      "query_p50_s" -> (Stats.median(perQuery), "s"),
      "query_tail_s" -> (tail.map(_._1).getOrElse(perQuery.max), "s"),
      "cpu_s" -> (med("cpu_s"), "s"),
      "heap_peak_mb" -> (med("heap_peak_mb"), "MB"))
    val layerMetrics: Map[String, (Double, String)] =
      if (!traced) Map.empty
      else Layers.metrics(tracedPasses.toSeq, cores) ++ Map(
        "session.start_s" -> ((sessionReadyMs - jvmStartMs) / 1e3, "s"),
        "session.warmup_s" -> ((setupDoneMs - sessionReadyMs) / 1e3, "s"),
        "session.release_s" -> (releaseS, "s"),
        "trace.overhead_s" -> (Stats.median(tracedPasses.map(_.runs.map(_.wallS).sum).toSeq) - med("pass_s"), "s"))
    val shown = if (traced) layerMetrics else endToEnd
    (endToEnd ++ layerMetrics).toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"# metric $k%-32s $v%12.4f $u") }
    println(f"# fail_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted query runs failed); " +
      f"query_tail_s is p${tail.fold(100.0)(_._2)}%.1f of ${perQuery.size} per-query medians")
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val record = Map(
      "header" -> header, "result" -> result,
      "fail_frac" -> failed.toDouble / attempted,
      "query_tail" -> Map("percentile" -> tail.fold(100.0)(_._2), "n" -> perQuery.size),
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layerMetrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "passes" -> passes.stats,
      "queries" -> runs.map(r => Map("pass" -> r.pass, "query" -> r.query, "error" -> r.error.orNull,
        "build_s" -> r.buildS, "plan_s" -> r.planS, "exec_s" -> r.execS, "cpu_s" -> r.cpuS,
        "rows" -> r.fp.map(_.rows).getOrElse(-1L))),
      "layers_by_query" -> (if (traced) Layers.byQuery(tracedPasses.toSeq) else Nil),
      "spans" -> (if (traced) Layers.spans(tracedPasses.toSeq) else Nil))
    // A record that cannot be written fails the run: nothing is reported
    // that the record does not back.
    mapper.writeValue(new File(opt("record")), record)
    0
  }
}
