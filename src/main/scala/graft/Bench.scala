package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // bench measures the engine's advertised session, filesystem included
    val spark = Harness.session("graft-bench")
    // Warmup at the smallest SF: codegen + JIT compile once so the timed
    // run measures steady-state operator cost, not whichever query happens
    // to pay first-touch compilation.
    // Deterministic name order, NOT Map iteration order: HashMap order
    // reshuffles whenever a query is added, silently moving different
    // queries into the noise-prone tail of the run — r3/r4 showed the last
    // three Map-order queries drifting 2-5× above their pins while a fresh
    // isolated run reproduced the pins exactly. Sorted order keeps
    // round-over-round numbers comparable.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    if (new java.io.File(Harness.WarmDir).isDirectory)
      ordered.foreach { case (name, fn) => Harness.warm(spark, name, fn) }
    // Drop warmup debris (persisted dedup frames, cached model predictions)
    // before timing: the timed loop should pay each operator's own cost,
    // not the GC pressure of another scale factor's leftovers.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // sample host weather around the timed window only (not warmup): the
    // artifact must say what the TIMINGS were taken under
    val weather0 = GraftSession.HostWeather.sample()
    // Per-QUERY steal (r19 verdict mandate): sample /proc/stat around each
    // query's own timed window, so a single storm pulse landing on one row
    // (the doc_semantic_dedup 44.7× pattern) adjudicates itself in-run
    // instead of needing an isolated `Harness one` re-run.
    val timed = ordered.map { case (name, fn) =>
      // release every cache the previous query left behind (dedup-tier
      // MEMORY_AND_DISK frames, cached model predictions) and quiesce the
      // heap, so a query is billed for its own cost — not the storage
      // pressure of the 70 queries before it. Mirrors the warmup reset.
      GraftSession.releaseAll(spark)
      // the steal window must COINCIDE with the wall-clock window: the
      // release/GC above is excluded from `sec`, so including its
      // user-mode GC ticks in Δuser would dilute a short query's
      // query_steal and blunt exactly the in-run adjudication this stamp
      // exists for (review catch, r20)
      val w0 = GraftSession.HostWeather.sample()
      val t0 = System.nanoTime()
      // toRdd.count() materializes every output InternalRow — a plain
      // .count() lets Catalyst prune the projections under test.
      try { fn(spark, sfDir).queryExecution.toRdd.count() }
      catch {
        // a failed query must be visibly broken in the artifact, never a
        // small "fast" timing: record the error keyed by query name. NonFatal
        // only: a fatal error ends the run (non-zero exit) instead of timing
        // the remaining queries on a broken JVM
        case NonFatal(e) =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val steal = GraftSession.HostWeather.json(w0, GraftSession.HostWeather.sample())
      (name, sec, steal)
    }
    // a failed query's elapsed time is meaningless (analysis bailed early)
    // and must never masquerade as a per-query cost or shrink the total —
    // only successes carry timings; failures live in the errors map
    val weather1 = GraftSession.HostWeather.sample()
    val stealJson = GraftSession.HostWeather.json(weather0, weather1)
    val kept = timed.filterNot { case (name, _, _) => errors.contains(name) }
    val results = kept.map { case (name, sec, _) => name -> sec }
    val querySteal = kept.map { case (name, _, steal) => name -> steal }
    val total = results.map(_._2).sum
    // Full-precision record → file, COMMITTED per round (BENCH_LAST.json).
    // The capture pipeline keeps only the LAST ~2000 chars of stdout, and
    // 90+ query names alone exceed that — no single full-precision stdout
    // line can survive it (r1-r7 all lost their head, every round's
    // `parsed` was null). The file is the durable record.
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query steal_pct (same Δsteal/Δuser convention as the run-level
    // stamp), keyed identically to `queries` — a >2× row whose own window
    // reads 30%+ steal names its weather without a re-run
    val stealQs = querySteal.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":" + Harness.jsonString(v) }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"query_steal":$stealQs,"sf":"$sfDir","steal_pct":$stealJson,"n_errors":${errors.size},"errors":$errJson}"""
    // A failed record write is reported and fails the run (after the
    // stdout lines, which stay as they are): a run whose durable record is
    // missing must not read as a success.
    val recordWritten =
      try {
        val out = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))
        java.nio.file.Files.write(out, fullJson.getBytes("UTF-8"))
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] writing the run record failed: $e")
          false
      }
    // Stdout, engineered for a 2000-char tail window:
    //   line 1 — every query at 3-decimal precision, CHEAPEST FIRST with
    //     the envelope at the end, so the only thing a tail cut can lose
    //     is the sub-0.1s noise floor, never the expensive queries;
    //   line 2 — a short, complete, parseable JSON summary (total + the
    //     top-12 most expensive queries), guaranteed inside the window,
    //     so a last-JSON-line parser always gets a valid record.
    def fmt(v: Double) = f"$v%.3f"
    val ascending = results.sortBy(_._2)
    val line1 = ascending.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{\"queries\":{", ",", "},\"metric\":\"total\",\"value\":" +
        fmt(total) + ",\"unit\":\"sec\",\"sf\":\"" + sfDir +
        "\",\"steal_pct\":" + stealJson + ",\"full\":\"BENCH_LAST.json\"}")
    val top = results.sortBy(-_._2).take(12)
    val stealOf = querySteal.toMap
    // the 12 most expensive rows carry their own window's steal inline —
    // exactly the rows a regression triage would ask about first
    val topSteal = top.map { case (k, _) =>
      s"\"" + k + "\":" + stealOf.getOrElse(k, "null") }
      .mkString("{", ",", "}")
    val line2 = top.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{\"metric\":\"total\",\"value\":" + fmt(total) +
        ",\"unit\":\"sec\",\"sf\":\"" + sfDir + "\",\"n_queries\":" +
        results.size + ",\"n_errors\":" + errors.size +
        ",\"steal_pct\":" + stealJson +
        ",\"query_steal\":" + topSteal + ",\"queries\":{", ",", "}}")
    println(line1)
    println(line2)
    spark.stop()
    if (!recordWritten) sys.exit(1)
  }
}
