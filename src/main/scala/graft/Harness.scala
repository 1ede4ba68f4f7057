package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The development harness: one main for the dev loops around
  * `SparkEntry.queries`, plus the session, warmup and JSON escaping that
  * `graft.Bench` and `graft.Verify` share with it.
  *
  * Usage: `runMain graft.Harness <mode> ...`, where mode is one of
  *   - `one <query> [iters=3] [sfDir=sf0.1]`: time one query best-of-N;
  *   - `profile <query> [sfDir=sf0.1]`: per-job wall, stages and tasks of
  *     one warmed run;
  *   - `rows <query> [sfDir=sf0.01] [maxRows=100]`: print a query's rows;
  *   - `explain [query ...]`: formatted physical plans (sf dir via
  *     SPARK_GRAFT_SF_DIR, default sf0.01);
  *   - `scalegen <srcSfDir> <dstDir> <factor>`: a scale-proof corpus.
  * An unknown mode or query name prints this usage on stderr and exits 2.
  */
object Harness {
  /** The generated testdata tree, one directory per scale factor. */
  private val Testdata = "/root/testdata"

  private val Usage =
    s"""usage: graft.Harness <mode> ...
      |  one <query> [iters=3] [sfDir=$Testdata/sf0.1]
      |  profile <query> [sfDir=$Testdata/sf0.1]
      |  rows <query> [sfDir=$Testdata/sf0.01] [maxRows=100]
      |  explain [query ...]   (sf dir via SPARK_GRAFT_SF_DIR, default $Testdata/sf0.01)
      |  scalegen <srcSfDir> <dstDir> <factor>""".stripMargin

  /** The scale factor every harness warms at. */
  val WarmDir = s"$Testdata/sf0.001"

  /** Local cores of every harness session: SPARK_GRAFT_CPUS when set,
    * otherwise every processor the JVM sees. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's advertised session (filesystem included, see
    * [[GraftSession]]) on `cores` local cores, logging at WARN. */
  def session(appName: String): SparkSession = {
    val spark = GraftSession.builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `fn` once at [[WarmDir]] so codegen and JIT compilation are paid
    * before anything is timed or profiled. NonFatal only: a fatal warmup
    * error must surface, not leave a cold query to be timed as if it were
    * warm. A non-fatal failure is said on stderr, so stdout stays the
    * record and a cold reading is identifiable. */
  def warm(spark: SparkSession, name: String,
           fn: (SparkSession, String) => DataFrame): Unit =
    try fn(spark, WarmDir).queryExecution.toRdd.count(): Unit
    catch {
      case NonFatal(e) =>
        System.err.println(s"[harness] warmup of $name failed (its timing is cold): ${e.getMessage}")
    }

  /** A JSON string literal: quote, backslash and ALL control characters
    * (< 0x20) escaped. Exception messages and hand-written oracle SQL can
    * carry any of them, and one raw U+0000-001F makes the whole artifact
    * unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = args.toList match {
    case "one" :: q :: rest if known(q) && rest.size <= 2 && rest.headOption.forall(posInt) =>
      one(q, rest.headOption.fold(3)(_.toInt),
        rest.lift(1).getOrElse(s"$Testdata/sf0.1"))
    case "profile" :: q :: rest if known(q) && rest.size <= 1 =>
      profile(q, rest.headOption.getOrElse(s"$Testdata/sf0.1"))
    case "rows" :: q :: rest if known(q) && rest.size <= 2 && rest.lift(1).forall(posInt) =>
      rows(q, rest.headOption.getOrElse(s"$Testdata/sf0.01"),
        rest.lift(1).fold(100)(_.toInt))
    case "explain" :: qs if qs.forall(known) =>
      explain(if (qs.nonEmpty) qs else SparkEntry.queries.keys.toSeq.sorted)
    case "scalegen" :: src :: dst :: f :: Nil if posInt(f) =>
      scaleGen(src, dst, f.toInt)
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def known(q: String): Boolean = SparkEntry.queries.contains(q)
  private def posInt(s: String): Boolean = s.toIntOption.exists(_ >= 1)

  /** Time a single query best-of-N: the reproduce-a-regression loop
    * without paying the full bench. */
  private def one(name: String, iters: Int, sfDir: String): Unit = {
    val fn = SparkEntry.queries(name)
    val spark = session("graft-one")
    warm(spark, name, fn)
    // host weather over the timed iterations (see GraftSession.HostWeather):
    // an adjudication reading carries its own steal context in the JSON line
    val weather0 = GraftSession.HostWeather.sample()
    val times = (1 to iters).map { _ =>
      // mirror Bench's per-query isolation exactly, incl. the dedup queue;
      // the per-(session, dir) trained-artifact memos stay, so iterations
      // after the first time the memoized steady state
      GraftSession.releaseAll(spark)
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val stealJson = GraftSession.HostWeather.json(weather0, GraftSession.HostWeather.sample())
    println(f"""{"query":"$name","best":${times.min}%.3f,"times":[${times.map(t => f"$t%.3f").mkString(",")}],"sf":"$sfDir","steal_pct":$stealJson}""")
    spark.stop()
  }

  /** Per-JOB attribution for one query, the rung between `one` (one
    * number) and the disabled UI: a listener records every job's
    * wall-clock over one warmed run, so a query's cost decomposes into its
    * serial action roundtrips. Construction-time jobs (eager
    * localCheckpoints, collects inside frame builders) appear the same as
    * action jobs, exactly the point: they bill the same. */
  private def profile(name: String, sfDir: String): Unit = {
    val fn = SparkEntry.queries(name)
    val spark = session("graft-profile")
    warm(spark, name, fn)
    GraftSession.releaseAll(spark)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, Int)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        // stage/task counts per job: the scheduling-overhead denominator —
        // a gate whose job-time sum is all sub-second jobs of 32 near-empty
        // tasks each is task-launch-bound, not data-bound
        val nStages = j.stageInfos.size
        val nTasks = j.stageInfos.map(_.numTasks).sum
        starts.put(j.jobId, (j.time, desc, nStages, nTasks)): Unit
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, desc, nStages, nTasks) =>
          rows.add((j.jobId, (j.time - t0) / 1e3, nStages, nTasks, desc)): Unit
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    // give the (async) listener bus a moment to drain before reading —
    // the public API exposes no waitUntilEmpty; job-end events for a
    // completed action land within milliseconds
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // late job-end events silently dropping rows would skew the very
    // attribution this mode exists for: name the jobs still open
    if (!starts.isEmpty)
      println(s"== WARNING: ${starts.size} job(s) started but no end event " +
        s"drained (ids ${starts.keys.asScala.toSeq.sorted.mkString(",")}) — " +
        "profile is incomplete ==")
    val all = rows.asScala.toSeq.sortBy(_._1)
    println(f"== $name: wall $wall%.2f s, ${all.size} jobs, " +
      f"job-time sum ${all.map(_._2).sum}%.2f s, " +
      f"stages ${all.map(_._3).sum}, tasks ${all.map(_._4).sum} ==")
    all.foreach { case (id, sec, nStages, nTasks, desc) =>
      println(f"job $id%4d  $sec%7.3f s  $nStages%2d st $nTasks%5d tk  ${desc.take(80)}")
    }
    spark.stop()
  }

  /** Print one query's schema and rows: the derive-a-golden /
    * eyeball-a-result loop (`explain` shows the plan, `one` the time). */
  private def rows(name: String, sfDir: String, maxRows: Int): Unit = {
    val spark = session("graft-rows")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.printSchema()
    df.show(maxRows, truncate = false)
    spark.stop()
  }

  /** Plan audit: the formatted physical plan of each named query, so scan
    * pushdown (`PushedFilters`/`ReadSchema`), broadcast vs shuffle joins,
    * partial aggregation and WholeStageCodegen spans can be reviewed per
    * operator. */
  private def explain(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$Testdata/sf0.01")
    val spark = session("graft-explain")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      // per-query isolation (the shared Verify/Bench sweep): the eager
      // curation fns materialize checkpoint blocks and tracked caches at
      // frame-CONSTRUCTION time, so the audit pays them too
      GraftSession.releaseAll(spark)
      // deep DAG-reuse queries (the incremental tier) expand to 60k+
      // lines under the tree PRINTER (the runtime plan is shared via
      // InMemoryRelation); cap the dump so the audit stays reviewable
      // — the numbered node tree and scan details land first
      try {
        val s = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        val lines = s.linesIterator.toSeq
        if (lines.size <= 4000) println(s)
        else println(lines.take(4000).mkString("\n") +
          s"\n... [${lines.size - 4000} more lines truncated — " +
          "printer expansion of a shared DAG, not plan size]")
      } catch {
        // NonFatal only: a fatal error ends the audit (non-zero exit)
        // instead of printing the remaining plans from a broken JVM
        case NonFatal(e) => println(s"ERROR: ${e.getMessage}")
      }
    }
    // the audit's own completeness receipt: a committed plans.txt whose
    // total doesn't match SparkEntry.queries.size is visibly stale
    println(s"\n========== TOTAL ${names.size} of ${SparkEntry.queries.size} registered ==========")
    spark.stop()
  }

  /** Scale-proof corpus builder: multiplies the `documents`, `embeddings`,
    * and `events` tables by an integer factor so scaling claims can be
    * measured one decade past the generated testdata SFs (sf0.1 × 10 ≈ sf1)
    * without touching the read-only testdata tree.
    *
    * Copy 0 is the original corpus byte-for-byte; copy k>0 remaps ids into a
    * disjoint range and rewrites content deterministically so the statistical
    * shape — not the literal rows — repeats:
    *   - documents: words are permuted by a per-copy vocabulary order
    *     (sort by xxhash64(word, k)). Token/char mass is preserved, and two
    *     docs that were exact duplicates stay exact duplicates within their
    *     copy (the permutation depends only on word+copy), so the dedup rate
    *     per copy matches the source corpus; across copies the shingle sets
    *     diverge, so the corpus does NOT become one giant near-dup cluster.
    *   - embeddings: per-component hash jitter (±0.005, the plantedAnnCorpus
    *     pattern) — distinct vectors with the source's cluster geometry.
    *
    * Output partition count scales with the factor so downstream reads see
    * sf1-shaped task parallelism, not one fat file.
    */
  private def scaleGen(src: String, dst: String, factor: Int): Unit = {
    val spark = session("graft-scalegen")
    val OFF = 10000000L // id offset per copy; testdata ids are ≪ 10M

    val docs = Tables.parquet(spark, s"$src/documents.parquet")
    val docCopies = (0 until factor).map { k =>
      if (k == 0) docs
      else {
        val words = split(col("text"), " ")
        val keyed = transform(words, w => struct(xxhash64(w, lit(k)).as("h"), w.as("w")))
        val permuted = concat_ws(" ",
          transform(array_sort(keyed), s => s.getField("w")))
        docs.select(
          (col("doc_id") + lit(k * OFF)).as("doc_id"),
          permuted.as("text"),
          col("lang"), col("source"),
          length(permuted).cast("long").as("n_chars"))
      }
    }.reduce(_ unionByName _)
    docCopies.repartition(factor * 4)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // events: same days, 10× the rows per day — how a bigger feed actually
    // looks (longer history would change day cardinality, not density).
    // The raw ts stays the nanos long the loaders expect (GraftSession
    // maps TIMESTAMP(NANOS) to long at read; written back as plain int64
    // it reads as long again). The id offset is a multiple of 10 so the
    // pmod-10 cohort/region distributions are preserved exactly.
    val ev = Tables.parquet(spark, s"$src/events.parquet")
    val evCopies = (0 until factor).map { k =>
      if (k == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(k * OFF))
        .withColumn("user_id", col("user_id") + lit(k * OFF))
    }.reduce(_ unionByName _)
    evCopies.repartition(factor * 4)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val emb = Tables.parquet(spark, s"$src/embeddings.parquet")
    val embCopies = (0 until factor).map { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * OFF)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((pmod(xxhash64(col("vec_id"), i, lit(k)), lit(1000L))
            .cast("float") - lit(500.0f)) / lit(100000.0f)))
          .cast("array<float>").as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embCopies.repartition(factor * 2)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    println(s"""{"scaled":"$dst","factor":$factor,"documents":${docCopies.count()},"embeddings":${embCopies.count()},"events":${evCopies.count()}}""")
    spark.stop()
  }
}
