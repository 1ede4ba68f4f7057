package graft

import scala.util.control.NonFatal

import graft.sources.LocalFs
import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local mode mirrors a multi-executor cluster via partitioning: AQE handles
  * runtime re-planning (skew joins, partition coalescing), shuffle
  * partitions are sized for the local core count (the 200 default is a
  * cluster-size knob), and auto-broadcast keeps dimension-table joins
  * shuffle-free.
  *
  * The builder also installs [[graft.sources.LocalFs]] for `file:` paths,
  * so a lake write or a streaming checkpoint on a local disk sets each
  * file's mode in-process instead of forking `chmod` for it (Hadoop does
  * that without its native library). Only the builder can: `SharedState`
  * opens the session's `file:` FileSystem when the session starts, and
  * Hadoop caches that instance for the whole JVM, so a session built
  * elsewhere keeps stock Hadoop's filesystem for the JVM's lifetime.
  */
object GraftSession {
  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Partition discovery: listing ≤128 partition dirs serially on the
      // driver is metadata-cheap everywhere (local fs, HDFS, object
      // stores), while the default threshold (32) launches a full Spark
      // JOB per read of a 33..128-dir table — a ~0.15 s roundtrip to list
      // KB of names, paid on EVERY lake re-read in the streaming refresh
      // gates (their state lakes are 64-shard by contract). Tables larger
      // than 128 dirs still get the distributed listing. Its sibling, the
      // schema-inference job a schema-less read launches to read ONE
      // footer, has no threshold to raise: graft.sources.Tables.parquet
      // reads that footer on the driver instead (no conf involved).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      // managed (bucketed) tables live in scratch space, never the repo cwd
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // `file:` through graft.sources.LocalFs, for Hadoop's FileSystem and
      // FileContext APIs: no chmod fork per file written (see above)
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)

  /** Production streaming state tuning: RocksDB-backed keyed state instead
    * of the default in-JVM-heap HDFSBackedStateStore. At scale the state of
    * windowed aggs / dedup / sessionization outgrows executor heaps —
    * RocksDB keeps it off-heap + on local disk with incremental (changelog)
    * checkpointing, the standard choice for large stateful streams. Confs
    * are read at stream start, so call before `.start()`. */
  def tuneStreaming(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark
  }

  /** The per-query isolation sweep shared by every harness that loops
    * queries in one JVM (Bench, Verify, Harness's `one`, `profile` and
    * `explain` modes, perfbench's runner — previously hand-kept copies
    * that had already drifted): tracked dedup caches (persistTracked)
    * belong to ONE query's lifetime, the eager curation fns materialize
    * checkpoint blocks at frame-construction time, and ~200 queries' worth
    * of residue in a single JVM is the exact driver-heap failure Verify's
    * full run hit before it got this sweep.
    * The trailing System.gc() gives the ContextCleaner's weak references a
    * collection point so broadcasts/shuffles don't ride the heap until an
    * allocation failure forces it. */
  def releaseAll(spark: SparkSession): Unit = {
    graft.operators.Dedup.unpersistIntermediates()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Host CPU weather for bench artifacts. This host suffers steal storms
    * (hypervisor CPU steal spiking to 25-110% of user time) that inflate
    * bench wall-clock 35-50% uniformly with zero code change — three rounds
    * of "regression" triage traced to weather, never code. Sampling
    * /proc/stat around the timed window and writing `steal_pct` into the
    * bench JSON lets any stormy run self-identify, so a reader never has to
    * reproduce the host's morning to interpret the numbers.
    * steal_pct convention = 100 * Δsteal / Δuser over the window, matching
    * the BASELINE.md adjudication notes ("steal ≈ N% of user"). */
  object HostWeather {
    /** (stealTicks, userTicks) from the aggregate `cpu` line of /proc/stat
      * (fields 8 and 1); None when the file is absent (non-Linux) or
      * unparseable — the bench then records steal_pct: null. */
    def sample(): Option[(Long, Long)] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu ")).flatMap { line =>
          val f = line.trim.split("\\s+")
          if (f.length > 8) Some((f(8).toLong, f(1).toLong)) else None
        } finally src.close()
      } catch { case NonFatal(_) => None }

    /** Percent of user CPU lost to steal between two samples, 1 decimal.
      * None if either sample failed or the user delta is zero (nothing ran). */
    def stealPctOfUser(before: Option[(Long, Long)],
                       after: Option[(Long, Long)]): Option[Double] =
      for {
        (s0, u0) <- before
        (s1, u1) <- after
        du = u1 - u0 if du > 0
      } yield math.round(1000.0 * (s1 - s0) / du) / 10.0

    /** JSON fragment value: the pct or `null` — valid JSON either way. */
    def json(before: Option[(Long, Long)], after: Option[(Long, Long)]): String =
      stealPctOfUser(before, after).map(_.toString).getOrElse("null")
  }
}
