package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Parquet table loaders for the driver testdata layout
  * (`<sfDir>/<table>.parquet`), and [[parquet]], the one parquet read every
  * table, lake and sink read-back in graft goes through ([[partitions]]
  * reads chosen partition dirs of a lake the same way).
  *
  * A schema-less `spark.read.parquet` infers its schema by launching a Spark
  * job (`parallelize(files).mapPartitions(readFooter).collect()`) even when,
  * with schema merging off, it reads exactly ONE footer: a scheduler
  * roundtrip (about 0.06 s per read on 4 local cores), paid by every query
  * before its plan exists. [[parquet]] picks the same file on the driver, reads its footer
  * on the calling thread with Spark's own footer→schema conversion, and
  * hands the result to `spark.read.schema(..)`: no job, same schema.
  * Partition columns are still discovered from the directory names, and
  * Catalyst column pruning and predicate pushdown still reach the scan —
  * callers select/filter and the parquet reader only materializes what the
  * plan needs (verify with `.explain("formatted")`: `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` without the schema-inference job.
    * Where the footer is not the whole story Spark's own read decides,
    * errors included: schema merging on, summary files (`_metadata`), data
    * files below non-partition subdirectories, a path with no data file,
    * and a path the listing or the footer read fails on — missing, a glob,
    * not parquet (Spark re-raises the failure in its own words). */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The rows of `lake`'s partition dirs named `dirs` (no other dir is
    * listed; a name with no dir reads as no rows), with `partitionCol`
    * parsed from each dir's own name as `partType`, not inferred: a string
    * partition `01` reads back as `"01"`, never as the int 1. */
  private[graft] def partitions(spark: SparkSession, lake: String, dirs: Seq[String],
                                partitionCol: String, partType: DataType): DataFrame = {
    val present = LakeCommit.fileSystem(spark, lake).listStatus(new Path(lake))
      .map(_.getPath.getName).toSet
    val paths = dirs.distinct.filter(present).map(new Path(lake, _).toString)
    val read = if (paths.isEmpty) Seq(lake) else paths
    val base = spark.read.option("basePath", lake)
    val data = footerSchema(spark, read).getOrElse(base.parquet(read: _*).schema)
    val rows = base.schema(StructType(data.filterNot(_.name == partitionCol) :+
      StructField(partitionCol, partType))).parquet(read: _*)
    if (paths.isEmpty) rows.where(lit(false)) else rows
  }

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    // with schema merging on every footer matters: Spark must read them all
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else
      try {
        val conf = spark.sessionState.newHadoopConf()
        // a streaming file sink's output is read through its log, not a listing
        val sinkFiles = if (paths.size == 1) GraftParquetBridge.sinkLogFiles(spark, conf, paths.head) else None
        val files = sinkFiles.map(_.map(_ -> true)).getOrElse(paths.flatMap(leafFiles(conf, _)))
        // ParquetUtils.inferSchema without mergeSchema: the first file by full path
        if (!files.forall(_._2)) None
        else files.map(_._1).sortBy(_.getPath.toString).headOption
          .map(GraftParquetBridge.footerSchema(spark, conf, _))
      } catch { case NonFatal(_) => None }

  /** The files below `root` that Spark's file index lists, by a recursive
    * listing that skips hidden names exactly as `HadoopFSUtils` does, each
    * paired with whether the index hands it to schema inference as a data
    * file: summary files (`_metadata`) and files below a plain (not
    * `key=value`) subdirectory are not, and make [[parquet]] defer. */
  private def leafFiles(conf: Configuration, root: String): Seq[(FileStatus, Boolean)] = {
    val raw = new Path(root)
    val fs = raw.getFileSystem(conf)
    def list(dir: Path, partitionDir: Boolean): Seq[(FileStatus, Boolean)] =
      fs.listStatus(dir).toSeq.filterNot(s => GraftParquetBridge.hiddenName(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) list(s.getPath, s.getPath.getName.contains("="))
        else Seq(s -> (partitionDir && !s.getPath.getName.startsWith("_")))
      }
    list(fs.makeQualified(raw), partitionDir = true)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The events feed's `ts` column has shipped in two parquet encodings:
    * native `timestamp[us]` (current testdata — arrives as TIMESTAMP or
    * TIMESTAMP_NTZ depending on isAdjustedToUTC) and legacy
    * TIMESTAMP(NANOS), which Spark's vectorized reader only accepts as a
    * raw nanos long (`spark.sql.legacy.parquet.nanosAsLong`). Branch on
    * the scanned type: native timestamps are normalized to session-local
    * TimestampType (identity under the UTC session timezone GraftSession
    * pins), legacy nanos are truncated to microseconds. Either way the
    * projection rides the scan's codegen stage; no extra pass. */
  def events(s: SparkSession, d: String): DataFrame = {
    ensureNanosAsLong(s)
    val raw = load(s, d, "events")
    tsCodec(raw).normalize(raw)
  }

  /** The ONE dispatch on the scanned `ts` type. Both events entry points
    * route through it, so a new encoding (or a fix to an existing one)
    * lands in `events` and `eventsWindowed` in lockstep — round 10 showed
    * what a divergence here costs (47 queries silently unrunnable).
    * `bound` produces a literal OF THE SCANNED TYPE so window predicates
    * stay in `PushedFilters`; `normalize` is the post-filter projection to
    * session-local TimestampType (identity under the pinned UTC zone). */
  private final case class TsCodec(
      bound: java.time.LocalDateTime => Column,
      normalize: DataFrame => DataFrame)
  private def tsCodec(raw: DataFrame): TsCodec =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy TIMESTAMP(NANOS)
        TsCodec(
          ldt => lit(ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L),
          df => df.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
      case org.apache.spark.sql.types.TimestampType =>
        TsCodec(
          ldt => lit(java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))),
          identity)
      case org.apache.spark.sql.types.TimestampNTZType =>
        // reinterpret as UTC instant (session tz is UTC)
        TsCodec(
          ldt => lit(ldt),
          df => df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case other =>
        // Fail FAST and by name: a silently-mishandled ts encoding is the
        // exact divergence class behind the round-10 incident (47 queries
        // unrunnable). A new testdata encoding must land here explicitly.
        throw new IllegalStateException(
          s"events.ts scanned as unsupported type $other — add an explicit " +
            "TsCodec arm (known: LongType nanos, TimestampType, TimestampNTZType)")
    }

  /** Guarded fallback for externally-built sessions (the driver's bare
    * smoke session): GraftSession asserts the nanos-as-long reader mapping
    * at build/tune time, so for graft-built sessions this never mutates.
    * Memoized per session (weak keys — sessions are never retained), so
    * per-query paths touch the conf at most once per session lifetime. */
  private val nanosChecked =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private def ensureNanosAsLong(s: SparkSession): Unit =
    if (nanosChecked.putIfAbsent(s, java.lang.Boolean.TRUE) == null &&
        !s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Events bounded to [start, end) with the predicate applied ON THE
    * SCANNED COLUMN, before any normalizing projection: a comparison
    * against a literal of the scan's own type reaches the parquet reader
    * (`PushedFilters` → row-group/file pruning), where the same bound
    * written against a converted column stays a post-scan filter — the
    * difference between reading a week and scanning 100 TB. Bounds are UTC
    * `yyyy-MM-dd[ HH:mm:ss]` strings; both bounds are whole seconds, so
    * the typed predicates are exactly equivalent across encodings. */
  def eventsWindowed(s: SparkSession, d: String, start: String, end: String): DataFrame = {
    ensureNanosAsLong(s)
    def ldt(x: String): java.time.LocalDateTime =
      if (x.length == 10) java.time.LocalDate.parse(x).atStartOfDay()
      else java.time.LocalDateTime.parse(x.replace(' ', 'T'))
    val raw = load(s, d, "events")
    val codec = tsCodec(raw)
    codec.normalize(
      raw.filter(col("ts") >= codec.bound(ldt(start)) &&
        col("ts") < codec.bound(ldt(end))))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
