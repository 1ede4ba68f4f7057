package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}

import graft.operators.Dedup

/** Partitioned parquet sinks — the write side of the reference pipeline,
  * re-expressed for a data lake instead of S3-objects + Postgres.
  *
  * The reference materializes one object per daily partition
  * (base_assets.py:150 `acled_data_to_s3` keyed by partition date) and then
  * upserts rows into Postgres by event key (base_assets.py:207
  * `ON CONFLICT (event_id_cnty) DO UPDATE`). On Spark at lake scale the
  * equivalents are:
  *
  *  - [[writePartitioned]]: date-partitioned parquet with *dynamic*
  *    partition overwrite — re-materializing a day replaces exactly that
  *    day's files and leaves every other partition untouched (Dagster's
  *    idempotent partitioned-asset contract).
  *  - [[upsertPartitioned]]: latest-wins merge by key that reads, merges,
  *    and rewrites ONLY the partitions the update batch touches. At 100 TB
  *    the update batch touches a handful of days; rewriting the whole table
  *    (or shuffling it) per load would be the scale bug.
  *
  * Every partitioned lake write in graft goes through [[writeLake]], and
  * every touched-partition rewrite (upsert merge, compaction, the stream
  * gates' keyed deltas, the packed lake's refresh) through
  * [[stagePartitions]], whose touched dirs [[partitionDir]] names as
  * Spark's writer does.
  *
  * Every lake mutation here ([[upsertPartitioned]], [[compactPartitions]],
  * [[writeBatchStamped]]) commits through [[LakeCommit]]'s one protocol:
  * stage the replacement beside the lake, swap it in by directory rename,
  * heal an interrupted swap on entry. Directory work goes through the
  * Hadoop [[FileSystem]] API resolved from the session's Hadoop conf, so
  * the same code commits on `file:`, `hdfs://`, and `s3a://` tables.
  */
object Sink {

  /** Write `df` as parquet partitioned by `partitionCol`, replacing only the
    * partitions present in `df` (dynamic overwrite), through [[writeLake]].
    * The dynamic mode is this writer's option, never the session's: a
    * session-wide setting would silently turn every later
    * `mode("overwrite").partitionBy` write in the session dynamic. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    writeLake(df, path, partitionCol, dynamic = true)

  /** The one `partitionBy` lake writer. Rows are spread by [[byPartition]]
    * first, so each partition is written by exactly one task — without
    * this every task holding any row of a day emits its own file per day
    * (tasks × days small files, the classic partitioned-write mistake at
    * scale). `sortBy` orders rows within each dir behind the partition
    * column, the order FileFormatWriter requires, so it adds no sort of its
    * own. Static overwrite unless `dynamic`: a staging dir is fresh, and
    * dynamic mode would add Spark's per-partition staging renames (its
    * one other difference: it leaves no `_SUCCESS` marker in `path`). */
  private[graft] def writeLake(df: DataFrame, path: String, partitionCol: String,
                               sortBy: Seq[String] = Nil, dynamic: Boolean = false): Unit = {
    val spread = byPartition(df, partitionCol)
    val rows =
      if (sortBy.isEmpty) spread
      else spread.sortWithinPartitions((partitionCol +: sortBy).map(col): _*)
    val w = rows.write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(partitionCol).parquet(path)
  }

  /** The spread of every partitioned lake write: hash `partitionCol` into
    * the session's shuffle-partition count. Each partition value lands in
    * exactly one task (one file per directory), and the explicit count
    * keeps AQE from coalescing the exchange, which at lake-refresh sizes
    * folded every day into one task and wrote the day files serially. */
  private[graft] def byPartition(df: DataFrame, partitionCol: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col(partitionCol))

  /** The directory name Spark's writer gives value `value` of
    * `partitionCol`: the value cast to string in the session time zone
    * (null and the empty string name the default partition, which Spark
    * reads back as null), escaped by `ExternalCatalogUtils`. A swap deletes
    * touched dirs by these names, so a wrong name would delete a live one. */
  private[graft] def partitionDir(partitionCol: String, value: Any): String =
    ExternalCatalogUtils.getPartitionPathString(partitionCol,
      Option(Cast(Literal(value), StringType, Option(SQLConf.get.sessionLocalTimeZone)).eval())
        .map(_.toString).filter(_.nonEmpty).getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))

  /** The one touched-partition rewrite: `rewrite` maps the rows of
    * `lake`'s partition dirs `touched` ([[partitionDir]] names, read by
    * path with `partitionCol` typed `partType` by [[Tables.partitions]],
    * so no value comparison can miss a dir) to their replacement, staged
    * for [[LakeCommit]] in its final `col=value` layout. The swap replaces
    * every touched dir and deletes each one the replacement left empty, so
    * rows `rewrite` adds must lie in touched dirs. The old rows are
    * by-name: a rewrite that ignores them reads nothing. Nothing touched,
    * nothing written. */
  private[graft] def stagePartitions(spark: SparkSession, lake: String, partitionCol: String,
                                     partType: DataType, touched: Seq[String],
                                     sortBy: Seq[String] = Nil)
                                    (rewrite: (=> DataFrame) => DataFrame): LakeCommit.Staged =
    LakeCommit.stage(spark, lake, touched) { dir =>
      if (touched.nonEmpty) writeLake(rewrite(
        Tables.partitions(spark, lake, touched, partitionCol, partType)), dir, partitionCol, sortBy)
    }

  /** [[stagePartitions]] over the partitions `values`' one column, the
    * partition column, holds, found in one job ([[distinctValues]]). */
  private def stageTouched(spark: SparkSession, lake: String, values: DataFrame)
                          (rewrite: (=> DataFrame) => DataFrame): LakeCommit.Staged =
    stagePartitions(spark, lake, values.columns.head, values.schema.head.dataType,
      distinctValues(values).toSeq.map(partitionDir(values.columns.head, _)).distinct)(rewrite)

  /** [[stagePartitions]] for a keyed delta: drop the rows of `removed`'s
    * `key`s and add `added`. The touched partitions are those `part` (the
    * partition value as an expression of the key) gives `removed`; every
    * key `added` holds must also be in `removed`. */
  private[graft] def stageKeyed(spark: SparkSession, lake: String, partitionCol: String,
                                part: Column, key: String, removed: DataFrame,
                                added: DataFrame): LakeCommit.Staged =
    stageTouched(spark, lake, removed.select(part.as(partitionCol)))(
      _.join(broadcast(removed), Seq(key), "left_anti")
        .unionByName(added.withColumn(partitionCol, part)))

  /** The distinct values of `df`'s one column in ONE Spark job: each task
    * dedups its own rows and the driver unions the per-task sets
    * (`distinct().collect()` takes two under AQE: the aggregate's shuffle
    * stage, then the collect). The driver holds O(tasks × values), so this
    * is for partition values, bounded by the table's partition count. */
  private[graft] def distinctValues(df: DataFrame): Array[Any] = {
    val rows = df.queryExecution.toRdd
    val dataType = df.schema.head.dataType
    val toScala = CatalystTypeConverters.createToScalaConverter(dataType)
    df.sparkSession.sparkContext.runJob(rows, DistinctRows, rows.partitions.indices)
      .flatten.distinct.map(r => toScala(r.get(0, dataType)))
  }

  /** One task's distinct rows, copied out of the reused row buffer. A named
    * function, not a lambda: before shipping a lambda Spark's closure
    * cleaner parses the bytecode of the class that defines it, which cost
    * the driver more time per call than the saved job (and the internal
    * lambdas of `Dataset.rdd` and `RDD.collect` pay the same parse). */
  private object DistinctRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    def apply(task: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
      val seen = scala.collection.mutable.HashSet.empty[InternalRow]
      rows.foreach(r => if (!seen.contains(r)) seen += r.copy())
      seen.toArray
    }
  }

  /** Latest-wins upsert of `updates` into the partitioned parquet table at
    * `path` — Postgres `ON CONFLICT (keys) DO UPDATE` semantics with
    * `orderCol` (+ `tieBreak`) deciding the winner, within the batch as
    * well as against the stored rows (the first load dedups too).
    *
    * Assumes the partition value is stable per key (true for the reference:
    * an event's date never moves across loads), so the merge only needs the
    * partitions present in the update batch: existing rows there are
    * unioned with the updates, deduped by (partition, key) — under the
    * contract the same rows as by key — and exactly those partitions are
    * replaced. The merge runs through ONE exchange: rows are hashed by the
    * partition column ([[byPartition]]), which already clusters the
    * latest-wins window on (partition, keys) and is the layout the write
    * wants, so the planner drops the write's own repartition. The touched
    * partitions are learned in one job ([[distinctValues]]). The merged
    * slice is staged beside the table by [[stagePartitions]] (Spark
    * correctly refuses a plan that reads the same files an overwrite is
    * deleting) and each staged partition directory is SWAPPED into the
    * table by [[LakeCommit]] — one write job per merge, no second overwrite
    * pass. The first load stages the whole table and swaps it in with one
    * rename.
    *
    * Crash safety (single writer): the swap never destroys the only copy
    * of a row, and entry first heals an interrupted run — an orphaned
    * tombstone is renamed back, so the replay merges against the
    * pre-merge rows, and a stale staging dir is cleared so it can never
    * be swapped in as current data. A replay of the same batch then
    * rewrites the merged partitions to the identical state.
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keys: Seq[String], orderCol: String, tieBreak: String,
                        partitionCol: String): Unit =
    LakeCommit.replace(spark, path) {
      def merge(rows: DataFrame) = Dedup.latestWins(byPartition(rows, partitionCol),
        (partitionCol +: keys).distinct, orderCol, tieBreak)
      // the first load stays a dynamic write: that commit leaves no
      // `_SUCCESS` marker in the staged root, which swaps in whole
      if (!LakeCommit.fileSystem(spark, path).exists(new Path(path)))
        LakeCommit.stage(spark, path, whole = true)(writePartitioned(merge(updates), _, partitionCol)) -> (())
      // Partition values in the batch: bounded by the table's partition
      // count (days), so the driver-side collect is O(days), never O(rows).
      else stageTouched(spark, path, updates.select(partitionCol)) { old =>
        merge(old.select(updates.columns.map(col): _*).unionByName(updates))
      } -> (())
    }

  /** Small-file compaction — the lake-maintenance pass every streamed or
    * micro-batched ingest eventually owes: each partition directory whose
    * data-file count exceeds `maxFilesPerPartition` is rewritten by ONE
    * task into one file (the same one-task-per-partition invariant
    * [[writeLake]] establishes at write time) by [[stagePartitions]], and
    * swapped in by [[LakeCommit]]'s tombstone-protected rename, so readers
    * never see a partially compacted partition and a crash strands no
    * data: entry heals an interrupted swap's tombstones before listing, so
    * an orphaned day is restored, audited and kept, never deleted.
    * Untouched partitions are not rewritten — the rewrite cost scales with
    * the fragmented fraction, not the table. Returns the per-partition
    * audit frame (partition value as text, null for the default partition;
    * n_rows AFTER the pass, files_before, files_after) — row counts must be
    * invariant, which is the correctness gate.
    *
    * Driver-side material is O(partitions) directory listings and audit
    * rows — bounded by days-of-history like the upsert's touched-partition
    * discovery. A partition too large for one file belongs in
    * [[writePartitionedSorted]]'s range-split layout instead; compaction
    * restores the small-file invariant, it does not re-shard. */
  def compactPartitions(spark: SparkSession, path: String, partitionCol: String,
                        maxFilesPerPartition: Int = 1): DataFrame = {
    val fs = LakeCommit.fileSystem(spark, path)
    def dataFiles(p: Path): Int = fs.listStatus(p).count { f =>
      f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".")
    }
    def fileCounts() = fs.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(s => s.getPath.getName -> dataFiles(s.getPath)).toMap
    val before = LakeCommit.replace(spark, path) {
      val files = fileCounts()
      val needy = files.collect { case (dir, n) if n > maxFilesPerPartition => dir }
      stagePartitions(spark, path, partitionCol, StringType, needy.toSeq)(old => old) -> files
    }
    val after = fileCounts()
    import spark.implicits._
    // rows per dir after the pass, each dir's value read off its name
    Tables.partitions(spark, path, after.keys.toSeq, partitionCol, StringType)
      .groupBy(partitionCol).count().as[(String, Long)].collect().toSeq.flatMap { case (v, n) =>
        val dir = partitionDir(partitionCol, v)
        before.get(dir).map((v, n, _, after(dir)))
      }.toDF(partitionCol, "n_rows", "files_before", "files_after")
  }

  /** Bucketed+sorted managed copy of a table: hash-bucketed on the join
    * keys so every subsequent join/aggregation on those keys is
    * CO-LOCATED — the physical plan carries no Exchange on the bucketed
    * side(s). This is the lake-layout half of shuffle discipline: pay the
    * shuffle once at write time, never again per query (Spark's answer to
    * the reference's indexed Postgres table). */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int, path: Option[String] = None): Unit = {
    val spark = df.sparkSession
    // A table dir left by a previous session blocks CTAS even in overwrite
    // mode (a fresh in-memory catalog has no claim on the location):
    // drop the catalog entry AND clear the orphan location first.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = path.getOrElse(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${table.toLowerCase}")
    reset(loc)
    val w = df.write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    // explicit path → external table (sessions with a cwd-default
    // warehouse, e.g. the driver's bare Verify session, stay scratch-clean)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Range-sorted layout: repartitionByRange on the sort keys (each output
    * file owns one contiguous key range) + sortWithinPartitions (rows
    * ordered inside each file), so every parquet row group carries TIGHT
    * min/max stats on those keys. A later range predicate (the time-bounded
    * report, the incremental re-read) is then answered by row-group
    * SKIPPING at scan time — files and row groups outside the range are
    * never decompressed. The third leg of the layout story next to daily
    * partitioning (coarse pruning) and bucketing (co-located joins):
    * partition for the coarse cut, sort for the fine cut. SinkSpec measures
    * the effect directly: the same range filter reads orders of magnitude
    * fewer rows off a sorted layout than an unsorted one. */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  files: Int = 32): Unit = {
    val cols = sortCols.map(df.col)
    df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** 2-D Morton (Z-order) key: interleaves the low 16 bits of two
    * non-negative integer columns (classic magic-mask bit spread — five
    * codegen'd bitwise ops per dimension, no UDF, no custom expression)
    * so rows close in BOTH dimensions land close in ONE sort order.
    * Callers quantize their natural domains to 16 bits first (a day
    * index, a user bucket); the z-value itself is never stored or
    * filtered on — it only drives layout, the scan still prunes on the
    * NATURAL columns' row-group min/max. */
  def zValue2(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** 3-D Morton key: interleaves the low 21 bits of three non-negative
    * integer columns (every third bit position), the same magic-mask
    * spread as [[zValue2]] with 3-way constants. The canonical production
    * clustering is exactly three dims — time × region × key — and the
    * 63-bit result still fits a signed long. */
  def zValue3(a: Column, b: Column, c: Column): Column = {
    def spread(x: Column): Column = {
      val x0 = x.cast("long").bitwiseAND(lit(0x1FFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 32)).bitwiseAND(lit(0x1F00000000FFFFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 16)).bitwiseAND(lit(0x1F0000FF0000FFL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
      val x4 = x3.bitwiseOR(shiftleft(x3, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
      x4.bitwiseOR(shiftleft(x4, 2)).bitwiseAND(lit(0x1249249249249249L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1)).bitwiseOR(shiftleft(spread(c), 2))
  }

  /** Z-ordered layout: the multi-dimensional extension of [[writeSorted]]
    * (Delta/Iceberg's OPTIMIZE ZORDER re-expressed as plain Spark).
    * A 1-D range sort gives ONE column tight row-group min/max; a query
    * bounding a DIFFERENT column skips nothing. Z-order clusters on the
    * Morton interleave of two quantized dimensions, so every file/row
    * group covers a small TILE of the (a, b) plane and carries tight
    * stats on BOTH natural columns — a predicate on either (or both)
    * skips at scan time. The z-expression drives `repartitionByRange` +
    * `sortWithinPartitions` directly and is never materialized into the
    * output. At 100 TB this is the difference between "time-bounded
    * queries are cheap" and "time-OR-key-bounded queries are cheap"
    * from one copy of the table.
    *
    * Dimensions are RANGE-QUANTIZED to the 16-bit Morton domain from
    * their actual min/max (one map-side-combined agg + a two-value
    * driver collect — the same stats pass Delta's OPTIMIZE runs), so
    * callers pass natural columns and the layout is correct at ANY
    * domain width. Passing a raw wide column through [[zValue2]]'s
    * `& 0xFFFF` would alias distant values into the same tile and
    * silently void the clustering — exactly the failure mode the
    * quantization exists to prevent. */
  def writeZOrdered(df: DataFrame, path: String, dimA: Column, dimB: Column,
                    files: Int = 32): Unit = {
    val Seq(qa, qb) = quantized(df, Seq(dimA, dimB), bits = 16)
    writeByZ(df, path, zValue2(qa, qb), files)
  }

  /** Three-dimensional [[writeZOrdered]] — time × region × key, the
    * clustering a 100 TB fact table actually wants. Same stats-pass
    * quantization, 21 bits per dimension through [[zValue3]]. */
  def writeZOrdered3(df: DataFrame, path: String, dimA: Column, dimB: Column,
                     dimC: Column, files: Int = 32): Unit = {
    val Seq(qa, qb, qc) = quantized(df, Seq(dimA, dimB, dimC), bits = 21)
    writeByZ(df, path, zValue3(qa, qb, qc), files)
  }

  /** Range-quantize each dimension to `bits` from its actual min/max —
    * one map-side-combined agg, one 2·N-value driver collect. Constant
    * dimensions (hi == lo) quantize to 0 rather than dividing by zero. */
  private def quantized(df: DataFrame, dims: Seq[Column], bits: Int): Seq[Column] = {
    val aggs = dims.flatMap(d => Seq(min(d).cast("double"), max(d).cast("double")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val maxQ = ((1L << bits) - 1).toDouble
    dims.zipWithIndex.map { case (d, i) =>
      val lo = Option(row.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
      val hi = Option(row.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double])
      if (hi <= lo) lit(0L)
      else floor((d.cast("double") - lit(lo)) * lit(maxQ / (hi - lo))).cast("long")
    }
  }

  private def writeByZ(df: DataFrame, path: String, z: Column, files: Int): Unit =
    df.repartitionByRange(files, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(path)

  /** The composed lake layout a production table actually uses: daily
    * partition directories for the COARSE cut (partition pruning removes
    * whole days from the file listing, before any I/O) + range-sorted rows
    * WITHIN each partition for the FINE cut (every parquet row group
    * carries tight min/max on `sortCols`, so an intra-day predicate skips
    * row groups at scan time). The two prunes multiply: a "last hour of
    * one day" query off a 100 TB table lists one directory and
    * decompresses a handful of row groups (reference base_assets.py:150
    * writes the daily objects; report.py:37 bounds reads by a time
    * window — this layout serves both from one copy).
    *
    * One `repartitionByRange(files, partitionCol +: sortCols)` drives
    * BOTH properties: tasks own contiguous (partition, sort-key) ranges,
    * so each day's files come from at most a couple of tasks (no
    * tasks×days small-file explosion) and `sortWithinPartitions` orders
    * rows inside every file. Dynamic overwrite keeps the daily-reload
    * idempotence of [[writePartitioned]]: re-materializing a day replaces
    * exactly that day's directory (a writer option, as there). */
  def writePartitionedSorted(df: DataFrame, path: String, partitionCol: String,
                             sortCols: Seq[String], files: Int = 32): Unit = {
    val cols = (partitionCol +: sortCols).map(df.col)
    df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)
  }

  /** Deterministic shard assignment for [[exportShards]]: the first 4 hex
    * digits of md5(id) mod nShards — pure key arithmetic, so it replays
    * bit-for-bit in any engine (the same trick as the token_budget_sample
    * draw order) and re-running the export moves NOTHING. */
  def shardAssign(idCol: Column, nShards: Int): Column =
    conv(substring(md5(idCol.cast("string")), 1, 4), 16, 10)
      .cast("long") % nShards

  /** Training-shard export — the last step of a curation pipeline: a
    * DETERMINISTIC global shuffle of the corpus into `nShards` fixed
    * shards, one file per shard, each shard internally ordered by the
    * md5 draw key (documents that sat adjacent in the lake end up spread
    * across shards and positions — the "shuffle your training data"
    * contract, reproducible run over run because the permutation is pure
    * key arithmetic, not an RNG).
    *
    * Writes `partitionBy(shard)` parquet and returns the MANIFEST read
    * back from the WRITTEN tree (never from the input plan): per shard,
    * doc count, whitespace-token count, and an order-insensitive content
    * checksum (sum of md5-prefix values mod 1e9+7 — modular so a
    * billion-row shard cannot overflow the Long sum under ANSI). A
    * training job consumes shards by manifest; the checksum pins that
    * what landed on disk is what the source held.
    *
    * Scale shape: one hash shuffle on the shard id (every row of a shard
    * lands in one task — `repartition(col)` guarantees co-location, so
    * each shard directory gets exactly one file), one sort within each
    * task, and the manifest aggregation map-side-combines to nShards
    * rows. nShards bounds file count AND per-task memory: size it so
    * corpus/nShards fits a task's spill budget (at 100 TB and 4096
    * shards that's ~25 GB/shard — an external sort, which Spark's task
    * sort handles by spilling; push nShards up to trade file count for
    * task memory). */
  def exportShards(spark: SparkSession, df: DataFrame, path: String,
                   nShards: Int, idCol: String, textCol: String): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val keyed = df
      .withColumn("shard", shardAssign(col(idCol), nShards))
      .withColumn("__order", md5(col(idCol).cast("string")))
    // sort leads with the partition column: FileFormatWriter REQUIRES
    // task rows ordered by partition cols (a hash task can hold several
    // shards) and injects its own non-order-preserving sort when the
    // incoming order doesn't already satisfy that — leading with `shard`
    // makes the one sort here serve both the writer's requirement and
    // the draw order
    keyed
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__order"))
      .drop("__order")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    Tables.parquet(spark, path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(filter(split(col(textCol), "\\s+"), w => w =!= "")))
          .cast("long").as("n_tokens"),
        sum(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000007L).as("checksum"))
  }

  /** Packed-token-stream export — the seam between curation and training
    * closed: the (shard, seq_id, pos, token_id) stream a training job
    * memory-maps, landed as one parquet file per shard with rows in
    * stream order, plus a MANIFEST recomputed from the WRITTEN tree
    * (the [[exportShards]] contract: what the manifest pins is what is
    * on disk, not what the input plan promised).
    *
    * The manifest checksum is position-weighted — Σ (pos+1)·token_id
    * mod 1e9+7 — so it pins every token to its stream position: a
    * swapped pair, a shifted sequence, or a dropped token each flip it.
    * Per-row mod keeps the running Long sum safe under ANSI to ~1e9
    * rows per shard (same bound as [[exportShards]]'s checksum; size
    * nShards to stay under it).
    *
    * Scale shape: one hash shuffle on the shard id ([[writeLake]]'s
    * spread: each shard directory gets exactly one file), one in-task sort
    * leading with the partition column so FileFormatWriter injects no
    * second sort, and the manifest aggregation map-side-combines to
    * nShards rows. */
  def exportTokenStream(spark: SparkSession, stream: DataFrame,
                        path: String): DataFrame = {
    // segment-aware extension (D29c): a stream carrying `seg_id` (the
    // per-token document-boundary column an attention mask consumes)
    // lands it beside token_id, and the manifest grows two columns —
    // per-shard segment count and a position-weighted SEGMENT checksum
    // (same Σ (pos+1)·x mod p construction as the token checksum), so a
    // dropped or shifted document boundary flips the manifest even when
    // every token survived. Streams without the column keep the original
    // 4-column manifest bit-for-bit.
    val hasSegs = stream.columns.contains("seg_id")
    writeLake(stream, path, "shard", sortBy = Seq("seq_id", "pos"))
    def weighted(c: String) = sum((col("pos") + 1L) * col(c) % 1000000007L).cast("long")
    val aggs = Seq(countDistinct(col("seq_id")).as("n_seqs"), count(lit(1)).as("n_tokens"),
      weighted("token_id").as("checksum")) ++ (if (!hasSegs) Nil else Seq(
      countDistinct(col("seq_id"), col("seg_id")).as("n_segments"), weighted("seg_id").as("seg_checksum")))
    Tables.parquet(spark, path).groupBy(col("shard").cast("long").as("shard"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Idempotent micro-batch append for foreachBatch sinks: the batch's
    * rows land in the batchId-named partition dir `batch=<id>` under
    * `outDir`, staged and renamed into place by [[LakeCommit]] (the
    * staged dir is `batch=<id>` itself, written without `partitionBy`, so
    * no sort is added). Structured Streaming's replay unit IS the batchId — a
    * micro-batch that fails after a partial write (or completes but loses
    * its offset commit) replays under the SAME id with the SAME rows (the
    * file source pins the batch's files in the checkpoint offset log), so
    * the swap lands the identical output on the identical directory: the lake holds exactly ONE copy of every batch's rows
    * however many times delivery was attempted. Exactly-once lake
    * contents on top of at-least-once execution — the mechanics of Delta/
    * Iceberg's idempotent streaming writes, reduced to the directory-
    * rename commit every lake here uses.
    * Per-batch cost is constant in the lake's size (one staged write +
    * one rename), unlike a keyed MERGE whose read-merge-rewrite grows
    * with the table — the property that keeps a serving stream viable
    * when the accumulated lake is 100 TB. Readers discover `batch` as an
    * ordinary Spark partition column: the delivery ledger comes free. */
  def writeBatchStamped(batch: DataFrame, outDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    LakeCommit.replace(spark, outDir) {
      LakeCommit.stage(spark, outDir) { dir =>
        batch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      } -> (())
    }
  }

  /** Drop a sink table (scratch/test lifecycles). Routed through the
    * session's Hadoop FileSystem so scheme-qualified lake paths work the
    * same as local ones; falls back to a default Hadoop configuration when
    * no session is alive (test teardown after spark.stop()). */
  def reset(path: String): Unit = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true): Unit
  }

  /** Run MUTUALLY INDEPENDENT Spark actions concurrently from a bounded
    * daemon pool and rethrow the first failure unwrapped (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — overlapping independent jobs lets the next job's
    * tasks back-fill the cores the previous job's straggler tail leaves
    * idle, and at local bench scale it collapses N serial
    * planning/listing roundtrips into max(N)). Nothing here orders
    * effects BETWEEN tasks, so callers own the independence proof: no
    * task may read a path another task writes. Spark's scheduler runs
    * concurrent jobs FIFO and its session/catalog are thread-safe for
    * action submission; job-description thread-locals are not inherited,
    * which only affects UI labels. Returns the tasks' results in order. */
  private[graft] def inParallel[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.sizeIs <= 1) tasks.map(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        tasks.size,
        (r: Runnable) => {
          val t = new Thread(r, "graft-par"); t.setDaemon(true); t
        })
      try {
        val fs = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = t()
          })
        }
        // Await EVERY task before returning or rethrowing: an orphaned
        // in-flight Spark write racing a caller's same-JVM retry could
        // rename stale files into a freshly re-staged dir and corrupt the
        // commit protocol. Nothing is cancelled: the pool has a thread per
        // task, so every task is already running, and a cancelled
        // FutureTask's get() returns at once while its thread runs on.
        var firstFailure: Throwable = null
        val results = fs.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null) firstFailure = e.getCause
              null.asInstanceOf[T]
          }
        }
        if (firstFailure != null) throw firstFailure
        results
      } finally { pool.shutdown(): Unit }
    }

  /** Handle for one background Spark action started by [[withBackground]]:
    * `await()` joins it and rethrows its failure UNWRAPPED. Await is
    * idempotent, so a data-dependent join point (a by-name frame whose
    * construction must not run until the task completes) and a belt
    * `await()` before a commit marker can both call it. */
  private[graft] final class Background(
      ft: java.util.concurrent.FutureTask[Unit]) {
    def await(): Unit =
      try ft.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
  }

  /** The single-task sibling of [[inParallel]] for overlaps whose join
    * point is DATA-DEPENDENT rather than structural: start `task` on a
    * daemon thread now, and let the caller place `await()` exactly where
    * the first effect-ordering dependency sits (e.g. a lake read that
    * must see the task's completed swap). The same independence contract
    * as inParallel applies up to that point: nothing the caller runs
    * before `await()` may read a path the task writes. The task is
    * joined before `body`'s result returns and also before its failure
    * propagates (the task's own failure then dropped): as in inParallel,
    * an orphaned lake write racing the caller's retry could rename stale
    * files into a freshly re-staged dir. */
  private[graft] def withBackground[T](task: () => Unit)(body: Background => T): T = {
    val ft = new java.util.concurrent.FutureTask[Unit](
      new java.util.concurrent.Callable[Unit] { def call(): Unit = task() })
    val t = new Thread(ft, "graft-bg")
    t.setDaemon(true)
    t.start()
    val bg = new Background(ft)
    val result =
      try body(bg)
      catch { case e: Throwable => scala.util.Try(bg.await()); throw e }
    bg.await()
    result
  }
}
