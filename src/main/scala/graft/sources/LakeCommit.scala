package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one lake-commit protocol. Every rename, delete and marker a lake
  * mutation makes goes through the four operations here; nothing else in
  * `graft` moves lake directories (`Sink.reset` only drops a whole
  * scratch table).
  *
  *  - [[stage]]: clear the lake's one staging directory (`<lake>__staging`)
  *    and write the replacement there in its final partition layout
  *    (`col=value` dirs), or as a whole new lake. A touched-partition
  *    rewrite stages through `Sink.stagePartitions`, which names the
  *    touched dirs with `Sink.partitionDir`, Spark's own encoding, and
  *    reads their old rows by path.
  *  - [[swap]]: move the staged data into place by rename, never by a
  *    second Spark write. Per partition: touched partitions the staged data
  *    emptied are deleted FIRST, then each staged dir swaps in (live dir →
  *    `<lake>__tombstone/`, staged dir → live), then the tombstones go, and
  *    the staging directory is removed LAST — so a missing staging dir means
  *    every effect of the swap, deletes included, completed. A whole lake
  *    swaps the same way through `<lake>__tombstone_dir`.
  *  - [[heal]]: on entry to every commit, restore a tombstone whose live
  *    dir is missing (a crash between the two renames: the tombstone is the
  *    only copy) and drop the rest. The two tombstone names stay apart so
  *    heal never has to guess whether a directory holds partitions or is an
  *    old unpartitioned lake.
  *  - [[commit]]: several lakes under one marker, the idempotent sink keyed
  *    by the batch id (Structured Streaming's epoch-keyed commit). Stage
  *    every lake, write the marker (`<first lake>__commit`, temp file plus
  *    rename) listing each lake's touched and written partitions, swap every
  *    lake, retire the marker. A replay that finds its own batch's marker
  *    finishes the swaps from the marker's FROZEN lists instead of
  *    recomputing — a half-swapped state is exactly what a delta recompute
  *    must never read — and a marker of an older batch is finished first.
  *    The written lists must be frozen, not re-listed: a half-swapped
  *    staging dir has lost the entries already moved, and re-listing would
  *    misread them as emptied partitions and delete fresh data.
  *
  * [[replace]] is heal + stage + swap of one lake with no marker, for the
  * commits whose replay recomputes the same result from whatever the lake
  * holds (a latest-wins upsert, a compaction, a batch-stamped append, an
  * incremental refresh from the caller's durable inputs).
  *
  * Single writer per lake. A concurrent reader can see a partition missing
  * between the two renames of its swap; reader-snapshot isolation needs a
  * manifest-committing table format. Renames are atomic per directory on
  * local disk and HDFS; on object stores they degrade to copy-commit with
  * the same ordering.
  */
object LakeCommit {

  /** One lake's staged replacement, as its swap needs it. `touched` are the
    * lake's partition dirs the commit replaces (those missing from
    * `written` are deleted); `written` are the partition dirs staged. A
    * `whole` replacement swaps the entire lake directory. */
  final case class Staged(lake: String, whole: Boolean,
                          touched: Seq[String], written: Seq[String])

  private def sibling(lake: String, suffix: String) = lake.stripSuffix("/") + suffix
  private[graft] def staging(lake: String): String = sibling(lake, "__staging")
  private def tombstones(lake: String) = sibling(lake, "__tombstone")
  private def tombstoneDir(lake: String) = sibling(lake, "__tombstone_dir")
  private def marker(lake: String) = sibling(lake, "__commit")

  /** Every directory or file the protocol may leave beside `lake` when a
    * commit is interrupted; a settled lake has none of them. */
  private[graft] def leftovers(lake: String): Seq[String] =
    Seq(staging(lake), tombstones(lake), tombstoneDir(lake), marker(lake),
      marker(lake) + ".tmp")

  /** Crash-injection seam: called with a stable label (`stage wins`,
    * `swap-out scrub/__shard=3`, `marker write`) before every mutation
    * step. A no-op unless a spec installs a hook. */
  @volatile private[graft] var beforeStep: String => Unit = _ => ()

  private def step(label: String)(mutation: => Unit): Unit = {
    beforeStep(label)
    mutation
  }

  /** Clear `lake`'s staging directory and let `write` fill it (the
    * argument is the staging path). Partitioned replacements are written
    * as `col=value` dirs; the staged dirs are read off a driver listing (no
    * Spark job). A `write` that writes nothing stages nothing to swap. */
  def stage(spark: SparkSession, lake: String, touched: Seq[String] = Nil,
            whole: Boolean = false)(write: String => Unit): Staged = {
    val fs = fileSystem(spark, lake)
    val dir = new Path(staging(lake))
    step(s"stage ${name(lake)}") {
      fs.delete(dir, true)
      write(dir.toString)
    }
    val written =
      if (whole || !fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.contains("="))
    Staged(lake, whole, touched, written)
  }

  /** Move a [[stage]]d replacement into its lake. Idempotent under
    * replay: staged dirs already moved are absent and skipped, and a
    * missing staging dir means the swap completed. */
  def swap(spark: SparkSession, s: Staged): Unit = {
    val fs = fileSystem(spark, s.lake)
    val (lake, dir, n) = (new Path(s.lake), new Path(staging(s.lake)), name(s.lake))
    if (!fs.exists(dir)) return
    if (s.whole) {
      val (tomb, existed) = (new Path(tombstoneDir(s.lake)), fs.exists(lake))
      if (existed) step(s"swap-out $n")(rename(fs, lake, tomb))
      step(s"swap-in $n")(rename(fs, dir, lake))
      if (existed) step(s"tomb-drop $n")(fs.delete(tomb, true): Unit)
    } else {
      val tombs = new Path(tombstones(s.lake))
      s.touched.filterNot(s.written.toSet).foreach { p =>
        step(s"drop $n/$p")(fs.delete(new Path(lake, p), true): Unit)
      }
      val pending = fs.listStatus(dir).map(_.getPath.getName).toSet
      val moves = s.written.filter(pending)
      // a batch-stamped lake's first commit swaps into a missing root
      if (moves.nonEmpty && !fs.exists(lake)) step(s"mkdir $n")(fs.mkdirs(lake): Unit)
      var tombed = false
      moves.foreach { p =>
        val live = new Path(lake, p)
        if (fs.exists(live)) step(s"swap-out $n/$p") {
          if (!tombed) fs.mkdirs(tombs)
          rename(fs, live, new Path(tombs, p))
          tombed = true
        }
        step(s"swap-in $n/$p")(rename(fs, new Path(dir, p), live))
      }
      if (tombed) step(s"tomb-drop $n")(fs.delete(tombs, true): Unit)
      step(s"unstage $n")(fs.delete(dir, true): Unit)
    }
  }

  /** Restore or drop the leftovers of an interrupted [[swap]] of `lake`:
    * a tombstone whose live dir is missing is the only copy and moves
    * back; every other tombstone belongs to a swap that completed. */
  def heal(spark: SparkSession, lake: String): Unit = {
    val fs = fileSystem(spark, lake)
    val (root, n) = (new Path(lake), name(lake))
    val tombs = new Path(tombstones(lake))
    if (fs.exists(tombs)) {
      fs.listStatus(tombs).map(_.getPath)
        .filterNot(t => fs.exists(new Path(root, t.getName)))
        .foreach { t =>
          step(s"heal-restore $n/${t.getName}")(rename(fs, t, new Path(root, t.getName)))
        }
      step(s"heal-drop ${tombs.getName}")(fs.delete(tombs, true): Unit)
    }
    val tomb = new Path(tombstoneDir(lake))
    if (fs.exists(tomb)) {
      if (fs.exists(root)) step(s"heal-drop ${tomb.getName}")(fs.delete(tomb, true): Unit)
      else step(s"heal-restore $n")(rename(fs, tomb, root))
    }
  }

  /** heal + stage + swap of one lake, with no marker. `stageIt` runs after
    * the heal, so every partition it reads is in place; its second value
    * is returned. */
  def replace[T](spark: SparkSession, lake: String)(stageIt: => (Staged, T)): T = {
    heal(spark, lake)
    val (s, result) = stageIt
    swap(spark, s)
    result
  }

  /** Commit `batchId` to several lakes under one marker (see the object
    * doc). `stageAll` runs only when no marker of this batch exists; it
    * must stage every lake in `lakes` and may run pre-marker steps of its
    * own (they must be safe to recompute). */
  def commit(spark: SparkSession, lakes: Seq[String], batchId: Long)
            (stageAll: => Seq[Staged]): Unit = {
    lakes.foreach(heal(spark, _))
    val fs = fileSystem(spark, lakes.head)
    val m = new Path(marker(lakes.head))
    def finish(staged: Seq[Staged]): Unit = {
      staged.foreach(swap(spark, _))
      step("marker retire")(fs.delete(m, false): Unit)
    }
    val pending = readMarker(fs, m)
    pending.foreach { case (_, staged) => finish(staged) }
    if (!pending.exists(_._1 == batchId)) {
      val staged = stageAll
      step("marker write")(writeMarker(fs, m, batchId, staged))
      finish(staged)
    }
  }

  /** Marker format: the batch id, then per lake a `lake <whole> <path>`
    * line followed by its `touched <dir>` and `written <dir>` lines
    * (tab-separated; partition dir names escape tabs and newlines). */
  private def writeMarker(fs: FileSystem, m: Path, batchId: Long,
                          staged: Seq[Staged]): Unit = {
    val lines = batchId.toString +: staged.flatMap { s =>
      s"lake\t${s.whole}\t${s.lake}" +:
        (s.touched.map("touched\t" + _) ++ s.written.map("written\t" + _))
    }
    val tmp = m.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    rename(fs, tmp, m)
  }

  private def readMarker(fs: FileSystem, m: Path): Option[(Long, Seq[Staged])] =
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val staged = lines.tail.foldLeft(Vector.empty[Staged]) { (acc, line) =>
        line.split("\t", 3) match {
          case Array("lake", whole, path) => acc :+ Staged(path, whole.toBoolean, Nil, Nil)
          case Array("touched", p) => acc.init :+ acc.last.copy(touched = acc.last.touched :+ p)
          case Array("written", p) => acc.init :+ acc.last.copy(written = acc.last.written :+ p)
          case _ => throw new IllegalStateException(s"corrupt commit marker $m: $line")
        }
      }
      Some((lines.head.toLong, staged))
    }

  private def name(lake: String): String = new Path(lake).getName

  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** FileSystem.rename reports failure by returning false (e.g. a missing
    * parent on HDFS) — surface that instead of silently dropping a commit
    * step. */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename failed: $from -> $to")
}
