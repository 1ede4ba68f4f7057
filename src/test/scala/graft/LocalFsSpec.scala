package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LocalFs, Sink}
import graft.streaming.EventStream

class LocalFsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-localfs").toString

  private val stock = Map(
    "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)

  /** Runs `body` with `confs` set on the session and the `file:` FileSystem
    * cache off, so every write in it gets a filesystem built from them. */
  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val all = confs + ("fs.file.impl.disable.cache" -> "true")
    val prior = all.keys.map(k => k -> spark.conf.getOption(k))
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def fsClass(path: String): Class[_] =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf()).getClass

  /** A Sink lake (a base load, then a latest-wins merge) and an AvailableNow
    * foreachBatch drain of two landing files with its checkpoint. */
  private def writeAll(root: String): Unit = {
    val base = (1 to 40).map(i => (i.toLong, s"2024-01-0${i % 3 + 1}", i.toDouble, 0))
      .toDF("id", "day", "value", "version")
    for (batch <- Seq(base, base.filter($"id" % 5 === 0).withColumn("version", lit(1))))
      Sink.upsertPartitioned(spark, s"$root/lake", batch,
        keys = Seq("id"), orderCol = "version", tieBreak = "id", partitionCol = "day")
    base.repartition(2).write.parquet(s"$root/landing")
    EventStream.drain(EventStream.landing(spark, s"$root/landing", base.schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sink.writeBatchStamped(batch, s"$root/out", batchId) }, s"$root/ckpt")
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path below `root` (relative, UUIDs masked) with its octal mode. */
  private def modes(root: String): Seq[(String, String)] = {
    val r = Paths.get(root)
    Using.resource(Files.walk(r))(_.iterator.asScala.toSeq.map { p =>
      uuid.replaceAllIn(r.relativize(p).toString, "<uuid>") -> mode(p).toOctalString
    }.sorted)
  }

  /** writeAll through graft's filesystem and through stock Hadoop's. */
  private def bothWays(confs: Map[String, String]): (Seq[(String, String)], Seq[(String, String)]) = {
    val (ours, theirs) = (tmp(), tmp())
    withConfs(confs) {
      assert(fsClass(ours) === classOf[LocalFs.Checksummed])
      writeAll(ours)
    }
    withConfs(confs ++ stock) {
      assert(fsClass(theirs) === classOf[org.apache.hadoop.fs.LocalFileSystem])
      writeAll(theirs)
    }
    (modes(ours), modes(theirs))
  }

  test("the session resolves file: to graft's LocalFs through both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), conf).getClass === classOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass === classOf[LocalFs.Context])
  }

  test("a lake and a drained checkpoint leave the same files and modes as stock Hadoop") {
    val (ours, theirs) = bothWays(Map.empty)
    assert(ours === theirs)
    val names = ours.map(_._1)
    // the comparison covers data files, .crc sidecars and the checkpoint's
    // FileContext writes
    assert(names.exists(n => n.startsWith("lake/day=") && n.endsWith(".parquet")))
    assert(names.exists(n => n.startsWith("lake/day=") && n.endsWith(".parquet.crc")))
    assert(names.contains("ckpt/commits/1") && names.contains("ckpt/offsets/.1.crc"))
    assert(names.contains("out/batch=1"))
  }

  test("the same holds under a 077 umask") {
    val (ours, theirs) = bothWays(Map("fs.permissions.umask-mode" -> "077"))
    assert(ours === theirs)
    assert(ours.forall { case (_, m) => (Integer.parseInt(m, 8) & 0x3f) == 0 }, ours)
  }

  test("a sticky bit and a missing path behave as in stock Hadoop") {
    val root = tmp()
    def raw(fs: RawLocalFileSystem) = { fs.initialize(URI.create("file:///"), new Configuration()); fs }
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    val got = Seq("ours" -> raw(new LocalFs.Raw), "stock" -> raw(new RawLocalFileSystem)).map {
      case (name, fs) =>
        val dir = new Path(s"$root/$name")
        fs.mkdirs(dir)
        fs.setPermission(dir, sticky)
        intercept[IOException](fs.setPermission(new Path(s"$root/missing"), FsPermission.getFileDefault))
        mode(Paths.get(dir.toString)).toOctalString
    }
    assert(got === Seq("1755", "1755"))
  }

  test("getFileLinkStatus matches stock Hadoop for a file, a dir, links and a missing path") {
    val root = tmp()
    def raw(fs: RawLocalFileSystem) = { fs.initialize(URI.create("file:///"), new Configuration()); fs }
    Files.write(Paths.get(root, "file"), "abc".getBytes("UTF-8"))
    Files.createDirectory(Paths.get(root, "dir"))
    Files.createSymbolicLink(Paths.get(root, "link"), Paths.get(root, "file"))
    Files.createSymbolicLink(Paths.get(root, "rel"), Paths.get("dir"))
    Files.createSymbolicLink(Paths.get(root, "dangling"), Paths.get(root, "gone"))
    val names = Seq("file", "dir", "link", "rel", "dangling")
    // unqualified paths, and a file:-qualified one (where stock reads no link)
    val paths = names.map(n => new Path(s"$root/$n")) :+ new Path(s"file:$root/link")
    def status(fs: RawLocalFileSystem, p: Path) = {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)
    }
    val (ours, stock) = (raw(new LocalFs.Raw), raw(new RawLocalFileSystem))
    for (p <- paths) assert(status(ours, p) === status(stock, p), p)
    assert(status(ours, paths(2))._4 && status(ours, paths(2))._5 === new Path(s"file:$root/file"))
    assert(status(ours, paths(3))._5 === new Path(s"file:$root/dir"))
    assert(!status(ours, paths(5))._4)
    val missing = new Path(s"$root/missing")
    val (e1, e2) = (intercept[IOException](ours.getFileLinkStatus(missing)),
      intercept[IOException](stock.getFileLinkStatus(missing)))
    assert((e1.getClass, e1.getMessage) === ((e2.getClass, e2.getMessage)))
  }
}
