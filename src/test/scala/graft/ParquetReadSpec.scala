package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DateType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sink, Tables}

/** `Tables.parquet` resolves the schema from one driver-side footer read:
  * it must give exactly the schema `spark.read.parquet` infers, fail the
  * same way where there is nothing to infer from, and start no Spark job
  * while the DataFrame is built. */
class ParquetReadSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // the committed benchmark inputs: every Tables table, relative to the repository root
  private val sf = "perfbench/data"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def tmp(): String =
    Files.createTempDirectory("graft-read").toFile.getAbsolutePath

  private def assertParity(paths: String*): DataFrame = {
    val df = Tables.parquet(spark, paths: _*)
    assert(df.schema === spark.read.parquet(paths: _*).schema, paths.mkString(", "))
    df
  }

  private def lake(): String = {
    val path = tmp() + "/lake"
    Sink.writePartitioned(
      Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0), (3L, "2024-01-02", 3.0))
        .toDF("id", "day", "value").withColumn("day", to_date(col("day"))),
      path, "day")
    path
  }

  private def batchStamped(): String = {
    val out = tmp() + "/out"
    Sink.writeBatchStamped(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), out, 0)
    Sink.writeBatchStamped(Seq((3L, "c")).toDF("id", "text"), out, 1)
    out
  }

  /** A streaming file sink's output, plus a stray file the sink log does
    * not list, with another schema, whose name sorts before the committed
    * part files: Spark reads only what the log lists. */
  private def sinkDir(): String = {
    val base = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").write.parquet(s"$base/landing")
    val q = spark.readStream.schema("id LONG, text STRING").parquet(s"$base/landing")
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(s"$base/sink")
    q.awaitTermination()
    Seq("stray").toDF("other").coalesce(1).write.parquet(s"$base/stray")
    val stray = new java.io.File(s"$base/stray").listFiles.filter(_.getName.endsWith(".parquet")).head
    assert(stray.renameTo(new java.io.File(s"$base/sink/part-0.parquet")))
    s"$base/sink"
  }

  /** A file in the legacy TIMESTAMP(NANOS) encoding the events feed once
    * shipped in; Spark reads it only through the nanos-as-long mapping. */
  private def legacyNanos(): String = {
    val path = tmp() + "/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    } finally w.close()
    path
  }

  test("schema parity: every Tables input table") {
    assume(new java.io.File(sf).isDirectory, s"$sf missing")
    tables.foreach(t => assertParity(s"$sf/$t.parquet"))
  }

  test("schema parity: a Sink.writePartitioned lake keeps day as DateType") {
    val df = assertParity(lake())
    assert(df.schema("day").dataType === DateType)
    assert(df.count() === 3)
  }

  test("schema parity: a writeBatchStamped directory, a multi-path read and a glob") {
    val out = batchStamped()
    assert(assertParity(out).columns.toSeq === Seq("id", "text", "batch"))
    val df = assertParity(s"$out/batch=0", s"$out/batch=1")
    assert(df.count() === 3)
    assert(assertParity(s"$out/batch=*").count() === 3)
  }

  test("schema parity: a streaming file-sink directory takes its footer from the sink log") {
    val df = assertParity(sinkDir())
    assert(df.columns.toSeq === Seq("id", "text"))
    assert(df.count() === 2)
  }

  test("schema parity: a legacy nanos-timestamp file reads as a long") {
    assume(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val df = assertParity(legacyNanos())
    assert(df.schema("ts").dataType === LongType)
    assert(df.select("ts").as[Long].collect() === Array(1700000000123456789L))
  }

  test("an empty directory, a missing path and a non-parquet file fail as spark.read.parquet does") {
    val base = tmp()
    new java.io.File(s"$base/empty").mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$base/junk.parquet"), "not parquet")
    Seq(s"$base/empty", s"$base/missing", s"$base/junk.parquet").foreach { p =>
      // a footer that fails inside Spark's inference job names its stage and task ids
      def failure(read: => DataFrame): (String, String) = {
        val e = Try(read.schema).failed.get
        (e.getClass.getName, e.getMessage.replaceAll("\\d+", "#"))
      }
      assert(failure(Tables.parquet(spark, p)) === failure(spark.read.parquet(p)), p)
    }
  }

  test("building the DataFrame starts no Spark job") {
    val paths = Seq(lake(), batchStamped(), sinkDir(), legacyNanos()) ++
      (if (new java.io.File(sf).isDirectory) tables.map(t => s"$sf/$t.parquet") else Nil)
    val out = batchStamped()
    val (dfs, jobs) = jobsDuring {
      paths.map(Tables.parquet(spark, _)) :+ Tables.parquet(spark, s"$out/batch=0", s"$out/batch=1")
    }
    assert(dfs.forall(_.schema.nonEmpty))
    assert(jobs === 0, s"$jobs jobs started while ${dfs.size} reads were built")
    // the job the helper removes: spark.read.parquet infers by running one
    val (_, inferJobs) = jobsDuring(spark.read.parquet(paths.head))
    assert(inferJobs > 0)
  }

  test("read.parquet( appears in src/main only inside Tables.parquet") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try src.getLines().zipWithIndex.collect {
        case (l, i) if l.contains("read.parquet(") && !Seq("*", "/*", "//").exists(l.trim.startsWith) =>
          s"${f.getPath}:${i + 1}"
      }.toSeq
      finally src.close()
    }
    assert(hits.size === 1 && hits.head.startsWith("src/main/scala/graft/sources/Tables.scala:"),
      hits.mkString("\n"))
  }
}
