package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Jsonl

class JsonlSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL("id long, text string, lang string")

  test("write/read: clean roundtrip preserves rows and types") {
    val path = Files.createTempDirectory("graft-jsonl").toFile.getAbsolutePath + "/t"
    val df = Seq(
      (1L, "hello world", "en"),
      (2L, "bonjour", "fr"),
      (3L, null.asInstanceOf[String], "en")
    ).toDF("id", "text", "lang")
    Jsonl.write(df, path)
    val back = Jsonl.read(spark, path, schema)
    assert(back.filter(col("_corrupt_record").isNotNull).count() === 0)
    val got = back.select("id", "text", "lang").as[(Long, String, String)]
      .collect().sortBy(_._1)
    assert(got === Array((1L, "hello world", "en"), (2L, "bonjour", "fr"),
      (3L, null, "en")))
  }

  test("read: malformed lines are quarantined per row, never fatal") {
    val path = Files.createTempDirectory("graft-jsonl").toFile.getAbsolutePath + "/t"
    Jsonl.write(Seq((1L, "ok", "en")).toDF("id", "text", "lang"), path)
    Files.write(Paths.get(path, "zz-corrupt.json"), java.util.Arrays.asList(
      """{"id": 2, "text": "untermin""",
      """garbage line"""))
    val back = Jsonl.read(spark, path, schema)
    assert(back.count() === 3)
    val corrupt = back.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").as[String].collect().sorted
    assert(corrupt === Array("""{"id": 2, "text": "untermin""", "garbage line").sorted)
    // profile: valid rows grouped, corrupt rows in their own flagged bucket
    val prof = Jsonl.ingestProfile(
        back.withColumn("chars", length(col("text"))), "lang", "chars")
      .as[(Option[String], Boolean, Long, java.lang.Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(prof((Some("en"), false)) === ((1L, 2L: java.lang.Long)))
    assert(prof((None, true))._1 === 2L)
    assert(prof((None, true))._2 === null)
  }

  test("ingestProfile: a valid group value is never merged into the corrupt bucket") {
    // A data value that collides with any conceivable sentinel string must
    // stay its own valid row — the corrupt bucket is a flag, not a value.
    val path = Files.createTempDirectory("graft-jsonl").toFile.getAbsolutePath + "/t"
    Jsonl.write(Seq((1L, "ok", "__corrupt"), (2L, "ok2", "en")).toDF("id", "text", "lang"), path)
    Files.write(Paths.get(path, "zz-corrupt.json"), java.util.Arrays.asList("""nope"""))
    val prof = Jsonl.ingestProfile(
        Jsonl.read(spark, path, schema).withColumn("chars", length(col("text"))),
        "lang", "chars")
      .as[(Option[String], Boolean, Long, java.lang.Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(prof((Some("__corrupt"), false)) === ((1L, 2L: java.lang.Long)),
      "valid row whose group value is '__corrupt' keeps its own non-flagged row")
    assert(prof((None, true))._1 === 1L)
  }

  test("readStream: multi-batch AvailableNow drain; telemetry rollup equals the batch profile") {
    val base = Files.createTempDirectory("graft-jsonl-stream").toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$base/landing", s"$base/out", s"$base/ckpt")
    val df = (1L to 30L)
      .map(i => (i, s"doc number $i", if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "text", "lang")
    Jsonl.write(df.repartition(5), landing) // 5 files → 5 micro-batches below
    Files.write(Paths.get(landing, "zz-corrupt.json"),
      java.util.Arrays.asList("""broken"""))
    graft.streaming.EventStream.drain(Jsonl.readStream(spark, landing, schema, maxFilesPerTrigger = 1)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Jsonl.ingestProfile(
            batch.withColumn("chars", length(col("text"))), "lang", "chars")
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(out)
      }, ckpt)
    val tele = spark.read.parquet(out)
    assert(tele.select("batch_id").distinct().count() >= 2,
      "drain must have split into multiple real micro-batches")
    // decomposable counters: the cross-batch rollup must equal the batch
    // profile over the same landing dir, however the drain was split
    val rolled = tele.groupBy("lang", "is_corrupt")
      .agg(sum("n_docs").as("n"), sum("total_chars").as("c"))
      .as[(Option[String], Boolean, Long, java.lang.Long)].collect().sortBy(r => (r._1, r._2))
    val batch = Jsonl.ingestProfile(
        Jsonl.read(spark, landing, schema)
          .withColumn("chars", length(col("text"))), "lang", "chars")
      .as[(Option[String], Boolean, Long, java.lang.Long)].collect().sortBy(r => (r._1, r._2))
    assert(rolled === batch)
  }
}
