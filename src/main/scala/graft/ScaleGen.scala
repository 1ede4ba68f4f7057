package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scale-proof corpus builder: multiplies the `documents`, `embeddings`,
  * and `events` tables by an integer factor so scaling claims can be
  * measured one decade past the driver-provided SFs (sf0.1 × 10 ≈ sf1)
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
  * Usage: runMain graft.ScaleGen <srcSfDir> <dstDir> <factor>
  * Output partition count scales with the factor so downstream reads see
  * sf1-shaped task parallelism, not one fat file.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, f) = args.take(3)
    val factor = f.toInt
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
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
