package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal}
import graft.streaming.EventStream

/** Perceptual-hash image dedup tier: dHash64's integer grid arithmetic,
  * container-invariance (PNG vs BMP), resize robustness on structured
  * images, banded pair recovery, the hot-bucket guard, and the exact
  * byte-hash tier. Reference behavior anchor: the asset-artifact tier the
  * reference publishes (io_manager.py:127) never dedups assets — this is
  * the dedup-mandate extension over decoded multimodal columns. */
class PhashSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._


  private def decode(b: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b)))

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private lazy val docs = Seq(
    (0L, "first planted doc with enough text to render"),
    (1L, "second doc, distinct content entirely"),
    (2L, "third doc is also its own image"),
    (3L, "fourth doc for the plant families"),
    (4L, "fifth and final plant seed document"),
    (5L, "a non-planted corpus document"),
    (6L, "another non-planted corpus document")
  ).toDF("doc_id", "text")

  test("dHash64: container-invariant — BMP re-encode of the same raster hashes identically") {
    val mm = Multimodal.asMultimodal(docs, "doc_id", "text")
    mm.select(col("payload")).as[Array[Byte]].collect().foreach { png =>
      val img = decode(png)
      val viaBmp = {
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        javax.imageio.ImageIO.write(img, "bmp", ios)
        ios.close(); decode(bos.toByteArray)
      }
      assert(Multimodal.dHash64(img) === Multimodal.dHash64(viaBmp))
    }
  }

  test("dHash64: smooth plants survive a half-resize within hamming 3; distinct seeds stay far") {
    val hashes = (0 until 5).map { g =>
      val full = Multimodal.smoothImage(g, 54 + 18 * g, 48 + 16 * g)
      val half = Multimodal.boxHalf(full)
      val (hf, hh) = (Multimodal.dHash64(full), Multimodal.dHash64(half))
      info(f"smooth g=$g resize hamming=${hamming(hf, hh)}")
      assert(hamming(hf, hh) <= 3,
        s"resize plant g=$g drifted ${hamming(hf, hh)} bits")
      hf
    }
    for (i <- hashes.indices; j <- hashes.indices if i < j) {
      info(f"smooth pair ($i,$j) hamming=${hamming(hashes(i), hashes(j))}")
      assert(hamming(hashes(i), hashes(j)) > 7,
        s"smooth seeds $i/$j landed within the near-dup band of each other")
    }
  }

  test("dHash64: distinct noise images are far apart (no accidental near-dups)") {
    val hs = Multimodal.imagePhash(Multimodal.asMultimodal(docs, "doc_id", "text"))
      .orderBy("asset_id").as[(Long, Long)].collect()
    for (i <- hs.indices; j <- hs.indices if i < j)
      assert(hamming(hs(i)._2, hs(j)._2) > 7,
        s"noise docs ${hs(i)._1}/${hs(j)._1} collided perceptually")
  }

  test("phashNearDups: recovers all pairs within the banding guarantee, at both band widths") {
    // constructive: flip exactly maxHamming bits spread across bands
    val base = 0x5A5A5A5A5A5A5A5AL
    val within3 = base ^ ((1L << 0) | (1L << 20) | (1L << 40))
    val within7 = base ^ 0x7FL // 7 flips, all inside band 0
    val far = ~base
    val df = Seq((1L, base), (2L, within3), (3L, within7), (4L, far))
      .toDF("asset_id", "phash")
    val p16 = Multimodal.phashNearDups(df, maxHamming = 3, bandBits = 16)
      .as[(Long, Long, Int)].collect().toSet
    assert(p16 === Set((1L, 2L, 3)))
    val p8 = Multimodal.phashNearDups(df, maxHamming = 7, bandBits = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(p8.contains((1L, 3L, 7)) && p8.contains((1L, 2L, 3)) && !p8.exists(p => p._2 == 4L))
  }

  test("phashNearDups: over-cap bucket FAILS under total recall; loose tier still drops; bad dials reject") {
    // 5 identical hashes: every (band, value) bucket holds all 5. The
    // image gate advertises total recall to hamming 3, so an over-cap
    // bucket must FAIL LOUDLY (r19 advice: silently dropping it would
    // void the pigeonhole guarantee for hamming 1..3 pairs whose only
    // matching band is the dropped one), while the default cap keeps
    // all pairs and the LOOSE simhash-style tier keeps the drop
    // semantics (a boilerplate cluster traded for a bound).
    val clones = (1L to 5L).map((_, 0x1234567812345678L)).toDF("asset_id", "phash")
    val e = intercept[Exception] {
      Multimodal.phashNearDups(clones, maxBucket = 4).count()
    }
    assert(e.getMessage.contains("total-recall contract forbids dropping"))
    assert(Multimodal.phashNearDups(clones).count() === 10) // default cap keeps them
    // loose tier (no total-recall contract): drop semantics unchanged
    assert(Dedup.bandedHammingPairs(clones, "asset_id", "phash",
      maxHamming = 3, maxBucket = 4).count() === 0)
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDups(clones, maxHamming = 4, bandBits = 16)
    }
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDups(clones, bandBits = 32)
    }
  }

  test("plantedAssets + exactAssetPairs: byte tier catches exact copies only; phash adds re-encodes and resizes") {
    val corpus = Multimodal.plantedAssets(docs, "doc_id", "text", nPlants = 3)
    // 7 originals + 3x(exact, bmp) + 3x(smooth, resized) = 19 assets
    assert(corpus.count() === 19)
    val exact = Multimodal.exactAssetPairs(corpus).as[(Long, Long)].collect().toSet
    assert(exact === (0 until 3).map(d =>
      (d.toLong, d + Multimodal.ExactCopyBase)).toSet)
    val pairs = Multimodal.phashNearDups(
      Multimodal.imagePhash(corpus), maxHamming = 3, bandBits = 16)
      .as[(Long, Long, Int)].collect()
    val byKey = pairs.map(p => (p._1, p._2) -> p._3).toMap
    (0 until 3).foreach { d =>
      // noise family: original, exact copy, bmp re-encode — all hamming 0
      assert(byKey((d.toLong, d + Multimodal.ExactCopyBase)) === 0)
      assert(byKey((d.toLong, d + Multimodal.ReencodeBase)) === 0)
      assert(byKey((d + Multimodal.ExactCopyBase, d + Multimodal.ReencodeBase)) === 0)
      // smooth family: the resized copy is recovered
      assert(byKey.contains((Multimodal.SmoothBase + d, Multimodal.ResizedBase + d)))
    }
    // ...and nothing else pairs: 3 families x 3 pairs + 3 resize pairs
    assert(pairs.length === 12)
  }

  test("probePhashNovelty: exact tier precedes phash; novel passes; clone clusters collapse in the index") {
    val mm = Multimodal.asMultimodal(
        docs.filter(col("doc_id") < 5), "doc_id", "text")
      .select("asset_id", "payload")
    val index = Multimodal.buildPhashIndex(mm)
    // arrivals: an exact byte copy (both tiers match — method must read
    // the byte tier), a BMP re-encode (bytes differ, pixels identical —
    // phash tier), and renders the index never saw (novel)
    val basePayloads = mm.as[(Long, Array[Byte])].collect().toMap
    val bmp = {
      val img = decode(basePayloads(1L))
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      javax.imageio.ImageIO.write(img, "bmp", ios); ios.close()
      bos.toByteArray
    }
    val arrivals = Seq((100L, basePayloads(0L)), (101L, bmp))
      .toDF("asset_id", "payload")
      .unionByName(Multimodal.asMultimodal(
          docs.filter(col("doc_id") >= 5), "doc_id", "text")
        .select((col("asset_id") + 200L).as("asset_id"), col("payload")))
    val v = Multimodal.probePhashNovelty(arrivals, index)
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(v(100L) === (("exact", false)))
    assert(v(101L) === (("phash", false)))
    assert(v(205L) === (("novel", true)))
    assert(v(206L) === (("novel", true)))
    // clone-cluster collapse (the scale contract): 50 byte-identical
    // corpus images index as ONE md5 row and ONE banded row per band —
    // existence semantics make the boilerplate bucket a non-event where
    // the pair tier must cap or fail
    val clones = (1 to 50).map(i => (i.toLong, basePayloads(2L)))
      .toDF("asset_id", "payload")
    val cloneIdx = Multimodal.buildPhashIndex(clones)
    assert(cloneIdx.exact.count() === 1)
    assert(cloneIdx.banded.count() === 4)
    val cv = Multimodal.probePhashNovelty(
        Seq((9L, basePayloads(2L))).toDF("asset_id", "payload"), cloneIdx)
      .as[(Long, String, Boolean)].collect()
    assert(cv.toSeq === Seq((9L, "exact", false)))
    Dedup.unpersistIntermediates()
  }

  test("phashNoveltyStream: drain across waves equals the batch probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-phashnov")
      .toFile.getAbsolutePath
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    val mm = Multimodal.asMultimodal(
        docs.filter(col("doc_id") < 5), "doc_id", "text")
      .select("asset_id", "payload")
    val index = Multimodal.buildPhashIndex(mm)
    val basePayloads = mm.as[(Long, Array[Byte])].collect().toMap
    val novelPayloads = Multimodal.asMultimodal(
        docs.filter(col("doc_id") >= 5), "doc_id", "text")
      .select("asset_id", "payload").as[(Long, Array[Byte])].collect().toMap
    val arrivals = Seq(
      (100L, basePayloads(0L)),  // exact re-crawl
      (101L, basePayloads(3L)),  // exact re-crawl, second wave
      (205L, novelPayloads(5L)), // novel
      (206L, novelPayloads(6L))  // novel, second wave
    ).toDF("asset_id", "payload")
    val batchVerdicts = Multimodal.probePhashNovelty(arrivals, index)
      .as[(Long, String, Boolean)].collect().toSet
    // stream the same arrivals in two waves with single-file micro-batches
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "asset_id long, payload binary")
    arrivals.filter($"asset_id" <= 205L).repartition(2)
      .write.mode("append").parquet(landing)
    EventStream.phashNoveltyStream(spark, landing, schema, index, out, ckpt)
    arrivals.filter($"asset_id" > 205L)
      .write.mode("append").parquet(landing)
    EventStream.phashNoveltyStream(spark, landing, schema, index, out, ckpt)
    val drained = spark.read.parquet(out)
      .select("asset_id", "method", "is_novel")
      .as[(Long, String, Boolean)].collect()
    assert(drained.length === 4, "each arrival judged exactly once across waves")
    assert(drained.toSet === batchVerdicts,
      "streamed verdicts must equal the batch probe's")
    Dedup.unpersistIntermediates()
  }
}
