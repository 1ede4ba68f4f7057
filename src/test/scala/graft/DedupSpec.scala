package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latestWins: newest row per key, deterministic under ties") {
    val df = Seq(
      (1L, "k1", ts("2024-01-01 10:00:00"), "old"),
      (2L, "k1", ts("2024-01-01 12:00:00"), "new"),
      (3L, "k2", ts("2024-01-01 10:00:00"), "tie-lo"),
      (4L, "k2", ts("2024-01-01 10:00:00"), "tie-hi")
    ).toDF("event_id", "key", "ts", "payload")
    val got = Dedup.latestWins(df, Seq("key"), "ts", "event_id")
      .orderBy("key").select("payload").as[String].collect()
    // k1: newest wins; k2: timestamp tie broken by higher event_id
    assert(got === Array("new", "tie-hi"))
  }

  test("exactByHash: keeps lowest id per identical content, is idempotent") {
    val df = Seq(
      (10L, "same text"), (3L, "same text"), (7L, "unique text")
    ).toDF("doc_id", "text")
    val once = Dedup.exactByHash(df, "text", "doc_id")
    assert(once.select("doc_id").as[Long].collect().sorted === Array(3L, 7L))
    val twice = Dedup.exactByHash(once, "text", "doc_id")
    assert(twice.select("doc_id").as[Long].collect().sorted === Array(3L, 7L))
  }

  test("shingles: deduplicated word n-grams") {
    val df = Seq(Tuple1("a b c d a b c d")).toDF("text")
    val got = df.select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()(0)
    assert(got.toSet === Set("a b c", "b c d", "c d a", "d a b"))
  }

  test("minhash signature estimates Jaccard similarity") {
    // docs with known true Jaccard of shingle sets; k=64 → sd ≈ 0.06
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val mostlySame = (1 to 36).map(i => s"tok$i").mkString(" ") + " x1 x2 x3 x4"
    val disjoint = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, mostlySame), (3L, disjoint)).toDF("id", "text")
      .withColumn("sig", Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64))
    val sigs = df.orderBy("id").select("sig").as[Seq[Long]].collect()
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    val simAB = est(sigs(0), sigs(1))
    val simAC = est(sigs(0), sigs(2))
    // true Jaccard(1,2) over 3-shingles ≈ 0.70; (1,3) = 0
    assert(simAB > 0.45 && simAB < 0.95, s"estimate $simAB out of range")
    assert(simAC < 0.1, s"disjoint docs estimated $simAC")
  }

  test("minhashNearDups: finds planted near-dups, skips distinct docs") {
    val docs = (1 to 30).map { i =>
      (i.toLong, (1 to 30).map(j => s"w${i}_$j").mkString(" "))
    }
    // plant: doc 101 = copy of doc 1 with one token changed
    val nearDup = (101L, "w1_1 " + (2 to 30).map(j => s"w1_$j").mkString(" ")
      .replace("w1_15", "CHANGED"))
    val df = (docs :+ nearDup).toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(got.length === 1)
    assert((got(0)._1, got(0)._2) === (1L, 101L))
    assert(got(0)._3 > 0.8)
  }

  test("minhashNearDups: maxBucket drops the boilerplate flood, keeps real pairs") {
    // 20 identical template docs flood every band bucket they touch; one
    // genuine near-dup pair (distinct from the template) sits in buckets
    // of size 2. With maxBucket=5 the template's quadratic 190 pairs
    // vanish from candidate generation while the real pair survives.
    val template = (1 to 20).map(i =>
      (i.toLong, (1 to 30).map(j => s"tmpl_$j").mkString(" ")))
    val real = Seq(
      (100L, (1 to 30).map(j => s"real_$j").mkString(" ")),
      (101L, "real_1 " + (2 to 30).map(j => s"real_$j").mkString(" ")
        .replace("real_15", "CHANGED")))
    val df = (template ++ real).toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(df, "doc_id", "text",
        threshold = 0.5, maxBucket = 5)
      .as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet === Set((100L, 101L)))
    // uncapped control: the template pairs are all there
    val full = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(full.length === 190 + 1)
  }

  test("minhashGuardStats: telemetry counts exactly what the guard drops") {
    // same corpus as the flood test: 20 identical docs → every one of the
    // 8 bands has one 20-member template bucket (identical text ⇒
    // identical signature ⇒ same band hash); the 2 near-dup docs and any
    // template band never exceed 5.
    val template = (1 to 20).map(i =>
      (i.toLong, (1 to 30).map(j => s"tmpl_$j").mkString(" ")))
    val real = Seq(
      (100L, (1 to 30).map(j => s"real_$j").mkString(" ")),
      (101L, "real_1 " + (2 to 30).map(j => s"real_$j").mkString(" ")
        .replace("real_15", "CHANGED")))
    val df = (template ++ real).toDF("doc_id", "text")
    val Array((nBuckets, banded, capped, dropped, frac)) =
      Dedup.minhashGuardStats(df, "doc_id", "text", maxBucket = 5)
        .as[(Long, Long, Long, Long, Double)].collect()
    assert(banded === 22L * 8, "22 docs × 8 bands")
    assert(capped === 8L, "one over-cap template bucket per band")
    assert(dropped === 20L * 8, "every template row dropped, nothing else")
    assert(frac === math.round(160.0 / 176.0 * 1e6) / 1e6)
    // the real pair's buckets survive: total minus template buckets
    assert(nBuckets > 8)
    // a cap above the flood size reports a quiet corpus
    val Array((_, _, capped2, dropped2, _)) =
      Dedup.minhashGuardStats(df, "doc_id", "text", maxBucket = 100)
        .as[(Long, Long, Long, Long, Double)].collect()
    assert(capped2 === 0L && dropped2 === 0L)
  }

  test("minhashGuardStats: empty corpus reports drop_fraction 0.0, not null") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val row = Dedup.minhashGuardStats(empty, "doc_id", "text").collect()(0)
    assert(!row.isNullAt(4), "drop_fraction must be numeric on an empty corpus")
    assert(row.getDouble(4) === 0.0)
    // docs that produce zero shingles (empty text) behave the same
    val zeroShingles = Seq((1L, ""), (2L, " ")).toDF("doc_id", "text")
    val row2 = Dedup.minhashGuardStats(zeroShingles, "doc_id", "text").collect()(0)
    assert(!row2.isNullAt(4) && row2.getDouble(4) === 0.0)
  }

  test("unpersistIntermediates releases operator caches") {
    Dedup.unpersistIntermediates() // drain anything earlier tests persisted
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val docs = (1 to 10).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta doc$i"))
      .toDF("doc_id", "text")
    Dedup.spanDedup(docs, "doc_id", "text").collect()
    Dedup.paraDedup(docs, "doc_id", "text").collect()
    def extra = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(extra.size >= 2, s"expected the two tracked intermediates cached, saw ${extra.size}")
    Dedup.unpersistIntermediates()
    // non-blocking unpersist: poll briefly for the catalog to drain back
    // to the pre-test set (other suites' caches, if any, are untouched)
    val deadline = System.nanoTime() + 10e9.toLong
    while (extra.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(extra.isEmpty, s"still cached after unpersistIntermediates: $extra")
  }

  test("novelNearDups: jittered cross-batch dup caught, novel passes, batch not self-compared") {
    val corpus = Seq(
      (1L, (1 to 30).map(i => s"corp_$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"other_$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fresh = Seq(
      // near-dup of corpus doc 1 (two appended tokens — different hash)
      (10L, (1 to 30).map(i => s"corp_$i").mkString(" ") + " tweaked footer"),
      // exact copy of corpus doc 2
      (11L, (1 to 30).map(i => s"other_$i").mkString(" ")),
      // genuinely novel
      (12L, (1 to 30).map(i => s"fresh_$i").mkString(" ")),
      // near-dup of ANOTHER FRESH doc but nothing in the corpus: stays
      // novel — the batch is judged against the corpus only
      (13L, (1 to 30).map(i => s"fresh_$i").mkString(" ") + " batch twin"),
      // zero shingles → vacuously novel
      (14L, "")
    ).toDF("doc_id", "text")
    val novel = Dedup.novelNearDups(fresh, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(novel === Array(12L, 13L, 14L))
  }

  test("simhash: identical text → identical bits; small edit → small hamming") {
    val t1 = (1 to 60).map(i => s"word$i").mkString(" ")
    val t2 = t1.replace("word30", "EDITED")
    val t3 = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, t1), (2L, t1), (3L, t2), (4L, t3)).toDF("id", "text")
      .select(col("id"), Dedup.simhash(col("text")).as("sim"))
    val sims = df.orderBy("id").select("sim").as[Long].collect()
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sims(0) === sims(1))
    assert(hamming(sims(0), sims(2)) <= 12,
      s"one-token edit moved ${hamming(sims(0), sims(2))} bits")
    assert(hamming(sims(0), sims(3)) > 12,
      s"unrelated docs only ${hamming(sims(0), sims(3))} bits apart")
  }

  test("simhashNearDups: banded candidates respect the hamming cap") {
    val t1 = (1 to 60).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (1L, t1), (2L, t1.replace("word30", "EDITED")),
      (3L, (1 to 60).map(i => s"zzz$i").mkString(" "))
    ).toDF("id", "text")
    val got = Dedup.simhashNearDups(df, "id", "text", maxHamming = 12)
      .as[(Long, Long, Int)].collect()
    assert(got.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
  }

  test("simhashNearDups: maxBucket drops identical-fingerprint floods") {
    // 20 identical docs share one fingerprint → every band bucket is hot;
    // with the cap nothing pairs (exact dedup upstream owns identical
    // docs). A small-edit near-dup pair sits in buckets of size 2 on its
    // unchanged bands and survives (same construction + hamming bound as
    // the spec above).
    val template = (1 to 20).map(i =>
      (i.toLong, (1 to 60).map(j => s"tmpl$j").mkString(" ")))
    val base = (1 to 60).map(j => s"real$j").mkString(" ")
    val real = Seq((100L, base), (101L, base.replace("real30", "EDITED")))
    val df = (template ++ real).toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(df, "doc_id", "text",
        maxHamming = 12, maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(capped.toSet === Set((100L, 101L)))
    val full = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(full.length === 190 + 1)
  }

  test("ngramJaccardPairs: exact Jaccard within blocks only") {
    val df = Seq(
      (1L, "a b c d e", "blk1"),
      (2L, "a b c d e", "blk1"),
      (3L, "a b c d e", "blk2") // same text, different block → no pair
    ).toDF("id", "text", "blk")
    val got = Dedup.ngramJaccardPairs(df, "id", "text", "blk")
      .as[(String, Long, Long, Double)].collect()
    assert(got === Array(("blk1", 1L, 2L, 1.0)))
  }

  test("ngramJaccardPairs: the fused threshold form emits exactly the " +
       "all-pairs form filtered at t") {
    // one shared block so the all-pairs form is the full quadratic truth;
    // a mix of exact dups, jittered near-dups (suffix + prefix jitter),
    // borderline-similarity pairs around t, and unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa tail jitter"),
      (4L, "front jitter alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "alpha beta gamma delta epsilon other words entirely now follow here"),
      (6L, "completely unrelated document sharing no trigram with the others"),
      (7L, "another fully distinct text with its own private vocabulary set")
    ).toDF("id", "text").withColumn("blk", lit("b0"))
    for (t <- Seq(0.3, 0.5, 0.6, 0.8)) {
      val allPairs = Dedup.ngramJaccardPairs(docs, "id", "text", "blk")
        .filter(col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      val fused = Dedup.ngramJaccardPairs(docs, "id", "text", "blk",
          threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      assert(fused === allPairs, s"threshold $t (fused block form)")
    }
  }

  test("contamination: embedded benchmark passage flagged, short overlap is not") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((900L, s"benchmark question about $passage and its answer"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"innocuous preamble then $passage quoted wholesale here"), // contaminated
      (2L, "completely unrelated training document with fresh words"), // clean
      (3L, "alpha beta gamma delta only shares four tokens nothing more") // < n overlap
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(docs, bench, "doc_id", "text", n = 8)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Boolean]("contaminated"),
      "doc embedding a full 10-token benchmark passage must be flagged")
    assert(got(0).getAs[Long]("n_contaminated") >= 3) // 10-token passage -> >=3 shared 8-grams
    assert(!got(1).getAs[Boolean]("contaminated"))
    assert(!got(2).getAs[Boolean]("contaminated"),
      "a 4-token overlap is below the 8-gram unit and must not flag")
  }

  test("connectedComponents: transitive clusters, min-id labels") {
    import org.apache.spark.sql.functions.col
    // two chains + an isolated pair: {1,2,3,4}, {10,11}, {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents matches union-find on a random graph") {
    val rnd = new scala.util.Random(19)
    val pairs = (1 to 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val got = graft.operators.Dedup.connectedComponents(
      pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    assert(got === want)
  }

  test("connectedComponents: 1000-node chain converges in O(log n) rounds") {
    // worst case for plain min-label propagation (diameter = n); pointer
    // jumping must land the fixpoint well under diameter — maxIter = 15
    // would leave labels wrong if convergence were O(n)
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(
      pairs, "id_a", "id_b", maxIter = 15)
      .as[(Long, Long)].collect()
    assert(got.length === 1000)
    assert(got.forall(_._2 === 0L))
  }

  test("canonicalize: one survivor per cluster, untouched docs kept") {
    val docs = Seq((1L, "a"), (2L, "a2"), (3L, "a3"), (7L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = graft.operators.Dedup.canonicalize(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 7L))
  }

  test("CC edge-cache mechanism: src-partitioned cache joins without re-exchanging the edge side") {
    // The r9 connectedComponents win rests on two planner facts: (1) an
    // explode evaluates its input once (vs a union's two independent
    // legs), and (2) a cached frame EXPOSES its partitioning, so a join
    // on the cache's partition key shuffles only the other side. This
    // pins fact (2) at the plan level: with broadcast off, the join of a
    // src-partitioned cached edge set against a label frame must contain
    // exactly ONE shuffle exchange (the label side) — the cached edges
    // stream straight out of InMemoryTableScan.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val pairs = (1L to 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val edges = pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .distinct().repartition(col("src"))
        .persist()
      try {
        edges.count()
        val labels = (1L to 201L).map(i => (i, i)).toDF("src", "label")
        def shuffles(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size
        assert(shuffles(edges.join(labels, Seq("src"))) === 1,
          "cached src-partitioning must be reused — only the label side shuffles")
        // control: the same join against an UNpartitioned cache-free edge
        // set shuffles both sides
        val plainEdges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        assert(shuffles(plainEdges.join(labels, Seq("src"))) === 2)
      } finally edges.unpersist(true)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("paraDedup: boilerplate passage scrubbed across docs, unique text untouched") {
    // 4-token windows; a license-header passage planted in 60 docs (the
    // hot-key shape: one hash owns 60 of 62 passage rows) plus per-doc
    // unique tails. The boilerplate window must be marked repeated in
    // EVERY doc, unique tails kept verbatim, and a fully-unique doc must
    // come back untouched with ratio 0.
    val boiler = "licensed under apache two"
    val docs = (1L to 60L).map(i => (i, s"$boiler unique tail $i")) :+
      ((100L, "totally original four words"))
    val out = Dedup.paraDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
        window = 4, minDf = 2)
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    (1L to 60L).foreach { i =>
      val (nPass, nRep, ratio, clean) = out(i)
      assert(nPass === 2L && nRep === 1L, s"doc $i: boilerplate window must be repeated")
      assert(clean === s"unique tail $i", s"doc $i: tail must survive the scrub verbatim")
      assert(ratio > 0.5 && ratio < 1.0)
    }
    assert(out(100L) === ((1L, 0L, 0.0, "totally original four words")))
  }

  test("spanDedup: straddling repeated passage found at arbitrary alignment; spans coalesce") {
    // A 6-token boilerplate phrase planted at DIFFERENT offsets in two
    // docs (offset 2 in doc 1, offset 5 in doc 2): stride-8 windows would
    // straddle it, stride-1 with window=4 must find it in both. The
    // shared phrase yields 3 repeated width-4 windows per doc (starts
    // offset..offset+2), overlapping → ONE span covering 6 tokens.
    val phrase = "licensed under apache version two zero"
    val docs = Seq(
      (1L, s"alpha beta $phrase gamma delta epsilon"),
      (2L, s"one two three four five $phrase six"),
      (3L, "totally unrelated words only here nothing shared at all")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", window = 4, minDf = 2)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n1, w1, rep1, spans1, cov1, frac1) = out(1L)
    assert((n1, w1) === ((11L, 8L)), "11 tokens, 8 stride-1 width-4 windows")
    assert(rep1 === 3L, "three windows inside the planted phrase repeat")
    assert(spans1 === 1L, "overlapping repeated windows coalesce to one span")
    assert(cov1 === 6L, "the span covers exactly the 6 phrase tokens")
    assert(frac1 === 0.5455)
    val (_, _, _, rep2, spans2, cov2, _) = out(2L)
    assert((rep2, spans2, cov2) === ((3L, 1L, 6L)), "same span at a different offset")
    val (_, _, _, rep3, spans3, cov3, frac3) = out(3L)
    assert((rep3, spans3, cov3, frac3) === ((0L, 0L, 0L, 0.0)))
  }

  test("spanDedup: disjoint repeats form separate spans; short docs cap coverage") {
    // doc 1 and doc 2 share TWO phrases separated by unique filler wider
    // than the window → two spans; docs 3/4 are identical 2-token docs
    // (shorter than the window) → their single sub-width window repeats
    // and coverage caps at n_tokens, never beyond.
    val docs = Seq(
      (1L, "aa bb cc dd xx yy zz qq ww ee aa bb cc dd"),
      (2L, "aa bb cc dd k1 k2 k3 k4 k5 k6 aa bb cc dd"),
      (3L, "tiny doc"),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", window = 4, minDf = 2)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // "aa bb cc dd" opens and closes each doc (and repeats within doc 1's
    // own text too via the doubled prefix/suffix): the repeated windows
    // are exactly starts 0 and 10 in both docs → two disjoint spans of 4
    val (_, _, _, _, spans1, cov1, _) = out(1L)
    assert((spans1, cov1) === ((2L, 8L)))
    val (_, _, _, _, spans2, cov2, _) = out(2L)
    assert((spans2, cov2) === ((2L, 8L)))
    val (_, n3, w3, rep3, spans3, cov3, frac3) = out(3L)
    assert((n3, w3) === ((2L, 1L)), "sub-width doc has one short window")
    assert((rep3, spans3) === ((1L, 1L)))
    assert(cov3 === 2L, "coverage caps at the doc's token count")
    assert(frac3 === 1.0)
  }

  test("spanScrub: repeated spans cut, unique text kept verbatim, ledger balances") {
    // the 4-token boilerplate "aa bb cc dd" opens both docs; each doc's
    // tail is unique. window=4, minDf=2 → exactly the boilerplate
    // positions are covered and removed.
    val docs = Seq(
      (1L, "aa bb cc dd own tail one alpha"),
      (2L, "aa bb cc dd other tail two beta"),
      (3L, "totally unrelated text here nothing repeats at all")
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, "doc_id", "text", window = 4, minDf = 2)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, "own tail one alpha", 8L, 4L)))
    assert(out(2L) === ((2L, "other tail two beta", 8L, 4L)))
    assert(out(3L) === ((3L, "totally unrelated text here nothing repeats at all", 8L, 0L)),
      "a doc with no repeated window passes through untouched")
    // ledger: n_tokens - n_removed tokens survive, exactly
    out.values.foreach { case (_, scrubbed, n, rem) =>
      val kept = scrubbed.split("\\s+").count(_.nonEmpty)
      assert(kept.toLong === n - rem)
    }
  }

  test("spanScrub: fully-repeated doc scrubs to empty; overlapping spans merge") {
    val docs = Seq(
      (1L, "x y z w x y z w"),         // within-doc repeat: windows 0 and 4 identical
      (2L, "x y z w q x y z w")        // overlapping occurrences across docs
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, "doc_id", "text", window = 4, minDf = 2)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: "x y z w" at starts 0 and 4 (and cross-doc) → all 8 covered
    assert(out(1L)._2 === "")
    assert(out(1L)._4 === 8L)
    // doc 2: starts 0 and 5 covered → q at position 4 survives
    assert(out(2L)._2 === "q")
    assert(out(2L)._4 === 8L)
  }

  test("paraDedup: normalization folds case/whitespace; short tail windows count") {
    // "A  B" and "a b" must hash to the same passage; a 5-token doc at
    // window=4 yields a 4-token window plus a 1-token tail window.
    val docs = Seq(
      (1L, "Alpha  Beta gamma DELTA extra"),
      (2L, "alpha beta GAMMA delta other")).toDF("doc_id", "text")
    val out = Dedup.paraDedup(docs, "doc_id", "text", window = 4, minDf = 2)
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._5))).toMap
    assert(out(1L) === ((2L, 1L, "extra")), "case/space variants must dedup together")
    assert(out(2L) === ((2L, 1L, "other")))
  }

  test("lineDedup: repeated normalized lines cut everywhere, order kept, ledger balances") {
    val docs = Seq(
      (1L, "All rights reserved.\nkeep me one\nCall 555-123 now!"),
      (2L, "all rights reserved\nkeep me two\ncall 555999 NOW"),
      (3L, "unique solo line")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // banner variants unify under the normalization (case + punct), and
    // the two phone lines unify through digit-run collapse — every
    // occurrence is cut, not first-seen-wins
    assert(out(1L) === ((3L, 2L, "keep me one")))
    assert(out(2L) === ((3L, 2L, "keep me two")))
    assert(out(3L) === ((1L, 0L, "unique solo line")))
  }

  test("lineDedup: blank/punct-only lines never count as repeats; all-cut doc empties") {
    val docs = Seq(
      (1L, "...\nshared line alpha\n\nkeep a"),
      (2L, "!!!\nshared line alpha\n\nkeep b"),
      (3L, "shared line alpha")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "..." and "" normalize to empty: exempt from counting, KEPT as-is
    assert(out(1L) === ((4L, 1L, "...\n\nkeep a")))
    assert(out(2L) === ((4L, 1L, "!!!\n\nkeep b")))
    // a doc that was nothing but boilerplate empties (caller drops it)
    assert(out(3L) === ((1L, 1L, "")))
  }

  test("lineDedup: NULL text surfaces in the ledger, not silently dropped") {
    val docs = Seq(
      (1L, "shared line\nkeep one"),
      (2L, "shared line\nkeep two"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the null doc normalizes to one empty line (the GopherRules
    // convention) — present with an empty cleaned_text so downstream
    // quarantine SEES it, instead of vanishing through posexplode(null)
    assert(out(3L) === ((1L, 0L, "")))
    assert(out(1L) === ((2L, 1L, "keep one")))
    // same contract through the serving form
    val idx = Dedup.lineIndex(docs.filter(col("doc_id") < 3L), "doc_id", "text")
    val served = Dedup.lineDedupAgainst(
        docs.filter(col("doc_id") === 3L), "doc_id", "text", idx)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(served(3L) === ((1L, 0L, "")))
  }

  test("lineDedup plans without a cartesian and with the count map-side combined") {
    val docs = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("shared banner\u000aunique "), col("id")).as("text"))
    val plan = Dedup.lineDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no partial aggregate found:\n$plan")
  }
}
