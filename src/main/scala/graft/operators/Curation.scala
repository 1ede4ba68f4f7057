package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation funnel — the stage-by-stage survivor census every
  * data-curation run publishes before training: how many documents enter,
  * and how many each quality gate removes, in gate order. This is the
  * one-page answer to "where did my corpus go?" and the number that
  * decides whether a rule is mis-calibrated (a stage that drops 99% is a
  * bug, not a filter) — the reference publishes per-stage record counts
  * through its asset checks (checks:700-860); at corpus scale the same
  * census is the pipeline's primary dashboard.
  *
  * Stage order mirrors production curation economics — cheap map-only
  * gates first so expensive stages see fewer docs — and, with the opt-in
  * stages on, covers EVERY stage the composed production pipeline (D24,
  * [[CorpusPipeline]]) executes:
  *   raw → line_cut (CCNet line tier, opt-in) → gopher_rules (map-only
  *   bitmap) → toxicity (blocklist-lexicon density, opt-in, r20) →
  *   lm_keep (bigram-LM NLL gate) → exact_dedup (min-id per
  *   content hash) → near_dup (shingle-Jaccard drop, opt-in) →
  *   span_scrub (repeated-window cut, opt-in — docs scrubbed to zero
  *   are the drops) → domain_cap (diversity).
  * Line-cut runs FIRST and on the RAW text (newlines define lines — the
  * [[CorpusPipeline]] ordering rationale), so every later gate reads the
  * post-cut text; near-dup runs BEFORE span-scrub for the same reason as
  * D24 (a near-dup pair shares most windows — scrubbing first would gut
  * both docs).
  *
  * Scale shape: each stage is the already-gated operator (D25d, D33,
  * D31, D1, D4/D2, D25b, D32) applied to the previous stage's survivor
  * frame; the census aggregates each frame to ONE row
  * (map-side-combinable count), so the funnel's own cost is the stages
  * themselves plus one 1-row agg per stage. The LM trains on the
  * line-cut corpus (self-scoring outlier setup), not the survivor slice,
  * so the gate order doesn't perturb the model. Near-dup candidates come
  * from the caller's block key (replayable — right when a second engine
  * must replay the stage) or MinHash LSH banding
  * ([[CorpusPipeline.NearDup]]`.banded` — bucket cardinality grows with
  * the corpus, hot buckets guarded: the 100 TB form).
  */
object Curation {

  /** The staged survivor frames shared by [[funnel]] and [[provenance]]:
    * an ordered list of (stage_name, id-frame) where each id-frame also
    * carries the columns the NEXT stage needs (domain throughout; the
    * line-cut TEXT lives in the returned base frame, joined back per
    * stage so only skinny frames are materialized). `track` is the
    * caller's persist policy for the BASE text frame (eager
    * persist+release for the funnel, tracked cache for the lazy
    * provenance); the skinny per-stage id frames are lineage-CUT via
    * eager localCheckpoint — see the block comment below. Their blocks
    * release with the harness's per-query persistent-RDD sweep (or the
    * ContextCleaner once the frames are unreachable); consume results
    * before releasing.
    *
    * Returns (base, stages): `base` is the (id, text, domain) frame every
    * text-needing stage joins against — the raw projection, or the
    * PERSISTED line-cut projection when the line tier is on (one cleaned
    * corpus-sized cache instead of re-running the line explode+agg per
    * downstream consumer — the [[CorpusPipeline.stages]] precedent);
    * `stages` holds one (name, ids) entry per ENABLED stage after raw,
    * ids being a (doc_id[, domain]) frame of that stage's survivors. */
  private def stagedIds(docs: DataFrame, idCol: String, textCol: String,
                        domainCol: String, nllKeep: Double, cap: Int,
                        urlRules: Option[UrlRules.Cfg],
                        lineCut: Option[CorpusPipeline.LineCut],
                        toxicity: Option[Toxicity.Cfg],
                        nearDup: Option[CorpusPipeline.NearDup],
                        scrub: Option[CorpusPipeline.SpanScrub],
                        track: DataFrame => DataFrame,
                        onCut: DataFrame => Unit = _ => ())
      : (DataFrame, Seq[(String, DataFrame)]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    // LINEAGE CUT, not just a cache: every stage references the previous
    // frame 2-5 times (the near-dup self-join legs, the loser anti-join,
    // the LM train+probe pair), and persist() leaves the LOGICAL tree
    // intact — so the composed chain's analyzed plan multiplies ~12x per
    // stage (measured: 83 -> 957,300 plan lines across the 7 stages at
    // sf0.1, 59k FileScan nodes in the final count's executed plan, and
    // the analyzer — not the data — billed 18-25 s per late stage; the
    // cache substitution that saved the 4-stage r17 chain happens AFTER
    // the exponential tree is already built). localCheckpoint truncates
    // the plan to a LogicalRDD leaf at each stage boundary, keeping
    // planning linear in stages. The frames cut here are the SKINNY
    // per-stage id frames (bytes per row); the caveat — a lost executor
    // invalidates a local checkpoint (no lineage to recompute) — is the
    // standard trade every multi-stage production pipeline makes at
    // stage boundaries, and a census/ledger job simply reruns.
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      onCut(c)
      c
    }

    // stage 0 (opt-in): URL/domain rules on the raw frame — the
    // RefinedWeb/C4 first gate, a pure projection filter (no text-tier
    // work for a doc a string rule kills). `docs` must carry the url
    // column (cfg.urlCol); the survivor id frame is cut like every stage.
    val s0 = urlRules match {
      case None => docs.select(col(idCol), col(textCol), col(domainCol))
      case Some(cfg) =>
        val ids0 = cut(UrlRules.urlFilter(docs, idCol, cfg)
          .filter(col("pass_url")).select(col(idCol).as("doc_id")))
        out += "url_rules" -> ids0
        docs.select(col(idCol), col(textCol), col(domainCol))
          .join(ids0.select(col("doc_id").as(idCol)), Seq(idCol))
    }

    // stage 1 (opt-in): CCNet line-cut on the RAW text; a doc whose kept
    // lines are empty (pure boilerplate) is the stage's drop. The cleaned
    // (id, text, domain) frame is what EVERY later stage reads — persisted
    // once, because gopher, the LM train AND probe, the dedup hash, the
    // near-dup shingles and the scrub tokenize would each re-run the
    // line explode+count otherwise.
    val base = lineCut match {
      case None => s0
      case Some(cfg) =>
        val cleaned = CorpusPipeline.lineCutDocs(s0, idCol, textCol, cfg)
        val b = track(s0.drop(textCol).join(cleaned, Seq(idCol))
          .filter(trim(col(textCol)) =!= "")
          .select(col(idCol), col(textCol), col(domainCol)))
        out += "line_cut" -> b.select(col(idCol).as("doc_id"))
        b
    }

    // stages 2/2b and the LM MODEL BUILD are independent work: the gopher
    // bitmap and toxicity lexicon gates read only `base` + the prior id
    // frame, while the stage-3 LM trains on the FULL (line-cut) corpus —
    // not on the survivor slice — so its serving frames depend on nothing
    // the two map-only gates produce. Build the model concurrently with
    // them (guide §2.6: overlap independent jobs) and score the survivors
    // against the prebuilt frames — scoreAgainst IS servingFrames +
    // scoreWithModel by definition (NgramLm.scoreAgainst), so stage-3
    // verdicts are bit-identical to the serial form.
    var ids1: DataFrame = null
    var idsT: DataFrame = null
    var serving: (DataFrame, DataFrame, DataFrame) = null
    graft.sources.Sink.inParallel(Seq(
      () => {
        val s = NgramLm.servingFrames(base, idCol, textCol)
        // materialize the tracked model + vocab caches so the lm_keep cut
        // below pays only the survivor scoring join
        s._1.count(): Unit
        s._3.count(): Unit
        serving = s
      },
      () => {
        // stage 2: Gopher rule bitmap, keep pass_all — skinny id frame
        ids1 = cut(
          TextOps.gopherQualityRules(base, idCol, textCol)
            .filter(col("pass_all")).select(col(idCol).as("doc_id")))
        // stage 2b (opt-in, r20): blocklist-lexicon toxicity gate — the C4
        // bad-words pass as a density verdict, one codegen'd projection
        // over the gopher survivors (map-only like gopher; it rides here,
        // after the cheapest bitmap and ahead of the LM join)
        idsT = toxicity match {
          case None => ids1
          case Some(cfg) =>
            val sv = base.join(ids1.select(col("doc_id").as(idCol)), Seq(idCol))
            cut(Toxicity.blocklistScore(sv, idCol, textCol, cfg)
              .filter(col("pass_toxicity")).select(col(idCol).as("doc_id")))
        }
      }))
    out += "gopher_rules" -> ids1
    if (toxicity.isDefined) out += "toxicity" -> idsT

    // stage 3: LM keep — model trained on the full (line-cut) corpus, but
    // only the prior-stage SURVIVORS pay the scoring join (the
    // stage-ordering economics the header promises). Scoring a corpus
    // subset against the full-corpus model equals self-scoring for it:
    // every survivor bigram is in the full model, so the backoff never
    // fires and verdicts are identical.
    val surv1 = base.join(idsT.select(col("doc_id").as(idCol)), Seq(idCol))
    val ids2 = cut(
      NgramLm.scoreWithModel(surv1, serving._1, serving._2, serving._3,
          idCol, textCol, nllKeep = nllKeep)
        .filter(col("keep")).select(col("doc_id")))
    out += "lm_keep" -> ids2

    // stage 4: exact dedup (min id per content hash) among survivors —
    // one join back to the corpus for text, id+domain carried forward
    val ids3 = cut(Dedup.exactByHash(
        base.join(ids2.select(col("doc_id").as(idCol)), Seq(idCol)),
        textCol, idCol)
      .select(col(idCol).as("doc_id"), col(domainCol)))
    out += "exact_dedup" -> ids3

    // stage 5 (opt-in): near-dup drop — candidate pairs from the caller's
    // block key (or LSH banding), exact-Jaccard verify, drop the HIGHER
    // id of each verified pair (keep-first; the distinct-loser anti-join
    // is the CorpusPipeline rule verbatim)
    val ids4 = nearDup match {
      case None => ids3
      case Some(cfg) =>
        val sv = base.join(ids3.select(col("doc_id").as(idCol)), Seq(idCol))
          .select(col(idCol), col(textCol))
        val pairs =
          if (cfg.banded)
            Dedup.minhashNearDups(sv, idCol, textCol,
              shingleWidth = cfg.n, threshold = cfg.threshold)
          else
            Dedup.ngramJaccardPairs(
              sv.withColumn("__block", cfg.block(col(textCol))),
              idCol, textCol, "__block", cfg.n, cfg.threshold)
        val losers = pairs.select(col("id_b").as("doc_id")).distinct()
        val kept = cut(ids3.join(losers, Seq("doc_id"), "left_anti"))
        out += "near_dup" -> kept
        kept
    }

    // stage 6 (opt-in): span scrub — repeated stride-1 windows cut; the
    // stage's drops are the docs scrubbed to ZERO tokens (all-boilerplate)
    val ids5 = scrub match {
      case None => ids4
      case Some(cfg) =>
        val sv = base.join(ids4.select(col("doc_id").as(idCol)), Seq(idCol))
          .select(col(idCol), col(textCol))
        val kept = cut(
          Dedup.spanScrub(sv, idCol, textCol, cfg.window, cfg.minDf)
            .filter(col("n_tokens") - col("n_removed") > 0)
            .select(col(idCol).as("doc_id"))
            .join(ids4, Seq("doc_id"))) // re-attach domain
        out += "span_scrub" -> kept
        kept
    }

    // stage 7: per-domain cap over the (id, domain) survivor frame
    out += "domain_cap" ->
      Sample.domainCap(ids5, "doc_id", domainCol, cap).select(col("doc_id"))
    (base, out.toSeq)
  }

  /** One row per stage: (stage, stage_name, n_docs, n_dropped) with
    * n_dropped relative to the previous stage. Row count = 5 with the
    * opt-in stages off (prior shape), 10 with the full production chain
    * (r19: + the url_rules first gate ahead of line_cut; r20: + the
    * toxicity lexicon gate between gopher and the LM).
    *
    * Execution shape: each stage's SURVIVOR-ID frame (ids only — bytes
    * per row, never text) is persisted and counted ONCE; the census is
    * then assembled from the counted longs on the driver (O(stages)
    * rows — the bounded-collect pattern). The lazy alternative — chained
    * frames union'd into one census plan — recomputes every shared stage
    * per branch: the first cut audited at 48 parquet scans and 24 token
    * explodes for one query, ~15 corpus passes at scale. */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
             domainCol: String, nllKeep: Double = 6.0,
             cap: Int = 10,
             urlRules: Option[UrlRules.Cfg] = None,
             lineCut: Option[CorpusPipeline.LineCut] = None,
             toxicity: Option[Toxicity.Cfg] = None,
             nearDup: Option[CorpusPipeline.NearDup] = None,
             scrub: Option[CorpusPipeline.SpanScrub] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val s0 = docs.select(col(idCol), col(textCol), col(domainCol))
    val n0 = s0.count()

    // the cached frames release in a finally: a failing stage (a lost
    // executor, a bad input tripping a require) must not leak
    // corpus-sized cache entries for the session's lifetime
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def track(df: DataFrame): DataFrame = { cached += df.persist(); df }
    // the eager localCheckpoint stage frames also persist blocks (that is
    // what a local checkpoint IS), and funnel consumes every stage count
    // internally before returning — so unlike provenance (whose RETURNED
    // frame depends on its checkpointed leaves and must leave release to
    // the harness sweep), funnel can release them here. Collect EXACTLY
    // this call's checkpoint RDDs through the onCut hook (each cut frame
    // is a LogicalRDD leaf over its persisted RDD) — never a diff of the
    // global persistent-RDD registry, which would evict blocks any
    // concurrent computation persisted mid-call.
    val cutRdds =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def onCut(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => cutRdds += l.rdd
        case _ => ()
      }
    try {
      val (_, stages) = stagedIds(docs, idCol, textCol, domainCol,
        nllKeep, cap, urlRules, lineCut, toxicity, nearDup, scrub, track, onCut)
      // the census counts run over ALREADY-MATERIALIZED stage frames
      // (each was eagerly localCheckpoint'd or persisted in stagedIds),
      // so they are independent cheap jobs — one overlapped roundtrip
      // instead of one serial job per stage (guide §2.6)
      val counts = graft.sources.Sink.inParallel(stages.map {
        case (_, ids) => () => ids.count()
      })
      val ns = ("raw", n0) +: stages.map(_._1).zip(counts)
      ns.zipWithIndex.zip(n0 +: ns.map(_._2)).map {
        case (((name, n), i), prev) => (i, name, n, prev - n)
      }.toDF("stage", "stage_name", "n_docs", "n_dropped")
    } finally {
      cached.foreach(_.unpersist())
      Dedup.unpersistIntermediates()
      cutRdds.foreach(_.unpersist(blocking = false))
    }
  }

  /** The PER-DOCUMENT companion to [[funnel]] — the "why was my doc
    * dropped" ledger a curation run publishes beside the census: one row
    * per input doc with each gate's verdict and the first failing stage.
    * Stage semantics are the funnel's STAGED ones, not independent
    * gates: a later gate's flag is NULL for docs that never reached it —
    * deliberately, because most of the verdicts are SET-dependent
    * (canonicity is min-id within the LM survivor set; a near-dup or
    * repeated-window verdict depends on which other docs survived beside
    * it; the cap rank is within the scrub survivors), so an
    * "independent" flag would be a different, misleading number.
    * `count(drop_stage = s)` therefore reconciles exactly with the
    * funnel's n_dropped at s — spec-pinned.
    *
    * Column shape follows the enabled stages: doc_id, [pass_linecut,]
    * pass_gopher, pass_lm, is_canonical, [pass_neardup,] [pass_scrub,]
    * within_cap, drop_stage, keep — the prior 7-column ledger when the
    * opt-in stages are off.
    *
    * Scale shape: identical to the funnel (each stage is the gated
    * operator on the previous survivor frame, skinny id frames persisted
    * once) plus one left join of an id-only frame per flag column — no
    * stage is recomputed per flag. */
  def provenance(docs: DataFrame, idCol: String, textCol: String,
                 domainCol: String, nllKeep: Double = 6.0,
                 cap: Int = 10,
                 urlRules: Option[UrlRules.Cfg] = None,
                 lineCut: Option[CorpusPipeline.LineCut] = None,
                 toxicity: Option[Toxicity.Cfg] = None,
                 nearDup: Option[CorpusPipeline.NearDup] = None,
                 scrub: Option[CorpusPipeline.SpanScrub] = None): DataFrame = {
    val s0 = docs.select(col(idCol), col(textCol), col(domainCol))
    // the base text frame rides persistTracked (harness-released between
    // queries); the per-stage id frames come back lineage-CUT
    // (localCheckpoint — see stagedIds), so the composed ledger plan is
    // eight flat joins of LogicalRDD leaves, and each stage's flag join
    // can never recompute a gate. Consequence of the cut: the stage
    // frames materialize EAGERLY inside this call (same results; each
    // stage exactly once), and the returned frame must be consumed
    // before the harness's persistent-RDD sweep. Unlike funnel (which
    // consumes every count internally and so releases its stage blocks
    // in its own finally), provenance CANNOT release here: the returned
    // ledger's plan reads the checkpointed leaves directly.
    val (_, stages) = stagedIds(docs, idCol, textCol, domainCol,
      nllKeep, cap, urlRules, lineCut, toxicity, nearDup, scrub,
      Dedup.persistTracked)

    // flag columns derive from the staged memberships with 'not_reached'
    // below the first failure, never re-evaluating a gate. Three-state
    // STRING verdicts, not nullable booleans: 'not_reached' is a
    // first-class value in this ledger (the staged semantics make it the
    // honest answer below the first failure), and an explicit state
    // string survives every downstream surface a NULL boolean trips over
    // (CSV exports, cross-engine hash compares).
    val flagName = Map(
      "url_rules" -> "pass_url",
      "line_cut" -> "pass_linecut", "gopher_rules" -> "pass_gopher",
      "toxicity" -> "pass_toxicity",
      "lm_keep" -> "pass_lm", "exact_dedup" -> "is_canonical",
      "near_dup" -> "pass_neardup", "span_scrub" -> "pass_scrub",
      "domain_cap" -> "within_cap")
    val marks = stages.zipWithIndex.map { case ((name, _), i) => (name, s"__m$i") }
    val joined = stages.zip(marks).foldLeft(
      s0.select(col(idCol).as("doc_id"))) {
      case (acc, ((_, ids), (_, mark))) =>
        acc.join(ids.select(col("doc_id"), lit(true).as(mark)),
          Seq("doc_id"), "left")
    }
    val verdicts = marks.zipWithIndex.map { case ((name, mark), i) =>
      val reached =
        if (i == 0) lit(true) else col(marks(i - 1)._2).isNotNull
      when(!reached, "not_reached")
        .when(col(mark).isNotNull, "pass").otherwise("fail")
        .as(flagName(name))
    }
    val dropStage = marks.foldRight(lit("kept")) { case ((name, mark), rest) =>
      when(col(mark).isNull, name).otherwise(rest)
    }.as("drop_stage")
    val keep = col(marks.last._2).isNotNull.as("keep")
    joined.select(col("doc_id") +: verdicts :+ dropStage :+ keep: _*)
  }
}
