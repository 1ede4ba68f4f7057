package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, NgramLm, TextOps, UrlRules}
import graft.sources.{Sink, Tables}

/** D34b's provenance ledger at CRAWL-INGEST time (r19) — the serving form
  * of the curation chain: the deployed artifacts (corpus line index,
  * trained LM serving frames, the url-rule config, the per-domain quota)
  * score every arriving wave into a batch-stamped ledger lake, one row
  * per arriving doc with the staged three-state verdicts the batch
  * provenance publishes (pass/fail/not_reached below the first failure)
  * plus the batch id that scored it.
  *
  * Stage set is deliberately the STATIC-ARTIFACT subset of D34b's chain —
  * url_rules → line_cut (vs the deployed index) → gopher → lm_keep (vs
  * the deployed frames) → domain_cap: these verdicts are per-doc
  * functions of (doc, artifacts, quota state), so the drained ledger
  * equals the batch computation over the same docs whatever the
  * wave/batch split. The corpus-SET-dependent stages (exact/near dedup,
  * span scrub — canonicity needs the whole set) stay batch-side by
  * design; a crawl ledger cannot know future arrivals.
  *
  * Quota state is a BATCH-STAMPED DELTA LAKE, not a mutable counter: each
  * batch writes its per-domain survivor counts under batch=N (the
  * [[graft.sources.Sink.writeBatchStamped]] rename commit) and
  * reads only deltas with batch < N as its prior — so a crashed batch
  * replays onto its own directories and recomputes the identical prior,
  * never double-counting (the E15 crash-window contract). First-arrival
  * semantics within the gate-survivor set, doc_id-ordered within a batch
  * (the E16 discipline — a stream cannot know future arrivals; batch
  * re-cap when unbiased sampling matters).
  */
object CurationStream {

  /** Per-domain gate-survivor counts from delta dirs with batch < upTo;
    * empty frame when no prior batch exists. */
  private def priorCounts(spark: SparkSession, quotaDir: String,
                          upTo: Long): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(quotaDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val prior =
      if (!fs.exists(path)) Nil
      else fs.listStatus(path).toSeq
        .map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .filter(_.getName.stripPrefix("batch=").toLong < upTo)
        .map(_.toString)
    if (prior.isEmpty)
      Seq.empty[(String, Long)].toDF("domain", "n_prior")
    else
      Tables.parquet(spark, prior: _*)
        .groupBy("domain").agg(sum("n_pass").as("n_prior"))
  }

  /** The composed ledger for ONE batch — also the batch-form oracle shape
    * (the gate query replays it over the undivided corpus). `prior` is
    * the per-domain survivor count before this batch. */
  private[graft] def ledgerBatch(batch: DataFrame, lineIndex: DataFrame,
                                 model: DataFrame, margins: DataFrame,
                                 vocab: DataFrame, urlCfg: UrlRules.Cfg,
                                 nllKeep: Double, cap: Long,
                                 prior: DataFrame): DataFrame = {
    // score a REAL url column when the arriving docs carry one (the serving
    // form must never overwrite crawl provenance with doc_id arithmetic);
    // the synthetic derivation is only the fallback for url-less corpora —
    // the test tables' shape (r19 advice fix)
    val withUrl =
      if (batch.columns.contains(urlCfg.urlCol)) batch
      else UrlRules.withSyntheticUrl(batch, urlCol = urlCfg.urlCol)
    val url = UrlRules.urlFilter(withUrl, "doc_id", urlCfg)
      .select(col("doc_id"), col("pass_url").as("__url"))
    // line tier vs the DEPLOYED index; a doc cut to empty is the drop
    val cut = Dedup.lineDedupAgainst(batch, "doc_id", "text", lineIndex)
      .select(col("id").as("doc_id"),
        (trim(col("cleaned_text")) =!= "").as("__lc"),
        col("cleaned_text"))
    // gopher + LM run on the line-CUT text (the batch chain's semantics)
    val gopher = TextOps.gopherQualityRules(cut, "doc_id", "cleaned_text")
      .select(col("doc_id"), col("pass_all").as("__go"))
    val lm = NgramLm.scoreWithModel(cut, model, margins, vocab,
        "doc_id", "cleaned_text", nllKeep = nllKeep)
      .select(col("doc_id"), col("keep").as("__lm"))
    // null-proof the flag columns: a left-join miss (e.g. a doc whose
    // every line is cut never reaches the gopher frame) must read as a
    // FAIL at that gate, never slip through a three-valued NULL in the
    // staged CASEs below
    val flags = batch.select(col("doc_id"), col("source").as("domain"))
      .join(url, Seq("doc_id"), "left")
      .join(cut.select("doc_id", "__lc"), Seq("doc_id"), "left")
      .join(gopher, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .withColumn("__url", coalesce(col("__url"), lit(false)))
      .withColumn("__lc", coalesce(col("__lc"), lit(false)))
      .withColumn("__go", coalesce(col("__go"), lit(false)))
      .withColumn("__lm", coalesce(col("__lm"), lit(false)))
    // staged survivor rank within the batch: doc_id order per domain
    // (single-file doc_id-ordered waves ⇒ arrival rank == doc_id rank)
    val survives = col("__url") && col("__lc") && col("__go") && col("__lm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("doc_id")
    val ranked = flags
      .withColumn("__rk",
        sum(when(survives, 1L).otherwise(0L)).over(w))
      .join(prior.select(col("domain"), col("n_prior")), Seq("domain"), "left")
      .withColumn("__seen",
        coalesce(col("n_prior"), lit(0L)) + col("__rk"))
    def staged(reached: org.apache.spark.sql.Column,
               pass: org.apache.spark.sql.Column) =
      when(!reached, "not_reached").when(pass, "pass").otherwise("fail")
    ranked.select(
      col("doc_id"), col("domain"),
      staged(lit(true), col("__url")).as("pass_url"),
      staged(col("__url"), col("__lc")).as("pass_linecut"),
      staged(col("__url") && col("__lc"), col("__go")).as("pass_gopher"),
      staged(col("__url") && col("__lc") && col("__go"), col("__lm"))
        .as("pass_lm"),
      staged(survives, col("__seen") <= cap).as("within_cap"),
      when(!col("__url"), "url_rules")
        .when(!col("__lc"), "line_cut")
        .when(!col("__go"), "gopher_rules")
        .when(!col("__lm"), "lm_keep")
        .when(col("__seen") > cap, "domain_cap")
        .otherwise("kept").as("drop_stage"),
      (survives && col("__seen") <= cap).as("keep"))
  }

  /** One micro-batch: ledger its docs against the static artifacts + the
    * quota delta lake, and commit the ledger rows AND the quota delta
    * batch-stamped. No marker: the prior reads only batches before
    * `batchId`, so a replay recomputes the identical result onto its own
    * directories. Exposed to the spec so crash replays can be driven
    * directly. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
                                outDir: String, quotaDir: String,
                                lineIndex: DataFrame, model: DataFrame,
                                margins: DataFrame, vocab: DataFrame,
                                urlCfg: UrlRules.Cfg, nllKeep: Double,
                                cap: Long): Unit = {
    val prior = priorCounts(batch.sparkSession, quotaDir, batchId)
    val ledger = ledgerBatch(batch, lineIndex, model, margins, vocab,
      urlCfg, nllKeep, cap, prior).persist()
    try {
      // the ledger lake write and the quota-delta write are independent
      // sinks off the same persisted batch ledger — overlap them (guide
      // §2.6); each is its own batch-stamped commit
      Sink.inParallel(Seq(
        () => Sink.writeBatchStamped(
          ledger.withColumn("batch_id", lit(batchId)), outDir, batchId),
        () => Sink.writeBatchStamped(
          ledger.filter(col("keep") || (col("within_cap") === "fail"))
            .groupBy("domain").agg(count(lit(1)).as("n_pass")),
          quotaDir, batchId)))
    } finally ledger.unpersist()
  }

  /** The checkpointed ingest: one [[EventStream.drain]] of the landing
    * directory, one [[applyBatch]] per delivery file. */
  def provenanceStream(spark: SparkSession, landingDir: String,
                       schema: org.apache.spark.sql.types.StructType,
                       outDir: String, quotaDir: String,
                       checkpointDir: String,
                       lineIndex: DataFrame, model: DataFrame,
                       margins: DataFrame, vocab: DataFrame,
                       urlCfg: UrlRules.Cfg = UrlRules.Cfg(),
                       nllKeep: Double = 6.0, cap: Long = 10L): Unit =
    EventStream.drain(EventStream.landing(spark, landingDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, outDir, quotaDir, lineIndex, model,
          margins, vocab, urlCfg, nllKeep, cap)
      }, checkpointDir)
}
