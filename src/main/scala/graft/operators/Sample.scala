package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling for training-data pipelines: carving held-out sets, per-class
  * rebalancing, and cheap profiling reads out of a 100 TB corpus.
  *
  * The workhorse is the HASH sample, not `df.sample`: hashing a stable key
  * is reproducible run-to-run and engine-to-engine, composable (the same
  * predicate selects the same documents in every derived table, so
  * samples of different tables stay join-consistent), and a pure
  * filter — it pushes into the scan and costs no shuffle. `df.sample`'s
  * per-partition RNG changes membership whenever partitioning changes.
  */
object Sample {

  /** Deterministic keyed sample: keeps a row iff
    * `xxhash64(key) mod 10000 < fraction * 10000`. Same key ⇒ same
    * decision, everywhere, forever. */
  def hashSample(df: DataFrame, keyCol: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(pmod(xxhash64(keyCol), lit(10000L)) < lit((fraction * 10000).toLong))
  }

  /** Deterministic train/val/test split — the held-out-set carve every
    * training pipeline runs exactly once and must never re-deal: a doc's
    * split is a pure function of its key (md5-prefix bucket in
    * [0, Σweights)), so re-running on a grown corpus keeps every old
    * doc's assignment (no eval-set contamination from reshuffling), the
    * same predicate reproduces the split in any engine, and membership
    * survives repartitioning. Adds a `split` column; weights are integer
    * parts-per-total (e.g. train→80, val→10, test→10). */
  def hashSplit(df: DataFrame, keyCol: Column,
                splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val total = splits.map(_._2).sum
    val bucket = conv(substring(md5(keyCol.cast("string")), 1, 4), 16, 10)
      .cast("long") % total
    var acc = 0
    var expr: Column = null
    splits.foreach { case (name, w) =>
      acc += w
      val cond = bucket < acc
      expr = if (expr == null) when(cond, lit(name)) else expr.when(cond, lit(name))
    }
    df.withColumn("split", expr)
  }

  /** Stratified sample: an independent hash sample per stratum, with
    * per-stratum fractions (class rebalancing: downsample the dominant
    * event types, keep the rare ones whole). Strata missing from `fractions`
    * are dropped. The salt decorrelates membership across different
    * stratified samples of the same keys. */
  def stratifiedHashSample(df: DataFrame, stratumCol: Column, keyCol: Column,
                           fractions: Map[String, Double],
                           salt: Long = 0L): DataFrame = {
    val frac = fractions.foldLeft(lit(-1.0)) { case (acc, (stratum, f)) =>
      when(stratumCol === stratum, lit(f)).otherwise(acc)
    }
    df.withColumn("__frac", frac)
      .filter(col("__frac") >= 0 &&
        pmod(xxhash64(keyCol, lit(salt)), lit(10000L)) < col("__frac") * 10000)
      .drop("__frac")
  }

  /** Token-budget mixture draw: per stratum (source/language), keep docs in
    * deterministic hash order until the stratum's TOKEN budget is reached —
    * how a training mixture is actually specified ("this many tokens of
    * code, this many of web"), as opposed to row fractions. A doc is kept
    * while the budget is not yet exhausted BEFORE it (running sum
    * exclusive), so each stratum overshoots by at most one document.
    *
    * One shuffle (the per-stratum window); hash order makes the draw
    * reproducible and incremental — re-running on a grown corpus keeps
    * every previously-kept doc whose hash position still fits the budget. */
  /** Temperature-flattened mixture budgets — the multilingual/LLM
    * sampling recipe (draw stratum s with p_s ∝ mass_s^(1/τ), the
    * XLM-R/mBERT exponential-smoothing rule; τ=1 keeps natural
    * proportions, τ>1 flattens toward uniform and lifts low-resource
    * strata, τ→∞ is uniform). One map-side-combined agg computes each
    * stratum's token mass (bounded driver collect: one row per stratum);
    * `totalTokens` is then allocated as floor(total·w_s/Σw). Feed the
    * result straight to [[tokenBudgetSample]].
    *
    * τ=2 routes through IEEE-correctly-rounded `sqrt` (not `pow`), so an
    * external engine replaying the allocation with SQRT reproduces the
    * budgets bit-for-bit — the gate runs at τ=2 for exactly this reason. */
  def temperatureBudgets(df: DataFrame, stratumCol: Column, tokensCol: Column,
                         totalTokens: Long, temperature: Double): Map[String, Long] = {
    require(temperature > 0, "temperature must be positive")
    val invTau = 1.0 / temperature
    def flat(m: Double): Double =
      if (invTau == 0.5) math.sqrt(m)
      else if (invTau == 1.0) m
      else math.pow(m, invTau)
    // null strata are excluded up front: tokenBudgetSample's stratum
    // equality can never match a null row, so a null-keyed budget would
    // only inflate z and silently shrink every real stratum's allocation
    val weights = df.filter(stratumCol.isNotNull)
      .groupBy(stratumCol.as("__stratum"))
      .agg(sum(tokensCol).cast("double").as("__mass"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> flat(r.getDouble(1)))
      .sortBy(_._1) // deterministic summation order
    val z = weights.map(_._2).sum
    weights.map { case (s, w) =>
      s -> math.floor(totalTokens * w / z).toLong
    }.toMap
  }

  def tokenBudgetSample(df: DataFrame, stratumCol: Column, keyCol: Column,
                        tokensCol: Column, budgets: Map[String, Long],
                        salt: Long = 0L,
                        orderKey: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = budgets.foldLeft(lit(-1L)) { case (acc, (stratum, b)) =>
      when(stratumCol === stratum, lit(b)).otherwise(acc)
    }
    // default draw order is the engine-standard xxhash64; callers needing
    // a cross-engine-replayable order (the gate uses md5) can override
    val w = Window.partitionBy(stratumCol)
      .orderBy(orderKey.getOrElse(xxhash64(keyCol, lit(salt))).asc, keyCol.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__budget", budget)
      .withColumn("__before", coalesce(sum(tokensCol).over(w), lit(0L)))
      .filter(col("__budget") >= 0 && col("__before") < col("__budget"))
      .drop("__budget", "__before")
  }

  /** Per-domain cap — the RefinedWeb-style diversity guard: keep at most
    * `cap` documents per domain/source so no single host dominates the
    * training mix. Priority is a uniform deterministic hash
    * (md5(domain:id), tie-break id), so the kept set is an unbiased,
    * reproducible, engine-replayable subsample of each domain. The
    * output gains an `rk` column — the 1..cap priority rank within the
    * kept domain.
    *
    * Scale shape: a bare window per domain WOULD be a skew bomb (a
    * crawl's host distribution is zipfian, so one mega-domain lands on
    * one task) — but Catalyst's `InferWindowGroupLimit` turns the
    * `row_number ≤ cap` filter into a map-side group-limit BELOW the
    * exchange: each input partition ships at most `cap` rows per domain,
    * so the mega-domain's window task sorts ≤ cap·P rows (P = upstream
    * partitions), never |domain|. The first cut of this operator
    * hand-rolled a two-phase salted ranking instead; the CapScale probe
    * (BASELINE.md) showed the salted form ships MORE shuffle rows than
    * the pruned single window (cap·salts·P vs cap·P map-side survivors)
    * — the optimizer's form wins, so this operator trusts it, and
    * DomainCapSpec pins both group-limits in the plan. */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
                cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap > 0, "cap must be positive")
    // the output gains an `rk` column (1..cap within each kept domain);
    // refuse to silently clobber a caller's existing ranking
    require(!df.columns.contains("rk"),
      "input already has an 'rk' column; rename it before domainCap")
    val pri = md5(concat_ws(":", col(domainCol), col(idCol).cast("string")))
    val w = Window.partitionBy(col(domainCol))
      .orderBy(pri.asc, col(idCol).asc)
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  /** Split-leakage check — the eval-contamination gate [[hashSplit]]
    * needs beside it: the split is keyed on the doc ID, so two documents
    * with IDENTICAL CONTENT can land in different splits — a train/test
    * leak that silently inflates eval scores. One row per duplicated
    * content group with the splits it spans; `leaked` marks groups
    * crossing a split boundary. Clean input (post exact-dedup) returns
    * zero leaked rows — run it as the assertion between dedup and export.
    *
    * Scale shape: one hash aggregation over (content-hash) — the same
    * shuffle exact dedup pays — carrying a count, a distinct-split count,
    * and a ≤|splits|-element set; no joins, no text shipped past the
    * md5 projection. */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   splits: Seq[(String, Int)]): DataFrame =
    hashSplit(df, col(idCol), splits)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        array_join(sort_array(collect_set(col("split"))), ",").as("splits"))
      .filter(col("n_docs") >= 2)
      .withColumn("leaked", col("n_splits") >= 2)

  /** Epoch mix plan — the data-mixture arithmetic a training run fixes
    * before it starts (the LLaMA-style sampling-proportions table): given
    * per-source token holdings, per-source mixture weights, and a total
    * token budget, how many tokens does each source contribute and at
    * what repetition factor (epochs > 1 = upsampling, < 1 = subsampling)?
    * `weightCol` is a per-row expression constant within a source (so the
    * plan replays in any engine without shipping a weights map).
    *
    * Scale shape: one map-side-combinable aggregation to O(|sources|)
    * rows; the weight normalizer attaches as a broadcast 1-row agg; all
    * arithmetic is on the tiny aggregated frame. */
  def epochMixPlan(df: DataFrame, domainCol: Column, tokensCol: Column,
                   weightCol: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budget must be positive")
    val perSource = df.groupBy(domainCol.as("source"))
      .agg(sum(tokensCol).cast("long").as("available_tokens"),
        max(weightCol).as("weight"))
    val z = perSource.agg(sum(col("weight")).as("z"))
    perSource.crossJoin(broadcast(z))
      .withColumn("target_tokens",
        floor(lit(budgetTokens.toDouble) * col("weight") / col("z")).cast("long"))
      .withColumn("epochs",
        round(col("target_tokens") / col("available_tokens"), 4))
      .select("source", "available_tokens", "weight", "target_tokens", "epochs")
  }

  /** Deterministic per-epoch training order — the reproducible global
    * shuffle a data loader fixes before a run (the Megatron-style epoch
    * permutation): every document gets a (shard, pos) slot, keyed on
    * md5("ep:<epoch>:<id>") so epoch 2's order is unrelated to epoch 1's
    * yet both replay bit-for-bit on any engine and any cluster size —
    * resuming from a checkpoint means seeking to (shard, pos), never
    * re-drawing RNG state. shard = md5-prefix mod `numShards` (the
    * [[hashSplit]] arithmetic), pos = 1-based rank within the shard by
    * (full md5 hex, id) — lowercase-hex string order is plain byte order
    * in every engine.
    *
    * Scale shape: NO global sort. One hash shuffle partitions by shard
    * (uniform by construction — hashed, so no skew regardless of the
    * data), and each shard sorts locally for its row_number; shards are
    * sized by `numShards` to the consumer's reader parallelism exactly
    * like [[graft.sources.Sink]]'s shard export. The output is the
    * skinny (shard, pos, doc_id) manifest — 16-ish bytes/doc — which a
    * loader joins back to the packed payload by doc_id. */
  def epochOrder(df: DataFrame, idCol: String, epoch: Int,
                 numShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epoch >= 0, "epoch must be non-negative")
    require(numShards > 0, "numShards must be positive")
    val key = md5(concat_ws(":", lit("ep"), lit(epoch),
      col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key").asc, col("doc_id").asc)
    df.select(col(idCol).as("doc_id"), key.as("__key"))
      .withColumn("shard",
        (conv(substring(col("__key"), 1, 4), 16, 10).cast("long")
          % numShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select("shard", "pos", "doc_id")
  }

  /** Per-domain cap audit: how much each domain holds vs keeps under the
    * cap — the mix report a curation run publishes. Counts aggregate
    * map-side; rows are O(|domains|). */
  def domainCapStats(df: DataFrame, idCol: String, domainCol: String,
                     cap: Int): DataFrame = {
    val kept = domainCap(df, idCol, domainCol, cap)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("n_kept"))
    df.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq(domainCol), "left")
      .select(col(domainCol),
        col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") > lit(cap.toLong)).as("capped"))
  }
}
