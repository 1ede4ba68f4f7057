package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.ml.FatalityModel
import graft.operators._
import graft.sources.{Jsonl, Sink, Tables}
import graft.streaming.{EventStream, IncrementalStream}

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, with matching DuckDB `oracleSql` where the semantics are
  * ANSI-SQL-expressible. Column names/aliases are kept identical on both
  * sides (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on sf0.001: the reference's headline report rollup
    * (daily activity trend, report.py:62). */
  def entry(spark: SparkSession): DataFrame =
    Analytics.dailyCounts(Tables.events(spark, "/root/testdata/sf0.001"))

  /** Drop every memoized trained artifact for `s` — perfbench's
    * per-pass clear (see [[EntryOps.clearSessionMemos]]). */
  def clearSessionMemos(s: SparkSession): Unit = EntryOps.clearSessionMemos(s)

  private def merged[V](parts: Seq[Map[String, V]]): Map[String, V] = {
    val dups = parts.flatMap(_.keysIterator).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate registrations across entry slices: ${dups.mkString(", ")}")
    parts.foldLeft(Map.empty[String, V])(_ ++ _)
  }

  /** One entry per implemented operator — the union of the per-tier
    * registration slices (entry*.scala), duplicate-checked. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = merged(Seq(
    CoreEntries.queries,
    DedupEntries.queries,
    TokenEntries.queries,
    TextEntries.queries,
    MultimodalEntries.queries,
    MlEntries.queries,
    LakeEntries.queries,
    StreamEntries.queries))

  /** DuckDB oracle per query (same alias contract) — union of the same
    * slices. */
  def oracleSql: Map[String, String] = merged(Seq(
    CoreEntries.oracleSql,
    DedupEntries.oracleSql,
    TokenEntries.oracleSql,
    TextEntries.oracleSql,
    MultimodalEntries.oracleSql,
    MlEntries.oracleSql,
    LakeEntries.oracleSql,
    StreamEntries.oracleSql))


  /** Queries with NO `oracleSql` entry, by design — each is rows-only at
    * the driver but carries an oracle'd companion gate or a ScalaTest spec
    * pinning its semantics (EntrySurfaceSpec enforces this list stays
    * deliberate: any query missing an oracle AND absent here fails CI).
    *
    *  - minhash_dedup / simhash_dedup / ngram_jaccard / dedup_clusters /
    *    seq_packing / multimodal_meta: probabilistic or binary-payload
    *    outputs not SQL-expressible; each gated through a deterministic
    *    companion (`*_planted_pairs`, `*_exact`, `*_check`, `*_golden`).
    *  - fatality_model: GBT fit metrics (rmse/mae/r2 floats); pinned by
    *    FatalityModelSpec on deterministic seeds plus the green
    *    model_feature_importance_check companion. prediction_perf and
    *    risk_crosstab graduated to golden oracles in r16 (deterministic
    *    frozen fit + order-independent integer-sum rollups).
    */
  val rowsOnly: Set[String] = Set(
    "minhash_dedup", "simhash_dedup", "ngram_jaccard", "dedup_clusters",
    "seq_packing", "multimodal_meta",
    "fatality_model",
    // per-slot GBT importances ride the same fit as C3/C5/C6 (float
    // goldens would flake); model_feature_importance_check is the
    // SQL-checkable companion gate
    "model_feature_importance")
}
