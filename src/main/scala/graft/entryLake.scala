package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.ml.FatalityModel
import graft.operators._
import graft.sources.{Jsonl, Sink, Tables}
import graft.streaming.{EventStream, IncrementalStream}

import EntryOps._

/** Sources, sinks, and table-layout management: ingest formats,
  * partitioned/sorted/z-ordered/bucketed layouts, and the incremental
  * refresh lakes.
  *
  * Registration slice of the [[SparkEntry]] driver contract — query
  * lambdas and their DuckDB oracle replays, split per tier (r15) so the
  * contract file stops being the single merge bottleneck. Entry text is
  * unchanged from the monolithic registration. */
private[graft] object LakeEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "incremental_pipeline" -> ((s, d) => {
      // The loop the snapshot diff exists to feed (VERDICT r12 #4):
      // normalize → exact-dedup → filter → chunk → pack run INCREMENTALLY
      // over a two-version corpus — only the Snapshot.diff delta pays
      // text work, membership ripples (promotion/demotion) come off the
      // skinny ledger, and only delta-touched shards repack; untouched
      // shards pass through verbatim (Incremental.repack). The oracle is
      // the FULL REBUILD over version 2, replayed end-to-end in DuckDB
      // (normalize chain, min-id dedup, three keep rules, chunk
      // boundaries, md5 doc-sharding, the greedy packer as a recursive
      // CTE) — equality proves the incremental path IS the batch
      // rebuild. Planted version-2 work covers every delta class:
      // docs 40-49 and 60-62 removed; 50-59 edited (55's edit fails the
      // min-length rule — a changed doc leaving the survivor set);
      // doc 35 rewritten to doc 66's exact text (66, itself unchanged,
      // is DEMOTED — its content's canonical id drops to 35); dup
      // partners of 60-64 planted at id+1e6 in BOTH versions, so
      // removing 60-62 PROMOTES partners 1000060-62 from dup losers to
      // canonical survivors; 10 fresh docs added at id+2e6 plus one
      // exact dup of doc 90 the dedup stage must drop.
      val (prev, curr) = incrCorpus(s, d)
      val prevLedger = Incremental.ledger(prev, "doc_id", "text", incrKeep)
      val prevPacked = Incremental.batch(prev, "doc_id", "text", incrKeep,
        maxTokens = 32, overlap = 8, budget = 256L, shards = 64, incrShard)
      val delta = Snapshot.diff(prev, curr, "doc_id", "text")
      Incremental.repack(prevLedger, prevPacked, curr, delta,
        "doc_id", "text", incrKeep,
        maxTokens = 32, overlap = 8, budget = 256L, shards = 64, incrShard)
    }),
    "incremental_sink" -> ((s, d) => {
      // The WRITE-path twin of incremental_pipeline: the same planted
      // two-version corpus, but the refresh is applied IN PLACE to a
      // writePacked lake (Incremental.refreshInPlace — only affected
      // shard directories rewritten via dynamic partition overwrite,
      // emptied dirs deleted) and the gate reads the TREE back. Same
      // full-rebuild oracle: equality proves what is ON DISK after the
      // partial rewrite is the batch rebuild — write→read fidelity for
      // the refresh path, the partitioned_sink pattern applied to the
      // incremental lake.
      val (prev, curr) = incrCorpus(s, d)
      val path = sinkPath(d, "incr_lake")
      Sink.reset(path)
      Incremental.writePacked(
        Incremental.batch(prev, "doc_id", "text", incrKeep,
          maxTokens = 32, overlap = 8, budget = 256L, shards = 64, incrShard),
        path)
      // the write happens eagerly inside refreshInPlace; the returned
      // next-refresh ledger is not this gate's output
      Incremental.refreshInPlace(
        Incremental.ledger(prev, "doc_id", "text", incrKeep), path,
        curr, Snapshot.diff(prev, curr, "doc_id", "text"),
        "doc_id", "text", incrKeep,
        maxTokens = 32, overlap = 8, budget = 256L, shards = 64, incrShard): Unit
      Tables.parquet(s, path).select(
        col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("shard").cast("int").as("shard"), col("seq_id"))
    }),
    "incremental_scrub" -> ((s, d) => {
      // The frequency-delta scrub refresh (IncrementalScrub): the stage
      // whose state is NOT per-document — a window's verdict is its
      // corpus-wide df, so a delta can change the scrub output of docs
      // nobody touched. Planted version-2 work exercises both ripple
      // directions: tailB sits on docs 30+31 (df=2, scrubbed); removing
      // 31 drops it to 1 and RESTORES untouched doc 30. tailC sits on
      // doc 40 alone (df=1, kept); an added re-crawl (7000001 = doc 80's
      // body + tailC) lifts it to 2 and CUTS untouched doc 40. tailA on
      // 20-29 loses one holder (25's edit) without crossing — only 25
      // reworks. The oracle replays the BATCH spanScrub over version 2
      // in DuckDB (string-grouped window frequencies, interval cover,
      // token rebuild), so equality proves refresh ≡ batch — the same
      // verdict-equality pattern as incremental_pipeline, for the one
      // stage a per-doc ledger cannot increment.
      val (prev, curr) = scrubCorpus(s, d)
      val st = IncrementalScrub.state(prev, "doc_id", "text", 8, 2)
      val next = IncrementalScrub.refresh(st, curr,
        Snapshot.diff(prev, curr, "doc_id", "text"),
        "doc_id", "text", 8, 2)
      next.scrubbed.select(col("id").as("doc_id"),
        md5(col("scrubbed_text")).as("scrub_hash"),
        col("n_tokens"), col("n_removed"))
    }),

    // ---- §F sources & sinks --------------------------------------------
    "compact_partitions" -> ((s, d) => {
      // Lake maintenance: a micro-batched ingest is simulated by writing
      // the daily lake WITHOUT the one-task-per-partition discipline
      // (8 hash tasks × ~30 days ≈ 240 small files), then
      // Sink.compactPartitions restores the invariant — every fragmented
      // day rewritten by one task into one file via the tombstone-
      // protected swap. The oracle pins per-day row counts against the
      // source (compaction must move files, never rows) plus both
      // file-count verdicts.
      val path = sinkPath(d, "compact")
      Sink.reset(path)
      Tables.events(s, d).withColumn("day", to_date(col("ts")))
        .repartition(8, col("event_id"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      Sink.compactPartitions(s, path, "day")
        .select(col("day"), col("n_rows"),
          (col("files_before") > 1).as("was_fragmented"),
          (col("files_after") === 1).as("compacted"))
    }),
    "jsonl_ingest" -> ((s, d) => {
      // JSONL corpus boundary: land the documents table as
      // newline-delimited JSON (the LLM-corpus interchange format), plant
      // two malformed lines the way real third-party dumps contain them,
      // and read back under an explicit contract schema with PERMISSIVE
      // per-row quarantine — corrupt lines are counted, never fatal, and
      // every valid row's chars roundtrip exactly (the oracle pins the
      // per-lang totals against the source parquet).
      val path = sinkPath(d, "jsonl")
      Jsonl.write(Tables.documents(s, d), path)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "zz-corrupt.json"),
        java.util.Arrays.asList(
          """{"doc_id": 1, "text": "unterminated""",
          """this is not json"""))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id long, text string, lang string, source string, n_chars long")
      Jsonl.ingestProfile(Jsonl.read(s, path, schema), "lang", "n_chars")
    }),
    "paged_ingest" -> ((s, _) =>
      // Paged-fetch ingestion as a DSv2 source: one input partition per
      // page (the reference's concurrent offset/limit HTTP pages,
      // base_assets.py), aggregated straight off the parallel read.
      s.read.format("graft.sources.paged.PagedSource")
        .option("pages", 16).option("pageSize", 2000).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))),
    "paged_cursor" -> ((s, _) =>
      // Incremental-load path (the reference sensor's offset cursor): only
      // pages >= 12 of 16 are re-read. The pushed `page >= 12` filter
      // prunes whole input partitions — the skipped pages are never
      // fetched at all (PagedSourceSpec asserts the partition count), and
      // DuckDB replays the surviving tail rows exactly.
      s.read.format("graft.sources.paged.PagedSource")
        .option("pages", 16).option("pageSize", 2000).load()
        .filter(col("page") >= 12)
        .groupBy("page")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))),
    "shard_export" -> ((s, d) => {
      // Training-shard export: deterministic md5-keyed global shuffle of
      // the documents corpus into 8 shards, one file each, manifest read
      // back from the WRITTEN tree. The oracle recomputes the manifest
      // from the source table with the same key arithmetic — shard
      // assignment, token totals, and the modular content checksum must
      // all survive the write→read roundtrip.
      val path = sinkPath(d, "shards")
      Sink.reset(path)
      Sink.exportShards(s, Tables.documents(s, d).select("doc_id", "text"),
        path, 8, "doc_id", "text")
    }),
    "partitioned_sink" -> ((s, d) => {
      // Daily-partitioned lake write (base_assets.py:150 S3 daily objects):
      // write events partitioned by day, read the table back, and aggregate
      // it — the oracle aggregates the source directly, so the gate verifies
      // write→read fidelity end to end.
      val path = sinkPath(d, "partitioned")
      Sink.writePartitioned(
        Tables.events(s, d).select(col("event_id"), to_date(col("ts")).as("day"), col("value")),
        path, "day")
      Tables.parquet(s, path)
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"), sum("value").as("total_value"))
    }),
    "sorted_layout" -> ((s, d) => {
      // Range-sorted lake layout (Sink.writeSorted): events rewritten with
      // each file owning a contiguous event-time range, so a later bounded
      // report is answered by row-group skipping. The gate verifies
      // sort/write/read fidelity end to end — a mid-month window off the
      // sorted copy must aggregate identically to the oracle reading the
      // source directly. SinkSpec measures the skipping effect itself.
      val path = sinkPath(d, "sorted")
      Sink.writeSorted(
        Tables.events(s, d).select(col("event_id"), col("ts"), col("value")),
        path, Seq("ts"), files = 8)
      Tables.parquet(s, path)
        .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("value"), 2).as("total_value"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),
    "zorder_layout" -> ((s, d) => {
      // Z-ordered lake layout (Sink.writeZOrdered — Delta/Iceberg's
      // OPTIMIZE ZORDER as plain Spark): events clustered on the Morton
      // interleave of (day index, user_id), so every file/row group
      // covers a small tile of the (time, user) plane and carries tight
      // min/max on BOTH natural columns — a query bounding time, user,
      // or both skips at scan time where the 1-D sorted layout only
      // serves its single sort key. The gate verifies layout/write/read
      // fidelity: a two-dimensional bounded aggregate off the z-ordered
      // copy must match the oracle reading the source directly.
      // SinkSpec measures the two-dimensional skipping itself.
      val path = sinkPath(d, "zorder")
      Sink.writeZOrdered(
        Tables.events(s, d).select(
          col("event_id"), col("ts"), col("user_id"), col("value")),
        path,
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")),
        col("user_id"), files = 16)
      Tables.parquet(s, path)
        .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("user_id") >= 100 && col("user_id") < 300)
        .agg(count(lit(1)).as("n_rows"),
          round(sum("value"), 2).as("total_value"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),
    "zorder3_layout" -> ((s, d) => {
      // Three-dimensional Z-order (Sink.writeZOrdered3): time × user ×
      // value — the clustering a production fact table wants when its
      // reports bound all three. The read-back stacks predicates on all
      // three natural columns; the oracle replays them on the source.
      val path = sinkPath(d, "zorder3")
      Sink.writeZOrdered3(
        Tables.events(s, d).select(
          col("event_id"), col("ts"), col("user_id"), col("value")),
        path,
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")),
        col("user_id"), col("value"), files = 16)
      Tables.parquet(s, path)
        .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("user_id") >= 100 && col("user_id") < 300 &&
          col("value") >= 10.0 && col("value") < 60.0)
        .agg(count(lit(1)).as("n_rows"),
          round(sum("value"), 2).as("total_value"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),
    "partitioned_sorted" -> ((s, d) => {
      // The composed production layout (Sink.writePartitionedSorted):
      // daily partition dirs (coarse prune) + ts-sorted rows within each
      // day (row-group skip). The read-back stacks both predicates — the
      // `day` bound prunes partitions before any I/O, the finer `ts`
      // bound skips row groups inside the surviving days — and must
      // aggregate identically to the oracle reading the source directly.
      // SinkSpec measures the prune × skip multiplication itself.
      val path = sinkPath(d, "part_sorted")
      Sink.writePartitionedSorted(
        Tables.events(s, d).select(
          col("event_id"), to_date(col("ts")).as("day"), col("ts"), col("value")),
        path, "day", Seq("ts"), files = 16)
      Tables.parquet(s, path)
        .filter(col("day") >= lit("2024-01-08").cast("date") &&
          col("day") <= lit("2024-01-14").cast("date") &&
          col("ts") >= lit("2024-01-10 06:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-12 18:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("value"), 2).as("total_value"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),
    "upsert_sink" -> ((s, d) => {
      // Postgres ON CONFLICT DO UPDATE re-expressed as a partition-scoped
      // lake merge (base_assets.py:207): load the base table, apply an
      // update batch (every 100th event re-delivered with value+1000 at
      // version 1), and read the merged table back. Re-running is a no-op —
      // the same idempotence Dagster expects of a partitioned load.
      val path = sinkPath(d, "upsert")
      Sink.reset(path) // self-contained: stale scratch state never leaks in
      val base = Tables.events(s, d).select(
        col("event_id"), to_date(col("ts")).as("day"), col("value"), lit(0).as("version"))
      Sink.upsertPartitioned(s, path, base,
        keys = Seq("event_id"), orderCol = "version", tieBreak = "event_id", partitionCol = "day")
      // update batch bounded to ~¼ of the days: the merge reads and
      // rewrites ONLY those partitions (the actual scale property — a
      // daily load never touches the other 100 TB of table)
      val updates = base
        .filter(pmod(col("event_id"), lit(100L)) === 0 && dayofmonth(col("ts")) <= 7)
        .withColumn("value", col("value") + 1000)
        .withColumn("version", lit(1))
      Sink.upsertPartitioned(s, path, updates,
        keys = Seq("event_id"), orderCol = "version", tieBreak = "event_id", partitionCol = "day")
      Tables.parquet(s, path).select("event_id", "value")
    }),

    "bucketed_layout" -> ((s, d) => {
      // Pay the shuffle once at write time: both sides bucketed+sorted on
      // the join key, then join + aggregate — the physical plan carries no
      // Exchange on either side (BucketedSpec pins that); the gate verifies
      // the bucketed layout also returns the CORRECT join result.
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val c = Tables.customer(s, d).select(
        col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Sink.writeBucketed(o, "orders_bkt", Seq("o_custkey"), 8,
        Some(sinkPath(d, "bkt_orders")))
      Sink.writeBucketed(c, "customer_bkt", Seq("o_custkey"), 8,
        Some(sinkPath(d, "bkt_customer")))
      s.table("orders_bkt").join(s.table("customer_bkt"), Seq("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "incremental_pipeline" ->
      // the FULL REBUILD over corpus version 2 (shared with
      // incremental_sink — frame form and lake form must both equal it)
      incrRebuildSql,
    "incremental_sink" ->
      // same rebuild: the gate read the refreshed TREE back, so this
      // equality is write->read fidelity for the partial-rewrite path
      incrRebuildSql,
    "incremental_scrub" ->
      // the BATCH spanScrub replayed over corpus version 2 (same planted
      // tails/removal/edit/additions), string-grouped window frequencies
      // standing in for the engine's xxhash64 grouping (the span_dedup
      // equivalence), interval cover, per-doc token rebuild — equality
      // proves the frequency-delta refresh IS the batch rebuild
      oracleSqlScrubBatch,
    "compact_partitions" ->
      // row-conservation replay: per-day counts must equal the source's
      // (compaction moves files, never rows); fragmentation before and
      // single-file-after are pinned TRUE for every day (8 hash tasks all
      // intersect every ~330-row day at the gate corpus)
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n_rows,
           TRUE AS was_fragmented, TRUE AS compacted
         FROM events GROUP BY 1""",
    "jsonl_ingest" ->
      // valid rows roundtrip the parquet table exactly (per-lang doc and
      // char totals); the two planted malformed lines land in the corrupt
      // bucket (explicit is_corrupt flag, null group) with no chars counted
      """SELECT lang, FALSE AS is_corrupt, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang
         UNION ALL
         SELECT CAST(NULL AS VARCHAR), TRUE, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)""",
    "paged_ingest" ->
      // Full second-engine replay of the DSv2 paged source: PageFetcher's
      // rows are a pure function of (page, i, seed=42), so DuckDB
      // regenerates all 16×2000 of them — the LCG mix done in HUGEINT with
      // an explicit mod-2^64 wrap to mirror Scala's 64-bit overflow, then
      // `// 65536` for the unsigned >>> 16 (the wrapped value is
      // non-negative, so floor division IS the logical shift).
      """WITH ids AS (SELECT range AS id FROM range(0, 16 * 2000)),
         h AS (
           SELECT ((id::HUGEINT * 6364136223846793005 + 42)
                   % 18446744073709551616) // 65536 AS h
           FROM ids),
         rows_ AS (
           SELECT
             list_extract(['click','view','purchase','signup'],
               CAST(h % 4 AS INT) + 1) AS event_type,
             CAST(h % 10000 AS DOUBLE) / 100.0 AS value
           FROM h)
         SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value
         FROM rows_ GROUP BY event_type""",
    "paged_cursor" ->
      // tail pages only: same LCG replay, ids in [12*2000, 16*2000)
      """WITH ids AS (SELECT range AS id FROM range(12 * 2000, 16 * 2000)),
         h AS (
           SELECT id, ((id::HUGEINT * 6364136223846793005 + 42)
                   % 18446744073709551616) // 65536 AS h
           FROM ids),
         rows_ AS (
           SELECT id, CAST(id // 2000 AS INTEGER) AS page,
             CAST(h % 10000 AS DOUBLE) / 100.0 AS value
           FROM h)
         SELECT page, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           min(id) AS min_id, max(id) AS max_id
         FROM rows_ GROUP BY page""",
    "shard_export" ->
      // same key arithmetic as Sink.shardAssign/exportShards: first 4 md5
      // hex digits route the shard, first 8 (mod 1e9+7) feed the
      // order-insensitive checksum; token totals recount the source text
      raw"""SELECT
           CAST($docMd5Prefix
             % 8 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
             w -> w <> ''))) AS BIGINT) AS n_tokens,
           CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000007) AS BIGINT) AS checksum
         FROM documents GROUP BY 1""",
    "partitioned_sink" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
         sum(value) AS total_value
         FROM events GROUP BY 1""",
    "sorted_layout" ->
      """SELECT count(*) AS n_rows, round(sum(value), 2) AS total_value,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts < TIMESTAMP '2024-01-15 00:00:00'""",
    "zorder_layout" ->
      """SELECT count(*) AS n_rows, round(sum(value), 2) AS total_value,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts < TIMESTAMP '2024-01-15 00:00:00'
           AND user_id >= 100 AND user_id < 300""",
    "zorder3_layout" ->
      """SELECT count(*) AS n_rows, round(sum(value), 2) AS total_value,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts < TIMESTAMP '2024-01-15 00:00:00'
           AND user_id >= 100 AND user_id < 300
           AND value >= 10.0 AND value < 60.0""",
    "partitioned_sorted" ->
      """SELECT count(*) AS n_rows, round(sum(value), 2) AS total_value,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
           AND CAST(ts AS DATE) <= DATE '2024-01-14'
           AND ts >= TIMESTAMP '2024-01-10 06:00:00'
           AND ts < TIMESTAMP '2024-01-12 18:00:00'""",
    "bucketed_layout" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "upsert_sink" ->
      """SELECT event_id, value FROM (
           SELECT event_id, value,
             row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn
           FROM (
             SELECT event_id, value, 0 AS version FROM events
             UNION ALL
             SELECT event_id, value + 1000, 1 FROM events
             WHERE event_id % 100 = 0 AND day(ts) <= 7) u) t
         WHERE rn = 1"""
  )
}
