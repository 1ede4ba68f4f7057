package graft

import org.scalatest.funsuite.AnyFunSuite

/** Correctness-surface guard: every `SparkEntry.queries` entry must at
  * least ANALYZE against the current testdata layout.
  *
  * Motivation (round 10): the driver regenerated `events.parquet` with a
  * native `timestamp[us]` `ts` column; `Tables.events` still assumed
  * legacy nanos-as-long, and 47 of 114 queries silently dropped out of the
  * correctness check — nothing in-repo flagged the shrinkage because only
  * two suites happened to touch the events scan. This spec pins the full
  * surface: a schema change that breaks analysis of ANY registered query
  * fails the build immediately, with the query named.
  *
  * Analysis only (`queryExecution.analyzed`) — no jobs are triggered for
  * lazily-built plans, so the guard stays cheap even as the surface grows.
  * Queries whose builders eagerly run bounded work (training collects,
  * AvailableNow streams) pay that once at the smallest SF.
  */
class EntrySurfaceSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("every SparkEntry query analyzes against the current testdata") {
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).queryExecution.analyzed; None }
        catch {
          case e: Throwable =>
            Some(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(2).mkString(" | ")}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries no longer analyze against $dir:\n  " +
        failures.mkString("\n  "))
  }

  test("entry: the flagship query returns rows on the smallest SF") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    assert(SparkEntry.entry(spark).limit(1).count() === 1L,
      "driver smoke-check would fail: entry() returned no rows")
  }

  test("every query has an oracleSql entry or is a documented rows-only check") {
    // rows-only queries (no SQL-expressible oracle) — keep this list short
    // and deliberate; everything else must carry a DuckDB oracle.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val known = missing.filter(n => SparkEntry.rowsOnly.contains(n))
    assert(missing == known,
      s"queries missing BOTH oracleSql and rowsOnly justification: ${(missing -- known).toSeq.sorted.mkString(", ")}")
    // the exemption list itself must not rot: every entry names a live
    // query, and none shadows a query that HAS an oracle
    val dead = SparkEntry.rowsOnly -- SparkEntry.queries.keySet
    assert(dead.isEmpty, s"rowsOnly entries naming no live query: ${dead.toSeq.sorted.mkString(", ")}")
    val shadowed = SparkEntry.rowsOnly.intersect(SparkEntry.oracleSql.keySet)
    assert(shadowed.isEmpty,
      s"rowsOnly entries that actually have oracles (stale exemption): ${shadowed.toSeq.sorted.mkString(", ")}")
  }

  test("shared oracle fragments have one copy in src/main, inside EntryOps") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try f.getPath -> src.mkString finally src.close()
    }
    // one signature literal per folded fragment: the whitespace tokenizer,
    // the BPE merge table, the BPE recursion, the md5 shard prefix and the
    // KN continuation counts. A pasted copy anywhere else fails here.
    val signatures = Seq(
      "list_filter(regexp_split_to_array(trim(lower(text))",
      "(0,'65','72')",
      "regexp_extract_all(lower(hex(w))",
      "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT",
      "contu AS (SELECT w2, count(*) AS cu")
    val ops = "src/main/scala/graft/EntryOps.scala"
    for (sig <- signatures) {
      val copies = sources.map { case (p, src) =>
        p -> (src.split(java.util.regex.Pattern.quote(sig), -1).length - 1)
      }.filter(_._2 > 0).toMap
      assert(copies === Map(ops -> 1), s"copies of `$sig`: $copies")
    }
  }
}
