package graft
import graft.sources.Tables
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated name filter for fast targeted
    // oracle iteration with tools/selfcheck.py (the driver passes 2 args
    // → full run, contract unchanged)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Gate-corpus sentinel: the [GOLDEN @ gate corpus] oracles (fingerprint,
    // stratified_sample, multimodal_golden, embedding_dedup, the ANN
    // hit-count gates) pin constants derived from the seed=42 sf0.01 corpus
    // (documents=500, embeddings=500, events=10000). Running against any
    // other corpus flips those rows red for a reason that is NOT an engine
    // bug — say so loudly up front instead of letting it read as one.
    val expected = Seq("documents" -> 500L, "embeddings" -> 500L,
      "events" -> 10000L)
    val actual = expected.map { case (t, _) =>
      t -> Tables.parquet(spark, s"$sfDir/$t.parquet").count() }
    if (actual != expected) {
      val msg =
        s"""|[verify] WRONG CORPUS for golden oracles: expected
            |[verify]   ${expected.map { case (t, n) => s"$t=$n" }.mkString(" ")}
            |[verify] but $sfDir has
            |[verify]   ${actual.map { case (t, n) => s"$t=$n" }.mkString(" ")}
            |[verify] The [GOLDEN @ gate corpus] rows (fingerprint, stratified_sample,
            |[verify] multimodal_golden, embedding_dedup, lsh/ivf ANN hit counts) WILL
            |[verify] mismatch — that is a corpus change, not an engine regression.
            |""".stripMargin
      System.err.println(msg)
      Files.writeString(Paths.get(s"$outDir/CORPUS_SENTINEL.txt"), msg)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // per-query isolation, mirroring Bench (see releaseAll's scaladoc
        // for why: the heavier lazy plans tip the driver heap without it)
        GraftSession.releaseAll(spark)
        System.err.println(s"[verify] running $name")
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // NonFatal only: a fatal error ends the run (non-zero exit) rather
        // than dumping the remaining queries from a broken JVM
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          e.getStackTrace.take(25).foreach(f =>
            System.err.println(s"[verify]   at $f"))
        }
      }
    // every key and SQL text fully escaped (Harness.jsonString): a tab or
    // CR in hand-written oracle SQL would otherwise make the compare's
    // json.load fail and silently zero the whole correctness check
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
