package graft

import graft.app.CurationJob
import graft.corpus.{Curation, Packing}
import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The production corpus-build main: staged-through-parquet boundaries must
  * land on exactly the single-job composition's result (q82's semantics),
  * and the stage manifest must make the build resumable. */
class CurationJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val srcDir = "/root/testdata/sf0.001"

  private def composedExpected(in: String) = {
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val quality = docs.select(col("doc_id"), col("text"), col("lang"),
        graft.textstats.TextStats.qualityScorePpm(col("text"),
          graft.text.Normalize.DefaultStops).as("quality_ppm"))
      .filter(col("quality_ppm") >= 650000L)
    val keepers = Dedup.exact(quality, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val unique = quality.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), col("lang"),
        split(col("text"), " ").as("tokens"))
    val nearDropped = Dedup.minhashLshMd5(
        unique.select(col("doc_id"), col("tokens")),
        "doc_id", "tokens", k = 3, numHashes = 16, bands = 4)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("key_b").as("doc_id")).distinct()
    val surv = unique.join(nearDropped, Seq("doc_id"), "left_anti")
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(split(col("text"), " ").as("tokens"))
    val contam = Curation.contaminated(surv, bench, "doc_id", "tokens",
      k = 4).select("doc_id")
    val clean = surv.join(contam, Seq("doc_id"), "left_anti")
    val kept = Curation.sampleToBalanced(
      clean.select(col("doc_id"), col("lang")), "doc_id", "lang")
    Packing.packSpans(
      clean.join(kept.select("doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("text")),
      "doc_id", "text", blockTokens = 256, bucketSize = 4096L)
  }

  test("staged job result equals the single-job composition, and publishes atomically") {
    val work = java.nio.file.Files.createTempDirectory("curation_job").toString
    val table = s"$work/corpus_blocks"
    val (snap, written) = CurationJob.run(spark,
      s"$srcDir/documents.parquet", table, nBuckets = 8, waves = 2)
    assert(written > 0)
    // the published pointer resolves to the snapshot just built
    assert(graft.scale.TableIO.currentSnapshot(spark, table) === Some(snap))
    val got = spark.read
      .parquet(graft.scale.TableIO.dataDir(table, snap))
      .select("pack_id", "doc_id", "start_tok", "end_tok")
      .collect().map(_.toSeq).toSet
    val expected = composedExpected(srcDir)
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(got.size.toLong === written)
    // the stage boundary is manifest-guarded (what makes a retry resume
    // instead of recompute) — every bucket of stage_clean is recorded
    assert(graft.scale.Scale.completedBuckets(spark,
      s"$table/$snap/stage_clean/manifest").size === 8)
  }

  test("a corpus with no stage-1 survivor publishes a readable empty block map, twice") {
    val work = java.nio.file.Files.createTempDirectory("curation_job_empty").toString
    spark.read.parquet(s"$srcDir/documents.parquet").filter(lit(false))
      .write.parquet(s"$work/docs")
    val table = s"$work/corpus_blocks"
    Seq("snap-00001", "snap-00002").foreach { expected =>
      val (snap, written) = CurationJob.run(spark, s"$work/docs", table,
        nBuckets = 8, waves = 2)
      assert(snap === expected)
      assert(written === 0)
      val published = graft.scale.TableIO.readTable(spark, table)
      assert(published.columns.toSeq ===
        Seq("pack_id", "doc_id", "start_tok", "end_tok", "bucket"))
      assert(published.count() === 0)
    }
  }
}
