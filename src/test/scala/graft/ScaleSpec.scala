package graft

import graft.core.Transcripts
import graft.extract.Extract
import graft.scale.Scale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** FIXTURES.md families 9 (resume/lineage) and 4 (skew): idempotent resume
  * under partial failure, and salting bounds on skewed conversations. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("resumable write: partial manifest → identical final table, done buckets skipped") {
    val tmp = Files.createTempDirectory("graft_resume").toString
    val out1 = s"$tmp/full"; val man1 = s"$tmp/man_full"
    val out2 = s"$tmp/resumed"; val man2 = s"$tmp/man_resumed"
    val turns = Transcripts.synthetic(spark, 500, 10).drop("doc_text")
    val result = Extract.pipeline(turns)

    // straight-through run
    val n1 = Scale.resumableWrite(result, out1, man1, nBuckets = 8)

    // simulate a failed run that completed buckets {0,1,2}: pre-write those
    // buckets and their manifest rows, then "resume"
    val withBucket = result.withColumn("bucket", Scale.bucketCol(8))
    withBucket.filter(col("bucket") < 3)
      .write.mode("overwrite").partitionBy("bucket").parquet(out2)
    (0 until 3).foreach { b =>
      val n = spark.read.parquet(s"$out2/bucket=$b").count()
      Scale.recordBuckets(spark, man2, Seq(b -> n))
    }
    val preDone = Scale.completedBuckets(spark, man2)
    assert(preDone === Set(0, 1, 2))
    val n2 = Scale.resumableWrite(result, out2, man2, nBuckets = 8)

    assert(n1 === n2)
    val a = spark.read.parquet(out1).select("conv_id", "turn_idx", "text")
    val b = spark.read.parquet(out2).select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // second resume is a no-op on buckets (all recorded)
    assert(Scale.completedBuckets(spark, man2) === (0 until 8).toSet)
  }

  test("wave-chunked write: same table as one-shot, done waves not rewritten") {
    val tmp = Files.createTempDirectory("graft_waves").toString
    val oneShot = s"$tmp/one"; val manOne = s"$tmp/man_one"
    val waved = s"$tmp/waved"; val manWaved = s"$tmp/man_waved"
    val turns = Transcripts.synthetic(spark, 500, 10).drop("doc_text")
    val result = Extract.pipeline(turns)

    val n1 = Scale.resumableWrite(result, oneShot, manOne, nBuckets = 8)

    // simulate a run killed after wave 0 of 4 (buckets {0,4} committed +
    // manifested, wave 1 died mid-write): only wave-0 buckets exist
    val withBucket = result.withColumn("bucket", Scale.bucketCol(8))
    withBucket.filter(col("bucket").isin(0, 4))
      .write.mode("overwrite").partitionBy("bucket").parquet(waved)
    Seq(0, 4).foreach { b =>
      val n = spark.read.parquet(s"$waved/bucket=$b").count()
      Scale.recordBuckets(spark, manWaved, Seq(b -> n))
    }
    val mtimes0 = Seq(0, 4).map { b =>
      val d = new java.io.File(s"$waved/bucket=$b")
      b -> d.listFiles().map(f => f.getName -> f.lastModified).toMap
    }.toMap

    // resume with waves=4: waves 0 fully pruned, 1–3 written + manifested
    val n2 = Scale.resumableWrite(result, waved, manWaved, nBuckets = 8, waves = 4)
    assert(n1 === n2)
    val a = spark.read.parquet(oneShot).select("conv_id", "turn_idx", "text")
    val b = spark.read.parquet(waved).select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    assert(Scale.completedBuckets(spark, manWaved) === (0 until 8).toSet)
    // the crashed run's committed buckets were skipped, not rewritten
    Seq(0, 4).foreach { bkt =>
      val now = new java.io.File(s"$waved/bucket=$bkt")
        .listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(now === mtimes0(bkt), s"bucket $bkt was rewritten on resume")
    }
  }

  test("a wave of only-empty buckets neither crashes nor blocks resume") {
    val tmp = Files.createTempDirectory("graft_empty_wave").toString
    val turns = Transcripts.synthetic(spark, 300, 10).drop("doc_text")
    // keep only rows landing in ODD buckets of 8, so wave 0 of waves=2
    // (the even buckets) is entirely empty: the wave's write commits no
    // partition dir and the count-read of the then-fileless outDir used to
    // throw a schema-inference error; empty buckets must still land in the
    // manifest (rows=0) or every resume rescans them (round-4 review
    // findings)
    val result = Extract.pipeline(turns)
    val odd = result.withColumn("bucket", Scale.bucketCol(8))
      .filter(pmod(col("bucket"), lit(2)) === 1).drop("bucket")
    val n = Scale.resumableWrite(odd, s"$tmp/out", s"$tmp/man",
      nBuckets = 8, waves = 2)
    assert(n === odd.count())
    assert(Scale.completedBuckets(spark, s"$tmp/man") === (0 until 8).toSet)
  }

  test("zero-row write leaves a dir that reads back with the input columns plus bucket") {
    // no wave commits a partition dir for an empty input; the placeholder
    // keeps the dir readable with the schema a non-empty write exposes
    val tmp = Files.createTempDirectory("graft_zero_row").toString
    val empty = Extract.pipeline(
      Transcripts.synthetic(spark, 10, 5).drop("doc_text").filter("turn_idx < 0"))
    val n = Scale.resumableWrite(empty, s"$tmp/out", s"$tmp/man",
      nBuckets = 4, waves = 2)
    assert(n === 0)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.columns.toSeq === empty.columns.toSeq :+ "bucket")
    assert(back.count() === 0)
    assert(Scale.completedBuckets(spark, s"$tmp/man") === (0 until 4).toSet)
  }

  test("salted write spreads a skewed conversation across writer files") {
    // a 1000-turn conversation lands entirely in ONE bucket; with salts>1
    // the write's (bucket, turn_idx % salts) keying hands it to several
    // writer tasks → several files in that bucket dir, no straggler. The
    // table content must be identical to the unsalted write.
    val tmp = Files.createTempDirectory("graft_salted_write").toString
    val skewed = Transcripts.synthetic(spark, 2000, 10, skewFactor = 100)
      .drop("doc_text")
    val result = Extract.pipeline(skewed)
    // AQE coalescing merges this fixture-sized shuffle back into one task
    // (at corpus scale the salt groups exceed the advisory partition size
    // and stay separate) — pin the spread mechanism without it
    val n1 = Scale.resumableWrite(result, s"$tmp/plain", s"$tmp/man1", nBuckets = 8)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val n2 =
      try Scale.resumableWrite(result, s"$tmp/salted", s"$tmp/man2",
        nBuckets = 8, salts = 8)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(n1 === n2)
    val a = spark.read.parquet(s"$tmp/plain").select("conv_id", "turn_idx", "text")
    val b = spark.read.parquet(s"$tmp/salted").select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // the skewed conversation's bucket dir holds multiple data files
    val hotBucket = result.withColumn("bucket", Scale.bucketCol(8))
      .filter(col("conv_id") === "c00000000000000")
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    assert(hotBucket.size === 1)
    val files = new java.io.File(s"$tmp/salted/bucket=${hotBucket.head}")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(files > 1, s"skewed bucket written by a single task ($files file)")
  }
}
