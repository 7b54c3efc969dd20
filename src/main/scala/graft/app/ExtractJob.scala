package graft.app

import graft.extract.Extract
import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entrypoint (SURVEY.md §7 item 9): read a transcripts table →
  * extraction kernel → resumable keyed write → atomic snapshot publish,
  * with observed metrics.
  *
  * Usage:
  *   spark-submit --class graft.app.ExtractJob <jar> \
  *     <inputPath> <tableDir> [nBuckets] [salts]
  *
  * Scale posture (north_rule): input is read as-is (at 10^12 turns this is
  * an Iceberg table with bucket(conv_id) partitioning; here a parquet dir);
  * the per-turn kernel is embarrassingly parallel and runs MAP-SIDE in the
  * scan stage — the job's only shuffle is the write's keyed repartition,
  * salted (bucket, turn_idx % salts) so a skewed long conversation spreads
  * across up to `salts` writer tasks instead of one straggler; the write is
  * bucket-partitioned and manifest-guarded INSIDE an unpublished snapshot
  * directory, so a resumed run recomputes only unfinished buckets AND
  * readers of the published table never see a torn write — the snapshot
  * becomes visible only at the final atomic pointer flip (TableIO).
  * Metrics come from `observe` (Spark-native, no driver-side collect).
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExtractJob <inputPath> <tableDir> [nBuckets] [salts] [waves]")
    val Array(in, table) = args.take(2)
    val nBuckets = if (args.length > 2) args(2).toInt else Scale.DefaultBuckets
    val salts = if (args.length > 3) args(3).toInt else 16
    // waves > 1 = crash-resumable checkpoint granularity (Scale.resumableWrite)
    val waves = if (args.length > 4) args(4).toInt else 1

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Scale.configure(
      SparkSession.builder().appName("graft-extract"), cpus)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val (snap, written) = run(spark, in, table, nBuckets, salts, cpus, waves)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[extract-job] wrote $written%d turns in $secs%.1f s " +
      f"(${written / secs}%.0f turns/sec) to $table/$snap (published)")
    spark.stop()
  }

  /** Job body (main minus session lifecycle — testable): returns
    * (published snapshot, rows written). */
  def run(spark: SparkSession, in: String, table: String, nBuckets: Int,
          salts: Int, cpus: Int, waves: Int = 1): (String, Long) = {
    val snap = TableIO.stage(spark, table, s"nBuckets=$nBuckets\nsalts=$salts")
    val manifest = s"$table/$snap/manifest"
    val dataDir = TableIO.dataDir(table, snap)
    // NO upfront repartition: the kernel is per-turn embarrassingly
    // parallel and runs map-side inside the scan stage (size-balanced
    // splits), so the job's ONLY shuffle is the write's keyed repartition —
    // which is where conversation skew actually bites and where
    // resumableWrite's salted (bucket, turn_idx % salts) keying handles it.
    // Observation (not a bare .observe name): the metrics are retrieved
    // after the write action and printed — the bare-name spelling computed
    // the aggregates on every row and silently discarded them (round-3
    // review finding). Attached ONLY on a FRESH single-wave run:
    //  - an Observation is single-shot, and its CollectMetrics node is a
    //    pushdown barrier — under waves>1 it would pin the kernel ABOVE the
    //    wave's bucket filter (kernel × waves) and capture wave-0's subset
    //    as the job metric;
    //  - on a RESUMED snapshot the observed plan either never executes
    //    (all buckets already manifested → resumableWrite runs no write
    //    job, and obs.get would block forever) or sees only the re-written
    //    subset (round-4 review finding).
    // Both fall back to one aggregation over the written table.
    val resumed = Scale.completedBuckets(spark, manifest).nonEmpty
    val pipeline = Extract.pipeline(spark.read.parquet(in))
    val turnsOut = count(lit(1)).as("turns_out")
    val emptyTurns = sum(when(col("text") === "", 1).otherwise(0))
    val charsOut = sum(length(col("text")))
    val obs =
      if (waves == 1 && !resumed)
        Some(org.apache.spark.sql.Observation("extract_metrics"))
      else None
    val extracted = obs.fold(pipeline)(o => pipeline.observe(o,
      turnsOut, emptyTurns.as("empty_turns"), charsOut.as("chars_out")))
    // waves is NOT in the params sidecar on purpose (see TableIO.stage).
    val written = Scale.resumableWrite(extracted, dataDir, manifest, nBuckets,
      waves, salts)
    // .filter(_.nonEmpty): a zero-row fresh run's keyed write launches zero
    // tasks, so the Observation completes with an EMPTY map (no metrics row
    // ever accumulated). resumableWrite leaves the data dir readable even
    // then, and the coalesced sums read 0 on a zero-row table.
    val m: Map[String, Any] = obs.map(_.get).filter(_.nonEmpty).getOrElse {
      val r = spark.read.parquet(dataDir).agg(turnsOut,
        coalesce(emptyTurns, lit(0L)).as("empty_turns"),
        coalesce(charsOut, lit(0L)).as("chars_out")).collect()(0)
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }
    System.err.println(s"[extract_metrics] turns_out=${m("turns_out")} " +
      s"empty_turns=${m("empty_turns")} chars_out=${m("chars_out")}")
    TableIO.publish(spark, table, snap)
    (snap, written)
  }
}
