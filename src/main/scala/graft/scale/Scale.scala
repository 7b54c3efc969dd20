package graft.scale

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The scale module (SURVEY.md §7 item 8): conv_id hash bucketing, salted
  * keyed writes for skewed conversations, AQE config, and the checkpointed
  * per-partition lineage manifest that makes a failed 10^12-turn run
  * resumable without recomputing completed buckets (north_rule).
  *
  * The reference has no equivalent — a failed run restarts from scratch and
  * "resume" is a human moving files (reference: src/doc_classification.py:75-92).
  */
object Scale {

  /** Number of hash buckets the output table is partitioned by. On a real
    * cluster this is the Iceberg `bucket(N, conv_id)` transform; in the
    * parquet fallback it is an explicit partition column. */
  val DefaultBuckets = 64

  def bucketCol(nBuckets: Int = DefaultBuckets, keyCol: String = "conv_id") =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int").as("bucket")

  /** Session defaults for the engine: AQE on (coalesce + skew-join), sane
    * local shuffle parallelism. */
  def configure(b: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Free a materialized frame's blocks. An eager `localCheckpoint` frame
    * is a bare `LogicalRDD` whose checkpoint RDD holds the rows — the
    * cache manager never sees it, so that RDD is unpersisted directly;
    * any other frame leaves through the cache manager (a no-op when it was
    * never persisted). Only call this once nothing reads the frame again:
    * a local checkpoint has no lineage to recompute lost blocks from. */
  private[graft] def free(ds: Dataset[_]): Unit = ds.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
    case _ => ds.unpersist(): Unit
  }

  // ---------------------------------------------------------------- manifest

  /** The one Hadoop `FileSystem` lookup for storage paths — java.io.File
    * broke on S3/HDFS, the stated design point (round-1 verdict). */
  private[graft] def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The readability probe: true iff a visible `.parquet` file sits under
    * `dir` (recursively, short-circuiting). Hidden entries (`_…`, `.…`) are
    * the set Spark's file index skips and are never descended into, so a
    * crashed append's `_temporary` reads as empty — schema inference over
    * it would throw at the exact crash-recovery step the manifest exists
    * for (round-3 review finding). */
  private[graft] def hasData(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(d: Path): Boolean = f.listStatus(d).exists(st => visible(st) &&
      (if (st.isDirectory) walk(st.getPath) else st.getPath.getName.endsWith(".parquet")))
    f.exists(p) && walk(p)
  }

  /** Per-partition lineage manifest: a tiny parquet table
    * (bucket int, rows long) recording finished output buckets. Idempotent
    * resume = read manifest, skip completed buckets, overwrite-by-partition
    * for the rest. Plain application logic, not planner surgery
    * (SURVEY.md §4 conclusion). */
  def completedBuckets(spark: SparkSession, manifestDir: String): Set[Int] = {
    if (!hasData(spark, manifestDir)) Set.empty
    else spark.read.parquet(manifestDir)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
  }

  /** Record several completed buckets in ONE append job. */
  def recordBuckets(spark: SparkSession, manifestDir: String,
                    buckets: Seq[(Int, Long)]): Unit = {
    import spark.implicits._
    if (buckets.nonEmpty)
      buckets.toDF("bucket", "rows")
        .coalesce(1).write.mode("append").parquet(manifestDir)
  }

  /** Resumable keyed write: bucket the result by hash(`keyCol`, default
    * conv_id; `orderCol` orders within the key and salts the writers —
    * doc-keyed curation stages pass doc_id/doc_id), drop buckets
    * the manifest marks complete, and write every remaining bucket in ONE
    * distributed job with dynamic partition overwrite (idempotent under
    * retry — a re-run of a failed job rewrites exactly the unfinished
    * buckets and leaves completed ones untouched). The bucket filter prunes
    * at the source when the input is already bucket-partitioned, so a resume
    * after k completed buckets rescans only (n−k)/n of the data.
    *
    * Bookkeeping is O(1) jobs, not O(nBuckets): per-bucket row counts come
    * from ONE `groupBy(bucket).count()` pass over the written table and the
    * return total is the manifest sum — round 1 issued 65 sequential driver
    * round-trip count jobs per 64-bucket write.
    *
    * `waves` chunks the write into that many sequential jobs (wave w writes
    * buckets with `bucket % waves == w`), appending the manifest AFTER each
    * wave. With waves=1 (default) the manifest only ever gains entries once
    * the WHOLE write commits — so a run killed mid-write resumes from zero,
    * and the advertised "skip completed partitions" lineage never actually
    * engages on a crash. waves>1 is what makes a 10^12-turn run killable:
    * die in wave k and the retry prunes waves 0..k−1 at the source. The
    * cost is `waves` input scans — on the real deployment the input is an
    * Iceberg table bucketed by conv_id, so each wave's bucket filter prunes
    * at the source and the rescan is ~free; on a flat parquet input each
    * wave re-reads the corpus (kernel work still runs once per row — the
    * bucket filter sits below the projection), so keep waves modest (4–8).
    *
    * Every dir it leaves is readable: when no wave committed a row (a
    * zero-row input writes no partition dir), it writes one schema-bearing
    * empty parquet — the input schema plus `bucket`, the column a committed
    * bucketed write exposes through its `bucket=` dirs, so a zero-row
    * table serves the same projections as any other. */
  def resumableWrite(df: DataFrame, outDir: String, manifestDir: String,
                     nBuckets: Int = DefaultBuckets, waves: Int = 1,
                     salts: Int = 1, keyCol: String = "conv_id",
                     orderCol: String = "turn_idx"): Long = {
    require(waves >= 1 && waves <= nBuckets,
      s"waves must be in [1, nBuckets]: $waves")
    require(salts >= 1, s"salts must be >= 1: $salts")
    val spark = df.sparkSession
    val done = completedBuckets(spark, manifestDir)
    val withBucket = df.withColumn("bucket", bucketCol(nBuckets, keyCol))
    (0 until waves).foreach { w =>
      val waveBuckets =
        (w until nBuckets by waves).filterNot(done.contains)
      if (waveBuckets.nonEmpty) {
        // one job per wave: shuffle grouped into bucket dirs; stable order
        // restored inside each file, never assumed from partition order.
        // partitionOverwriteMode is scoped to THIS write via the per-write
        // option, not session conf (round-2 VERDICT: the conf mutation
        // leaked into every later write of a long-lived session).
        val wave =
          if (waveBuckets.size == nBuckets) withBucket // nothing to prune
          else withBucket.filter(col("bucket").isin(waveBuckets.map(Int.box): _*))
        // salts > 1 spreads one bucket across up to `salts` writer tasks
        // (keyed by turn_idx mod salts): a 10^9-turn conversation lands in
        // ONE bucket, and a bucket-only repartition would hand the whole
        // thing to a single straggler writer. partitionBy lets every task
        // write its own file into the bucket dir, so skew is handled AT the
        // write — no upfront corpus-wide salted shuffle needed for a
        // per-turn pipeline (that shuffle was pure overhead; round-4 fix).
        // Order stays a read-side contract: each file is sorted, the bucket
        // dir as a whole is not — consumers sort on (conv_id, turn_idx),
        // never assume file order (SURVEY §1).
        val keyed =
          if (salts <= 1) wave.repartition(col("bucket"))
          else wave.repartition(col("bucket"), pmod(col(orderCol), lit(salts)))
        keyed
          .sortWithinPartitions(keyCol, orderCol)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(outDir)
        // one distributed pass over the (partition-pruned) output records
        // every bucket count this wave committed. Two empty-bucket guards
        // (round-4 review findings): a wave whose buckets are ALL empty
        // commits no partition dir, and reading the then-fileless outDir
        // throws a schema-inference error; and a bucket with zero rows must
        // still be manifested (rows=0) or every resume rescans it forever.
        val counts =
          if (!hasData(spark, outDir)) Map.empty[Int, Long]
          else spark.read.parquet(outDir)
            .filter(col("bucket").isin(waveBuckets.map(Int.box): _*))
            .groupBy("bucket").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        recordBuckets(spark, manifestDir,
          waveBuckets.map(b => b -> counts.getOrElse(b, 0L)))
      }
    }
    if (!hasData(spark, outDir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withBucket.schema)
        .repartition(1).write.mode("overwrite").parquet(outDir)
    // total rows now present = manifest sum (metadata-sized read), ONE
    // record per bucket: the manifest is append-only, so a duplicate append
    // — a crashed run that died between its write-job commit and its
    // manifest append and was then re-run, or an operator racing two
    // writers against one staging snapshot — records the same bucket twice
    // (with identical counts; the data dirs themselves are last-writer-wins
    // under dynamic overwrite). completedBuckets is distinct-by-bucket for
    // the same reason. Single-writer-per-snapshot remains the operating
    // assumption (the Iceberg deployment gets real commit-level OCC);
    // dedup here keeps the BOOKKEEPING honest under the crash-retry races
    // the manifest exists for.
    spark.read.parquet(manifestDir)
      .groupBy(col("bucket")).agg(max(col("rows")).as("rows"))
      .agg(sum(col("rows"))).collect()(0).getLong(0)
  }
}
