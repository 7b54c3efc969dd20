package graftbench

import graft.SparkEntry
import graft.app.ExtractJob
import graft.extract.Extract
import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable.ArrayBuffer

object Workloads {
  /** A kernel run measures at least this many warm passes, however long
    * they take, so `warm_s` is always a median. */
  val MinWarm = 3

  /** `ExtractJob.main`'s default salt count. */
  val JobSalts = 16

  /** Kernel input: 400k turns in 16 files, uniform; one warm pass takes
    * under a second at local[4]. */
  def kernelSpec(tiny: Boolean): Corpus.Spec =
    if (tiny) Corpus.Spec("kernel", 8, 4, 1000L, 0, 0L)
    else Corpus.Spec("kernel", 32, 16, 25000L, 0, 0L)

  /** Job corpus of the traced profile: 50k turns in 17 files; one
    * conversation holds 30% of them. */
  def jobSpec(tiny: Boolean): Corpus.Spec =
    if (tiny) Corpus.Spec("job", 8, 4, 750L, 2, 1000L)
    else Corpus.Spec("job", 32, 16, 2185L, 4, 15040L)

  def apply(a: Args): Workload = a.workload match {
    case "extract_kernel" => new KernelWorkload(a)
    case "query_suite" => new SuiteWorkload(a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Corpus pools a run needs: its own, or both for a traced run, which
    * profiles every layer. */
  def corpora(a: Args): Seq[Corpus.Spec] =
    if (a.trace) Seq(kernelSpec(a.tiny), jobSpec(a.tiny))
    else if (a.workload == "extract_kernel") Seq(kernelSpec(a.tiny))
    else Nil

  /** Order-independent hash of a row set: the sum of per-row 64-bit hashes,
    * shifted so a million rows cannot overflow the sum. Equal sums over
    * (conv_id, turn_idx, text) mean per-turn text equality. */
  def hashSum(cols: Column*): Column = sum(shiftright(xxhash64(cols: _*), 24))

  /** Alters the text of the first turn of one conversation: an injected
    * corruption that the output checks must catch. */
  def corruptOne(df: DataFrame): DataFrame =
    df.withColumn("text", when(col("turn_idx") === 1 && col("conv_id").endsWith("7"),
      concat(col("text"), lit("!"))).otherwise(col("text")))

  /** The closed loop: the process's first operation (JIT, plans and
    * graft's caches cold), then warm operations for `seconds` and at least
    * `minWarm`. Returns the cold time and the warm times in order. */
  def timeLoop(seconds: Double, minWarm: Int)(op: Int => Option[Double]): (Option[Double], Seq[Double]) = {
    val cold = op(0)
    val t0 = System.nanoTime()
    val warm = ArrayBuffer.empty[Double]
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || i <= minWarm) {
      warm ++= op(i); i += 1
    }
    (cold, warm.toSeq)
  }

  /** The later half of the warm operations: the earlier ones still run
    * while the JIT and the host's clock ramp up. */
  def settled[T](warm: Seq[T]): Seq[T] = warm.drop(warm.size / 2)

  def record(r: Result, warm: Seq[Double]): Unit =
    if (warm.nonEmpty) r.metrics("warm_s") = Stats.median(settled(warm))
}

/** `extract_kernel`: passes of `Extract.pipeline` over a uniform corpus into
  * the noop sink. Each pass observes its row count and output hashes, so
  * every pass is checked: per-turn text equality against the generator's
  * text, and the same full-output hash on every pass. */
final class KernelWorkload(a: Args) extends Workload {
  val (dir, expected) = Corpus.input(a.work, Workloads.kernelSpec(a.tiny), a.seed)
  private var outHash: Option[Long] = None

  def turns(spark: SparkSession): DataFrame = spark.read.parquet(dir)

  def open(spark: SparkSession): Unit = turns(spark).schema: Unit

  /** One pass of `kernel` into the noop sink; returns the observed
    * (rows, text hash, output hash). */
  def pass(df: DataFrame, kernel: DataFrame => DataFrame = Extract.pipeline,
           corrupt: Boolean = false): (Long, Long, Long) = {
    val obs = Observation("kernel_pass")
    val out = kernel(df)
    (if (corrupt) Workloads.corruptOne(out) else out)
      .observe(obs, count(lit(1)).as("rows"),
        Workloads.hashSum(col("conv_id"), col("turn_idx"), col("text")).as("text_hash"),
        Workloads.hashSum(col("conv_id"), col("turn_idx"), col("text"), col("spans")).as("out_hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("text_hash").asInstanceOf[Long],
      m("out_hash").asInstanceOf[Long])
  }

  def checked(o: (Long, Long, Long)): Boolean = {
    val same = outHash.forall(_ == o._3)
    if (outHash.isEmpty) outHash = Some(o._3)
    o._1 == expected.rows && o._2 == expected.textHash && same
  }

  def measure(spark: SparkSession, r: Result, seconds: Double): Unit = {
    val df = turns(spark)
    val (_, warm) = Workloads.timeLoop(seconds, Workloads.MinWarm) { i =>
      r.timed(s"kernel pass $i")(pass(df, corrupt = a.inject == "turn" && i == 2))(checked)
    }
    Workloads.record(r, warm)
    r.check("native == composed on a sample")(nativeMatchesComposed(spark))
  }

  def overheadOps: Int = 6

  def op(spark: SparkSession, r: Result, label: String, i: Int): Option[Double] =
    r.timed(label)(pass(turns(spark)))(checked)

  /** The native kernel and its composed spelling agree, turn by turn, on a
    * seeded sample of the corpus. */
  def nativeMatchesComposed(spark: SparkSession): Boolean = {
    val sample = spark.read.parquet(Corpus.dataFiles(dir).head)
      .filter(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(20)) === 0)
    def fp(k: DataFrame => DataFrame): Row = k(sample)
      .agg(count(lit(1)), Workloads.hashSum(col("conv_id"), col("turn_idx"), col("text"),
        to_json(col("spans")))).collect()(0)
    val native = fp(Extract.pipeline)
    native.getLong(0) > 0 && native == fp(Extract.pipelineComposed)
  }
}

/** `ExtractJob.run` over the skewed job corpus into a fresh table dir, as
  * the traced profile runs it. Each published table must reconcile with the
  * corpus: rows in = rows out, unique (conv_id, turn_idx), per-turn text
  * equality. The last two follow from one scan: with as many rows as the
  * corpus, a duplicated key would have to replace a missing row of equal
  * 64-bit hash for the hash sums to agree. */
final class JobRuns(a: Args) {
  val (dir, expected) = Corpus.input(a.work, Workloads.jobSpec(a.tiny), a.seed)
  private var jobs = 0

  /** Runs one job; `inspect` sees the published table before it is
    * deleted. */
  def job(spark: SparkSession, r: Result, label: String)
         (inspect: String => Unit = _ => ()): Option[Double] = {
    val table = new File(s"${a.work}/tables/t$jobs")
    jobs += 1
    Fs.deleteRecursively(table)
    try r.timed(label)(ExtractJob.run(spark, dir, table.getPath, Scale.DefaultBuckets,
      Workloads.JobSalts, a.cpus)) { case (_, written) =>
      inspect(table.getPath)
      written == expected.rows && reconciles(spark, table.getPath)
    } finally Fs.deleteRecursively(table)
  }

  def reconciles(spark: SparkSession, table: String): Boolean = {
    val row = TableIO.readTable(spark, table)
      .agg(count(lit(1)), Workloads.hashSum(col("conv_id"), col("turn_idx"), col("text")))
      .collect()(0)
    row.getLong(0) == expected.rows && row.getLong(1) == expected.textHash
  }
}

/** `query_suite`: the catalogue's measured `SparkEntry.queries`, in a
  * seed-permuted order, each run through the noop sink. The process's first
  * pass is the cold one, the rest are warm. Every timed run observes its
  * result's row count and hash ([[Suite.write]]), and each query's warm
  * results must match its cold one. */
final class SuiteWorkload(a: Args) extends Workload {
  val order: Seq[String] = new scala.util.Random(a.seed).shuffle(a.queries.map(_.name))
  private val weight = a.queries.map(q => q.name -> q.weight).toMap
  /** Each query's (rows, hash) from its first, cold run. */
  private val coldFps = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def open(spark: SparkSession): Unit =
    Option(new File(a.data).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .foreach(t => spark.read.parquet(t.getPath).schema)

  def query(spark: SparkSession, q: String): DataFrame = SparkEntry.queries(q)(spark, a.data)

  /** One timed run of `q`; it fails unless its result matches the cold
    * run's. */
  def run(spark: SparkSession, r: Result, q: String, label: String,
          corrupt: Boolean = false): Option[Double] =
    r.timed(label)(Suite.write(query(spark, q), corrupt)) { fp =>
      coldFps.getOrElseUpdate(q, fp) == fp
    }

  /** Per-query seconds of one pass over every query, or None if one
    * failed. With `corrupt`, the first query whose cold result has rows
    * loses them. */
  def pass(spark: SparkSession, r: Result, label: String,
           corrupt: Boolean = false): Option[Seq[Double]] = {
    val victim = if (corrupt) order.find(q => coldFps.get(q).exists(_._1 > 0)) else None
    val times = order.map(q => run(spark, r, q, s"$label $q", victim.contains(q)))
    if (times.forall(_.isDefined)) Some(times.flatten) else None
  }

  /** Estimated seconds of a warm pass over the whole suite: each measured
    * query's seconds scaled by its group's weight (the group's sweep time
    * over that of its measured queries). */
  def weighted(secs: Seq[Double]): Double =
    order.zip(secs).map { case (q, s) => weight(q) * s }.sum

  def measure(spark: SparkSession, r: Result, seconds: Double): Unit = {
    val passes = ArrayBuffer.empty[Seq[Double]]
    Workloads.timeLoop(seconds, SuiteWorkload.MinWarm) { i =>
      val t = pass(spark, r, if (i == 0) "cold" else s"warm $i", a.inject == "query" && i == 2)
      if (i > 0) passes ++= t
      t.map(_.sum)
    }
    // the faster warm pass: the host slows whole passes at a time, and
    // with two passes a median would be their mean
    if (passes.nonEmpty) r.metrics("warm_s") = passes.map(weighted).min
  }

  /** One per query: a warm operation is one query's run. */
  def overheadOps: Int = order.size

  def op(spark: SparkSession, r: Result, label: String, i: Int): Option[Double] =
    run(spark, r, order(i), s"$label ${order(i)}")
}

object SuiteWorkload {
  /** Warm passes a run measures at least; a pass takes about 11 s. */
  val MinWarm = 2
}

object Suite {
  /** Runs `df` into the noop sink and returns its (row count, hash sum over
    * its rows rendered as strings), observed during that write. With
    * `corrupt`, every row is dropped first. */
  def write(df: DataFrame, corrupt: Boolean = false): (Long, Long) = {
    val obs = Observation("query")
    val rowText = struct(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*).cast("string")
    (if (corrupt) df.limit(0) else df)
      .observe(obs, count(lit(1)).as("rows"), coalesce(Workloads.hashSum(rowText), lit(0L)).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }
}
