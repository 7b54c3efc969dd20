package graftbench

import graft.scale.Scale
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One measured suite query: its library group, and the group's weight
  * (see [[SuiteWorkload.weighted]]). */
final case class SuiteQuery(name: String, group: String, weight: Double)

/** Command-line settings of one benchmark process.
  *
  * @param queries the suite's measured queries, in catalogue order
  * @param tiny    tiny corpora, for the benchmark's own tests
  * @param inject  corrupt one operation's output ("turn" on the kernel,
  *                "query" on the suite) to prove the checks count it as
  *                failed */
final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, data: String,
                      queries: Seq[SuiteQuery], cpus: Int, tiny: Boolean,
                      inject: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      mode = kv.getOrElse("mode", "run"),
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      work = get("work"),
      data = kv.getOrElse("data", ""),
      queries = kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { qgw =>
        val Array(q, g, w) = qgw.split(":"); SuiteQuery(q, g, w.toDouble)
      },
      cpus = Runtime.getRuntime.availableProcessors,
      tiny = kv.getOrElse("tiny", "0") == "1",
      inject = kv.getOrElse("inject", "none"))
  }
}

/** Operation counts and metrics of one run. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Runs one operation and times `work` alone; the operation fails when
    * `work` throws or `check` rejects its output. A failed operation
    * yields no timing. */
  def timed[T](name: String)(work: => T)(check: T => Boolean): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = work
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] $name%s: $secs%.4f s")
      if (check(out)) Some(secs) else fail(name, "output check failed")
    } catch { case NonFatal(e) => fail(name, e.toString) }
  }

  /** An untimed correctness check counted as one operation. */
  def check(name: String)(ok: => Boolean): Boolean =
    timed(name)(ok)(identity).isDefined

  private def fail(name: String, why: String): Option[Double] = {
    failed += 1
    System.err.println(s"[graftbench] FAILED $name: $why")
    None
  }

  def json: String = Json.obj(Seq(
    "correct" -> (failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.toSeq.map { case (k, v) => k -> v }.toMap))
}

object Session {
  /** A local[cpus] session configured as graft's jobs configure theirs, with
    * every scratch directory inside the benchmark's work dir. */
  def create(cpus: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Scale.configure(SparkSession.builder().appName("graftbench"), cpus)
      .master(s"local[$cpus]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One workload: what a run opens, measures untraced, and repeats for the
  * tracing-overhead comparison. */
trait Workload {
  /** Reads the inputs' schemas: the input part of `setup_s`. */
  def open(spark: SparkSession): Unit

  /** The closed loop ([[Workloads.timeLoop]]): one client, one operation at
    * a time. Sets `warm_s`. */
  def measure(spark: SparkSession, r: Result, seconds: Double): Unit

  /** Warm operations in the tracing-overhead comparison. */
  def overheadOps: Int

  /** Warm operation `i`, traced or not; its seconds when it passed. */
  def op(spark: SparkSession, r: Result, label: String, i: Int): Option[Double]
}

object Main {
  val ResultTag = "GRAFTBENCH_RESULT "
  val SetupTag = "GRAFTBENCH_SETUP "
  val SweepTag = "GRAFTBENCH_SWEEP "

  /** Warm passes of a sweep over the whole suite. */
  val SweepWarm = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    new File(a.work, "tmp").mkdirs()
    a.mode match {
      case "gen" => Workloads.corpora(a).foreach { spec =>
        if (!Corpus.ready(Corpus.poolDir(a.work, spec))) {
          val spark = Session.create(a.cpus, a.work)
          try Corpus.ensurePool(spark, a.work, spec) finally spark.stop()
        }
      }
      case "setup" =>
        val (spark, secs) = setUp(a, Workloads(a))
        spark.stop()
        println(SetupTag + secs)
      case "sweep" => println(SweepTag + sweep(a))
      case "run" =>
        val r = run(a)
        println(ResultTag + r.json)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Creates the session and opens the workload's inputs; returns the
    * session and the seconds from process start until then. */
  def setUp(a: Args, w: Workload): (SparkSession, Double) = {
    val spark = Session.create(a.cpus, a.work)
    w.open(spark)
    (spark, uptimeS)
  }

  def run(a: Args): Result = {
    val r = new Result
    val w = Workloads(a)
    var (spark, setupS) = setUp(a, w)
    phase("set-up", setupS)
    // the first timed call follows: this is the run's set-up time (run.py
    // takes the median with that of a separate set-up process)
    if (!a.trace) r.metrics("setup_s") = setupS
    val tracer = new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}", a.trace)
    if (a.trace) {
      spark = Profile.run(spark, a, w, r, tracer)
      tracer.write(new File(s"${a.work}/traces/${tracer.runId}.jsonl"))
    } else {
      w.measure(spark, r, a.seconds)
      r.metrics("retained_mb") = retainedMb()
    }
    phase("measurement", uptimeS)
    spark.stop()
    r
  }

  /** Per-query seconds of the whole suite in one process: a cold pass, then
    * [[SweepWarm]] warm passes. The catalogue's weights come from it. */
  def sweep(a: Args): String = {
    val s = new SuiteWorkload(a)
    val (spark, _) = setUp(a, s)
    val r = new Result
    val passes = (0 to SweepWarm).map(i => s.pass(spark, r, if (i == 0) "cold" else s"warm $i")
      .getOrElse(throw new IllegalStateException("a query failed during the sweep")))
    spark.stop()
    val group = a.queries.map(q => q.name -> q.group).toMap
    Json.obj(s.order.zipWithIndex.sortBy(_._1).map { case (q, i) =>
      q -> Map("group" -> group(q), "cold_s" -> passes.head(i),
        "warm_s" -> Stats.median(passes.tail.map(_(i))))
    })
  }

  private def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def phase(name: String, atS: Double): Unit =
    System.err.println(f"[graftbench] $name%s done at $atS%.1f s")

  /** Memory the program still holds after its last operation, in MB: heap
    * in use after a full collection, plus non-heap memory in use (metaspace,
    * code cache). Shared artifacts that graft keeps, loaded classes and
    * compiled code count; garbage and heap the collector sized for
    * throughput do not. */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(300)
      val (heap, nonHeap) = (mem.getHeapMemoryUsage.getUsed, mem.getNonHeapMemoryUsage.getUsed)
      System.err.println(f"[graftbench] retained: heap ${heap / 1048576.0}%.1f MB, non-heap ${nonHeap / 1048576.0}%.1f MB")
      (heap + nonHeap) / 1048576.0
    }
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    // collection found their handles unreachable, and freeing them can make
    // more unreachable: collect until a round frees less than 1 MB
    var (prev, cur, rounds) = (Double.MaxValue, collect(), 1)
    while (prev - cur >= 1.0 && rounds < MaxCollections) {
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  val MaxCollections = 10
}
