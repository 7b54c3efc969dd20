package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval: a call from the benchmark into a layer, or a Spark
  * stage observed by [[StageListener]]. `parent` is the enclosing span's id
  * (-1 at the top); every span of one process run shares `runId`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. A disabled
  * tracer only evaluates the wrapped call. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Epoch nanoseconds minus `System.nanoTime`, to place Spark's wall-clock
    * stage times on the span clock. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, t0, System.nanoTime())
      }
    }

  /** Records a Spark stage, timed in epoch milliseconds, under the current
    * span. */
  def addStage(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, name, current, startMs * 1000000L - epochOffsetNs,
        endMs * 1000000L - epochOffsetNs)
      nextId += 1
    }

  def write(file: File): Unit = if (enabled) {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Task metrics of one Spark stage, summed over its tasks. */
final class StageRec(val stageId: Int, val op: String) {
  var name = ""
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]
  def wallS: Double = (completeMs - submitMs) / 1e3
  /** Slowest task over the median task: how far one straggler sets the
    * stage's time. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Per-stage task metrics and per-query planning phases, labelled with the
  * benchmark operation that caused them (the `graftbench.op` local property
  * for stages; the operation running when the listener bus is drained for
  * query executions). */
final class StageListener extends SparkListener with QueryExecutionListener {
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val jobsByOp = new ConcurrentHashMap[String, Integer]()
  /** (analysis, optimization, planning) seconds of each query execution
    * finished since the last [[takePlans]]. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Double)]()

  private def opOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(StageListener.OpKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobsByOp.merge(opOf(e.properties), 1, (a: Integer, b: Integer) => a + b)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val r = stages.computeIfAbsent(e.stageInfo.stageId,
      id => new StageRec(id, opOf(e.properties)))
    r.synchronized {
      r.name = e.stageInfo.name
      r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.computeIfAbsent(e.stageId, id => new StageRec(id, ""))
    val m = e.taskMetrics
    if (m != null) r.synchronized {
      r.tasks += 1
      r.taskMs += e.taskInfo.duration
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.inputBytes += m.inputMetrics.bytesRead
      r.outputBytes += m.outputMetrics.bytesWritten
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = stages.computeIfAbsent(e.stageInfo.stageId, id => new StageRec(id, ""))
    r.synchronized {
      r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (r.submitMs == 0L) r.submitMs = e.stageInfo.submissionTime.getOrElse(r.completeMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def s(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    plans.add((s(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS),
      s(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION),
      s(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning seconds of every query execution finished since the last call. */
  def takePlans(): Double = {
    var total = 0.0
    var p = plans.poll()
    while (p != null) { total += p._1 + p._2 + p._3; p = plans.poll() }
    total
  }

  def stagesOf(op: String): Seq[StageRec] =
    stages.values.asScala.filter(_.op == op).toSeq.sortBy(_.stageId)

  def jobsOf(op: String): Int = Option(jobsByOp.get(op)).map(_.intValue).getOrElse(0)
}

object StageListener {
  val OpKey = "graftbench.op"

  private val installed = new ConcurrentHashMap[SparkSession, StageListener]()

  /** Attaches one listener per session, idempotently: a second call returns
    * the listener already attached. */
  def setup(spark: SparkSession): StageListener =
    installed.computeIfAbsent(spark, s => {
      val l = new StageListener
      s.sparkContext.addSparkListener(l)
      s.listenerManager.register(l)
      l
    })

  /** Detaches the session's listener, if any. */
  def remove(spark: SparkSession): Unit =
    Option(installed.remove(spark)).foreach { l =>
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
}
