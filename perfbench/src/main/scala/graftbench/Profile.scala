package graftbench

import graft.extract.{Extract, ExtractTurnExpr, Lexer}
import graft.multimodal.Multimodal
import graft.scale.TableIO
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.nio.file.Files

/** The traced run: one profile of every layer, whichever workload is named,
  * so each per-layer metric is measured on the workload it belongs to (the
  * extraction kernel on the kernel corpus, the write path on the job corpus,
  * SparkEntry and the library packages on the suite, file io and streaming
  * on files staged in the work dir), plus the tracing
  * overhead on the named workload. Spans wrap each call into a layer; stage
  * spans from [[StageListener]] hang under the operation that ran them. */
object Profile {
  /** Timed repetitions of each kernel cut point, and warm runs of the io
    * and streaming operations. */
  val Reps = 2
  /** Warm suite passes; with the catalogue's queries they give the sample
    * count behind `suite.warm_p50_s` / `suite.warm_p88_s`. */
  val SuiteWarmPasses = 2
  /** Payload samples per family for the single-thread timings. */
  val Samples = 400

  final class Ctx(var spark: SparkSession, val a: Args, val r: Result, val tr: Tracer) {
    def listener: StageListener = StageListener.setup(spark)

    /** Runs `f` as benchmark operation `label`: a span, a Spark op label,
      * and afterwards the stages and planning seconds it caused. */
    def traced[T](label: String)(f: => T): (T, Seq[StageRec], Double) = tr.span(label) {
      val l = listener
      val sc = spark.sparkContext
      sc.setLocalProperty(StageListener.OpKey, label)
      val out = try f finally sc.setLocalProperty(StageListener.OpKey, null)
      StageListener.drain(spark)
      val stages = l.stagesOf(label)
      stages.foreach(s => tr.addStage(s"stage ${s.stageId}: ${s.name}", s.submitMs, s.completeMs))
      (out, stages, l.takePlans())
    }

    def m(name: String, v: Double): Unit = r.metrics(name) = v
  }

  def run(spark: SparkSession, a: Args, named: Workload, r: Result, tr: Tracer): SparkSession = {
    val c = new Ctx(spark, a, r, tr)
    val kernel = new KernelWorkload(a)
    val job = new JobRuns(a)
    val suite = new SuiteWorkload(a)
    c.m("setup.gen_s", Workloads.corpora(a).map(s => Corpus.genSeconds(Corpus.poolDir(a.work, s))).sum)
    tr.span("layer graft.extract")(kernelLayer(c, kernel))
    tr.span("layer graft.scale+graft.app")(jobLayer(c, job))
    tr.span("layer SparkEntry")(suiteLayer(c, suite))
    tr.span("layer graft.io")(ioLayer(c, suite))
    tr.span("layer graft.streaming")(streamingLayer(c, kernel))
    tr.span("tracing overhead")(overhead(c, named match {
      case _: KernelWorkload => kernel
      case _ => suite
    }))
    tr.span("layer graft.extract scaling")(scaling(c, kernel))
    c.spark
  }

  private def nsPerTurn(secs: Seq[Double], turns: Long): Double =
    Stats.median(secs) * 1e9 / turns

  private def kernelLayer(c: Ctx, k: KernelWorkload): Unit = {
    val df = k.turns(c.spark)
    val n = k.expected.rows
    // the traced process's first operation: the kernel's cold start
    k.op(c.spark, c.r, "kernel cold", 0).foreach(c.m("extract_kernel.cold_s", _))
    val plain = (1 to Reps).map(i => c.traced(s"kernel plain $i")(k.op(c.spark, c.r, s"kernel plain $i", i)))
    val plainS = plain.flatMap(_._1)
    val perPass = plain.map(_._2)
    def med(f: Seq[StageRec] => Double) = Stats.median(perPass.map(f))
    c.m("extract_kernel.task_cpu_s", med(_.map(_.cpuNs).sum / 1e9))
    c.m("extract_kernel.gc_s", med(_.map(_.gcMs).sum / 1e3))
    c.m("extract_kernel.tasks", med(_.map(_.tasks).sum.toDouble))
    c.m("extract_kernel.task_skew", med(_.map(_.taskSkew).max))
    c.m("extract_kernel.input_bytes", med(_.map(_.inputBytes).sum.toDouble))

    val cols = Seq("conv_id", "turn_idx", "text", "role").map(col)
    val scan = (1 to Reps).flatMap { i =>
      c.traced(s"kernel scan $i")(c.r.timed(s"scan $i")(
        df.select(cols: _*).write.format("noop").mode("overwrite").save())(_ => true))._1
    }
    val passNs = nsPerTurn(plainS, n)
    val scanNs = nsPerTurn(scan, n)
    c.m("extract.pass_ns_per_turn", passNs)
    c.m("extract.scan_ns_per_turn", scanNs)
    c.m("extract.kernel_self_ns_per_turn", passNs - scanNs)

    def scored(d: DataFrame) = Extract.scoredPipeline(d)
    val scoredS = (0 to Reps).flatMap { i =>
      val t = c.traced(s"kernel scored $i")(c.r.timed(s"scored $i")(k.pass(df, scored))(_._1 == n))._1
      if (i == 0) None else t
    }
    c.m("extract.scored_ns_per_turn", nsPerTurn(scoredS, n))

    // the composed spelling is several times slower: time it on a quarter of
    // the corpus's files, against the native kernel on the same files
    val sub = subset(c.spark, k)
    val native = k.pass(sub)
    val composedS = (0 to Reps).flatMap { i =>
      val t = c.traced(s"kernel composed $i")(c.r.timed(s"composed $i")(
        k.pass(sub, Extract.pipelineComposed))(o => o._1 == native._1 && o._2 == native._2))._1
      if (i == 0) None else t
    }
    c.m("extract.composed_ns_per_turn", nsPerTurn(composedS, native._1))

    val counts = c.traced("kernel block counts") {
      val lexed = Extract.lexed(df).agg(sum(size(col("blocks")))).collect()(0).getLong(0)
      val out = Extract.pipeline(df).agg(sum(size(col("spans"))),
        sum(when(col("text") === "", 1).otherwise(0))).collect()(0)
      (lexed, out.getLong(0), out.getLong(1))
    }._1
    c.m("extract.blocks_per_turn", counts._1.toDouble / n)
    c.m("extract.content_block_ratio", counts._2.toDouble / counts._1)
    c.m("extract.empty_turn_ratio", counts._3.toDouble / n)

    c.tr.span("kernel single-thread timings")(singleThread(c, df))
  }

  /** The first quarter of the corpus's data files. */
  private def quarter(k: KernelWorkload): Seq[String] = {
    val files = Corpus.dataFiles(k.dir)
    files.take(math.max(1, files.size / 4))
  }

  private def subset(spark: SparkSession, k: KernelWorkload): DataFrame =
    spark.read.parquet(quarter(k): _*)

  /** Median over three repeats of ns per call of `f` over every sample,
    * each repeat at least 100 ms, after one untimed repeat. */
  private def nsPerCall[T](xs: IndexedSeq[T])(f: T => AnyRef): Double = {
    var sink = 0
    def once(): Double = {
      val t0 = System.nanoTime()
      var calls = 0L
      while (System.nanoTime() - t0 < 100000000L) {
        xs.foreach(x => if (f(x) eq null) sink += 1)
        calls += xs.size
      }
      (System.nanoTime() - t0).toDouble / calls
    }
    once()
    val ns = Stats.median((1 to 3).map(_ => once()))
    if (sink == 42) System.err.print("")
    ns
  }

  private def singleThread(c: Ctx, df: DataFrame): Unit = {
    val byFamily = Corpus.Families.indices.map { f =>
      df.filter(col("family") === f).select("text", "role").limit(Samples).collect()
        .map(row => (row.getString(0), row.getString(1))).toIndexedSeq
    }
    byFamily.zip(Corpus.Families).foreach { case (xs, fam) =>
      c.m(s"extract.lex_ns.$fam", nsPerCall(xs) { case (t, r) => Lexer.lex(t, r, stats = false) })
      val utf = xs.map { case (t, r) => (UTF8String.fromString(t), UTF8String.fromString(r)) }
      c.m(s"extract.turn_ns.$fam", nsPerCall(utf) { case (t, r) =>
        ExtractTurnExpr.extractTurn(t, r, scored = false, Array.emptyDoubleArray, 0.0, 0.0)
      })
    }
    val all = byFamily.flatten.map(x => UTF8String.fromString(x._1))
    c.m("extract.decode_ns", nsPerCall(all)(_.toString))
  }

  /** One traced job after an untraced first job. */
  private def jobLayer(c: Ctx, j: JobRuns): Unit = {
    j.job(c.spark, c.r, "job cold")().foreach(c.m("extract_job.cold_s", _))
    val label = "extract job"
    var files = 0.0; var bytes = 0.0; var readBack = 0.0
    val (t, stages, _) = c.traced(label)(j.job(c.spark, c.r, label) { table =>
      c.spark.sparkContext.setLocalProperty(StageListener.OpKey, s"$label check")
      val data = Fs.files(new File(TableIO.dataDir(table,
        TableIO.currentSnapshot(c.spark, table).get))).filter(_.getName.endsWith(".parquet"))
      files = data.size; bytes = data.map(_.length).sum.toDouble
      val t0 = System.nanoTime()
      TableIO.readTable(c.spark, table).agg(count(lit(1)),
        Workloads.hashSum(col("conv_id"), col("turn_idx"), col("text"))).collect()
      readBack = (System.nanoTime() - t0) / 1e9
    })
    t.foreach(c.m("extract_job.wall_s", _))
    val map = stages.filter(_.shuffleWriteBytes > 0)
    val write = stages.filter(s => s.outputBytes > 0 && s.shuffleReadBytes > 0)
    c.m("extract_job.map_stage_s", map.map(_.wallS).sum)
    c.m("extract_job.write_stage_s", write.map(_.wallS).sum)
    c.m("extract_job.driver_s", t.map(_ - busy(stages)).getOrElse(0.0))
    c.m("extract_job.jobs", c.listener.jobsOf(label).toDouble)
    c.m("extract_job.shuffle_write_bytes", map.map(_.shuffleWriteBytes).sum.toDouble)
    c.m("extract_job.spill_bytes", stages.map(_.spillBytes).sum.toDouble)
    c.m("extract_job.files_written", files)
    c.m("extract_job.write_task_skew", if (write.isEmpty) 1.0 else write.map(_.taskSkew).max)
    c.m("extract_job.gc_s", stages.map(_.gcMs).sum / 1e3)
    c.m("extract_job.output_bytes", bytes)
    c.m("extract_job.bytes_ratio", bytes / Corpus.parquetBytes(j.dir))
    c.m("extract_job.read_back_s", readBack)
  }

  /** Seconds during which at least one stage ran. */
  private def busy(stages: Seq[StageRec]): Double = {
    var end = Long.MinValue
    var total = 0L
    stages.map(s => (s.submitMs, s.completeMs)).sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) total += e - from
      end = math.max(end, e)
    }
    total / 1e3
  }

  private def suiteLayer(c: Ctx, s: SuiteWorkload): Unit = {
    // a fresh session: every shared artifact of the program is rebuilt
    c.spark.stop()
    c.spark = Session.create(c.a.cpus, c.a.work)
    val group = c.a.queries.map(q => q.name -> q.group).toMap
    val weight = c.a.queries.map(q => q.name -> q.weight).toMap
    final case class Q(q: String, secs: Double, plan: Double, stages: Seq[StageRec])
    def pass(label: String): Seq[Q] = s.order.flatMap { q =>
      val (t, st, plan) = c.traced(s"$label $q")(s.run(c.spark, c.r, q, s"$label $q"))
      t.map(Q(q, _, plan, st))
    }
    val cold = pass("suite cold")
    val warm = (1 to SuiteWarmPasses).map(i => pass(s"suite warm $i"))
    def weighted(p: Seq[Q]): Double = p.map(x => weight(x.q) * x.secs).sum

    group.values.toSeq.distinct.sorted.foreach { g =>
      def in(p: Seq[Q]) = p.filter(x => group(x.q) == g)
      c.m(s"suite.$g.cold_s", in(cold).map(_.secs).sum)
      c.m(s"suite.$g.warm_s", warm.map(p => weighted(in(p))).min)
      c.m(s"suite.$g.plan_s", in(cold).map(_.plan).sum)
    }
    val coldPlan = cold.map(_.plan).sum
    c.m("suite.cold_s", cold.map(_.secs).sum)
    c.m("suite.warm_s", warm.map(weighted).min)
    c.m("suite.plan_s_cold", coldPlan)
    c.m("suite.plan_s_warm", Stats.median(warm.map(_.map(_.plan).sum)))
    c.m("suite.exec_s_cold", cold.map(_.secs).sum - coldPlan)
    c.m("suite.exec_s_warm", Stats.median(warm.map(p => p.map(q => q.secs - q.plan).sum)))
    c.m("suite.first_query_s", cold.head.secs)
    val coldStages = cold.flatMap(_.stages)
    c.m("suite.shuffle_bytes", coldStages.map(_.shuffleWriteBytes).sum.toDouble)
    c.m("suite.spill_bytes", coldStages.map(_.spillBytes).sum.toDouble)
    c.m("suite.gc_s", coldStages.map(_.gcMs).sum / 1e3)
    val samples = warm.flatten.map(_.secs)
    c.m("suite.warm_p50_s", Stats.percentile(samples, 50))
    c.m("suite.warm_p88_s", Stats.percentile(samples, 88))
    c.m("suite.warm_samples", samples.size.toDouble)
  }

  /** Times `op` as a group of the suite: its first run as `cold_s`, the
    * median of [[Reps]] more as `warm_s`, and the first run's planning as
    * `plan_s`. */
  private def timedGroup(c: Ctx, g: String)(op: String => Option[Double]): Unit = {
    val runs = (0 to Reps).map { i =>
      val label = s"$g ${if (i == 0) "cold" else s"warm $i"}"
      val (t, _, plan) = c.traced(label)(op(label))
      (t, plan)
    }
    runs.head._1.foreach(c.m(s"suite.$g.cold_s", _))
    c.m(s"suite.$g.plan_s", runs.head._2)
    val warm = runs.tail.flatMap(_._1)
    if (warm.nonEmpty) c.m(s"suite.$g.warm_s", Stats.median(warm))
  }

  /** graft's file sinks and sources on files staged in the work dir, as
    * q62 and q75 use them: q41's data product written through the CSV sink
    * and read back with its own schema, which must give the same result;
    * and media files read through `Multimodal.fromBinaryFiles` and decoded,
    * which must give every file's known features. */
  private def ioLayer(c: Ctx, s: SuiteWorkload): Unit = {
    val root = new File(c.a.work, "io")
    Fs.deleteRecursively(root)
    val media = new File(root, "media")
    media.mkdirs()
    val ids = 0L until MediaFiles
    ids.foreach { id =>
      Files.write(new File(media, f"img_$id%04d.bmp").toPath, Multimodal.bmpBytes(id))
      Files.write(new File(media, f"aud_$id%04d.wav").toPath, Multimodal.wavBytes(id))
      Files.write(new File(media, f"vid_$id%04d.avi").toPath, Multimodal.aviBytes(id))
    }
    Files.write(new File(media, "bin_0001.bin").toPath, Array[Byte](1, 2, 3, 4, 5, 6, 7))
    // per kind: (files, decoded, summed width or samples, summed height or frames)
    val expected = Seq(
      (ids.size.toLong, ids.size.toLong, ids.map(4 + _ % 4).sum, ids.map(3 + _ % 3).sum),
      (ids.size.toLong, ids.size.toLong, ids.map(50 + _ % 50).sum, 0L),
      (ids.size.toLong, 0L, 0L, ids.map(3 + _ % 4).sum),
      (1L, 0L, 0L, 0L))
    val csvRef = Suite.write(s.query(c.spark, "q41_data_product"))
    var n = 0
    timedGroup(c, "io") { label =>
      val csv = new File(root, s"csv$n").getPath
      n += 1
      c.r.timed(label) {
        val product = s.query(c.spark, "q41_data_product")
        product.write.mode("overwrite").option("header", "true").csv(csv)
        val back = c.spark.read.schema(product.schema).option("header", "true").csv(csv)
        (Suite.write(back), mediaFeatures(c.spark, media.getPath))
      } { case (fp, feats) => fp == csvRef && feats == expected }
    }
  }

  private val MediaFiles = 20

  /** Per media kind (image, audio, video, binary): files, decoded files,
    * and two sums of decoded features. */
  private def mediaFeatures(spark: SparkSession, dir: String): Seq[(Long, Long, Long, Long)] = {
    val media = Multimodal.fromBinaryFiles(spark, dir)
      .withColumn("file_id", regexp_extract(col("path"), "_(\\d+)\\.[a-z]+$", 1).cast("long"))
    def byKind(kind: String): DataFrame =
      media.filter(col("meta.kind") === kind).select(col("file_id").as("media_id"), col("payload"))
    def sums(df: DataFrame, cols: Column*): Seq[Long] = {
      val row = df.agg(count(lit(1)), cols.map(x => coalesce(sum(x), lit(0L))): _*).collect()(0)
      (0 to cols.size).map(row.getLong)
    }
    val img = sums(Multimodal.extractImageFeatures(byKind("image")),
      col("decoded").cast("long"), col("width").cast("long"), col("height").cast("long"))
    val aud = sums(Multimodal.extractAudioFeatures(byKind("audio")),
      col("decoded").cast("long"), col("n_samples").cast("long"))
    val vid = byKind("video").count()
    val frames = Multimodal.extractVideoFrames(byKind("video")).count()
    Seq((img(0), img(1), img(2), img(3)), (aud(0), aud(1), aud(2), 0L), (vid, 0L, 0L, frames),
      (byKind("binary").count(), 0L, 0L, 0L))
  }

  /** `StreamingExtract.fromParquetDir` over a quarter of the kernel corpus
    * into a parquet sink with its own checkpoint, until the input is
    * consumed; the sink read back must hold the batch kernel's rows and
    * text. */
  private def streamingLayer(c: Ctx, k: KernelWorkload): Unit = {
    val root = new File(c.a.work, "stream")
    Fs.deleteRecursively(root)
    val in = new File(root, "in")
    in.mkdirs()
    quarter(k).foreach(f => Files.createLink(new File(in, new File(f).getName).toPath, new File(f).toPath))
    val (rows, textHash, _) = k.pass(c.spark.read.parquet(in.getPath))
    var n = 0
    timedGroup(c, "streaming") { label =>
      val run = new File(root, s"run$n")
      n += 1
      try c.r.timed(label) {
        StreamingExtract.fromParquetDir(c.spark, in.getPath)
          .select("conv_id", "turn_idx", "text")
          .writeStream.format("parquet")
          .option("path", s"$run/out")
          .option("checkpointLocation", s"$run/ckpt")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        c.spark.read.parquet(s"$run/out").agg(count(lit(1)),
          Workloads.hashSum(col("conv_id"), col("turn_idx"), col("text"))).collect()(0)
      } { row => row.getLong(0) == rows && row.getLong(1) == textHash }
      finally Fs.deleteRecursively(run)
    }
  }

  /** Each of the named workload's warm operations twice: with the listener
    * detached and untraced, and attached and traced. Which of the two runs
    * first alternates, since a repeated operation runs faster the second
    * time. */
  private def overhead(c: Ctx, w: Workload): Unit = {
    val pairs = (0 until w.overheadOps).flatMap { i =>
      def off() = {
        StageListener.remove(c.spark)
        w.op(c.spark, c.r, s"untraced op $i", i)
      }
      def on() = c.traced(s"traced op $i")(w.op(c.spark, c.r, s"traced op $i", i))._1
      if (i % 2 == 0) { val a = off(); a.zip(on()) }
      else { val b = on(); off().zip(b) }
    }
    val (a, b) = (pairs.map(_._1).sum / pairs.size, pairs.map(_._2).sum / pairs.size)
    c.m("trace.untraced_op_s", a)
    c.m("trace.traced_op_s", b)
    c.m("trace.overhead_pct", (b / a - 1) * 100)
  }

  /** tps(local[4]) / (4 × tps(local[1])) on the same quarter of the kernel
    * corpus, each level in its own session. */
  private def scaling(c: Ctx, k: KernelWorkload): Unit = {
    def tps(cpus: Int): Double = c.tr.span(s"local[$cpus]") {
      c.spark.stop()
      c.spark = Session.create(cpus, c.a.work)
      val sub = subset(c.spark, k)
      val rows = k.pass(sub)._1
      rows / Stats.median((1 to Reps).flatMap(i =>
        c.r.timed(s"local[$cpus] pass $i")(k.pass(sub))(_._1 == rows)))
    }
    c.m("extract.scaling_eff_1_to_4", tps(4) / (4 * tps(1)))
  }
}
