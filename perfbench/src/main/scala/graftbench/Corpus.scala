package graftbench

import graft.core.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Seeded transcript corpora for the kernel and job workloads.
  *
  * Every turn's content is generated word text (`doc_text`), wrapped by the
  * program's own [[Transcripts.payload]], so the payload shells are exactly
  * the ones graft ships and the expected extraction of every turn is its
  * `doc_text`. Generation is the slow part, so it happens once per pool: a
  * set of parquet files, each with its own word mix and family order (the
  * four families in equal shares), plus, for a skewed corpus, files that
  * each hold one heavy conversation. A run's input is the seed's pick of
  * pool files, hard-linked into one directory: the seed chooses the word
  * mixes, family orders and the heavy conversation, while the row count,
  * family shares, words per turn and heavy share, and so the work, stay the
  * same for every seed.
  */
object Corpus {

  /** Bumped whenever the generated rows change, so a stale pool is never
    * read as a new one. */
  val Version = 2

  val TurnsPerConv = 20

  /** @param files        plain files in the pool; 20 turns per conversation
    * @param pick         plain files in one run's input
    * @param heavyFiles   pool files holding one heavy conversation each
    *                     (0 = uniform corpus); an input takes one of them
    * @param heavyTurns   turns of a heavy conversation */
  final case class Spec(name: String, files: Int, pick: Int, turnsPerFile: Long,
                        heavyFiles: Int, heavyTurns: Long)

  /** Row count and hash sum of the expected extraction. */
  final case class Expected(rows: Long, textHash: Long)

  /** Family names, indexed as [[Transcripts.payload]] numbers them. */
  val Families = IndexedSeq("markup", "markup_aside", "layout", "tool_json")

  def poolDir(root: String, spec: Spec): String =
    s"$root/corpus/${spec.name}-v$Version-${spec.files}x${spec.turnsPerFile}" +
      s"-${spec.heavyFiles}x${spec.heavyTurns}"

  /** Metadata files start with `_`, which Spark's file listing skips. The
    * generation-time stamp is written last, so its presence means the pool
    * is complete. */
  def ready(pool: String): Boolean = new File(pool, "_gen_seconds.txt").exists

  def genSeconds(pool: String): Double =
    new String(Files.readAllBytes(new File(pool, "_gen_seconds.txt").toPath), UTF_8).trim.toDouble

  /** 24..56 words (mean 40), each drawn from a 65536-word space: the wide
    * space keeps parquet compression realistic. */
  def docText(id: Long, mix: Long): String = {
    val n = 24 + java.lang.Math.floorMod(id * 40503L + mix, 33L).toInt
    val b = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) b.append(' ')
      b.append('w')
      java.lang.Long.toHexString(java.lang.Math.floorMod(id * 2654435761L + i * 2246822519L + mix, 65536L))
        .foreach(c => b.append(if (c.isDigit) (c - '0' + 'g').toChar else c))
      i += 1
    }
    b.toString
  }

  /** The pool as a DataFrame: conv_id, turn_idx, role, text, tool, ts, plus
    * the expected extraction `doc_text`, the payload `family` and the pool
    * `file`. Conversation numbers embed the file, so keys stay unique across
    * any pick of files. */
  def generate(spark: SparkSession, spec: Spec): DataFrame = {
    val plainTotal = spec.files * spec.turnsPerFile
    val id = col("id")
    val plain = id < plainTotal
    val file = when(plain, id / spec.turnsPerFile)
      .otherwise(lit(spec.files.toLong) + (id - plainTotal) / spec.heavyTurns).cast("long")
    val local = when(plain, pmod(id, lit(spec.turnsPerFile)))
      .otherwise(pmod(id - plainTotal, lit(spec.heavyTurns)))
    val conv = when(plain, col("file") * 1000000L + (col("local") / TurnsPerConv).cast("long"))
      .otherwise(lit(1000000000L) + col("file"))
    val turnIdx = when(plain, pmod(col("local"), lit(TurnsPerConv.toLong))).otherwise(col("local"))
    val orders = typedlit((0 until 4).permutations.map(_.toSeq).toSeq)
    val family = element_at(element_at(orders, (pmod(col("file"), lit(24L)) + 1).cast("int")),
      (pmod(id, lit(4L)) + 1).cast("int"))
    val words = udf((i: Long, f: Long) => docText(i, f * 1000003L + 12345L))
    spark.range(plainTotal + spec.heavyFiles * spec.heavyTurns).toDF("id")
      .withColumn("file", file)
      .withColumn("local", local)
      .withColumn("family", family)
      .withColumn("doc_text", words(id, col("file")))
      .select(
        concat(lit("c"), lpad(conv.cast("string"), 14, "0")).as("conv_id"),
        turnIdx.cast("int").as("turn_idx"),
        expr("element_at(array('user','assistant','tool'), cast(pmod(id, 3) as int) + 1)").as("role"),
        Transcripts.payload(col("family"), col("doc_text")).as("text"),
        when(pmod(id, lit(3L)) === 2, lit("search")).otherwise(lit(null)).cast("string").as("tool"),
        (lit(1704067200L) + id).cast("timestamp").as("ts"),
        col("doc_text"), col("family"), col("file"))
  }

  /** Generates the pool unless present: one directory per file, without
    * `doc_text`, and each file's expected rows and hash. */
  def ensurePool(spark: SparkSession, root: String, spec: Spec): String = {
    val pool = poolDir(root, spec)
    if (!ready(pool)) {
      val t0 = System.nanoTime()
      val gen = generate(spark, spec)
      gen.drop("doc_text").repartition(col("file"))
        .write.mode("overwrite").partitionBy("file").parquet(pool)
      val lines = gen.groupBy("file").agg(count(lit(1)),
          Workloads.hashSum(col("conv_id"), col("turn_idx"), col("doc_text")))
        .collect().map(r => s"${r.getLong(0)} ${r.getLong(1)} ${r.getLong(2)}")
      Files.write(new File(pool, "_expected.txt").toPath, lines.mkString("\n").getBytes(UTF_8))
      val secs = (System.nanoTime() - t0) / 1e9
      Files.write(new File(pool, "_gen_seconds.txt").toPath, secs.toString.getBytes(UTF_8))
    }
    pool
  }

  /** The seed's input: its pick of plain files and (for a skewed corpus)
    * one heavy file, hard-linked into a fresh directory; with the expected
    * rows and hash of that pick. */
  def input(root: String, spec: Spec, seed: Long): (String, Expected) = {
    val pool = poolDir(root, spec)
    require(ready(pool), s"corpus pool missing: $pool")
    val rnd = new scala.util.Random(seed)
    val chosen = (rnd.shuffle((0 until spec.files).toList).take(spec.pick) ++
      (if (spec.heavyFiles > 0) Seq(spec.files + rnd.nextInt(spec.heavyFiles)) else Nil)).sorted
    val perFile = new String(Files.readAllBytes(new File(pool, "_expected.txt").toPath), UTF_8)
      .split("\n").map(_.split(" ").map(_.toLong)).map(x => x(0).toInt -> Expected(x(1), x(2))).toMap
    val inputs = new File(s"$root/inputs")
    Option(inputs.listFiles()).toSeq.flatten.filter(_.getName.startsWith(spec.name + "-"))
      .foreach(Fs.deleteRecursively)
    val dir = new File(inputs, s"${spec.name}-s$seed")
    dir.mkdirs()
    chosen.foreach { f =>
      val src = Fs.files(new File(pool, s"file=$f")).filter(_.getName.endsWith(".parquet"))
      src.zipWithIndex.foreach { case (p, i) =>
        Files.createLink(new File(dir, f"part-$f%03d-$i%02d.parquet").toPath, p.toPath)
      }
    }
    (dir.getPath, Expected(chosen.map(perFile(_).rows).sum, chosen.map(perFile(_).textHash).sum))
  }

  /** The input's parquet files, in name order. */
  def dataFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted

  /** Bytes of the parquet data files under `dir`, recursively. */
  def parquetBytes(dir: String): Long = Fs.files(new File(dir))
    .filter(_.getName.endsWith(".parquet")).map(_.length).sum
}

object Fs {
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
