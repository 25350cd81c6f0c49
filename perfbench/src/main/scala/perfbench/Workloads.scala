package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.kg.KgPipeline
import graft.model.SourceFile

/** What one operation delivered, beside its timed wall; `partS` holds the
  * seconds of each separately timed part of it, if it has parts. */
final case class Outcome(rows: Long, attempted: Long, failed: Long,
                         problems: Seq[String], layer: Map[String, Double],
                         partS: Map[String, Double] = Map.empty)

/** Times the one measured call of an operation and takes the Spark
  * figures of exactly that call. */
final class Clock(spark: SparkSession, meter: SparkMeter, cores: Int) {
  var wallS = 0.0
  var figures: Map[String, Double] = Map.empty
  def timed[T](f: => T): T = {
    val from = meter.mark(spark.sparkContext)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    wallS = (System.nanoTime() - t0) / 1e9
    figures = meter.window(spark.sparkContext, from, t0Ms,
      System.currentTimeMillis(), cores)
    r
  }
}

/** One workload: inputs made from the seed, and the operation it times. */
trait Workload {
  /** Builds the inputs of one set-up round in a fresh session. */
  def prepare(spark: SparkSession, dir: File): Unit
  /** One operation: calls `clock.timed` once around the measured call,
    * then checks what it produced, untimed. */
  def op(spark: SparkSession, dir: File, clock: Clock, tracer: Tracer): Outcome
  /** The documents this workload feeds the parser. */
  def docs(spark: SparkSession): Seq[SourceFile]
  /** Facts about the inputs, recorded with the result. */
  def info: Seq[(String, String)] = Nil
  /** Fewest operations in a measured window. */
  def minOps: Int
}

/** kg_mixed: one KgPipeline.run over the 8-family corpus of
  * `synthesizeMixedInput(n, CorpusSeed)`, written to parquet before timing
  * without a shuffle, so in the generator's partitions, with the rows of
  * each partition in an order the run's seed permutes. The content stays
  * fixed, because at this size the work of corpora of different seeds
  * differs by more than the run-to-run noise. */
final class KgWorkload(n: Long, seed: Long, stateDir: File) extends Workload {
  private val CorpusSeed = 42L
  private var inputDir: File = _
  private var inputRows = 0L
  private var inputBytes = 0L
  private var inputPartitions = 0
  private var fingerprint: Option[(Long, Long)] = None

  def prepare(spark: SparkSession, dir: File): Unit = {
    inputDir = new File(dir, "input")
    KgPipeline.synthesizeMixedInput(spark, n, CorpusSeed)
      .sortWithinPartitions(xxhash64(lit(seed), col("repo"), col("path")))
      .write.parquet(inputDir.getPath)
    val in = spark.read.parquet(inputDir.getPath)
    val r = in.agg(count(lit(1)), sum(octet_length(col("content")))).head()
    inputRows = r.getLong(0)
    inputBytes = r.getLong(1)
    inputPartitions = in.rdd.getNumPartitions
  }

  override def info: Seq[(String, String)] = Seq(
    "input_rows" -> inputRows.toString,
    "input_partitions" -> inputPartitions.toString)

  /** A run costs 8-10 s of fixed per-job cost: two, whose mean is the
    * median, are what the time budget of a full comparison allows. */
  def minOps: Int = 2

  def docs(spark: SparkSession): Seq[SourceFile] = {
    import spark.implicits._
    spark.read.parquet(inputDir.getPath).as[SourceFile].collect().toSeq
  }

  def op(spark: SparkSession, dir: File, clock: Clock, tracer: Tracer): Outcome = {
    import spark.implicits._
    val wd = new File(dir, "work")
    val input = spark.read.parquet(inputDir.getPath).as[SourceFile]
    val sameAs = KgPipeline.sameAsEdges(spark, n)
    val curated = KgPipeline.curatedTriples(spark, n)
    val conf = KgPipeline.Conf(workDir = wd.getPath, n = n, seed = CorpusSeed,
      runId = s"kg_mixed-$seed")
    val s = clock.timed(tracer.span("layer", "graft.kg.KgPipeline.run")(
      KgPipeline.run(spark, conf, input, sameAs, curated)))
    val committed = Fs.bytes(wd)
    val problems = Seq.newBuilder[String]
    if (s.parsedRows + s.failedRows != inputRows)
      problems += s"parsed ${s.parsedRows} + failed ${s.failedRows} != input $inputRows"
    if (s.failedRows != 0) problems += s"${s.failedRows} documents failed to parse"
    val fp = tracer.span("check", "triples fingerprint")(
      Check.fingerprint(spark.read.parquet(s"$wd/triples")))
    if (fp._1 != s.tripleCount)
      problems += s"triples table holds ${fp._1} rows, summary says ${s.tripleCount}"
    // every run of a seed must commit the identical triples table: within
    // this invocation, and across invocations in this checkout
    fingerprint match {
      case None =>
        fingerprint = Some(fp)
        Check.sameAcrossRuns(new File(stateDir, s"kg_mixed-n$n-seed$seed.fingerprint"),
          s"${fp._1} ${fp._2}").foreach(problems += _)
      case Some(first) if first != fp =>
        problems += s"triples fingerprint $fp differs from this run's first $first"
      case _ =>
    }
    Fs.delete(wd)
    val found = problems.result()
    val stages = Kg.StageNames.map(k => s"stage.$k.s" -> s.stageSec.getOrElse(k, 0.0))
    Outcome(rows = s.tripleCount,
      attempted = inputRows + 1,
      failed = s.failedRows + (if (found.nonEmpty) 1 else 0),
      problems = found,
      layer = stages.toMap ++ Map(
        "stage.rows.parsed" -> s.parsedRows.toDouble,
        "stage.rows.failed" -> s.failedRows.toDouble,
        "stage.rows.triples" -> s.tripleCount.toDouble,
        "stage.rows.mentions" -> s.mentionCount.toDouble,
        "stage.rows.links" -> s.linkCount.toDouble,
        "stage.bytes_per_input_byte" -> committed.toDouble / inputBytes))
  }
}

object Kg {
  /** The keys of `KgPipeline.Summary.stageSec` in a fresh run. */
  val StageNames: Seq[String] = Seq("p1_parse_docs", "p2_doc_triples",
    "p3_mentions", "p4_failures", "p5_lineage", "p6_counts", "c1_cc",
    "l1_link_triples", "l2_deps", "l3_skeleton", "m1_materialize",
    "m2_lineage", "m3_counts")
}

object Check {
  /** (row count, sum of per-row xxhash64 mod 2^64) of a result, in one
    * aggregation that computes every column: a multiset hash, so
    * duplicated rows cannot cancel each other out. */
  def fingerprint(df: DataFrame): (Long, Long) = fingerprintPlan(df)._1

  /** The fingerprint and the executed plan of the aggregation. */
  def fingerprintPlan(df: DataFrame): ((Long, Long), SparkPlan) = {
    val agg = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
    val r = agg.collect()(0)
    val sum64 = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger).toLong)
    // toLong keeps the low 64 bits: the sum mod 2^64
    ((r.getLong(0), sum64.getOrElse(0L)), agg.queryExecution.executedPlan)
  }

  /** Records `value` the first time a key is seen in this checkout and
    * reports a mismatch on every later run. */
  def sameAcrossRuns(f: File, value: String): Option[String] =
    if (f.exists()) {
      val old = java.nio.file.Files.readString(f.toPath).trim
      if (old == value) None
      else Some(s"fingerprint $value differs from an earlier run's $old (${f.getName})")
    } else { Fs.write(f, value + "\n"); None }
}
