package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{CacheRegistry, SparkEntry}
import graft.kg.{KgPipeline, KgQueries}
import graft.model.SourceFile

object Queries {
  /** Module of each registered query, by the registry it comes from. */
  val moduleOf: Map[String, String] = Seq(
    "rel" -> graft.rel.Relational.queries, "kg" -> graft.kg.KgQueries.queries,
    "text" -> graft.text.TextOps.queries, "sim" -> graft.sim.SimOps.queries,
    "mm" -> graft.mm.MultiModal.queries,
    "streaming" -> graft.streaming.StreamOps.queries,
    "pdf" -> graft.pdf.PdfOps.queries)
    .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** The modules of `names`, in registry order. */
  def modulesOf(names: Seq[String]): Seq[String] =
    Seq("rel", "kg", "text", "sim", "mm", "streaming", "pdf")
      .filter(m => names.exists(moduleOf(_) == m))

  /** Queries whose own latency is reported as a per-layer metric. */
  val Targets: Seq[String] = Seq("kg_csv_inventory", "kg_search_boosted_less",
    "text_dedup_apply", "text_char_lm", "text_ppl_buckets",
    "kg_rdfa_roundtrip", "text_jaccard_pairs", "text_minhash_lsh_pairs")

  /** Exchanges in a plan, counting the final plan of each adaptive query
    * stage and subquery. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }

  val BaseRef = "__BASE__/(\\w+)".r
  val OutRef = "__OUT__/(\\w+)".r
}

/** Closed loop, one client: every query of `names` in a seed-permuted
  * order, each timed to its (rows, hash) fingerprint — one aggregation that
  * computes every output column. The warm-up pass instead writes each
  * result, with its oracle SQL, for the DuckDB compare run.py makes, and
  * records the fingerprints of the written results; every later pass must
  * reproduce them. */
final class QueryWorkload(seed: Long, sfDir: File, oracleDir: File,
                          names: Seq[String]) extends Workload {
  import Queries._
  private val order = new scala.util.Random(seed).shuffle(names)
  private val expected = mutable.Map.empty[String, (Long, Long)]
  private def run(spark: SparkSession, q: String): DataFrame =
    SparkEntry.queries(q)(spark, sfDir.getPath)

  def prepare(spark: SparkSession, dir: File): Unit = ()

  /** A pass lasts about 5 s: three give each query a median that one slowed
    * pass does not set. */
  def minOps: Int = 3

  def docs(spark: SparkSession): Seq[SourceFile] =
    KgPipeline.synthesizeMixedInput(spark, KgQueries.N, KgQueries.Seed)
      .collect().toSeq

  def op(spark: SparkSession, dir: File, clock: Clock, tracer: Tracer): Outcome =
    if (expected.isEmpty) writeResults(spark, clock, tracer)
    else pass(spark, clock, tracer)

  /** Runs `f` as one query's layer call; its failure becomes a problem. */
  private def call(q: String, tracer: Tracer, problems: mutable.Builder[String, Seq[String]])(
      f: => Unit): Unit =
    try tracer.span("layer", s"graft.${moduleOf(q)}.$q")(f)
    catch {
      case e: Exception => problems += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally CacheRegistry.release()

  private def writeResults(spark: SparkSession, clock: Clock, tracer: Tracer): Outcome = {
    val baseDir = new File(oracleDir.getPath + ".base")
    val sql = names.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val bases = sql.values.flatMap(BaseRef.findAllMatchIn(_).map(_.group(1))).toSeq.distinct
    val outs = (order ++ sql.values.flatMap(OutRef.findAllMatchIn(_).map(_.group(1)))).distinct
    val problems = Seq.newBuilder[String]
    clock.timed {
      bases.foreach { b =>
        SparkEntry.baseTables(b)(spark, sfDir.getPath).write
          .parquet(new File(baseDir, b).getPath)
      }
      outs.foreach(q => call(q, tracer, problems)(
        run(spark, q).write.parquet(new File(oracleDir, q).getPath)))
    }
    Fs.write(new File(oracleDir, "oracle_sql.json"), Json.obj(names.map { q =>
      q -> Json.str(sql(q).replace("__BASE__", baseDir.getAbsolutePath)
        .replace("__OUT__", oracleDir.getAbsolutePath))
    }))
    names.foreach(q => call(q, tracer, problems)(
      expected(q) = Check.fingerprint(spark.read.parquet(new File(oracleDir, q).getPath))))
    val found = problems.result()
    Outcome(rows = expected.values.map(_._1).sum, attempted = outs.size,
      failed = found.size, problems = found, layer = Map.empty)
  }

  private def pass(spark: SparkSession, clock: Clock, tracer: Tracer): Outcome = {
    val ms = mutable.LinkedHashMap.empty[String, Double]
    val got = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val exch = mutable.Map.empty[String, Int]
    val problems = Seq.newBuilder[String]
    clock.timed {
      order.foreach { q =>
        val t0 = System.nanoTime()
        call(q, tracer, problems) {
          val (fp, plan) = Check.fingerprintPlan(run(spark, q))
          got(q) = fp
          if (tracer.enabled) exch(q) = exchanges(plan)
        }
        ms(q) = (System.nanoTime() - t0) / 1e6
      }
    }
    got.foreach { case (q, fp) =>
      if (!expected.get(q).contains(fp))
        problems += s"$q: fingerprint $fp != written result ${expected.get(q)}"
    }
    val found = problems.result()
    val lat = ms.values.toVector.sorted
    val perModule = modulesOf(names).flatMap { m =>
      val qs = names.filter(moduleOf(_) == m)
      Seq(s"query.$m.s" -> qs.flatMap(ms.get).sum / 1000,
        s"query.$m.exchanges" -> qs.flatMap(exch.get).sum.toDouble)
    }
    Outcome(rows = got.values.map(_._1).sum,
      attempted = order.size,
      failed = found.size,
      problems = found,
      partS = ms.map { case (q, t) => q -> t / 1000 }.toMap,
      layer = perModule.toMap ++
        Targets.filter(names.contains).map(q => s"query.$q.ms" -> ms.getOrElse(q, 0.0)) ++
        Map("query.p50_ms" -> Stats.quantile(lat, 0.5),
          "query.p90_ms" -> Stats.quantile(lat, 0.9)))
  }
}
