package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.model.SourceFile

/** Benchmark entry point. run.py builds the program, pins the run shape
  * and launches this main with it:
  *
  *   --workload kg_mixed|query_suite --seed N --seconds S --trace 0|1
  *   --cores C --shuffle-partitions P --run-dir D --state-dir D
  *   --trace-file F [--sf-dir D --oracle-dir D]
  *
  * Set-up (session start, inputs from the seed, one warm-up operation) is
  * timed as `setup_s`; then the workload's operation repeats until the
  * operations' walls add up to S seconds, and at least the workload's
  * minimum of times. With --trace 1 untraced and
  * traced operations alternate: the per-layer numbers come from the
  * traced ones, followed by a single-threaded parse of the workload's
  * documents, and the tracing overhead is each traced wall against its
  * untraced neighbours. The last stdout line is `RESULT <json>`. */
object Main {
  /** Documents of the mixed corpus: n RFC texts, n/4 markdown, HTML and
    * law, n/8 DV and W3C, plus the fixed wiki and EU sets. */
  val KgMixedN = 100L

  /** query_suite: one query of each module but streaming (whose cheapest
    * query alone costs more than the rest together), two of them VERDICT
    * targets. */
  val QueryNames: Seq[String] = Seq("rel_window_top_orders", "kg_csv_inventory",
    "text_char_lm", "sim_knn_brute", "mm_feature_stats",
    "pdf_offtryck_paragraphs")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val runDir = new File(a("run-dir"))
    val w: Workload = name match {
      case "kg_mixed" => new KgWorkload(KgMixedN, seed, new File(a("state-dir")))
      case "query_suite" => new QueryWorkload(seed, new File(a("sf-dir")),
        new File(a("oracle-dir")), QueryNames)
    }
    val tracer = new Tracer
    val heap = new HeapWatch
    val outcomes = ArrayBuffer.empty[Outcome]

    // ---- set-up: session, inputs, one warm-up operation (its checks untimed)
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", a("shuffle-partitions"))
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val meter = new SparkMeter(tracer)
    spark.sparkContext.addSparkListener(meter)
    w.prepare(spark, runDir)
    val prepareS = (System.nanoTime() - s0) / 1e9
    val warm = new Clock(spark, meter, cores)
    outcomes += w.op(spark, runDir, warm, tracer)
    val setupS = prepareS + warm.wallS
    heap.settle()

    // ---- measured window: the operations' walls count against it, the
    // collections between them do not. It holds at least the workload's
    // minimum of operations. With tracing it holds an odd number, untraced
    // and traced operations alternate, starting and ending untraced, so each
    // traced one has an untraced neighbour on either side.
    final case class Op(traced: Boolean, wallS: Double, sparkM: Map[String, Double], o: Outcome,
                        stealS: Double)
    val ops = ArrayBuffer.empty[Op]
    heap.reset()
    tracer.enabled = traced
    val least = if (traced) math.max(3, w.minOps) else w.minOps
    var measuredS = 0.0
    var settleS = 0.0
    tracer.span("workload", s"$name seed $seed") {
      while (ops.size < least || measuredS < seconds || (traced && ops.size % 2 == 0)) {
        val k = ops.size
        val on = traced && k % 2 == 1
        tracer.enabled = on
        val clock = new Clock(spark, meter, cores)
        val steal0 = Host.stealS()
        val o = tracer.span("run", s"operation $k")(w.op(spark, runDir, clock, tracer))
        val stealS = Host.stealS() - steal0
        tracer.enabled = false
        val g0 = System.nanoTime()
        heap.settle()
        settleS += (System.nanoTime() - g0) / 1e9
        outcomes += o
        ops += Op(on, clock.wallS, clock.figures, o, stealS)
        measuredS += clock.wallS
      }
      tracer.enabled = traced
    }
    val heapPeakMb = heap.peakMb
    val plain = ops.filterNot(_.traced)
    val withTrace = ops.filter(_.traced)
    def med(xs: Iterable[Double]) = Stats.median(xs)

    // an operation made of timed parts (a query pass) counts the sum of each
    // part's median over the operations, so that one slowed part of one
    // operation does not set the figure
    val parts = plain.flatMap(_.o.partS.keys).distinct
    val wallS =
      if (parts.isEmpty) med(plain.map(_.wallS))
      else parts.map(p => med(plain.flatMap(_.o.partS.get(p)))).sum

    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "cpu_s" -> med(plain.map(_.sparkM("spark.cpu_s"))),
        "rows_per_s" -> med(plain.map(_.o.rows.toDouble)) / wallS,
        "heap_after_gc_peak_mb" -> heapPeakMb)
      else {
        val parse = tracer.span("workload", s"$name parse layer")(
          ParseLayer.measure(w.docs(spark), tracer))
        val first = withTrace.head
        val layer = (first.sparkM.keys ++ first.o.layer.keys).map { k =>
          k -> med(withTrace.map(op => op.sparkM.getOrElse(k, op.o.layer(k))))
        }.toMap
        // each traced wall against the mean of its two untraced neighbours,
        // so drift between operations (JIT warm-up) cancels
        val overhead = med(ops.indices.filter(ops(_).traced).map { i =>
          ops(i).wallS - (ops(i - 1).wallS + ops(i + 1).wallS) / 2 })
        Layers.All.map(k => k -> (if (k == "trace.overhead_s") overhead
          else layer.getOrElse(k, parse.getOrElse(k, 0.0))))
      }
    spark.stop()
    if (traced) Fs.write(new File(a("trace-file")), tracer.toJson)

    val problems = outcomes.flatMap(_.problems)
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val attempted = outcomes.map(_.attempted).sum
    val failed = outcomes.map(_.failed).sum
    val info = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "operations" -> ops.size.toString, "traced_operations" -> withTrace.size.toString,
      "session_s" -> Json.num(sessionS), "prepare_s" -> Json.num(prepareS),
      "warmup_s" -> Json.num(warm.wallS),
      "op_wall_s" -> ops.map(o => Json.num(o.wallS)).mkString("[", ",", "]"),
      "op_traced" -> ops.map(_.traced).mkString("[", ",", "]"),
      "op_steal_s" -> ops.map(o => Json.num(o.stealS)).mkString("[", ",", "]"),
      "settle_s" -> Json.num(settleS),
      "error_frac" -> Json.num(failed.toDouble / attempted),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString) ++
      w.info)
    println(s"INFO $info")
    println("RESULT " + Json.obj(Seq(
      "correct" -> problems.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }))))
  }
}

/** Heap in use after a full collection, which the benchmark makes after
  * each operation, outside its timing: the memory an operation leaves
  * behind. The peak over the window is reported. */
final class HeapWatch {
  private var peak = 0L
  def reset(): Unit = peak = 0L
  def settle(): Unit = {
    // Spark's cleaner releases shuffles, broadcasts and cached blocks on its
    // own thread, once a collection has cleared their weak references: so
    // collect until the heap in use stops falling
    var last = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < last * 0.99 && rounds < 6) {
      Thread.sleep(100)
      last = used
      used = collect()
      rounds += 1
    }
    peak = math.max(peak, used)
  }
  private def collect(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def peakMb: Double = peak / 1048576.0
}

/** The parse layer alone: `DocParsers.parse` called single-threaded on
  * the workload's documents, once to warm up and once measured. */
object ParseLayer {
  val Families = Seq("rfc", "md", "html", "law", "dv", "w3c", "wiki", "eu")

  def measure(docs: Seq[SourceFile], tracer: Tracer): Map[String, Double] = {
    val tmx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val byFamily = docs.groupBy(d =>
      graft.parse.DocParsers.registry.find(_.accepts(d)).get.name)
    def pass(ds: Seq[SourceFile]) = ds.map { d =>
      val a0 = tmx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      val ok = try { graft.parse.DocParsers.parse(d); true }
        catch { case _: Exception => false }
      ((System.nanoTime() - t0) / 1e3, (tmx.getCurrentThreadAllocatedBytes - a0).toDouble, ok)
    }
    byFamily.values.foreach(pass)
    byFamily.toSeq.flatMap { case (fam, ds) =>
      val rs = tracer.span("layer", s"graft.parse.DocParsers.parse $fam")(pass(ds))
      val us = rs.map(_._1).toVector.sorted
      Seq(s"parse.$fam.us_per_doc" -> us.sum / us.size,
        s"parse.$fam.us_p99" -> Stats.quantile(us, 0.99),
        s"parse.$fam.alloc_bytes_per_doc" -> rs.map(_._2).sum / rs.size,
        s"parse.$fam.fail_frac" -> rs.count(!_._3).toDouble / rs.size)
    }.toMap
  }
}

/** Every per-layer metric, in the order BENCHMARK.json lists them. A
  * metric of a layer the workload does not exercise reads 0. */
object Layers {
  val All: Seq[String] =
    ParseLayer.Families.flatMap(f => Seq("us_per_doc", "us_p99",
      "alloc_bytes_per_doc", "fail_frac").map(m => s"parse.$f.$m")) ++
    Kg.StageNames.map(s => s"stage.$s.s") ++
    Seq("parsed", "failed", "triples", "mentions", "links").map(r => s"stage.rows.$r") ++
    Seq("stage.bytes_per_input_byte") ++
    Seq("jobs", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
      "driver_serial_s", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "busy_frac", "task_p50_ms", "task_max_ms").map(m => s"spark.$m") ++
    Queries.modulesOf(Main.QueryNames).flatMap(m => Seq(s"query.$m.s", s"query.$m.exchanges")) ++
    Queries.Targets.filter(Main.QueryNames.contains).map(q => s"query.$q.ms") ++
    Seq("query.p50_ms", "query.p90_ms", "trace.overhead_s")
}
