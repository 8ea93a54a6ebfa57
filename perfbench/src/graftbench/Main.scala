package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What every workload sees: the session, its generated inputs, a
  * scratch directory, and the tracer. */
final case class Ctx(spark: SparkSession, inputs: String, work: String, tracer: Tracer)

/** One benchmark workload: a client in a closed loop. `setup` builds
  * the state the loop starts from; [[Main]] repeats and times it.
  * `warmup` runs one untimed operation; [[Main]] runs
  * `warmupPasses` of them so the JIT, codegen and caches are warm (the
  * first operation in a JVM is 2-3x slower than later ones). `op` is one unit
  * of user work and returns what the output checks need. `maintain` is background work (compaction) that runs
  * between operations, outside their timers. `finish` runs after the
  * timed window. */
trait Workload {
  def setup(rep: Int): Unit
  def warmupPasses: Int
  def warmup(): Unit
  def hasNext: Boolean = true
  def op(i: Int, traced: Boolean): Map[String, Any]
  def maintain(): Unit = ()
  def finish(): Map[String, Any] = Map.empty
  /** Named per-layer metrics beyond the six span counters, from the
    * traced operations. */
  def layerMetrics(t: Map[String, Tracer.LayerTotals]): Seq[(String, Double)] = Nil
}

/** Harness entry point, launched by perfbench/run.py:
  *
  *   graftbench.Main --workload W --inputs DIR --out DIR --work DIR
  *                   --seconds S --trace 0|1 --cores N
  *
  * Writes `<out>/result.json` (set-up times, every timed operation
  * with its check payload, heap peak, per-layer metrics when traced)
  * and, when traced, `<out>/spans.jsonl`. */
object Main {
  /** Repetitions of the state build; `setup_s` takes their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val out = a("out")
    Files.createDirectories(Paths.get(out))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"graftbench-$workload", a("cores").toInt)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = Ctx(spark, a("inputs"), work, tracer)
    val wl: Workload = workload match {
      case "etl_batch" => new EtlBatch(ctx)
      case "cdc_upsert" => new CdcUpsert(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case w => sys.error(s"unknown workload $w")
    }

    tracer.active = traced
    val setupS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up calls are cold; keep them out of the per-layer figures.
    // Only the first, cold pass counts in setup_s: the later passes
    // only finish the JIT's work, and their times vary most.
    tracer.active = false
    val w0 = System.nanoTime()
    wl.warmup()
    val coldS = (System.nanoTime() - w0) / 1e9
    val w1 = System.nanoTime()
    (1 until wl.warmupPasses).foreach(_ => wl.warmup())
    val warmS = (System.nanoTime() - w1) / 1e9

    // Closed loop: the next operation starts when the previous ends,
    // while the window is open; the last one may end past the window,
    // so even operations longer than half the window are timed twice.
    // A traced run alternates untraced and traced operations,
    // so the tracing overhead is measured inside one JVM, and runs at
    // least one of each.
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gc0 = gcSeconds()
    var heapPeak = heapAfterGc()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var lastHeap = t0
    var i = 0
    val minOps = if (traced) 2 else 1
    while ((i < minOps || System.nanoTime() < deadline) && wl.hasNext) {
      val tr = traced && i % 2 == 1
      tracer.active = tr
      tracer.beginOp(i)
      val s = System.nanoTime()
      val res = Try(wl.op(i, tr))
      val ms = (System.nanoTime() - s) / 1e6
      // maintenance is outside the operation timers; traced runs trace
      // all of it
      tracer.active = traced
      wl.maintain()
      tracer.active = false
      ops += Map("i" -> i, "ms" -> ms, "traced" -> tr, "ok" -> res.isSuccess,
        "error" -> res.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
        "check" -> res.getOrElse(Map.empty))
      i += 1
      // post-GC heap occupancy, sampled a few times per run outside
      // the operation timers
      if (System.nanoTime() - lastHeap > seconds * 1e9 / 4) {
        heapPeak = math.max(heapPeak, heapAfterGc())
        lastHeap = System.nanoTime()
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    heapPeak = math.max(heapPeak, heapAfterGc())

    val finish = Try(wl.finish()) match {
      case Success(m) => m
      case Failure(e) => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val totals = tracer.report()
        val spanCounters = totals.toSeq.flatMap { case (name, t) =>
          t.perCall.map { case (k, v) => s"$name.$k" -> v }
        }
        def p50(tr: Boolean) = median(ops.filter(o => o("traced") == tr && o("ok") == true)
          .map(_("ms").asInstanceOf[Double]).toSeq)
        val overhead = p50(true) - p50(false)
        (spanCounters ++ wl.layerMetrics(totals) ++ Seq(
          "jvm.gc_s" -> gcS / math.max(1, ops.size),
          "trace.overhead_ms" -> (if (overhead.isNaN) 0.0 else overhead))).toMap
      }
    if (traced)
      Files.write(Paths.get(out, "spans.jsonl"),
        tracer.spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val result = Map(
      "workload" -> workload, "cores" -> a("cores").toInt, "traced" -> traced,
      "session_s" -> sessionS, "setup_reps_s" -> setupS, "cold_op_s" -> coldS,
      "warm_extra_s" -> warmS, "loop_s" -> loopS,
      "heap_peak_mb" -> heapPeak, "gc_s" -> gcS, "ops" -> ops.toSeq,
      "finish" -> finish, "layers" -> layers)
    Files.write(Paths.get(out, "result.json"), Json.enc(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Heap in use after a full GC, taken once Spark's context cleaner
    * has released what the first GC made unreachable (broadcasts,
    * cached blocks), so the figure does not depend on its timing. */
  private def heapAfterGc(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
