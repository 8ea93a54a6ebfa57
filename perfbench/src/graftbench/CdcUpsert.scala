package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.StreamPipeline
import graft.sources.TxnLog

/** Debezium CDC into a transaction-log table, read by an analyst.
  * Set-up bootstraps the table from the snapshot batch. One operation
  * is one delivered change batch — decode → `TxnLog.foreachBatchUpsert`
  * (the body a `foreachBatch` sink would call) → the analyst's SQL
  * aggregate over the latest snapshot, through
  * `spark.sql(...).collect()`. `TxnLog.compact` runs as background
  * maintenance after every [[CompactEvery]] commits, between
  * operations. */
final class CdcUpsert(c: Ctx) extends Workload {
  private val CompactEvery = 4
  // deliveries 0, 1, the re-delivered 1 (a no-op) and 2: the timed
  // operations are all real merges, past the steepest JIT warm-up
  private val WarmupCycles = 4
  private val BootstrapDirs = 4
  private val spark = c.spark
  private val tr = c.tracer
  private val schemaJson =
    new String(Files.readAllBytes(Paths.get(c.inputs, "schema_config.json")), "UTF-8")
  /** (batch id, file) in delivery order; a re-delivered batch repeats its id. */
  private val deliveries: IndexedSeq[(Long, String)] =
    Files.readAllLines(Paths.get(c.inputs, "deliveries.tsv")).asScala.toIndexedSeq
      .filter(_.nonEmpty).map { l => val Array(b, f) = l.split("\t"); (b.toLong, f) }
  private var root = ""
  private var next = 0
  private var commits = 0
  private var compactedAt = 0
  private val seen = scala.collection.mutable.Set.empty[Long]

  // traced-operation tallies behind the layer ratios
  private var envelopes, decoded, applied, dirsBefore, dirsRewritten, reads, dirsRead = 0L
  private var logNs = 0L
  private var logCalls = 0L
  private var resultRows = 0L

  private def decode(file: String): DataFrame =
    StreamPipeline.cdcDecode(spark.read.text(file), schemaJson, Seq("pickup_datetime"))
      .filter(col("trip_id").isNotNull)

  /** Fresh table per repetition: the snapshot batch lands as
    * BootstrapDirs commits (one per key range). */
  def setup(rep: Int): Unit = {
    root = s"${c.work}/cdc/table_$rep"
    val snap = decode(s"${c.inputs}/snapshot.jsonl").cache()
    (0 until BootstrapDirs).foreach { k =>
      val part = snap.filter(pmod(col("trip_id"), lit(BootstrapDirs)) === k)
      if (k == 0) TxnLog.overwrite(part, root) else TxnLog.append(part, root)
    }
    snap.unpersist()
    seen.clear()
    next = 0
    commits = 0
    compactedAt = 0
  }

  /** The first deliveries, applied untimed. */
  val warmupPasses: Int = WarmupCycles
  def warmup(): Unit = cycle(traced = false)

  override def hasNext: Boolean = next < deliveries.size

  def op(i: Int, traced: Boolean): Map[String, Any] = cycle(traced)

  private def cycle(traced: Boolean): Map[String, Any] = {
    val (batchId, file) = deliveries(next)
    next += 1
    val fresh = seen.add(batchId)
    val batch = tr.span("streaming.decode") {
      val d = decode(s"${c.inputs}/batches/$file")
      if (traced) {
        d.cache()
        envelopes += spark.read.text(s"${c.inputs}/batches/$file").count()
        val n = d.count()
        decoded += n
        if (fresh) applied += n
      }
      d
    }
    val before = if (traced) dirCount() else 0
    tr.span("sources.txnlog.merge") {
      TxnLog.foreachBatchUpsert(root, Seq("trip_id"), "lsn")(batch, batchId)
    }
    if (traced) {
      batch.unpersist()
      val last = TxnLog.versions(spark, root).last
      dirsBefore += before
      if (last._2 == "replace") dirsRewritten += before - last._3 + 1
      val t0 = System.nanoTime()
      TxnLog.latestVersion(spark, root)
      logNs += System.nanoTime() - t0
      logCalls += 1
    }
    if (fresh) commits += 1
    if (traced) { reads += 1; dirsRead += dirCount() }
    tr.span("sources.txnlog.read") { TxnLog.read(spark, root).createOrReplaceTempView("cdc_trips") }
    val df = tr.span("plans") { val d = spark.sql(AnalystSql); d.queryExecution.executedPlan; d }
    val rows = tr.span("engine.exec") { df.collect() }
    if (tr.active) resultRows += math.max(1, rows.length)
    Map("delivery" -> (next - 1), "by_vendor" -> rows.toSeq.map { r =>
      Seq(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
    })
  }

  override def maintain(): Unit =
    if (commits - compactedAt >= CompactEvery) {
      tr.span("sources.txnlog.compact") { TxnLog.compact(spark, root) }
      compactedAt = commits
    }

  /** The analyst's query: the latest snapshot per vendor. */
  private val AnalystSql =
    """SELECT vendor_id, count(*) AS trips, sum(lsn) AS lsn_sum,
      |  sum(CAST(round(total_amount * 100) AS BIGINT)) AS total_cents
      |FROM cdc_trips GROUP BY vendor_id ORDER BY vendor_id""".stripMargin

  private def dirCount(): Int = TxnLog.versions(spark, root).last._3

  /** The final snapshot, exported for the checker's full comparison. */
  override def finish(): Map[String, Any] = {
    val out = s"${c.work}/cdc/final"
    TxnLog.read(spark, root)
      .select(col("trip_id"), col("vendor_id"),
        unix_micros(col("pickup_datetime")).as("pickup_us"),
        col("fare_amount"), col("total_amount"), col("lsn"))
      .write.mode("overwrite").parquet(out)
    Map("applied_deliveries" -> next, "final_parquet" -> out)
  }

  override def layerMetrics(t: Map[String, Tracer.LayerTotals]): Seq[(String, Double)] = {
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val written = t.get("sources.txnlog.merge").map(_.c.recordsWritten).getOrElse(0L)
    val exec = t.get("engine.exec").filter(_.calls > 0)
    def perQuery(f: Tracer.LayerTotals => Double) = exec.map(x => f(x) / x.calls).getOrElse(0.0)
    Seq(
      "engine.exec.jobs_per_query" -> perQuery(_.c.jobs.toDouble),
      "engine.exec.rows_examined_per_row" ->
        ratio(exec.map(_.c.recordsRead.toDouble).getOrElse(0.0), resultRows),
      "streaming.decode.keep_ratio" -> ratio(decoded, envelopes),
      "sources.txnlog.merge.dirs_rewritten_ratio" -> ratio(dirsRewritten, dirsBefore),
      "sources.txnlog.read.dirs_read" -> ratio(dirsRead, reads),
      "sources.txnlog.log_ms" -> ratio(logNs / 1e6, logCalls),
      "sources.txnlog.compact.mb_rewritten" -> t.get("sources.txnlog.compact")
        .map(x => x.c.bytesWritten / 1048576.0 / x.calls).getOrElse(0.0),
      "sources.txnlog.write_amp" -> ratio(written, applied))
  }
}
