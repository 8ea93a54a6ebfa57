package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.BatchPipeline
import graft.sources.{Sinks, Sources, TxnLog}
import graft.validate.Expectations
import graft.warehouse.Warehouse

/** The reference's batch unit of work: raw monthly TLC files → clean
  * → staging → parquet sink → expectations, then the star schema
  * (dims + fact) loaded into transaction-log tables. One operation is
  * one full pass over every raw file. */
final class EtlBatch(c: Ctx) extends Workload {
  private val spark = c.spark
  private val tr = c.tracer
  private val raw = s"${c.inputs}/raw"
  private val lookup = s"${c.inputs}/taxi_zone_lookup.csv"
  private val stagingDir = s"${c.work}/etl/staging"
  private val factRoot = s"${c.work}/etl/fact_trip"
  private val dimsRoot = s"${c.work}/etl/dims"
  private val dims: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dim_vendor" -> Warehouse.dimVendor, "dim_rate_code" -> Warehouse.dimRateCode,
    "dim_payment" -> Warehouse.dimPayment, "dim_service_type" -> Warehouse.dimServiceType,
    "dim_pickup_location" -> Warehouse.dimPickupLocation,
    "dim_dropoff_location" -> Warehouse.dimDropoffLocation)
  private val factVersions = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]

  // row counts seen by traced passes, the bases of the layer ratios
  private var rawRows, cleanedRows, stagedRows, stagedRead = 0L
  private var commits = 0L

  /** Every pass re-reads its inputs, as the reference's batch job
    * does; set-up only lists them and infers the lookup's schema. */
  def setup(rep: Int): Unit = {
    require(Sources.listFiles(spark, raw).nonEmpty, s"no raw files under $raw")
    Sources.csv(spark, lookup).schema
  }

  /** One cold pass: class loading, codegen and the first JIT tier. */
  val warmupPasses = 1
  def warmup(): Unit = pass()

  def op(i: Int, traced: Boolean): Map[String, Any] = {
    val (v, violations) = if (traced) tracedPass() else pass()
    factVersions += i -> v
    Map("fact_version" -> v, "violations" -> violations)
  }

  private def pass(): (Long, Map[String, Long]) = {
    val report = BatchPipeline.run(spark, raw, Some(lookup), stagingDir)
    report.processed.flatMap(_.error).foreach(e => sys.error(s"pipeline file failed: $e"))
    val violations = rowToMap(report.validation.get)
    (load(spark.read.parquet(s"$stagingDir/*")), violations)
  }

  /** The stages [[BatchPipeline.run]] composes, called one by one with
    * each stage's output materialized inside its own span. */
  private def tracedPass(): (Long, Map[String, Long]) = {
    val lk = Sources.csv(spark, lookup)
    Sources.listFiles(spark, raw).foreach { path =>
      val in = spark.read.parquet(path)
      rawRows += in.count()
      val cleaned = tr.span("clean") {
        val d = BatchPipeline.clean(in, Some(lk)).cache(); cleanedRows += d.count(); d
      }
      val staged = tr.span("staging") {
        val d = BatchPipeline.staging(cleaned, path).cache(); stagedRows += d.count(); d
      }
      val base = new java.io.File(path).getName.stripSuffix(".parquet")
      tr.span("sources.sinks") { Sinks.parquet(staged, s"$stagingDir/$base") }
      staged.unpersist(); cleaned.unpersist()
    }
    val all = spark.read.parquet(s"$stagingDir/*")
    val violations = tr.span("validate") {
      rowToMap(Expectations.report(all, Expectations.referenceSuite))
    }
    stagedRead += all.count()
    (load(all), violations)
  }

  private def load(staged: DataFrame): Long = {
    val (fact, dimFrames) = tr.span("warehouse") {
      val f = Warehouse.factTrip(staged)
      val ds = dims.map { case (n, mk) => n -> mk(staged) }
      if (tr.active) { (f +: ds.map(_._2)).foreach { d => d.cache(); d.count() } }
      (f, ds)
    }
    val v = tr.span("sources.txnlog.commit") {
      val v = TxnLog.overwrite(fact, factRoot)
      dimFrames.foreach { case (n, d) => TxnLog.overwrite(d, s"$dimsRoot/$n") }
      v
    }
    if (tr.active) { commits += 1 + dimFrames.size; (fact +: dimFrames.map(_._2)).foreach(_.unpersist()) }
    v
  }

  private def rowToMap(report: DataFrame): Map[String, Long] = {
    val row = report.collect().head
    report.columns.zipWithIndex.map { case (n, j) => n -> row.getLong(j) }.toMap
  }

  /** Fingerprint of every fact version the timed loop committed:
    * row count, and md5 over the sorted `trip_id|cents` keys, which the
    * checker recomputes in DuckDB from the raw files. */
  override def finish(): Map[String, Any] = {
    val fp = factVersions.map { case (i, v) =>
      val f = TxnLog.read(spark, factRoot, Some(v))
      val key = concat_ws("|", col("trip_id"),
        round(col("total_amount") * 100).cast("long").cast("string"),
        round(col("trip_distance") * 100).cast("long").cast("string"))
      val r = f.agg(count(lit(1)), md5(array_join(array_sort(collect_list(key)), ","))).head
      Map("i" -> i, "rows" -> r.getLong(0), "md5" -> r.getString(1))
    }
    Map("fingerprints" -> fp.toSeq)
  }

  override def layerMetrics(t: Map[String, Tracer.LayerTotals]): Seq[(String, Double)] = {
    def get(n: String) = t.get(n)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Seq(
      "clean.keep_ratio" -> ratio(cleanedRows, rawRows),
      "staging.spill_mb" -> get("staging").map(x => x.c.spillBytes / 1048576.0 / x.calls).getOrElse(0.0),
      "staging.group_ratio" -> ratio(stagedRows, cleanedRows),
      "sources.sinks.mb_written" -> get("sources.sinks").map(x => x.c.bytesWritten / 1048576.0 / x.calls).getOrElse(0.0),
      "validate.scan_passes" -> ratio(get("validate").map(_.c.recordsRead.toDouble).getOrElse(0.0), stagedRead),
      "warehouse.scan_amp" -> ratio(get("warehouse").map(_.c.recordsRead.toDouble).getOrElse(0.0), stagedRead),
      "sources.txnlog.commit_files" -> ratio(get("sources.txnlog.commit").map(_.c.filesWritten.toDouble).getOrElse(0.0), commits))
  }
}
