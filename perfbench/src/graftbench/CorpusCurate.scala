package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.core.Checkpoints
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.pipeline.CorpusPipeline

/** LLM-data curation. Set-up attaches the lake (`Engine.attach`), whose
  * `documents` table is the generated corpus; one operation is
  * `CorpusPipeline.prepare` over it with its `packed` output
  * materialized. */
final class CorpusCurate(c: Ctx) extends Workload {
  private val spark = c.spark
  private val tr = c.tracer
  private val WindowTokens = 2048
  private val Shards = 32
  private var docs: DataFrame = _
  private var lastKept: Seq[Long] = Nil
  private var candidates, verified = 0L

  def setup(rep: Int): Unit = {
    tr.span("engine.attach") { Engine.attach(spark, s"${c.inputs}/lake") }
    docs = spark.table("documents")
  }

  val warmupPasses = 1
  def warmup(): Unit = op(-1, traced = false)

  def op(i: Int, traced: Boolean): Map[String, Any] = {
    val rows = if (traced) tracedPass() else {
      val p = CorpusPipeline.prepare(docs, windowTokens = WindowTokens, nShards = Shards)
      try materialize(p.packed) finally p.release()
    }
    val ids = rows.map(_.getLong(0)).sorted
    lastKept = ids
    Map("docs" -> ids.size, "tokens" -> rows.map(_.getLong(1)).sum,
      "chars" -> rows.map(_.getInt(2).toLong).sum, "ids_md5" -> md5(ids))
  }

  private def materialize(packed: DataFrame): Array[Row] =
    packed.select(col("doc_id"), col("n_tokens"), length(col("text"))).collect()

  /** The stages `prepare` composes, each materialized in its own span:
    * quality filter → MinHash-LSH verified pairs → connected components
    * → packing. */
  private def tracedPass(): Array[Row] = {
    val keepIds = tr.span("functions.filter") {
      TextFunctions.corpusFilter(docs).filter(col("keep"))
        .select(col("doc_id")).localCheckpoint(true)
    }
    val kept = docs.join(keepIds, Seq("doc_id"), "left_semi")
    val sigs = Dedup.minhashSignatures(kept).persist()
    val pairs = tr.span("dedup.pairs") { Dedup.pairsFromSigs(sigs, 0.8).localCheckpoint(true) }
    // LSH candidate volume, counted outside the spans
    candidates += Dedup.lshCandidates(Dedup.lshBands(sigs), Some(Dedup.DefaultBucketCap)).count()
    verified += pairs.count()
    sigs.unpersist()
    val clusters = tr.span("operators.graph.cc") { Dedup.nearDupClusters(pairs) }
    try tr.span("functions.pack") {
      val dups = clusters.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
      val deduped = kept.join(dups, Seq("doc_id"), "left_anti")
      materialize(TextFunctions.packDocuments(deduped, WindowTokens, Shards)
        .join(deduped.select(col("doc_id"), col("text")), "doc_id"))
    } finally Seq(keepIds, pairs, clusters).foreach(Checkpoints.releaseAll)
  }

  private def md5(ids: Seq[Long]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(ids.mkString(",").getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** The kept ids of the last operation, for the checker. */
  override def finish(): Map[String, Any] = Map("kept_ids" -> lastKept)

  override def layerMetrics(t: Map[String, Tracer.LayerTotals]): Seq[(String, Double)] = Seq(
    "dedup.pairs.verify_ratio" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
    "operators.graph.cc.rounds" -> Dedup.lastCcRounds.get.toDouble,
    "operators.graph.cc.jobs" -> t.get("operators.graph.cc")
      .map(x => x.c.jobs.toDouble / x.calls).getOrElse(0.0))
}
