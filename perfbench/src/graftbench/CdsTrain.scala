package graftbench

import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Class-loading pass that perfbench/build.py runs once per build with
  * `-XX:ArchiveClassesAtExit`: it starts a session the way [[Main]]
  * does and runs one small job of each kind the workloads use (JSON
  * and parquet I/O, shuffle, join, aggregate, collect), so the JVM's
  * class-data archive holds the Spark classes every run loads.
  *
  *   graftbench.CdsTrain <scratch dir> <cores>
  */
object CdsTrain {
  def main(argv: Array[String]): Unit = {
    val Array(dir, cores) = argv
    val spark = GraftSession.builder("graftbench-cds", cores.toInt)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0, 20000).select(col("id"), (col("id") % 97).as("k"),
      concat_ws(" ", lit("doc"), col("id").cast("string")).as("text"))
    df.write.mode("overwrite").parquet(s"$dir/t.parquet")
    df.select(to_json(struct(col("id"), col("k"))).as("value"))
      .write.mode("overwrite").text(s"$dir/t.jsonl")
    val p = spark.read.parquet(s"$dir/t.parquet")
    val j = spark.read.schema("id LONG, k LONG").json(s"$dir/t.jsonl")
    p.join(j, Seq("id")).groupBy(p("k")).agg(count(lit(1)), sum(col("id")), max(col("text")))
      .orderBy(p("k")).collect()
    p.distinct().count()
    spark.stop()
  }
}
