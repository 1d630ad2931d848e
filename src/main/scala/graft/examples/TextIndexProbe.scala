package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core._
import graft.operators.{TextIndex, VersionedTables}

/** Measures the maintenance payoff of [[TextIndex.compactBatches]]: a
  * long-lived incremental index accretes one file set per (touched bucket,
  * batch); compaction folds them into one batch label. TextIndexSpec pins
  * the functional half (search results identical before/after); this probe
  * records the PERFORMANCE half — steady-state search latency and the
  * pruned-file count, before vs after — as greppable NAME=value lines.
  *
  *   tools/run.sh graft.examples.TextIndexProbe /root/testdata/sf0.01
  */
object TextIndexProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.prepare(spark)

    val root = java.nio.file.Files.createTempDirectory("graft-tixprobe-")
    val engine = VersionedTables.withFileStore(spark, root.resolve("store").toUri)
    val table = TableDefinition(TableName("graft", "tix_probe"),
      root.resolve("postings").toUri, TextIndex.indexSchema, FileFormat.Parquet)
    engine.initTable(table, UserId("probe"), "init")

    val docs = graft.Tables.documents(spark, sfDir).localCheckpoint()
    val n = docs.count()
    // base build on the first half, then 8 incremental deliveries — the
    // accretion pattern a streaming ingester produces
    val half = n / 2
    TextIndex.buildIndex(engine, table, docs.filter(col("doc_id") < half),
      buckets = 16, userId = UserId("probe"))
    val slice = (n - half) / 8 + 1
    (0 until 8).foreach { i =>
      val lo = half + i * slice
      TextIndex.addBatch(engine, table,
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + slice),
        batchLabel = s"b$i", userId = UserId("probe"))
    }

    val terms = Seq("the", "data", "model")
    // live-version file count (pre-compaction versions stay on disk for time
    // travel, so a raw directory walk overcounts)
    def files(): Long = engine.read(table).inputFiles.length.toLong
    def timeSearch(reps: Int): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        TextIndex.search(engine, table, terms, k = 50).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.size / 2)
    }
    timeSearch(1) // warm the session on this table shape before measuring
    val pre = timeSearch(5)
    val preFiles = files()
    TextIndex.compactBatches(engine, table, userId = UserId("probe"))
    val post = timeSearch(5)
    val postFiles = files()
    println(f"SEARCH_PRE_MED_S=$pre%.3f")
    println(f"SEARCH_POST_MED_S=$post%.3f")
    println(s"FILES_PRE=$preFiles")
    println(s"FILES_POST=$postFiles")
    println(f"SPEEDUP=${pre / post}%.2f")
    spark.stop()
  }
}
