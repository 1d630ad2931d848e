// Times (all-thread CPU) graftbench's rewrite DELETE on a partition that
// its MERGE rewrote two iterations before, beside the MERGE itself: the
// sql_dml round cut down to DELETE, INSERT and MERGE on one table of
// 8 x 100 rows. Argument: iterations (default 24; the first 4 not counted).
// Build and run like MergeJobsProbe.scala.
import graft.core._
import graft.operators.VersionedTables
import graft.operators.VersionedTables._
import graft.sql.GraftTableRegistry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

object DeleteAfterMergeProbe {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(24)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.default.parallelism", "4")
      .config("spark.driver.host", "localhost").config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalogPlugin")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("dam")
    val engine = VersionedTables.withFileStore(spark, dir.resolve("store").toUri)
    val table = TableDefinition(TableName("bench", "t"), dir.resolve("t").toUri,
      PartitionSchema("p"), FileFormat.Parquet, stats = Some(ColumnStatsConfig(List("k"))))
    engine.initTable(table, UserId("p"), "init")
    GraftTableRegistry.register(engine, table)
    val schema = StructType(Seq(StructField("k", LongType, false), StructField("v", LongType, false),
      StructField("pay", StringType, false), StructField("p", StringType, false)))
    def frame(rows: Seq[(Long, Long, String, String)]) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3, r._4)): _*), schema)
    frame(for (p <- 0 until 8; i <- 0 until 100) yield (p * 1000L + i, 1L, "x" * 20, f"p$p%02d"))
      .versionedInsertInto(engine, table, UserId("p"), "load")
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    def cpu(): Long = mx.getAllThreadIds.map(mx.getThreadCpuTime).filter(_ > 0).sum
    def timed(f: => Unit): Double = { val c0 = cpu(); f; (cpu() - c0) / 1e6 }
    val dels = scala.collection.mutable.ArrayBuffer.empty[Double]
    val merges = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (r <- 0 until iters) {
      val p = (4 * r) % 8; val s0 = (r * 37) % 90; val part = f"p$p%02d"
      val d = timed(spark.sql(s"DELETE FROM graft.bench.t WHERE p = '$part' AND k >= ${p * 1000L + s0} AND k <= ${p * 1000L + s0 + 9}"))
      engine.read(table).filter(s"p = '$part'").count()
      frame((s0 until s0 + 8).map(i => (p * 1000L + i, 2L, "i", part))).createOrReplaceTempView("bench_src")
      spark.sql("INSERT INTO graft.bench.t SELECT * FROM bench_src")
      val m0 = (s0 + 10 + (r * 13) % 75) % 95
      frame(((s0 + 8 until s0 + 10) ++ (m0 until m0 + 5)).map(i => (p * 1000L + i, 3L + r, "m", part)))
        .createOrReplaceTempView("bench_src")
      val m = timed(spark.sql("""MERGE INTO graft.bench.t AS tgt USING bench_src AS src ON tgt.k = src.k AND tgt.p = src.p
        |WHEN MATCHED THEN UPDATE SET v = src.v, pay = src.pay
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      engine.read(table).filter(s"p = '$part'").count()
      if (r >= 4) { dels += d; merges += m }
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"DELETE_CPU_MEDIAN ${med(dels.toSeq)}%.1f MERGE_CPU_MEDIAN ${med(merges.toSeq)}%.1f ROWS ${engine.read(table).count()}")
    println("DELETES " + dels.map(x => f"$x%.0f").mkString(" "))
  }
}
