// Lists the Spark jobs of graftbench's MERGE statement, by SQL execution
// and call site: an 8 x 100-row table partitioned by `p` with stats on `k`,
// and three alternating 7-row sources (2 new keys, 5 updated).
//
// Compile against the classes graftbench/build.py leaves in a checkout and
// run with the JDK 17 --add-opens flags of tools/run.sh:
//
//   M=.bench_build/graftbench/main
//   java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -d out \
//     -classpath "$M:$SPARK_HOME/jars/*" MergeJobsProbe.scala
//   java <add-opens> -cp "out:$M:$SPARK_HOME/jars/*" MergeJobsProbe
import graft.core._
import graft.operators.VersionedTables
import graft.operators.VersionedTables._
import graft.sql.GraftTableRegistry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

object MergeJobsProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalogPlugin")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("mjp")
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
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def site(details: String) = details.linesIterator
      .dropWhile(l => l.contains("org.apache.spark") || l.contains("java.") || l.contains("scala."))
      .take(2).mkString(" <- ")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val ex = Option(j.properties).map(_.getProperty("spark.sql.execution.id")).orNull
        sites.add(s"job ${j.jobId} (exec $ex): ${j.stageInfos.headOption.map(s => site(s.details)).getOrElse("")}"); ()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sites.add(s"exec ${x.executionId}: ${site(x.details)}"); ()
        case _ => ()
      }
    })
    for (r <- 0 until 3) {
      frame((0 until 2).map(i => (r * 10L + i + 200, 5L, "y", "p00")) ++
        (0 until 5).map(i => (r * 10L + i, 7L, "z", "p00"))).createOrReplaceTempView("bench_src")
      sites.clear()
      val t0 = System.nanoTime()
      spark.sql("""MERGE INTO graft.bench.t AS tgt USING bench_src AS src ON tgt.k = src.k AND tgt.p = src.p
        |WHEN MATCHED THEN UPDATE SET v = src.v, pay = src.pay
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val ms = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300)
      val jobs = sites.toArray(Array.empty[String]).count(_.startsWith("job "))
      println(f"MERGE $r: $jobs jobs, $ms%.0f ms")
      if (r == 2) sites.forEach(s => println("  " + s))
    }
    println("ROWS=" + engine.read(table).count())
    val pvs = engine.tracker.currentVersion(table.name).asInstanceOf[PartitionedTableVersion].partitionVersions
    val (part, ver) = pvs.find(_._1.toPath == "p=p00").get
    val vdir = new java.io.File(new java.io.File(dir.resolve("t").toFile, "p=p00"), "_version=" + ver.label)
    Option(vdir.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(f => println(s"FILE ${f.getName.take(12)} ${f.length}"))
    val pf = vdir.listFiles().filter(_.getName.endsWith(".parquet")).head
    println("SCHEMA " + spark.read.parquet(pf.getPath).schema.simpleString)
    println("FOOTER " + org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(pf.getPath)).getFileMetaData.getSchema.toString.replace("\n", " "))
    spark.sql(s"SELECT k, v FROM graft.bench.t WHERE p = 'p00' ORDER BY k LIMIT 3").collect().foreach(println)
  }
}
