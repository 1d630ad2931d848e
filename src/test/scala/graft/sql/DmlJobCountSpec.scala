package graft.sql

import graft.TestSpark
import graft.core._
import graft.operators.VersionedTables
import graft.operators.VersionedTables._

import java.io.File
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** Job-count law of SQL DML on a small partitioned stats table: every
  * statement runs only the Spark jobs its data needs. Committed data is
  * read under the schema the log recorded, so no statement launches a
  * footer schema-inference job (a job started at a `DataFrameReader.load`
  * call site); the merge-on-read DELETE writes its deletion vector in one
  * job that also observes the matches, and the merge-on-read UPDATE adds
  * one write for the post-images. */
class DmlJobCountSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false),
    StructField("pay", StringType, nullable = false), StructField("p", StringType, nullable = false)))

  private def rows(p: String, ks: Range): Seq[Row] =
    ks.map(k => Row(k.toLong, k * 7L, f"payload-$k%024d", p))

  /** Call sites of the Spark jobs `body` starts (its own thread and the
    * threads that inherit its job group, such as broadcast builders). */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"graft-job-count-${seq.incrementAndGet()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage is created last and is named after the job's call site
        val site = e.stageInfos.maxBy(_.stageId).name
        seen.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, site))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count law")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a marker job started after
      // the body is seen, so are all of the body's jobs
      sc.setJobGroup(s"$group-end", "job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.asScala.exists(_._1 == s"$group-end") shouldBe true
    } finally sc.removeSparkListener(listener)
    seen.asScala.collect { case (g, site) if g == group => site }.toSeq
  }

  "SQL DML on a partitioned stats table" should
    "run only the jobs its data needs, and never infer a schema from footers" in {
    val dir = Files.createTempDirectory("graft-jobcount-").toFile
    val n = seq.incrementAndGet()
    val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
    val table = TableDefinition(TableName("jobcount", s"t$n"), new File(dir, s"t$n").toURI,
      PartitionSchema("p"), FileFormat.Parquet, stats = Some(ColumnStatsConfig(List("k"))))
    GraftTableRegistry.register(engine, table)
    engine.initTable(table, UserId("t"), "init")
    val parts = Seq("p0", "p1", "p2", "p3")
    spark.createDataFrame(parts.flatMap(rows(_, 0 until 100)).asJava, schema)
      .versionedInsertInto(engine, table, UserId("t"), "load")
    val t = s"graft.${table.name.fullyQualifiedName}"
    def where(p: String, from: Int) = s"p = '$p' AND k >= $from AND k <= ${from + 9}"

    def statement(mode: (String, String), sql: String): Seq[String] = {
      spark.conf.set(mode._1, mode._2)
      try jobsOf(spark.sql(sql).collect()) finally spark.conf.unset(mode._1)
    }
    val deleteMode = GraftSqlWrites.DeleteModeKey
    val updateMode = GraftSqlWrites.UpdateModeKey
    spark.createDataFrame((rows("p0", 10 until 18) ++ rows("p2", 40 until 50)).asJava, schema)
      .createOrReplaceTempView("jobcount_src")
    spark.createDataFrame((rows("p0", 18 until 20) ++ rows("p0", 50 until 55)).map(r =>
        Row(r.getLong(0), r.getLong(1) + 1, r.getString(2), r.getString(3))).asJava, schema)
      .createOrReplaceTempView("jobcount_merge")

    // (statement, its jobs, the most it may run)
    val census = Seq(
      ("rewrite DELETE", statement(deleteMode -> "rewrite",
        s"DELETE FROM $t WHERE ${where("p0", 10)}"), 4),
      ("rewrite UPDATE", statement(updateMode -> "rewrite",
        s"UPDATE $t SET v = v + 7 WHERE ${where("p1", 20)}"), 4),
      ("dv DELETE", statement(deleteMode -> "dv",
        s"DELETE FROM $t WHERE ${where("p2", 40)}"), 1),
      ("dv UPDATE", statement(updateMode -> "dv",
        s"UPDATE $t SET v = v + 3 WHERE ${where("p3", 60)}"), 2),
      ("INSERT", jobsOf(spark.sql(s"INSERT INTO $t SELECT * FROM jobcount_src").collect()), 4),
      ("MERGE", jobsOf(spark.sql(
        s"""MERGE INTO $t AS tgt USING jobcount_merge AS src ON tgt.k = src.k AND tgt.p = src.p
           |WHEN MATCHED THEN UPDATE SET v = src.v, pay = src.pay
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()), 9),
      ("OPTIMIZE", jobsOf(spark.sql(s"OPTIMIZE $t WHERE p IN ('p2', 'p3')").collect()), 3))

    val report = census.map { case (what, jobs, _) =>
      s"$what: ${jobs.size} jobs${jobs.mkString(" [", "; ", "]")}" }.mkString("\n")
    info(report)
    withClue(s"$report\n") {
      census.foreach { case (what, jobs, most) =>
        withClue(s"$what: ") {
          jobs.filter(_.startsWith("load at")) shouldBe empty
          jobs.size should be <= most
        }
      }
    }

    // and the statements did what they say
    val got = engine.read(table).collect().map(r =>
      (r.getAs[String]("p"), r.getAs[Long]("k")) -> r.getAs[Long]("v")).toMap
    got.size shouldBe 400 - 10 - 10 + 18 + 2
    got(("p0", 19L)) shouldBe 19L * 7 + 1
    got(("p0", 52L)) shouldBe 52L * 7 + 1
    got(("p1", 25L)) shouldBe 25L * 7 + 7
    got(("p3", 65L)) shouldBe 65L * 7 + 3
    got(("p2", 45L)) shouldBe 45L * 7
  }
}
