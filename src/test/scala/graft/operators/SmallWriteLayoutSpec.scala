package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.VersionedTables._
import graft.sql.GraftTableRegistry

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The layout rule of the shared versioned writer
  * ([[VersionedTables.writeDataVersioned]]): an input whose analyzed size
  * estimate is at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * runs as one write task — one data file per touched partition — unless
  * the caller fixed the layout (repartition & co. at the top of the plan),
  * the estimate can undercount the output (explode, object operators) or
  * the estimate is not free (a DataSource V2 input).
  * Rows read back unchanged in every case. Also: no write leaves Hadoop's
  * `_SUCCESS` marker under the table. */
class SmallWriteLayoutSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("pay", StringType), StructField("p", StringType)))

  private def fixture(): (VersionedTables, TableDefinition) = {
    val dir = Files.createTempDirectory("graft-layout-").toFile
    val n = seq.incrementAndGet()
    val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
    val table = TableDefinition(TableName("layout", s"t$n"),
      new File(dir, s"t$n").toURI, PartitionSchema("p"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    (engine, table)
  }

  /** `n` rows from `from` into partition `p`, as a local frame of 4 slices. */
  private def rows(from: Long, n: Int, p: String): Seq[Row] =
    (from until from + n).map(k => Row(k, k * 7, f"payload-$k%024d", p))

  private def frame(rs: Seq[Row]): DataFrame = {
    val df = spark.createDataFrame(rs.asJava, schema)
    df.rdd.getNumPartitions shouldBe 4
    df
  }

  private def contents(engine: VersionedTables, table: TableDefinition): Seq[Row] =
    engine.read(table).select("k", "v", "pay", "p").collect().toSeq.sortBy(_.getLong(0))

  /** Parquet data files of the version partition `p` currently points at. */
  private def filesOf(engine: VersionedTables, table: TableDefinition, p: String): Int = {
    val label = engine.tracker.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions
      .collectFirst { case (part, v) if part.columnValues.head.value == p => v.label }.get
    val dir = new File(new File(new File(table.location), s"p=$p"), s"_version=$label")
    dir.listFiles().count(f => f.getName.endsWith(".parquet"))
  }

  private def successMarkers(table: TableDefinition): Seq[String] =
    graft.StatsFixtures.walkFiles(new File(table.location))
      .map(_.getName).filter(_.contains("_SUCCESS"))

  behavior of "the versioned writer's layout rule"

  it should "write a small 4-slice single-partition insert as one file" in {
    val (engine, table) = fixture()
    val in = rows(0, 40, "a")
    frame(in).versionedInsertInto(engine, table, UserId("t"), "small")
    filesOf(engine, table, "a") shouldBe 1
    contents(engine, table) shouldBe in
  }

  it should "keep the caller's explicit repartition" in {
    val (engine, table) = fixture()
    val in = rows(0, 40, "a")
    frame(in).repartition(4).versionedInsertInto(engine, table, UserId("t"), "fragmented")
    filesOf(engine, table, "a") shouldBe 4
    contents(engine, table) shouldBe in
  }

  it should "keep compact's filesPerPartition" in {
    val (engine, table) = fixture()
    val in = rows(0, 40, "a") ++ rows(100, 40, "b")
    frame(in).versionedInsertInto(engine, table, UserId("t"), "load")
    engine.compact(table, UserId("t"), "spread", filesPerPartition = 3)
    filesOf(engine, table, "a") shouldBe 3
    filesOf(engine, table, "b") shouldBe 3
    contents(engine, table) shouldBe in
    engine.compact(table, UserId("t"), "pack")
    filesOf(engine, table, "a") shouldBe 1
    contents(engine, table) shouldBe in
  }

  it should "keep one file per slice when the estimate exceeds the minimum partition size" in {
    val (engine, table) = fixture()
    val in = rows(0, 40, "a")
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(key, "1k") // 40 rows estimate at ~2.5 KB
    try frame(in).versionedInsertInto(engine, table, UserId("t"), "large")
    finally spark.conf.unset(key)
    filesOf(engine, table, "a") shouldBe 4
    contents(engine, table) shouldBe in
  }

  it should "keep the layout of a DataSource V2 input" in {
    val (engine, table) = fixture()
    val in = rows(0, 40, "a")
    val src = Files.createTempDirectory("graft-layout-v2-").resolve("src").toString
    frame(in).write.parquet(src) // 4 files, each read as its own slice
    val key = "spark.sql.sources.useV1SourceList"
    spark.conf.set(key, "") // parquet through the V2 file source
    try {
      val v2 = spark.read.parquet(src)
      v2.queryExecution.analyzed.collectLeaves() should matchPattern {
        case Seq(_: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation) =>
      }
      v2.versionedInsertInto(engine, table, UserId("t"), "v2")
    } finally spark.conf.unset(key)
    filesOf(engine, table, "a") shouldBe 4
    contents(engine, table) shouldBe in
  }

  it should "keep today's layout when the plan explodes rows" in {
    val (engine, table) = fixture()
    val base = rows(0, 20, "a")
    val exploded = frame(base)
      .withColumn("twice", explode(array(lit(0L), lit(1000L))))
      .select((col("k") + col("twice")).as("k"), col("v"), col("pay"), col("p"))
    exploded.versionedInsertInto(engine, table, UserId("t"), "exploded")
    filesOf(engine, table, "a") shouldBe 4
    contents(engine, table) shouldBe
      base.flatMap(r => Seq(0L, 1000L).map(d => Row(r.getLong(0) + d, r.get(1), r.get(2), r.get(3))))
        .sortBy(_.getLong(0))
  }

  it should "keep today's layout for typed object operators" in {
    val (engine, table) = fixture()
    val s = spark
    import s.implicits._
    val in = rows(0, 40, "a")
    val mapped = frame(in).as[(Long, Long, String, String)]
      .mapPartitions(identity).toDF("k", "v", "pay", "p")
    mapped.versionedInsertInto(engine, table, UserId("t"), "typed")
    filesOf(engine, table, "a") shouldBe 4
    contents(engine, table) shouldBe in
  }

  it should "leave one file per touched partition after a small SQL INSERT, DELETE and MERGE" in {
    val (engine, table) = fixture()
    GraftTableRegistry.register(engine, table)
    val t = s"graft.${table.name.fullyQualifiedName}"
    val base = rows(0, 40, "a") ++ rows(100, 40, "b")
    frame(base).versionedInsertInto(engine, table, UserId("t"), "load")
    val view = s"layout_src_${seq.incrementAndGet()}"
    frame(rows(200, 8, "a")).createOrReplaceTempView(view)

    spark.sql(s"INSERT INTO $t SELECT k, v, pay, p FROM $view")
    filesOf(engine, table, "a") shouldBe 1
    filesOf(engine, table, "b") shouldBe 1
    val inserted = base ++ rows(200, 8, "a")
    contents(engine, table) shouldBe inserted.sortBy(_.getLong(0))

    spark.sql(s"DELETE FROM $t WHERE p = 'a' AND k BETWEEN 3 AND 5")
    filesOf(engine, table, "a") shouldBe 1
    val deleted = inserted.filterNot(r => r.getString(3) == "a" && r.getLong(0) >= 3 && r.getLong(0) <= 5)
    contents(engine, table) shouldBe deleted.sortBy(_.getLong(0))

    frame(rows(100, 4, "b").map(r => Row(r.getLong(0), -1L, r.get(2), r.get(3))) ++ rows(300, 4, "c"))
      .createOrReplaceTempView(view)
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $view AS s ON tgt.k = s.k
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    Seq("a", "b", "c").map(filesOf(engine, table, _)) shouldBe Seq(1, 1, 1)
    val merged = deleted.map(r =>
      if (r.getString(3) == "b" && r.getLong(0) < 104) Row(r.getLong(0), -1L, r.get(2), r.get(3))
      else r) ++ rows(300, 4, "c")
    contents(engine, table) shouldBe merged.sortBy(_.getLong(0))
  }

  behavior of "the versioned writer's success marker"

  it should "leave no _SUCCESS after a write, a stage or a CAS-refused publish" in {
    val (engine, table) = fixture()
    frame(rows(0, 40, "a")).versionedInsertInto(engine, table, UserId("t"), "write")
    successMarkers(table) shouldBe empty

    val stale = engine.headCommit(table.name)
    val staged = frame(rows(100, 40, "b")).stageInsertInto(engine, table, UserId("t"), "stage")
    successMarkers(table) shouldBe empty

    frame(rows(200, 40, "c")).versionedInsertInto(engine, table, UserId("t"), "lands first")
    intercept[CommitConflictError](staged.publishIf(stale))
    successMarkers(table) shouldBe empty
    contents(engine, table) shouldBe rows(0, 40, "a") ++ rows(200, 40, "c")
  }
}
