package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.DeleteVectors._
import graft.operators.VersionedTables._

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The merge-on-read DML writes its deletion vector in ONE pass that also
  * observes the matches; the bulk guard then runs on those observed counts
  * before anything moves under a `_version=` directory. Laws: a refused or
  * match-less statement leaves no commit, no new version directory and no
  * temporary directory; stacked deletes keep the earlier entries (legacy
  * absolute entries rewritten root-relative); each affected partition gets
  * exactly one DV file, on the one-task path and on the shuffled one. */
class DvFusedWriteSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A 1000-row table over four days, each day in several files, with
    * stats manifests (so the bulk guard knows the row counts). */
  private def newTable(): (VersionedTables, TableDefinition) = {
    val dir = Files.createTempDirectory("graft-dvfused-").toFile
    val engine = VersionedTables.withFileStore(spark, new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dvfused", s"t${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("k"))))
    engine.initTable(table, UserId("t"), "init")
    (0L until 1000L).map(k => (k, k * 2.0, s"d${k % 4}")).toDF("k", "v", "day")
      .repartition(3)
      .versionedInsertInto(engine, table, UserId("t"), "load")
    (engine, table)
  }

  private def walk(f: java.io.File): List[java.io.File] =
    if (f.isDirectory) f :: f.listFiles().toList.flatMap(walk) else List(f)

  /** Every `_version=` and `_tmp_dv_` directory under the table root. */
  private def layoutDirs(table: TableDefinition): Set[String] =
    walk(new java.io.File(table.location)).filter(f => f.isDirectory &&
        (f.getName.startsWith("_version=") || f.getName.startsWith("_tmp_dv_")))
      .map(_.getPath).toSet

  /** Parquet files of each DV directory under the table root. */
  private def dvFiles(table: TableDefinition): Map[String, Int] =
    walk(new java.io.File(table.location)).filter(f => f.isDirectory && f.getName == "_dv")
      .map(d => d.getPath -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  private def keys(engine: VersionedTables, table: TableDefinition): Array[Long] =
    engine.read(table).select("k").as[Long].collect().sorted

  "A merge-on-read DML the bulk guard refuses" should
    "leave no commit, no new version directory and no temporary directory" in {
    val (engine, table) = newTable()
    val head = engine.headCommit(table.name)
    val before = layoutDirs(table)
    val bulk = col("k") % 4 =!= 0 // 75% of every day
    val refusals = Seq(
      intercept[IllegalArgumentException] {
        engine.deleteWhereDV(table, bulk, UserId("t"), "bulk delete")
      },
      intercept[IllegalArgumentException] {
        engine.updateWhereDV(table, bulk, Map("v" -> lit(0.0)), UserId("t"), "bulk update")
      })
    refusals.foreach(_.getMessage should include(MaxDeleteFractionKey))
    engine.headCommit(table.name) shouldBe head
    layoutDirs(table) shouldBe before
    engine.read(table).count() shouldBe 1000L
  }

  "A merge-on-read DML that matches nothing" should "commit nothing" in {
    val (engine, table) = newTable()
    val head = engine.headCommit(table.name)
    val before = layoutDirs(table)
    // k % 1000 = 1001 passes every stats and Bloom test, and holds for no row
    val none = col("k") % 1000 === 1001L
    engine.deleteWhereDV(table, none, UserId("t"), "no-op delete").affected shouldBe Nil
    engine.updateWhereDV(table, none, Map("v" -> lit(0.0)), UserId("t"), "no-op update")
      .affected shouldBe Nil
    engine.headCommit(table.name) shouldBe head
    layoutDirs(table) shouldBe before
    // and none on a stacked partition either: its carried entries go with the
    // temporary directory
    engine.deleteWhereDV(table, col("k") === 4L, UserId("t"), "one row")
    val stacked = engine.headCommit(table.name)
    val stackedDirs = layoutDirs(table)
    engine.deleteWhereDV(table, none, UserId("t"), "no-op stacked").deletedRows shouldBe 0L
    engine.headCommit(table.name) shouldBe stacked
    layoutDirs(table) shouldBe stackedDirs
    stackedDirs -- before should have size 1 // the one marker of "one row"
    keys(engine, table) shouldBe (0L until 1000L).filter(_ != 4L).toArray
  }

  "Stacked merge-on-read deletes" should
    "keep the first DV's entries, rewritten root-relative when they were absolute" in {
    val (engine, table) = newTable()
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    // rewrite the first DV's sidecars with the ABSOLUTE paths a legacy
    // release wrote
    val rootPrefix = qualifiedRootPrefix(spark.sparkContext.hadoopConfiguration, table.location)
    dvFiles(table).keys.map(new java.io.File(_)).foreach { d =>
      val absolutized = spark.read.schema(DvSchema).parquet(d.getPath)
        .select(concat(lit(rootPrefix), col("file_path")).as("file_path"), col("row_index"))
        .collect()
      d.listFiles().foreach(f => { f.delete(); () })
      spark.createDataFrame(java.util.Arrays.asList(absolutized: _*), DvSchema)
        .coalesce(1).write.mode("overwrite").parquet(d.getPath)
    }
    DeleteVectors.clearMarkerMetaCache()
    val r = engine.deleteWhereDV(table, col("k") % 11 === 0, UserId("t"), "dv %11")
    r.deletedRows shouldBe (0L until 1000L).count(k => k % 11 == 0 && k % 7 != 0)
    keys(engine, table) shouldBe
      (0L until 1000L).filter(k => k % 7 != 0 && k % 11 != 0).toArray
    // the new markers' DVs hold both statements' positions, all relative
    val markers = engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => fail(s"unexpected $other")
    }
    val entries = spark.read.schema(DvSchema).parquet(markers.toSeq.map { case (p, m) =>
      VersionedTables.uriToLoadPath(dvDir(table, p, m)) }: _*)
    entries.count() shouldBe (0L until 1000L).count(k => k % 7 == 0 || k % 11 == 0)
    entries.filter(col("file_path").startsWith(rootPrefix) ||
      col("file_path").startsWith("/")).count() shouldBe 0L
  }

  "A merge-on-read DML" should
    "give each affected partition exactly one DV file, on either write layout" in {
    for (cutoff <- Seq("1MB", "1b")) { // "1b": the shuffled (large-input) path
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", cutoff)
      try {
        val (engine, table) = newTable()
        engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
          .affected.size shouldBe 4
        engine.updateWhereDV(table, col("k") % 5 === 0 && col("day") =!= "d0",
          Map("v" -> lit(-1.0)), UserId("t"), "dv update").affected.size shouldBe 3
        withClue(s"cutoff $cutoff: ") {
          val files = dvFiles(table)
          files.size shouldBe 4 + 3
          all(files.values.toList) shouldBe 1
        }
        keys(engine, table) shouldBe (0L until 1000L).filter(_ % 7 != 0).toArray
        engine.read(table).filter(col("v") === -1.0).count() shouldBe
          (0L until 1000L).count(k => k % 5 == 0 && k % 7 != 0 && k % 4 != 0)
      } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }
  }
}
