package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.VersionedTables._

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Metadata-only aggregation (MetadataQuery.summarize): COUNT/MIN/MAX/null
  * counts folded from the stats manifests driver-side, residue partitions
  * scanned exactly, and the law that a fully-covered summary never opens a
  * single data file (pinned by corrupting them all in place). */
class MetadataQuerySpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark

  private def newEngine(): (VersionedTables, File) = {
    val dir = Files.createTempDirectory("graft-metaq-").toFile
    val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
    (engine, dir)
  }

  private val cfg = ColumnStatsConfig(statsColumns = List("id", "v", "cat"))

  /** The shared skipping layout ([[graft.StatsFixtures.rangeEvents]]): 4
    * day partitions × ids 0..399 (4 range files each); v null every 10th
    * id; cat cycles a/b/c. */
  private def fixture(statsCfg: Option[ColumnStatsConfig] = Some(cfg))
      : (VersionedTables, TableDefinition) =
    graft.StatsFixtures.rangeEvents(spark, "metaq", "events", statsCfg)

  /** The reference: the same aggregate computed by an actual scan. */
  private def scanSummary(engine: VersionedTables, table: TableDefinition,
      cols: Seq[String]): Row = {
    val df = engine.read(table)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
    }
    df.agg(aggs.head, aggs.tail: _*).head()
  }

  private def corruptAllDataFiles(table: TableDefinition): Int =
    graft.StatsFixtures.corruptParquet(table)

  behavior of "summarize on a fully-covered table"

  it should "fold exact COUNT/MIN/MAX/nulls from manifests and match the scan" in {
    val (engine, table) = fixture()
    val expected = scanSummary(engine, table, Seq("id", "v", "cat"))
    val got = MetadataQuery.summarize(engine, table, Seq("id", "v", "cat")).head()
    got.toSeq should contain theSameElementsInOrderAs expected.toSeq
    got.getLong(0) shouldBe 1600L
    got.getLong(1) shouldBe 0L   // id_min
    got.getLong(2) shouldBe 399L // id_max
    got.getLong(3) shouldBe 0L   // id_nulls
    got.getLong(6) shouldBe 160L // v_nulls: every 10th id, 4 partitions
    got.getString(7) shouldBe "a"
    got.getString(8) shouldBe "c"
  }

  it should "never open a data file: corrupting every file leaves the summary exact" in {
    val (engine, table) = fixture()
    val expected = MetadataQuery.summarize(engine, table, Seq("id", "v")).head()
    corruptAllDataFiles(table) shouldBe 16
    // manifests intact, data unreadable — the metadata-only fold still works
    val got = MetadataQuery.summarize(engine, table, Seq("id", "v")).head()
    got.toSeq should contain theSameElementsInOrderAs expected.toSeq
    // ...and the scan-based reference now fails loudly, proving the
    // corruption took (data files ARE required for a real aggregation)
    intercept[Exception](scanSummary(engine, table, Seq("id", "v")))
  }

  it should "time-travel: summarizeVersion folds the pinned commit's manifests" in {
    val (engine, table) = fixture()
    val c0 = engine.headCommit(table.name)
    spark.range(50).select(
        (col("id") + 5000).as("id"), lit("2024-01-01").as("day"),
        lit(1.0).as("v"), lit("z").as("cat"))
      .repartition(1)
      .versionedInsertInto(engine, table, UserId("t"), "reprocess day 1")

    val atHead = MetadataQuery.summarize(engine, table, Seq("id")).head()
    atHead.getLong(0) shouldBe 1600L - 400L + 50L
    atHead.getLong(2) shouldBe 5049L

    val atC0 = MetadataQuery.summarizeVersion(engine, table,
      engine.versionAt(table.name, c0), Seq("id"),
      engine.schemaHintAt(table, engine.tracker.tableState(table.name), c0)).head()
    atC0.getLong(0) shouldBe 1600L
    atC0.getLong(2) shouldBe 399L
  }

  behavior of "the residue path"

  it should "scan ONLY uncovered partitions and combine exactly (covered ones corrupted)" in {
    val (engine, table) = fixture()
    // strip day-4's manifest entries by deleting the whole stats manifest
    // of a RE-WRITTEN day-4 version: reprocess day 4 on a stats-less twin
    // definition (same table dir, no stats config) → that partition's new
    // version has no manifest → residue; the other three stay covered
    val noStats = table.copy(stats = None)
    spark.range(100).select(
        (col("id") + 9000).as("id"), lit("2024-01-04").as("day"),
        lit(2.5).as("v"), lit("q").as("cat"))
      .repartition(1)
      .versionedInsertInto(engine, noStats, UserId("t"), "reprocess day 4, no stats")

    val expected = scanSummary(engine, table, Seq("id", "v"))
    val got = MetadataQuery.summarize(engine, table, Seq("id", "v")).head()
    got.toSeq should contain theSameElementsInOrderAs expected.toSeq
    got.getLong(0) shouldBe 1600L - 400L + 100L
    got.getLong(2) shouldBe 9099L

    // now corrupt the three COVERED partitions' files in place: the
    // summary must not notice (it only scans the residue partition)
    graft.StatsFixtures.corruptParquet(table,
      spare = _.getPath.contains("day=2024-01-04"))
    val afterCorruption = MetadataQuery.summarize(engine, table, Seq("id", "v")).head()
    afterCorruption.toSeq should contain theSameElementsInOrderAs expected.toSeq
  }

  it should "route NaN-touched files through the residue (bounds are honest)" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("metaq", "nan_events"),
      new File(dir, "nan_events").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("x"))))
    engine.initTable(table, UserId("t"), "init")
    val df = spark.range(100).select(
      lit("d1").as("day"),
      when(col("id") === 50, lit(Double.NaN)).otherwise(col("id").cast("double")).as("x"))
    df.repartition(1).versionedInsertInto(engine, table, UserId("t"), "load with NaN")

    val got = MetadataQuery.summarize(engine, table, Seq("x")).head()
    val ref = scanSummary(engine, table, Seq("x"))
    got.getLong(0) shouldBe 100L
    got.getDouble(1) shouldBe 0.0
    got.getDouble(2).isNaN shouldBe true // Spark max() semantics: NaN greatest
    // field-wise against the scan (NaN != NaN under Seq equality)
    got.getLong(0) shouldBe ref.getLong(0)
    got.getDouble(1) shouldBe ref.getDouble(1)
    ref.getDouble(2).isNaN shouldBe true
    got.getLong(3) shouldBe ref.getLong(3)
  }

  it should "answer partition columns through the residue scan, exactly" in {
    val (engine, table) = fixture()
    val got = MetadataQuery.summarize(engine, table, Seq("day", "id")).head()
    got.toSeq should contain theSameElementsInOrderAs
      scanSummary(engine, table, Seq("day", "id")).toSeq
    // partition discovery types `day` as DATE — the summary follows suit
    got.getDate(1) shouldBe java.sql.Date.valueOf("2024-01-01")
    got.getDate(2) shouldBe java.sql.Date.valueOf("2024-01-04")
  }

  behavior of "foldCoveredSelected"

  it should "refuse a filtered request against a snapshot version (review finding)" in {
    // a partition-columned DEFINITION over a snapshot-tracked state (the
    // flavor mismatch the CLI guards loudly) must never answer a FILTERED
    // aggregate with the unfiltered total — the selection can't be
    // evaluated, so the fold refuses and the caller scans
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("metaq", "snapfold"),
      new File(dir, "snapfold").toURI, PartitionSchema.snapshot, FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("x"))))
    engine.initTable(table, UserId("t"), "init")
    spark.range(10).select(col("id").as("x"))
      .repartition(1).versionedInsertInto(engine, table, UserId("t"), "load")
    val version = engine.tracker.currentVersion(table.name)

    // the unfiltered form folds fine...
    val unfiltered = MetadataQuery.foldCoveredSelected(
      engine, table, version, Seq("x"), Map.empty, keep = None)
    unfiltered.map(_.rows) shouldBe Some(10L)
    // ...any SELECTION refuses — even one that would keep everything
    MetadataQuery.foldCoveredSelected(
      engine, table, version, Seq("x"), Map.empty, keep = Some(_ => true)) shouldBe None
  }

  it should "answer COUNT of a NaN-touched column from metadata (bounds not needed)" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("metaq", "nan_count"),
      new File(dir, "nan_count").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("x"))))
    engine.initTable(table, UserId("t"), "init")
    spark.range(100).select(
        lit("d1").as("day"),
        when(col("id") === 50, lit(Double.NaN))
          .when(col("id") % 4 === 0, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("x"))
      .repartition(1).versionedInsertInto(engine, table, UserId("t"), "load with NaN")
    val version = engine.tracker.currentVersion(table.name)

    // bounds requested → the NaN file refuses
    MetadataQuery.foldFullyCovered(engine, table, version, Seq("x")) shouldBe None
    // count-only (empty boundsFor) → rows + exact null count still fold
    val fold = MetadataQuery.foldFullyCovered(
      engine, table, version, Seq("x"), boundsFor = Some(Set.empty))
    fold.map(_.rows) shouldBe Some(100L)
    fold.map(_.cols("x").nulls) shouldBe Some(25L) // ids 0,4,...,96 (50 is NaN, not null)
  }

  behavior of "edge states"

  it should "summarize a stats-less table by scanning (exact, just not metadata-fast)" in {
    val (engine, table) = fixture(statsCfg = None)
    val got = MetadataQuery.summarize(engine, table, Seq("id", "v")).head()
    got.toSeq should contain theSameElementsInOrderAs
      scanSummary(engine, table, Seq("id", "v")).toSeq
  }

  it should "handle an all-null column and reject unknown/duplicate columns" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("metaq", "nulls"),
      new File(dir, "nulls").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("x"))))
    engine.initTable(table, UserId("t"), "init")
    spark.range(10).select(lit("d1").as("day"), lit(null).cast("double").as("x"))
      .repartition(1).versionedInsertInto(engine, table, UserId("t"), "all null")

    val got = MetadataQuery.summarize(engine, table, Seq("x")).head()
    got.getLong(0) shouldBe 10L
    got.isNullAt(1) shouldBe true
    got.isNullAt(2) shouldBe true
    got.getLong(3) shouldBe 10L

    intercept[IllegalArgumentException](
      MetadataQuery.summarize(engine, table, Seq("nope")).head())
    intercept[IllegalArgumentException](
      MetadataQuery.summarize(engine, table, Seq("x", "x")))
  }

  it should "return zero rows and null bounds for an empty table state" in {
    val (engine, table) = fixture()
    // a state with no visible partitions (what a table looks like before
    // its first commit, or after every partition is removed)
    val got = MetadataQuery.summarizeVersion(engine, table,
      PartitionedTableVersion(Map.empty), Seq("id"), None).head()
    got.getLong(0) shouldBe 0L
    got.isNullAt(1) shouldBe true
    got.isNullAt(2) shouldBe true
    got.getLong(3) shouldBe 0L
  }
}
