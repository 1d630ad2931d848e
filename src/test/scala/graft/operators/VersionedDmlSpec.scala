package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.VersionedDml._
import graft.operators.VersionedTables._
import graft.sql.GraftTableRegistry

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Predicate DML (deleteWhere / updateWhere + the SQL DELETE FROM / UPDATE
  * faces): SQL three-valued WHERE, partition-pruned discovery (pinned by
  * corrupting unaffected partitions), emptied-partition removal, CAS, SET
  * refusals, and time travel across DML commits. */
class VersionedDmlSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** 4 day partitions × ids 0..399 range-split (the StatsFixtures layout),
    * registered for SQL. */
  private def fixture(statsCfg: Option[ColumnStatsConfig] =
      Some(ColumnStatsConfig(List("id", "v"), bloomKeyColumns = List("id"),
        bloomExpectedItems = 1000))): (VersionedTables, TableDefinition) = {
    val (engine, table) = graft.StatsFixtures.rangeEvents(
      spark, "dml", s"events_${seq.incrementAndGet()}", statsCfg)
    GraftTableRegistry.register(engine, table)
    (engine, table)
  }

  behavior of "deleteWhere"

  it should "delete exactly the TRUE rows and keep NULL-predicate rows (SQL three-valued)" in {
    val (engine, table) = fixture()
    // v grows with the GLOBAL row id (day 2 starts at 600.0), so `v < 30`
    // lives only in day 1: candidate discovery prunes the other days from
    // the manifests alone, and the rewrite bill says so
    val r = engine.deleteWhere(table, col("v") < 30.0, UserId("t"), "del small v")
    r.rewritten.map(_.toPath) shouldBe List("day=2024-01-01")
    val left = engine.read(table)
    left.filter(col("v") < 30.0).count() shouldBe 0
    // v is NULL on every 10th row: `v < 30` is NULL there — those rows stay
    left.filter(col("v").isNull).count() shouldBe 40 * 4
    left.count() shouldBe 1600 - 18 // day-1 ids 1..19 minus the null at 10
  }

  it should "touch only partitions the predicate can match (corrupt-the-rest law)" in {
    val (engine, table) = fixture()
    // corrupt days 2-4 IN PLACE: a delete constrained to day 1 must not read them
    val spared = "day=2024-01-01"
    graft.StatsFixtures.corruptParquet(table,
      spare = f => f.getAbsolutePath.contains(spared)) should be >= 12
    val r = engine.deleteWhere(table,
      col("day") === "2024-01-01" && col("id") < 100, UserId("t"), "del day1 head")
    r.rewritten.map(_.toPath) shouldBe List(spared)
    engine.readPartitions(table, _.toPath == spared).count() shouldBe 300
  }

  it should "prune candidate discovery by file stats and Blooms, not just partition values" in {
    val (engine, table) = fixture()
    val pvs = engine.tracker.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions
    // id > 10000 is outside every file's range: zero candidates, no commit
    TableStats.partitionsMayMatch(engine, table, pvs, col("id") > 10000) shouldBe empty
    val before = engine.log(table.name).size
    engine.deleteWhere(table, col("id") > 10000, UserId("t"), "no-op")
      .rewritten shouldBe empty
    engine.log(table.name).size shouldBe before // nothing committed
  }

  it should "remove partitions a delete empties, keeping their history readable" in {
    val (engine, table) = fixture()
    val c0 = engine.headCommit(table.name)
    val r = engine.deleteWhere(table, col("day") === "2024-01-02", UserId("t"), "drop day2")
    r.removed.map(_.toPath) shouldBe List("day=2024-01-02")
    r.rewritten shouldBe empty
    engine.read(table).select("day").distinct().count() shouldBe 3
    engine.readAt(table, c0).count() shouldBe 1600 // time travel sees the full state
  }

  behavior of "updateWhere"

  it should "apply SET over the OLD row only where TRUE, bit-identical elsewhere" in {
    val (engine, table) = fixture()
    // swap-style double SET proves assignments see the OLD row
    val r = engine.updateWhere(table, col("id") < 10 && col("day") === "2024-01-01",
      Map("v" -> (col("id").cast("double") * 100), "cat" -> upper(col("cat"))),
      UserId("t"), "bump day1 head")
    r.rewritten.map(_.toPath) shouldBe List("day=2024-01-01")
    val day1 = engine.readPartitions(table, _.toPath == "day=2024-01-01")
    day1.filter(col("id") < 10).select("id", "v", "cat").collect().foreach { row =>
      if (!row.isNullAt(1)) row.getDouble(1) shouldBe row.getLong(0) * 100.0
      row.getString(2) should fullyMatch regex "[A-C]"
    }
    // untouched rows identical; untouched partitions keep version labels
    day1.filter(col("id") >= 10 && col("v").isNotNull)
      .filter(col("v") =!= col("id").cast("double") * 1.5).count() shouldBe 0
  }

  it should "refuse SET on partition columns" in {
    val (engine, table) = fixture()
    val e = intercept[IllegalArgumentException] {
      engine.updateWhere(table, col("id") < 10,
        Map("day" -> lit("2024-01-09")), UserId("t"), "move")
    }
    e.getMessage should include("partition column")
  }

  behavior of "SQL DELETE FROM / UPDATE"

  it should "route SQL DML through the versioned commit with pruned rewrites" in {
    val (engine, table) = fixture()
    val t = s"graft.${table.name.fullyQualifiedName}"
    spark.sql(s"DELETE FROM $t WHERE day = '2024-01-03' AND id >= 200")
    spark.sql(s"UPDATE $t SET v = v + 1000.0 WHERE day = '2024-01-04' AND id < 5")
    val log = engine.log(table.name).map(_.message)
    log.take(2) shouldBe Seq(
      s"SQL UPDATE ${table.name.fullyQualifiedName}",
      s"SQL DELETE FROM ${table.name.fullyQualifiedName}")
    engine.read(table)
      .filter(col("day") === "2024-01-03").count() shouldBe 200
    engine.read(table)
      .filter(col("day") === "2024-01-04" && col("id") < 5 && col("v") > 999)
      .count() shouldBe 4 // id 0 has NULL v → v+1000 stays NULL
    // whole-table delete without WHERE removes every partition (the empty
    // read still recovers the schema from the layout, rows are gone)
    spark.sql(s"DELETE FROM $t")
    engine.read(table).count() shouldBe 0
  }

  it should "delete and update the same rows for BETWEEN as for >= AND <=, in rewrite and dv mode" in {
    def rowsOf(engine: VersionedTables, table: TableDefinition) =
      engine.read(table).select("id", "day", "v").collect()
        .map(r => (r.getLong(0), r.get(1).toString, Option(r.get(2)).map(_.toString))).toSeq.sorted
    for (mode <- Seq("rewrite", "dv")) {
      spark.conf.set(graft.sql.GraftSqlWrites.DeleteModeKey, mode)
      spark.conf.set(graft.sql.GraftSqlWrites.UpdateModeKey, mode)
      try {
        val results = Seq("id BETWEEN 3 AND 5", "id >= 3 AND id <= 5").map { range =>
          val (engine, table) = fixture()
          val t = s"graft.${table.name.fullyQualifiedName}"
          spark.sql(s"DELETE FROM $t WHERE day = '2024-01-01' AND $range")
          spark.sql(s"UPDATE $t SET v = CAST(-1 AS DOUBLE) WHERE day = '2024-01-02' AND $range")
          rowsOf(engine, table)
        }
        withClue(s"mode $mode: ") {
          results(0) shouldBe results(1)
          results(0) should have size (1600 - 3)
          results(0).count(_._3.contains("-1.0")) shouldBe 3
        }
      } finally {
        spark.conf.unset(graft.sql.GraftSqlWrites.DeleteModeKey)
        spark.conf.unset(graft.sql.GraftSqlWrites.UpdateModeKey)
      }
    }
  }

  it should "refuse subqueries and keep the statement loud" in {
    val (engine, table) = fixture()
    val t = s"graft.${table.name.fullyQualifiedName}"
    intercept[Exception](
      spark.sql(s"DELETE FROM $t WHERE id IN (SELECT id FROM graft_lineitem)"))
    engine.read(table).count() shouldBe 1600
  }

  behavior of "SQL MERGE INTO"

  /** A registered accounts table (region partitions) + a `merge_src_<n>`
    * temp view carrying updates/inserts/delete-marked rows. */
  private def mergeFixture(): (VersionedTables, TableDefinition, String, String) = {
    val dir = Files.createTempDirectory("graft-sqlmerge-").toFile
    val n = seq.incrementAndGet()
    val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
    val table = TableDefinition(TableName("dml", s"accounts_$n"),
      new File(dir, "accounts").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    GraftTableRegistry.register(engine, table)
    Seq(("a1", "eu", 10L), ("a2", "eu", 20L), ("a3", "us", 30L), ("a4", "ap", 40L))
      .toDF("id", "region", "balance")
      .repartition(col("region"))
      .versionedInsertInto(engine, table, UserId("t"), "base")
    Seq(("a1", "eu", 11L), ("a5", "eu", 50L), ("a3", "us", -1L))
      .toDF("id", "region", "balance")
      .createOrReplaceTempView(s"merge_src_$n")
    (engine, table, s"graft.${table.name.fullyQualifiedName}", s"merge_src_$n")
  }

  it should "run the keyed upsert shapes: UPDATE SET * / INSERT * / source-predicate DELETE" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED AND s.balance < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = engine.read(table).select("id", "balance")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("a1" -> 11L, "a2" -> 20L, "a4" -> 40L, "a5" -> 50L) // a3 deleted
    engine.log(table.name).head.message shouldBe
      s"SQL MERGE INTO ${table.name.fullyQualifiedName}"
  }

  it should "insert an unmatched source row whose DELETE condition is TRUE (the INSERT has no condition)" in {
    val (engine, table, t, _) = mergeFixture()
    val n2 = seq.incrementAndGet()
    // a6 matches no target row and carries balance < 0: the DELETE clause
    // only acts on MATCHED rows, so the unconditioned INSERT takes it
    Seq(("a1", "eu", 11L), ("a3", "us", -1L), ("a6", "eu", -5L))
      .toDF("id", "region", "balance").createOrReplaceTempView(s"merge_marker_$n2")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING merge_marker_$n2 AS s ON tgt.id = s.id
         |WHEN MATCHED AND s.balance < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    def balances = engine.read(table).select("id", "balance")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    balances shouldBe Map("a1" -> 11L, "a2" -> 20L, "a4" -> 40L, "a6" -> -5L) // a3 deleted
    // the mergeInto convention, spelled as SQL: the INSERT is conditioned
    // on the negated DELETE condition, so an unmatched delete row is dropped
    Seq(("a2", "eu", -1L), ("a7", "eu", -7L), ("a8", "ap", 8L))
      .toDF("id", "region", "balance").createOrReplaceTempView(s"merge_marker_$n2")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING merge_marker_$n2 AS s ON tgt.id = s.id
         |WHEN MATCHED AND s.balance < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND NOT coalesce(s.balance < 0, false) THEN INSERT *""".stripMargin)
    balances shouldBe Map("a1" -> 11L, "a4" -> 40L, "a6" -> -5L, "a8" -> 8L)
  }

  it should "file-scan the table at most twice for a SET-every-non-key-column + INSERT * merge, with no cache bridge" in {
    val (engine, table, t, _) = mergeFixture()
    val n2 = seq.incrementAndGet()
    Seq(("a1", "eu", 11L), ("a9", "eu", 90L)).toDF("id", "region", "balance")
      .createOrReplaceTempView(s"merge_bench_$n2")
    // the table's temp dir name is unique to this fixture
    val marker = new File(table.location).getParentFile.getName
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(
        s"""MERGE INTO $t AS tgt USING merge_bench_$n2 AS s
           |ON tgt.id = s.id AND tgt.region = s.region
           |WHEN MATCHED THEN UPDATE SET balance = s.balance
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // listener delivery is async — poll for the write-command plan
      val deadline = System.nanoTime() + 15L * 1000000000L
      var writePlan: Option[String] = None
      while (writePlan.isEmpty && System.nanoTime() < deadline) {
        writePlan = plans.toArray(Array.empty[String])
          .find(p => p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(marker))
        if (writePlan.isEmpty) Thread.sleep(100)
      }
      withClue(s"captured ${plans.size} plans: ") { writePlan should not be empty }
      Thread.sleep(500) // let any trailing listener events drain
      val all = plans.toArray(Array.empty[String])
      val tableScans = all.count(p =>
        p.linesIterator.exists(l => l.contains("FileScan parquet") && l.contains(marker)))
      withClue(s"actions file-scanning the table (want <= 2: discovery + fused write):\n" +
          all.filter(_.contains(marker)).mkString("\n---\n")) {
        tableScans should be <= 2
      }
      withClue(writePlan.get) { writePlan.get should not include "InMemoryTableScan" }
    } finally spark.listenerManager.unregister(listener)
    engine.read(table).select("id", "region", "balance")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet shouldBe
      Set(("a1", "eu", 11L), ("a2", "eu", 20L), ("a9", "eu", 90L), ("a3", "us", 30L), ("a4", "ap", 40L))
  }

  it should "update every target row a key matches when several share it, whatever the clause spelling" in {
    // a1 twice in one partition, a3 once in each of two; merged on id alone
    def dupTable(): (VersionedTables, TableDefinition, String) = {
      val dir = Files.createTempDirectory("graft-sqlmerge-dup-").toFile
      val n = seq.incrementAndGet()
      val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
      val table = TableDefinition(TableName("dml", s"dupkeys_$n"),
        new File(dir, "accounts").toURI, PartitionSchema("region"), FileFormat.Parquet)
      engine.initTable(table, UserId("t"), "init")
      GraftTableRegistry.register(engine, table)
      Seq(("a1", "eu", 10L), ("a1", "eu", 15L), ("a2", "eu", 20L), ("a3", "us", 30L),
        ("a3", "ap", 31L), ("a4", "ap", 40L))
        .toDF("id", "region", "balance")
        .versionedInsertInto(engine, table, UserId("t"), "base")
      (engine, table, s"graft.${table.name.fullyQualifiedName}")
    }
    val n2 = seq.incrementAndGet()
    Seq(("a1", "eu", 11L), ("a3", "us", 33L), ("a5", "eu", 50L))
      .toDF("id", "region", "balance").createOrReplaceTempView(s"merge_dup_$n2")
    // SET every non-key column (the replace shape's clauses), SET *, and a
    // conditioned UPDATE that only the general plan runs
    val updates = Seq(
      "WHEN MATCHED THEN UPDATE SET region = s.region, balance = s.balance",
      "WHEN MATCHED THEN UPDATE SET *",
      "WHEN MATCHED AND 1 = 1 THEN UPDATE SET region = s.region, balance = s.balance")
    val results = updates.map { update =>
      val (engine, table, t) = dupTable()
      spark.sql(
        s"""MERGE INTO $t AS tgt USING merge_dup_$n2 AS s ON tgt.id = s.id
           |$update
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      engine.read(table).select("id", "region", "balance").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    }
    val expected = Seq(("a1", "eu", 11L), ("a1", "eu", 11L), ("a2", "eu", 20L),
      ("a3", "us", 33L), ("a3", "us", 33L), ("a4", "ap", 40L), ("a5", "eu", 50L))
    updates.zip(results).foreach { case (update, got) =>
      withClue(update) { got shouldBe expected }
    }
  }

  it should "run a delete-only merge (matched keys removed, unmatched no-ops)" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(s"MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id WHEN MATCHED THEN DELETE")
    engine.read(table).select("id").as[String].collect().sorted shouldBe
      Array("a2", "a4") // a1/a3 matched and removed; a5 unmatched no-op
  }

  it should "accept BETWEEN in merge clause conditions" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED AND s.balance BETWEEN 0 AND 15 THEN UPDATE SET balance = s.balance + 1""".stripMargin)
    val got = engine.read(table).select("id", "balance")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only a1 (source balance 11) is in range; a3 (-1) keeps its row
    got shouldBe Map("a1" -> 12L, "a2" -> 20L, "a3" -> 30L, "a4" -> 40L)
  }

  it should "route a partial-column UPDATE (no insert clause) through the general merge" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET balance = s.balance + 1""".stripMargin)
    val got = engine.read(table).select("id", "balance")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // matched rows bumped to source+1, unmatched target rows kept,
    // the unmatched source row (a5) NOT inserted — no insert clause
    got shouldBe Map("a1" -> 12L, "a2" -> 20L, "a3" -> 0L, "a4" -> 40L)
  }

  it should "keep unassigned columns on a partial same-name SET even with INSERT * present" in {
    // regression: a partial assignment list whose every entry is
    // `col = s.col` must NOT be mistaken for SET * (the keyed whole-row
    // replacement) — balance comes from the source, REGION must stay the
    // target's even though the source row carries a different one
    val (engine, table, t, _) = mergeFixture()
    val n2 = seq.incrementAndGet()
    Seq(("a1", "MOVED", 999L)).toDF("id", "region", "balance")
      .createOrReplaceTempView(s"merge_partial_$n2")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING merge_partial_$n2 AS s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET balance = s.balance
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val a1 = engine.read(table).filter(col("id") === "a1")
      .select("region", "balance").head()
    a1.getString(0) shouldBe "eu" // kept, NOT 'MOVED'
    a1.getLong(1) shouldBe 999L
  }

  it should "route delete-matched + insert-unmatched through the general merge" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    engine.read(table).select("id").as[String].collect().sorted shouldBe
      Array("a2", "a4", "a5") // a1/a3 deleted, a5 inserted
  }

  it should "run WHEN NOT MATCHED BY SOURCE clauses" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND tgt.balance >= 40 THEN DELETE""".stripMargin)
    val got = engine.read(table).select("id", "balance")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a1/a3 take source rows, a5 inserts, a2 (balance 20) kept,
    // a4 (balance 40, not in source) deleted by the by-source clause
    got shouldBe Map("a1" -> 11L, "a2" -> 20L, "a3" -> -1L, "a5" -> 50L)
  }

  it should "dispatch ordered conditional matched clauses in SQL (first TRUE wins)" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED AND s.balance < 0 THEN DELETE
         |WHEN MATCHED AND tgt.balance < 15 THEN UPDATE SET balance = tgt.balance + s.balance
         |WHEN NOT MATCHED AND s.balance > 45 THEN INSERT (id, region, balance)
         |  VALUES (s.id, s.region, s.balance * 2)""".stripMargin)
    val got = engine.read(table).select("id", "balance")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a3 deleted (s.balance<0); a1 matched with target balance 10 < 15 →
    // 10+11; a2/a4 untouched; a5 inserted doubled (condition 50>45)
    got shouldBe Map("a1" -> 21L, "a2" -> 20L, "a4" -> 40L, "a5" -> 100L)
  }

  it should "move rows across partitions when SQL SETs a partition column" in {
    val (engine, table, t, src) = mergeFixture()
    spark.sql(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET region = 'eu', balance = s.balance""".stripMargin)
    val got = engine.read(table).select("id", "region", "balance")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // a3 moved us→eu with the source balance; a1 stays eu updated; the us
    // partition emptied and removed; a2/a4 untouched
    got shouldBe Set(("a1", "eu", 11L), ("a2", "eu", 20L), ("a3", "eu", -1L), ("a4", "ap", 40L))
    engine.read(table).filter(col("region") === "us").count() shouldBe 0
  }

  it should "still refuse shapes neither merge path supports, with specific errors" in {
    val (engine, table, t, src) = mergeFixture()
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      e.getMessage should include(needle)
      ()
    }
    // non-equi ON: the keys ARE the pruning/rewrite contract
    refuses(
      s"""MERGE INTO $t AS tgt USING $src AS s ON tgt.id = s.id AND tgt.balance < s.balance
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      "ON condition")
    engine.read(table).count() shouldBe 4 // nothing landed
  }

  it should "act on the execution-time head, raising CAS conflicts on races" in {
    val (engine, table) = fixture()
    // a DML statement re-resolves its predicate at run: delete after an
    // unrelated commit still works (no stale-snapshot read)
    spark.range(50).select((col("id") + 5000).as("id"), lit("2024-01-09").as("day"),
        lit(1.0).as("v"), lit("z").as("cat"))
      .repartition(1).versionedInsertInto(engine, table, UserId("t"), "new day")
    val t = s"graft.${table.name.fullyQualifiedName}"
    spark.sql(s"DELETE FROM $t WHERE day = '2024-01-09'")
    engine.read(table).filter(col("day") === "2024-01-09").count() shouldBe 0
  }
}
