package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.VersionedTables._
import graft.operators.VersionedMerge._

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

case class Account(id: String, region: String, balance: Long)

/** MERGE INTO semantics + the partition-granular rewrite contract:
  * matched→update, unmatched→insert, deleteWhen→delete; untouched partitions
  * keep their version directories; emptied partitions leave the visible
  * table but stay on disk for time travel. */
class VersionedMergeSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newEngine(): (VersionedTables, File) = {
    val dir = Files.createTempDirectory("graft-merge-").toFile
    (VersionedTables.withFileStore(spark, new File(dir, "store").toURI), dir)
  }

  private def versionDirs(dir: File): List[String] = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.filter(_.isDirectory).map(_.getName).filter(_.startsWith("_version=")).toList.sorted
  }

  private def partitionedFixture(): (VersionedTables, TableDefinition, File) = {
    val (engine, dir) = newEngine()
    val loc = new File(dir, "accounts")
    val table = TableDefinition(TableName("test", "accounts"), loc.toURI,
      PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "eu", 20),
      Account("a3", "us", 30), Account("a4", "ap", 40))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    (engine, table, loc)
  }

  behavior of "mergeInto on partitioned tables"

  it should "update matched rows, insert unmatched, and leave untouched partitions' versions alone" in {
    val (engine, table, loc) = partitionedFixture()
    val source = Seq(Account("a1", "eu", 11), Account("a5", "eu", 50)).toDS().toDF()

    val r = engine.mergeInto(table, source, Seq("id"), UserId("t"), "upsert eu")

    engine.read(table).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 11), Account("a2", "eu", 20), Account("a5", "eu", 50),
      Account("a3", "us", 30), Account("a4", "ap", 40))
    // only region=eu was rewritten: it carries two version dirs, us/ap one
    r.rewritten.map(_.toPath) shouldBe List("region=eu")
    r.removed shouldBe Nil
    versionDirs(new File(loc, "region=eu")) should have size 2
    versionDirs(new File(loc, "region=us")) should have size 1
    versionDirs(new File(loc, "region=ap")) should have size 1
    // time travel: the pre-merge commit still shows the base data
    val log = engine.log(table.name)
    engine.readAt(table, log(1).id).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 10), Account("a2", "eu", 20),
      Account("a3", "us", 30), Account("a4", "ap", 40))
  }

  it should "move a row whose partition value changed and rewrite both partitions" in {
    val (engine, table, _) = partitionedFixture()
    // a3 migrates us -> eu; both partitions are touched, ap is not
    val r = engine.mergeInto(table, Seq(Account("a3", "eu", 31)).toDS().toDF(),
      Seq("id"), UserId("t"), "migrate a3")

    engine.read(table).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 10), Account("a2", "eu", 20), Account("a3", "eu", 31),
      Account("a4", "ap", 40))
    // us is EMPTIED by the move: dropped from the visible table
    r.rewritten.map(_.toPath).sorted shouldBe List("region=eu")
    r.removed.map(_.toPath) shouldBe List("region=us")
    engine.read(table).filter(col("region") === "us").count() shouldBe 0
    // ...but its data is still on disk for time travel
    val log = engine.log(table.name)
    engine.readAt(table, log(1).id).filter(col("region") === "us").as[Account]
      .collect() shouldBe Array(Account("a3", "us", 30))
  }

  it should "delete matched rows via deleteWhen and treat unmatched delete rows as no-ops" in {
    val (engine, table, _) = partitionedFixture()
    // balance < 0 marks a delete row; a9 matches nothing (SQL MERGE: no-op)
    val source = Seq(Account("a2", "eu", -1), Account("a9", "eu", -1),
      Account("a4", "ap", 41)).toDS().toDF()
    engine.mergeInto(table, source, Seq("id"), UserId("t"), "delete a2, bump a4",
      deleteWhen = Some(col("balance") < 0))

    engine.read(table).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 10), Account("a3", "us", 30), Account("a4", "ap", 41))
  }

  it should "treat a NULL deleteWhen predicate as UPDATE, not delete (SQL three-valued WHEN rule)" in {
    val (engine, table, _) = partitionedFixture()
    // a2's predicate is TRUE (delete); a4's is NULL — SQL MERGE's
    // `WHEN MATCHED AND pred THEN DELETE` fires only on TRUE, so a4 must
    // fall through to the update arm, never silently vanish
    val source = Seq(Account("a2", "eu", -1), Account("a4", "ap", 41)).toDS().toDF()
    val pred = org.apache.spark.sql.functions.when(
      col("id") === "a4", org.apache.spark.sql.functions.lit(null).cast("boolean"))
      .otherwise(col("balance") < 0)
    engine.mergeInto(table, source, Seq("id"), UserId("t"), "null pred",
      deleteWhen = Some(pred))

    engine.read(table).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 10), Account("a3", "us", 30), Account("a4", "ap", 41))
  }

  it should "act as a pure insert when merging into a never-written partitioned table" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("test", "fresh"),
      new File(dir, "fresh").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    val r = engine.mergeInto(table,
      Seq(Account("a1", "eu", 1), Account("a2", "us", 2)).toDS().toDF(),
      Seq("id"), UserId("t"), "bootstrap merge")

    engine.read(table).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 1), Account("a2", "us", 2))
    r.rewritten.map(_.toPath).sorted shouldBe List("region=eu", "region=us")
  }

  it should "be a committed-state no-op when nothing matches and there is nothing to insert" in {
    val (engine, table, _) = partitionedFixture()
    val before = engine.headCommit(table.name)
    val r = engine.mergeInto(table, Seq.empty[Account].toDS().toDF(),
      Seq("id"), UserId("t"), "noop")
    r.changes shouldBe TableChanges.empty
    engine.headCommit(table.name) shouldBe before
    // delete-only source matching nothing is also a no-op
    val r2 = engine.mergeInto(table, Seq(Account("zz", "eu", -1)).toDS().toDF(),
      Seq("id"), UserId("t"), "noop2", deleteWhen = Some(col("balance") < 0))
    r2.changes shouldBe TableChanges.empty
    engine.headCommit(table.name) shouldBe before
  }

  it should "refuse duplicate source keys (ambiguous match, as in SQL MERGE)" in {
    val (engine, table, _) = partitionedFixture()
    val dup = Seq(Account("a1", "eu", 1), Account("a1", "eu", 2)).toDS().toDF()
    an[IllegalArgumentException] should be thrownBy
      engine.mergeInto(table, dup, Seq("id"), UserId("t"), "dup")
  }

  it should "make every current row a key matches the source row when several rows share the key" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("test", "acc_dupkeys"),
      new File(dir, "acc_dupkeys").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    // a1 twice in one partition, a3 once in each of two partitions
    Seq(Account("a1", "eu", 10), Account("a1", "eu", 15), Account("a2", "eu", 20),
      Account("a3", "us", 30), Account("a3", "ap", 31), Account("a4", "ap", 40))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    val source = Seq(Account("a1", "eu", 11), Account("a3", "us", 33),
      Account("a4", "ap", -1), Account("a5", "eu", 50)).toDS().toDF()
    engine.mergeInto(table, source, Seq("id"), UserId("t"), "dup target keys",
      deleteWhen = Some(col("balance") < 0))
    engine.read(table).as[Account].collect().toSeq should contain theSameElementsAs Seq(
      Account("a1", "eu", 11), Account("a1", "eu", 11), Account("a2", "eu", 20),
      Account("a3", "us", 33), Account("a3", "us", 33), Account("a5", "eu", 50))
  }

  // ------------------------------------------------------------------
  // discovery pruning: the laws pin "files of partitions that cannot hold
  // a matched key are NEVER OPENED" by corrupting those partitions' data
  // files in place — any read of them fails loudly with a parquet error,
  // so a passing merge proves the prune, not just the result.
  // ------------------------------------------------------------------

  private def corruptDataFiles(dir: File): Int = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else Seq(f)
    val targets = walk(dir).filter(f => f.getName.endsWith(".parquet"))
    targets.foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))
    targets.size
  }

  behavior of "mergeInto discovery pruning"

  it should "not open untouched partitions when the keys contain the partition columns" in {
    val (engine, table, loc) = partitionedFixture()
    // keys = (region, id) ⊇ partition columns → candidates are exactly the
    // source tuples' partitions; us/ap must never be read, so corrupt them
    corruptDataFiles(new File(loc, "region=us")) should be > 0
    corruptDataFiles(new File(loc, "region=ap")) should be > 0
    val source = Seq(Account("a1", "eu", 11), Account("a9", "eu", 90)).toDS().toDF()
    val r = engine.mergeInto(table, source, Seq("region", "id"), UserId("t"), "eu only")
    r.rewritten.map(_.toPath) shouldBe List("region=eu")
    engine.readPartitions(table, _.columnValues.exists(_.value == "eu"))
      .as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 11), Account("a2", "eu", 20), Account("a9", "eu", 90))
    // untouched partitions keep their (now corrupt, but never-read) versions
    val pvs = engine.tracker.currentVersion(table.name)
      .asInstanceOf[PartitionedTableVersion].partitionVersions
    pvs.keys.map(_.toPath).toSet shouldBe Set("region=eu", "region=us", "region=ap")
  }

  private def statsFixture(interleaved: Boolean): (VersionedTables, TableDefinition, File) = {
    val (engine, dir) = newEngine()
    val loc = new File(dir, "ledger")
    val table = TableDefinition(TableName("test", "ledger"), loc.toURI,
      PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("id"), bloomKeyColumns = List("id"),
        bloomExpectedItems = 1000)))
    engine.initTable(table, UserId("t"), "init")
    import org.apache.spark.sql.functions._
    val df =
      if (!interleaved)
        // d1 holds ids 0..99, d2 holds 100..199 — disjoint RANGES
        spark.range(200).select(col("id"),
          when(col("id") < 100, "d1").otherwise("d2").as("day"),
          (col("id") * 2).as("v"))
      else
        // d1 holds even ids, d2 odd — overlapping ranges, distinct VALUES
        spark.range(200).select(col("id"),
          when(col("id") % 2 === 0, "d1").otherwise("d2").as("day"),
          (col("id") * 2).as("v"))
    df.repartition(col("day")).versionedInsertInto(engine, table, UserId("t"), "base")
    (engine, table, loc)
  }

  it should "skip partitions whose stats range cannot hold any source key" in {
    val (engine, table, loc) = statsFixture(interleaved = false)
    corruptDataFiles(new File(loc, "day=d1")) should be > 0
    import org.apache.spark.sql.functions._
    val source = spark.range(150, 160).select(col("id"), lit("d2").as("day"),
      lit(-1L).as("v"))
    val r = engine.mergeInto(table, source, Seq("id"), UserId("t"), "touch d2 range")
    r.rewritten.map(_.toPath) shouldBe List("day=d2")
    engine.readPartitions(table, _.columnValues.exists(_.value == "d2"))
      .filter(col("v") === -1L).count() shouldBe 10
  }

  it should "skip range-overlapping partitions via the manifest Bloom filters" in {
    val (engine, table, loc) = statsFixture(interleaved = true)
    corruptDataFiles(new File(loc, "day=d1")) should be > 0 // even ids
    import org.apache.spark.sql.functions._
    // odd source keys: ranges overlap both partitions, only the Bloom can
    // prove d1 (evens) holds none of them
    val source = spark.range(0, 5).select((col("id") * 2 + 101).as("id"),
      lit("d2").as("day"), lit(-1L).as("v"))
    val r = engine.mergeInto(table, source, Seq("id"), UserId("t"), "odd keys")
    r.rewritten.map(_.toPath) shouldBe List("day=d2")
    engine.readPartitions(table, _.columnValues.exists(_.value == "d2"))
      .filter(col("v") === -1L).count() shouldBe 5
  }

  it should "still find matches in partitions the Bloom keeps (no false negatives)" in {
    val (engine, table, _) = statsFixture(interleaved = true)
    import org.apache.spark.sql.functions._
    // keys hitting BOTH partitions — nothing may be skipped
    val source = spark.range(0, 4).select((col("id") + 50).as("id"),
      when((col("id") + 50) % 2 === 0, "d1").otherwise("d2").as("day"),
      lit(-7L).as("v"))
    engine.mergeInto(table, source, Seq("id"), UserId("t"), "both parts")
    engine.read(table).filter(col("v") === -7L).count() shouldBe 4
    engine.read(table).count() shouldBe 200
  }

  behavior of "mergeInto merged-plan single evaluation"

  it should "file-scan the table at most twice per merge (discovery + fused write), with no cache bridge" in {
    val (engine, dir) = newEngine()
    val loc = new File(dir, "acc_once")
    val table = TableDefinition(TableName("test", "acc_once"), loc.toURI,
      PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "eu", 20), Account("a3", "us", 30))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    // capture every action's physical plan during the merge; the data WRITE
    // must read InMemoryTableScan (the persisted merged plan), not re-run
    // the touched-slice file scan + anti-join a second time
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
      val source = Seq(Account("a1", "eu", 11), Account("a9", "eu", 90)).toDS().toDF()
      engine.mergeInto(table, source, Seq("id"), UserId("t"), "probe")
      // listener delivery is async — poll for the write-command plan
      val deadline = System.nanoTime() + 15L * 1000000000L
      var writePlan: Option[String] = None
      while (writePlan.isEmpty && System.nanoTime() < deadline) {
        writePlan = plans.toArray(Array.empty[String])
          .find(p => p.contains("InsertIntoHadoopFsRelationCommand") && p.contains("acc_once"))
        if (writePlan.isEmpty) Thread.sleep(100)
      }
      withClue(s"captured ${plans.size} plans: ") { writePlan should not be empty }
      // round 16: partition-value discovery is OBSERVED during the write
      // job (writeDataVersionedObserved), so the merge evaluates the
      // touched slice exactly twice across ALL its actions — once for
      // matched-partition discovery, once inside the fused write — with no
      // persist bridge (the old law asserted the write read an
      // InMemoryTableScan; the fused shape needs no cache at all).
      Thread.sleep(500) // let any trailing listener events drain
      val all = plans.toArray(Array.empty[String])
      val tableScans = all.count(p =>
        p.linesIterator.exists(l => l.contains("FileScan parquet") && l.contains("acc_once")))
      withClue(s"actions file-scanning the table (want <= 2: discovery + fused write):\n" +
          all.filter(_.contains("acc_once")).mkString("\n---\n")) {
        tableScans should be <= 2
      }
      // and the write itself must NOT be bridged through a cache — the
      // single-evaluation property is structural, not cache-masked
      withClue(writePlan.get) {
        writePlan.get should not include "InMemoryTableScan"
      }
    } finally spark.listenerManager.unregister(listener)
    engine.read(table).as[Account].collect() should contain theSameElementsAs Seq(
      Account("a1", "eu", 11), Account("a2", "eu", 20), Account("a9", "eu", 90),
      Account("a3", "us", 30))
  }

  behavior of "mergeInto on snapshot tables"

  it should "rewrite the whole snapshot with update/insert/delete semantics" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("test", "users_snap"),
      new File(dir, "users_snap").toURI, PartitionSchema.snapshot, FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(User("u1", "Alice", "a@m"), User("u2", "Bob", "b@m"))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")

    engine.mergeInto(table,
      Seq(User("u2", "Bob", "bob@new"), User("u3", "Carol", "c@m"),
        User("u1", "x", "DELETE")).toDS().toDF(),
      Seq("id"), UserId("t"), "merge", deleteWhen = Some(col("email") === "DELETE"))

    engine.read(table).as[User].collect() should contain theSameElementsAs Seq(
      User("u2", "Bob", "bob@new"), User("u3", "Carol", "c@m"))
    // pre-merge version still time-travelable
    val log = engine.log(table.name)
    engine.readAt(table, log(1).id).as[User].collect() should contain theSameElementsAs Seq(
      User("u1", "Alice", "a@m"), User("u2", "Bob", "b@m"))
  }

  it should "act as a pure insert when merging into a never-written snapshot table" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("test", "snap_fresh"),
      new File(dir, "snap_fresh").toURI, PartitionSchema.snapshot, FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    engine.mergeInto(table, Seq(User("u1", "A", "a@m")).toDS().toDF(),
      Seq("id"), UserId("t"), "bootstrap merge")
    engine.read(table).as[User].collect() shouldBe Array(User("u1", "A", "a@m"))
  }

  it should "make every current row a key matches the source row on a snapshot table" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("test", "snap_dupkeys"),
      new File(dir, "snap_dupkeys").toURI, PartitionSchema.snapshot, FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(User("u1", "A", "a@m"), User("u1", "A2", "a2@m"), User("u2", "B", "b@m"))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    engine.mergeInto(table, Seq(User("u1", "N", "n@m"), User("u3", "C", "c@m")).toDS().toDF(),
      Seq("id"), UserId("t"), "dup target keys")
    engine.read(table).as[User].collect().toSeq should contain theSameElementsAs Seq(
      User("u1", "N", "n@m"), User("u1", "N", "n@m"), User("u2", "B", "b@m"),
      User("u3", "C", "c@m"))
  }

  it should "refuse a merge that would empty a snapshot table" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("test", "snap_empty"),
      new File(dir, "snap_empty").toURI, PartitionSchema.snapshot, FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(User("u1", "A", "a@m")).toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    an[IllegalArgumentException] should be thrownBy
      engine.mergeInto(table, Seq(User("u1", "A", "DELETE")).toDS().toDF(),
        Seq("id"), UserId("t"), "empty", deleteWhen = Some(col("email") === "DELETE"))
  }
}
