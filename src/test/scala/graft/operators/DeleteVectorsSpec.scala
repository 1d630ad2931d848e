package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.VersionedTables._
import graft.operators.DeleteVectors._
import graft.operators.VersionedDml._

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Merge-on-read deletes (deletion vectors): result equality with a plain
  * filter, O(matched-rows) physical cost (base data files untouched — the
  * law that makes DV the 100 TB answer for selective deletes), depth-1
  * rebasing, honest time travel, compact-folds-DVs equivalence, retention
  * pinning of live markers' bases, and the loud boundaries. */
class DeleteVectorsSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def newTable(): (VersionedTables, TableDefinition) = {
    val dir = Files.createTempDirectory("graft-dv-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"t${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    (engine, table)
  }

  private def load(engine: VersionedTables, table: TableDefinition): Unit =
    (0L until 1000L).map(k => (k, k * 2.0, s"d${k % 4}")).toDF("k", "v", "day")
      .repartition(3) // rows of each partition span multiple files
      .versionedInsertInto(engine, table, UserId("t"), "load")

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => F, StandardCopyOption}
    F.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (F.isDirectory(p)) { F.createDirectories(t); () }
      else {
        F.createDirectories(t.getParent)
        F.copy(p, t, StandardCopyOption.REPLACE_EXISTING); ()
      }
    }
  }

  /** (path, length) of every DATA parquet file under the table, excluding
    * DV sidecars. */
  private def dataFiles(table: TableDefinition): Set[(String, Long)] = {
    def walk(f: java.io.File): List[java.io.File] =
      if (f.isDirectory) f.listFiles().toList.flatMap(walk) else List(f)
    walk(new java.io.File(table.location))
      .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_dv/"))
      .map(f => (f.getPath, f.length)).toSet
  }

  behavior of "deleteWhereDV"

  it should "equal the plain filter without touching any data file" in {
    val (engine, table) = newTable()
    load(engine, table)
    val before = dataFiles(table)
    val expected = engine.read(table).filter(!(col("k") % 7 === 0))
      .select("k").as[Long].collect().sorted

    val r = engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    r.deletedRows shouldBe (0L until 1000L).count(_ % 7 == 0)
    r.affected.map(_.toPath).toSet shouldBe Set("day=d0", "day=d1", "day=d2", "day=d3")

    engine.read(table).select("k").as[Long].collect().sorted shouldBe expected
    // THE law: zero data bytes moved — the exact same data files, untouched
    dataFiles(table) shouldBe before
    // and the partitions now point at flagged marker versions
    engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        all(pvs.values.toList.map(Version.isDeleteMarker)) shouldBe true
      case other => fail(s"unexpected $other")
    }
  }

  it should "read its sidecars without Spark's ignored-paths warning" in {
    val (engine, table) = newTable()
    load(engine, table)
    val logged = graft.LogCapture.warnings("org.apache.spark.sql.execution.datasources") {
      engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
      engine.deleteWhereDV(table, col("k") % 11 === 0, UserId("t"), "dv %11")
      engine.read(table).count() shouldBe
        (0L until 1000L).count(k => k % 7 != 0 && k % 11 != 0)
    }
    logged.filter(_.contains("paths were ignored")) shouldBe empty
  }

  it should "stack deletes via depth-1 rebase and time-travel honestly" in {
    val (engine, table) = newTable()
    load(engine, table)
    val c0 = engine.headCommit(table.name)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val c1 = engine.headCommit(table.name)
    engine.deleteWhereDV(table, col("k") % 11 === 0, UserId("t"), "dv %11")

    engine.read(table).select("k").as[Long].collect().sorted shouldBe
      (0L until 1000L).filter(k => k % 7 != 0 && k % 11 != 0).toArray
    // each intermediate state reads exactly
    engine.readAt(table, c1).select("k").as[Long].collect().sorted shouldBe
      (0L until 1000L).filter(_ % 7 != 0).toArray
    engine.readAt(table, c0).count() shouldBe 1000L
    // depth-1: the second marker's base is the ORIGINAL data version
    val st = engine.tracker.tableState(table.name)
    val bases = st.versionBases
    val dataVersions = st.versionAt(c0) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => fail(s"unexpected $other")
    }
    st.currentTableVersion match {
      case PartitionedTableVersion(pvs) =>
        pvs.foreach { case (p, m) => bases((p, m)) shouldBe dataVersions(p) }
      case other => fail(s"unexpected $other")
    }
  }

  it should "fold DVs on compact, equal reads, and let retention expire them afterwards" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val dvHead = engine.headCommit(table.name)
    val expected = engine.read(table).select("k").as[Long].collect().sorted

    // a LIVE marker pins its base: with keepLast=1 on the DV head, neither
    // the marker nor the base data version may be expirable
    engine.expirableVersions(table, keepLast = 1) shouldBe Nil

    engine.compact(table, UserId("t"), "fold")
    engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.values.toList.exists(Version.isDeleteMarker) shouldBe false
      case other => fail(s"unexpected $other")
    }
    engine.read(table).select("k").as[Long].collect().sorted shouldBe expected
    // time travel to the DV state still works post-compact
    engine.readAt(table, dvHead).select("k").as[Long].collect().sorted shouldBe expected

    // after folding, keepLast=1 releases the marker AND its base; a real
    // vacuum physically reclaims them and the head still reads exactly
    val targets = engine.expirableVersions(table, keepLast = 1)
    targets should not be empty
    val res = engine.vacuum(table, keepLast = 1, dryRun = false)
    res.failed shouldBe empty
    engine.read(table).select("k").as[Long].collect().sorted shouldBe expected
  }

  it should "prune DML discovery and keep readWhere/readPartitions exact over DV'd partitions" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    // partition-pruned read
    engine.readPartitions(table, _.columnValues.exists(_.value == "d1"))
      .select("k").as[Long].collect().sorted shouldBe
      (0L until 1000L).filter(k => k % 4 == 1 && k % 7 != 0).toArray
    // predicate read (skipping path must route DV'd partitions correctly)
    engine.readWhere(table, col("k") < 100)
      .select("k").as[Long].collect().sorted shouldBe
      (0L until 100L).filter(_ % 7 != 0).toArray
    // copy-on-write DML composes: an update on a DV'd table must not
    // resurrect deleted rows
    engine.updateWhere(table, col("k") === 8L, Map("v" -> lit(-1.0)), UserId("t"), "upd")
    engine.read(table).filter(col("v") === -1.0).count() shouldBe 1
    engine.read(table).filter(col("k") % 7 === 0).count() shouldBe 0
  }

  it should "refuse the loud boundaries: non-parquet, Hive sync, chronicles export" in {
    val (engine, table) = newTable()
    load(engine, table)
    // non-parquet formats refuse (positions come from parquet's row_index)
    val asCsv = TableDefinition(table.name, table.location, table.partitionSchema,
      FileFormat.Csv)
    intercept[IllegalArgumentException] {
      engine.deleteWhereDV(asCsv, col("k") === 1L, UserId("t"), "csv")
    }
    // Hive sync refusal is pinned at the metastore seam (validated before
    // any catalog touch)
    val hive = new graft.sources.SparkHiveMetastore(spark)
    intercept[IllegalArgumentException] {
      hive.update(TableName("default", "whatever"),
        TableChanges(List(MetastoreOperation.UpdatePartitionVersion(
          Partition("day", "d0"), Version.generateDeleteMarker()))))
    }
    // chronicles export refuses DV commits (the reference format would
    // silently read marker dirs as empty partitions)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv")
    intercept[IllegalArgumentException] {
      graft.sources.ChroniclesExport.exportTable(
        engine.tracker, table.name,
        Files.createTempDirectory("graft-dv-export-").toUri)
    }
  }

  it should "keep file skipping through DV'd partitions via the BASE manifests" in {
    val dir = Files.createTempDirectory("graft-dv-skip-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"skip${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("k"))))
    engine.initTable(table, UserId("t"), "init")
    // one partition, four files with DISJOINT k ranges — the skippable layout
    (0L until 1000L).map(k => (k, s"d0")).toDF("k", "day")
      .repartitionByRange(4, col("k"))
      .versionedInsertInto(engine, table, UserId("t"), "load range-split")
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val expected = (0L until 100L).filter(_ % 7 != 0).toArray
    engine.readWhere(table, col("k") < 100)
      .select("k").as[Long].collect().sorted shouldBe expected
    // corrupt every data file whose k-range the predicate excludes: a
    // skipping read that still answers exactly can not have touched them —
    // proof that pruning reaches THROUGH the deletion-vector indirection
    // (the marker has no manifest; its BASE version's one must be used)
    def walk(f: java.io.File): List[java.io.File] =
      if (f.isDirectory) f.listFiles().toList.flatMap(walk) else List(f)
    val dataFiles = walk(new java.io.File(table.location))
      .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_dv/"))
    val spared = spark.read.parquet(dataFiles.map(_.getPath): _*)
      .withColumn("f", col("_metadata.file_path"))
      .filter(col("k") < 100).select("f").distinct()
      .collect().map(_.getString(0)).toSet
    val corrupted = dataFiles.filterNot(f => spared.exists(_.endsWith(f.getName)))
    corrupted should not be empty
    corrupted.foreach(f => java.nio.file.Files.write(f.toPath, Array.fill[Byte](32)(0x11)))
    engine.readWhere(table, col("k") < 100)
      .select("k").as[Long].collect().sorted shouldBe expected
    // the unskipped read now fails on the corrupt files — the control that
    // proves the previous assertion exercised real pruning
    intercept[Exception] { engine.read(table).count() }
  }

  it should "surface DV deletes in the row-level change feed" in {
    import graft.operators.ChangeFeed._
    val (engine, table) = newTable()
    load(engine, table)
    val c0 = engine.headCommit(table.name)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val c1 = engine.headCommit(table.name)
    val feed = engine.readRowChangesBetween(table, Seq("k"), c0, c1)
    val byType = feed.groupBy(col(ChangeFeed.ChangeTypeColumn)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.keySet shouldBe Set("delete")
    byType("delete") shouldBe (0L until 1000L).count(_ % 7 == 0)
    feed.filter(col(ChangeFeed.ChangeTypeColumn) === "delete")
      .select("k").as[Long].collect().sorted shouldBe
      (0L until 1000L).filter(_ % 7 == 0).toArray
  }

  behavior of "foldDeleteVectors"

  it should "rewrite ONLY DV'd partitions and REMOVE fully-deleted ones" in {
    val (engine, table) = newTable()
    load(engine, table)
    // d1 fully deleted; d2 partially; d0/d3 untouched
    engine.deleteWhereDV(table, col("day") === "d1", UserId("t"), "dv all of d1")
    engine.deleteWhereDV(table, col("day") === "d2" && col("k") % 3 === 0,
      UserId("t"), "dv part of d2")
    val preFold = engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => fail(s"unexpected $other")
    }
    val expected = engine.read(table).select("k").as[Long].collect().sorted

    engine.foldDeleteVectors(table, UserId("t"), "fold")
    val postFold = engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => fail(s"unexpected $other")
    }
    // the fully-deleted partition is GONE from the visible state
    postFold.keySet.map(_.toPath) shouldBe Set("day=d0", "day=d2", "day=d3")
    // untouched partitions keep their EXACT versions — the targeted-rewrite law
    postFold(Partition("day", "d0")) shouldBe preFold(Partition("day", "d0"))
    postFold(Partition("day", "d3")) shouldBe preFold(Partition("day", "d3"))
    // the folded partition is a plain data version now
    Version.isDeleteMarker(postFold(Partition("day", "d2"))) shouldBe false
    engine.read(table).select("k").as[Long].collect().sorted shouldBe expected
    // idempotent: nothing left to fold
    val (_, changes) = engine.foldDeleteVectors(table, UserId("t"), "again")
    changes shouldBe TableChanges.empty
  }

  behavior of "updateWhereDV"

  it should "equal the copy-on-write update without touching any base data file" in {
    val (engine, table) = newTable()
    load(engine, table)
    val before = dataFiles(table)
    val r = engine.updateWhereDV(table, col("k") % 7 === 0,
      Map("v" -> (col("v") + lit(10000.0))), UserId("t"), "mor update %7")
    r.deletedRows shouldBe (0L until 1000L).count(_ % 7 == 0)
    val cur = engine.read(table)
    cur.count() shouldBe 1000
    cur.filter(col("v") >= 10000.0).count() shouldBe (0L until 1000L).count(_ % 7 == 0)
    cur.filter(col("k") === 14L).select("v").head().getDouble(0) shouldBe (28.0 + 10000.0)
    cur.filter(col("k") === 15L).select("v").head().getDouble(0) shouldBe 30.0
    // the base files are bit-identical; only the marker dirs gained bytes
    before.subsetOf(dataFiles(table)) shouldBe true
    // SET sees the OLD row even under multiple assignments (post-fold —
    // stacking MoR DML on an update-marker refuses by design)
    engine.compact(table, UserId("t"), "fold")
    engine.updateWhereDV(table, col("k") === 15L,
      Map("v" -> (col("k") * 1.0), "k" -> (col("k") + 1L)), UserId("t"), "swap-ish")
    val row = engine.read(table).filter(col("v") === 15.0 && col("k") === 16L)
    row.count() shouldBe 1
  }

  it should "never resurrect DV-deleted rows through an update" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 10 === 0, UserId("t"), "dv %10")
    // the update predicate MATCHES many deleted rows (k%2 covers k%10)
    engine.updateWhereDV(table, col("k") % 2 === 0,
      Map("v" -> lit(-5.0)), UserId("t"), "update evens")
    val cur = engine.read(table)
    cur.filter(col("k") % 10 === 0).count() shouldBe 0 // still deleted
    cur.filter(col("v") === -5.0).count() shouldBe
      (0L until 1000L).count(k => k % 2 == 0 && k % 10 != 0)
    cur.count() shouldBe 900
  }

  it should "keep updated rows visible to skipping reads that base stats would exclude" in {
    val dir = Files.createTempDirectory("graft-dvu-skip-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"uskip${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("v"))))
    engine.initTable(table, UserId("t"), "init")
    (0L until 100L).map(k => (k, k * 1.0, "d0")).toDF("k", "v", "day")
      .versionedInsertInto(engine, table, UserId("t"), "load")
    // 99999.0 is outside every file's recorded v-range — before the fix,
    // base-manifest pruning would wrongly exclude the updated row
    engine.updateWhereDV(table, col("k") === 5L,
      Map("v" -> lit(99999.0)), UserId("t"), "spike")
    engine.readWhere(table, col("v") === 99999.0)
      .select("k").as[Long].collect() shouldBe Array(5L)
    // and the copy-on-write DML's pruned discovery finds it too
    engine.updateWhere(table, col("v") === 99999.0,
      Map("v" -> lit(0.5)), UserId("t"), "rewrite folds")
    engine.read(table).filter(col("v") === 0.5).count() shouldBe 1
  }

  it should "refuse retyping SETs (mixed file schemas within one version)" in {
    val (engine, table) = newTable()
    load(engine, table)
    intercept[IllegalArgumentException] {
      engine.updateWhereDV(table, col("k") === 1L,
        Map("v" -> lit("now-a-string")), UserId("t"), "retype")
    }
    // a type-preserving cast is fine
    engine.updateWhereDV(table, col("k") === 1L,
      Map("v" -> lit(7).cast("double")), UserId("t"), "ok")
    engine.read(table).filter(col("k") === 1L).select("v").head().getDouble(0) shouldBe 7.0
  }

  it should "stack merge-on-read DML onto an UPDATE-marker by auto-folding JUST the hot partition" in {
    val (engine, table) = newTable()
    load(engine, table)
    // k=1 lives in day=d1 — the update-marker lands there only
    engine.updateWhereDV(table, col("k") === 1L,
      Map("v" -> lit(0.0)), UserId("t"), "mor update")
    val preStack = engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => fail(s"unexpected $other")
    }
    // stacking a DELETE onto the same partition folds d1 inline and proceeds
    engine.deleteWhereDV(table, col("k") === 5L, UserId("t"), "stack delete")
    val cur = engine.read(table)
    cur.filter(col("k") === 1L).select("v").head().getDouble(0) shouldBe 0.0 // update kept
    cur.filter(col("k") === 5L).count() shouldBe 0 // delete applied
    cur.count() shouldBe 999
    // ONLY the hot partition was folded: the other three keep their versions
    val postStack = engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => fail(s"unexpected $other")
    }
    List("d0", "d2", "d3").foreach { d =>
      postStack(Partition("day", d)) shouldBe preStack(Partition("day", d))
    }
    // stacked UPDATE works too, and still sees the OLD row in SETs
    engine.updateWhereDV(table, col("k") === 9L,
      Map("v" -> (col("v") + 1.0)), UserId("t"), "stack update")
    engine.read(table).filter(col("k") === 9L).select("v").head().getDouble(0) shouldBe 19.0

    // the old loud refusal stays available behind the conf (start from a
    // marker-free state so the refusal fires on the STACKED statement)
    engine.compact(table, UserId("t"), "clear markers")
    spark.conf.set(DeleteVectors.AutoFoldUpdateMarkersKey, "false")
    try {
      engine.updateWhereDV(table, col("k") === 11L,
        Map("v" -> lit(0.0)), UserId("t"), "mor update 2")
      intercept[IllegalArgumentException] {
        engine.deleteWhereDV(table, col("k") === 12L, UserId("t"), "stack refused")
      }
    } finally spark.conf.unset(DeleteVectors.AutoFoldUpdateMarkersKey)
  }

  it should "broadcast the DV anti-join only under the size gate" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val autoPrev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Spark's own size-based broadcast disabled: any BroadcastHashJoin in
      // the plan can only come from the gate's explicit hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(DeleteVectors.BroadcastThresholdKey, "128MB")
      engine.read(table).queryExecution.sparkPlan.toString should
        include("BroadcastHashJoin")
      // a DV "over" the threshold gets NO hint — the anti-join plans as a
      // non-broadcast join, the shape a multi-GB bulk-delete vector needs
      spark.conf.set(DeleteVectors.BroadcastThresholdKey, "0")
      val unhinted = engine.read(table).queryExecution.sparkPlan.toString
      unhinted should not include "BroadcastHashJoin"
      unhinted should include("LeftAnti")
      // and both shapes read the same rows
      spark.conf.set(DeleteVectors.BroadcastThresholdKey, "128MB")
      val broadcastRows = engine.read(table).select("k").as[Long].collect().sorted
      spark.conf.set(DeleteVectors.BroadcastThresholdKey, "0")
      engine.read(table).select("k").as[Long].collect().sorted shouldBe broadcastRows
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoPrev)
      spark.conf.unset(DeleteVectors.BroadcastThresholdKey)
    }
  }

  it should "survive relocating the whole table directory (root-relative DV entries)" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    engine.updateWhereDV(table, col("k") === 3L,
      Map("v" -> lit(-3.0)), UserId("t"), "mor update")
    val expected = engine.read(table).select("k", "v").as[(Long, Double)].collect().sorted

    // relocate: copy the table directory somewhere else, re-point location
    val dest = Files.createTempDirectory("graft-dv-moved-").resolve("t")
    copyTree(java.nio.file.Paths.get(new java.io.File(table.location).getPath), dest)
    val moved = table.copy(location = dest.toUri)
    DeleteVectors.clearMarkerMetaCache()
    engine.read(moved).select("k", "v").as[(Long, Double)].collect().sorted shouldBe expected
  }

  it should "migrate legacy ABSOLUTE DV entries on read, and refuse them after a relocation" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val expected = engine.read(table).select("k").as[Long].collect().sorted

    // rewrite every DV sidecar with the ABSOLUTE paths a legacy release wrote
    def walk(f: java.io.File): List[java.io.File] =
      if (f.isDirectory) f.listFiles().toList.flatMap(walk) else List(f)
    val dvDirs = walk(new java.io.File(table.location))
      .filter(f => f.isFile && f.getPath.contains("/_dv/")).map(_.getParentFile).distinct
    dvDirs should not be empty
    val rootPrefix = DeleteVectors.qualifiedRootPrefix(
      spark.sparkContext.hadoopConfiguration, table.location)
    dvDirs.foreach { d =>
      val absolutized = spark.read.schema(DeleteVectors.DvSchema)
        .parquet(d.getPath)
        .select(concat(lit(rootPrefix), col("file_path")).as("file_path"), col("row_index"))
        .collect()
      val tmp = Files.createTempDirectory("graft-dv-abs-")
      spark.createDataFrame(java.util.Arrays.asList(absolutized: _*),
        DeleteVectors.DvSchema).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      d.listFiles().foreach(f => { f.delete(); () })
      tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(d, f.getName).toPath))
    }

    // migrate-on-read: the absolute prefix strips on the fly at the old root
    engine.read(table).select("k").as[Long].collect().sorted shouldBe expected

    // relocated WITH live legacy DVs: loud refusal, never silent resurrection
    val dest = Files.createTempDirectory("graft-dv-legacy-moved-").resolve("t")
    copyTree(java.nio.file.Paths.get(new java.io.File(table.location).getPath), dest)
    val moved = table.copy(location = dest.toUri)
    DeleteVectors.clearMarkerMetaCache()
    val e = intercept[Exception] { engine.read(moved).count() }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    chain should include("legacy absolute DV entry")
  }

  it should "return identical results after marker-cache eviction (pure cache law)" in {
    val (engine, table) = newTable()
    load(engine, table)
    engine.deleteWhereDV(table, col("k") % 7 === 0, UserId("t"), "dv %7")
    val first = engine.read(table).select("k").as[Long].collect().sorted
    DeleteVectors.clearMarkerMetaCache()
    engine.read(table).select("k").as[Long].collect().sorted shouldBe first
  }

  it should "refuse a bulk match past maxDeleteFraction when manifests know the row counts" in {
    val dir = Files.createTempDirectory("graft-dv-bulk-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"bulk${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("k"))))
    engine.initTable(table, UserId("t"), "init")
    (0L until 1000L).map(k => (k, k * 2.0, s"d${k % 4}")).toDF("k", "v", "day")
      .versionedInsertInto(engine, table, UserId("t"), "load")
    // 75% of every partition matches -> refuse, nothing committed or written
    val head = engine.headCommit(table.name)
    val e = intercept[IllegalArgumentException] {
      engine.deleteWhereDV(table, col("k") % 4 =!= 0, UserId("t"), "bulk")
    }
    e.getMessage should include(DeleteVectors.MaxDeleteFractionKey)
    engine.headCommit(table.name) shouldBe head
    engine.read(table).count() shouldBe 1000
    // raising the fraction lets a deliberate bulk MoR delete through
    spark.conf.set(DeleteVectors.MaxDeleteFractionKey, "1.0")
    try {
      engine.deleteWhereDV(table, col("k") % 4 =!= 0, UserId("t"), "bulk allowed")
      engine.read(table).count() shouldBe 250
    } finally spark.conf.unset(DeleteVectors.MaxDeleteFractionKey)
    // a small match under the default fraction never trips the guard
    engine.deleteWhereDV(table, col("k") === 0L, UserId("t"), "small")
    engine.read(table).count() shouldBe 249
  }

  it should "bound the CUMULATIVE deletion vector, not just one statement's increment" in {
    val dir = Files.createTempDirectory("graft-dv-cumul-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"cumul${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("k"))))
    engine.initTable(table, UserId("t"), "init")
    (0L until 1000L).map(k => (k, s"d${k % 4}")).toDF("k", "day")
      .versionedInsertInto(engine, table, UserId("t"), "load")
    // 40% — under the 0.5 default, passes
    engine.deleteWhereDV(table, col("k") < 400L, UserId("t"), "first 40%")
    engine.read(table).count() shouldBe 600
    // another 24% of the BASE (40% of the remainder): the increment alone is
    // under the cap, but carried(400) + new(240) = 64% of the base — the
    // read tax the guard exists to bound — so it must refuse
    val head = engine.headCommit(table.name)
    val e = intercept[IllegalArgumentException] {
      engine.deleteWhereDV(table, col("k") < 640L, UserId("t"), "creeping bulk")
    }
    e.getMessage should include("carried")
    engine.headCommit(table.name) shouldBe head
    engine.read(table).count() shouldBe 600
    // folding (compact) resets the base; the same increment then passes
    engine.compact(table, UserId("t"), "fold")
    engine.deleteWhereDV(table, col("k") < 640L, UserId("t"), "post-fold")
    engine.read(table).count() shouldBe 360
  }

  it should "refuse a bulk stacked DML BEFORE committing the inline auto-fold" in {
    val dir = Files.createTempDirectory("graft-dv-prefold-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"prefold${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      stats = Some(ColumnStatsConfig(List("k"))))
    engine.initTable(table, UserId("t"), "init")
    (0L until 1000L).map(k => (k, k * 2.0, s"d${k % 4}")).toDF("k", "v", "day")
      .versionedInsertInto(engine, table, UserId("t"), "load")
    // an UPDATE-marker makes any further MoR DML the stacked (auto-fold) path
    engine.updateWhereDV(table, col("k") === 2L, Map("v" -> lit(-1.0)), UserId("t"), "upd")
    val head = engine.headCommit(table.name)
    val log = engine.tracker.tableState(table.name).updates.size
    // bulk second statement: must refuse WITHOUT having committed the fold —
    // a refused statement must not have mutated the table (round-15 advice)
    val e = intercept[IllegalArgumentException] {
      engine.deleteWhereDV(table, col("k") % 4 =!= 0, UserId("t"), "bulk stacked")
    }
    e.getMessage should include(DeleteVectors.MaxDeleteFractionKey)
    engine.headCommit(table.name) shouldBe head
    engine.tracker.tableState(table.name).updates.size shouldBe log
    engine.read(table).count() shouldBe 1000
    // a SELECTIVE stacked DML still auto-folds and proceeds
    engine.deleteWhereDV(table, col("k") === 7L, UserId("t"), "selective stacked")
    engine.read(table).count() shouldBe 999
  }

  it should "compose with schema evolution: DV on a pre-evolution partition null-fills" in {
    val dir = Files.createTempDirectory("graft-dv-evo-").toFile
    val engine = VersionedTables.withFileStore(spark,
      new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("dv", s"evo${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      options = Map("mergeSchema" -> "true"))
    engine.initTable(table, UserId("t"), "init")
    (0L until 100L).map(k => (k, "d1")).toDF("k", "day")
      .versionedInsertInto(engine, table, UserId("t"), "narrow d1")
    (100L until 200L).map(k => (k, s"x$k", "d2")).toDF("k", "extra", "day")
      .versionedInsertIntoEvolving(engine, table, UserId("t"), "wide d2")
    // DV-delete inside the PRE-evolution partition
    engine.deleteWhereDV(table, col("k") % 10 === 0 && col("day") === "d1",
      UserId("t"), "dv in d1")
    val cur = engine.read(table)
    cur.columns.toSet shouldBe Set("k", "extra", "day")
    cur.filter(col("day") === "d1").count() shouldBe 90
    cur.filter(col("day") === "d1").filter(col("extra").isNotNull).count() shouldBe 0
    cur.filter(col("day") === "d2").count() shouldBe 100
    // skipping path unions the same way
    engine.readWhere(table, col("k") < 50).count() shouldBe 45
    // and compact folds it under the union schema
    engine.compact(table, UserId("t"), "fold")
    val folded = engine.read(table)
    folded.columns.toSet shouldBe Set("k", "extra", "day")
    folded.count() shouldBe 190
  }

  it should "keep marker flags across the file-store wire format" in {
    val m = Version.generateDeleteMarker()
    Version.isDeleteMarker(m) shouldBe true
    Version.isDeleteMarker(Version.generate()) shouldBe false
    Version.parse(m.label) shouldBe Right(m)
    Version.parse(m.label).toOption.map(Version.isDeleteMarker) shouldBe Some(true)
  }
}
