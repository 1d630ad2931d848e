package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.MergeApply._
import graft.operators.VersionedMerge.MergeOps
import graft.operators.VersionedTables._

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The general clause-based merge (mergeApply): partial-column updates,
  * ordered three-valued clause dispatch, target-referencing conditions,
  * NOT MATCHED BY SOURCE, exact insert suppression, pruned rewrite bills
  * (corrupt-the-untouched law), equivalence with the keyed mergeInto on
  * the shapes both express, and the refusal matrix. */
class MergeApplySpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The StatsFixtures layout: 4 day partitions × local ids 0..399; v =
    * global_id * 1.5 with a NULL every 10th; keys (day, id) are unique. */
  private def fixture(): (VersionedTables, TableDefinition) =
    graft.StatsFixtures.rangeEvents(
      spark, "mrg", s"events_${seq.incrementAndGet()}",
      Some(ColumnStatsConfig(List("id", "v"), bloomKeyColumns = List("id"),
        bloomExpectedItems = 1000)))

  behavior of "mergeApply — matched clauses"

  it should "apply a partial-column conditional update, keeping unassigned columns and unmatched rows" in {
    val (engine, table) = fixture()
    val source = spark.range(20).select(
      col("id"), lit("2024-01-01").as("day"), (col("id") * 2.0).as("newv"))
    val r = engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "bump",
      matched = Seq(MatchedUpdate(Some(col("id") >= 10),
        Map("v" -> (coalesce(col("v"), lit(0.0)) + col("s.newv")), "cat" -> lit("z")))))
    r.rewritten.map(_.toPath) shouldBe List("day=2024-01-01")
    val day1 = engine.readPartitions(table, _.toPath == "day=2024-01-01")
    // id in [10, 20): v = old + 2*id (old NULL → 0), cat = z
    val hit = day1.filter(col("id") >= 10 && col("id") < 20)
      .select("id", "v", "cat").collect()
    hit should have size 10
    hit.foreach { row =>
      val id = row.getLong(0)
      val expected = (if (id % 10 == 0) 0.0 else id * 1.5) + id * 2.0
      row.getDouble(1) shouldBe expected
      row.getString(2) shouldBe "z"
    }
    // matched rows whose condition was FALSE are bit-identical
    day1.filter(col("id") < 10 && col("cat") === "z").count() shouldBe 0
    // other partitions untouched; total row count unchanged (no inserts)
    engine.read(table).count() shouldBe 1600
  }

  it should "dispatch ordered clauses first-TRUE-wins with NULL falling through" in {
    val (engine, table) = fixture()
    // source condition column: TRUE for id<5, NULL for id in [5,10), else FALSE
    val source = spark.range(15).select(
      col("id"), lit("2024-01-01").as("day"),
      when(col("id") < 5, lit(true)).otherwise(
        when(col("id") < 10, lit(null).cast("boolean")).otherwise(lit(false))).as("del"))
    engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "ordered",
      matched = Seq(
        MatchedDelete(Some(col("s.del"))),
        MatchedUpdate(None, Map("cat" -> lit("fell-through")))))
    val day1 = engine.readPartitions(table, _.toPath == "day=2024-01-01")
    day1.filter(col("id") < 5).count() shouldBe 0 // deleted
    // NULL delete-condition rows fell through to the unconditioned update
    day1.filter(col("cat") === "fell-through").select("id").collect()
      .map(_.getLong(0)).sorted shouldBe (5L until 15L).toArray
    day1.count() shouldBe 395
  }

  it should "delete on a condition referencing BOTH target and source rows" in {
    val (engine, table) = fixture()
    // delete matched rows where the target's v differs from the source's
    // expectation — v = global_id * 1.5 in day 1, so expected_v = id * 1.5
    // matches except the NULL rows (NULL <> x is NULL → kept)
    val source = spark.range(100, 120).select(
      col("id"), lit("2024-01-01").as("day"), (col("id") * 1.5).as("expected_v"))
    engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "reconcile",
      matched = Seq(MatchedDelete(Some(col("v") === col("s.expected_v")))))
    val day1 = engine.readPartitions(table, _.toPath == "day=2024-01-01")
    // 18 matched with equal v deleted; the 2 NULL-v rows (100, 110) kept
    day1.filter(col("id").between(100, 119)).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Array(100L, 110L)
    day1.count() shouldBe 382
  }

  behavior of "mergeApply — not-matched clauses"

  it should "insert only unmatched source rows passing a clause condition, discarding the rest" in {
    val (engine, table) = fixture()
    // ids 395..404 in day 1: 395..399 exist (matched → no insert), 400..404
    // are new; the condition keeps even ids only
    val source = spark.range(395, 405).select(
      col("id"), lit("2024-01-01").as("day"), (col("id") * 10.0).as("newv"))
    val r = engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "ins",
      notMatched = Seq(NotMatchedInsert(Some(col("id") % 2 === 0),
        Map("id" -> col("id"), "day" -> col("day"), "v" -> col("newv"), "cat" -> lit("new")))))
    r.rewritten.map(_.toPath) shouldBe List("day=2024-01-01")
    val day1 = engine.readPartitions(table, _.toPath == "day=2024-01-01")
    day1.filter(col("cat") === "new").select("id", "v").collect()
      .map(r0 => (r0.getLong(0), r0.getDouble(1))).sorted shouldBe
      Array((400L, 4000.0), (402L, 4020.0), (404L, 4040.0))
    // matched rows were NOT touched (no matched clause) and odd new ids dropped
    day1.count() shouldBe 403
  }

  it should "insert NULL for target columns without an assignment" in {
    val (engine, table) = fixture()
    val source = spark.range(500, 503).select(col("id"), lit("2024-01-01").as("day"))
    engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "sparse ins",
      notMatched = Seq(NotMatchedInsert(None, Map("id" -> col("id"), "day" -> col("day")))))
    val rows = engine.read(table).filter(col("id") >= 500)
    rows.count() shouldBe 3
    rows.filter(col("v").isNull && col("cat").isNull).count() shouldBe 3
  }

  behavior of "mergeApply — not matched by source"

  it should "delete by-source rows only where the condition is TRUE, pruning untouched partitions (corrupt law)" in {
    val (engine, table) = fixture()
    // keep-list source: day 2 ids 0..99; the by-source delete is scoped to
    // day 2 — days 1/3/4 must never be read, so corrupt them in place
    graft.StatsFixtures.corruptParquet(table,
      spare = f => f.getAbsolutePath.contains("day=2024-01-02")) should be >= 12
    val source = spark.range(100).select(col("id"), lit("2024-01-02").as("day"))
    val r = engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "retain",
      notMatchedBySource = Seq(BySourceDelete(Some(col("day") === "2024-01-02"))))
    r.rewritten.map(_.toPath) shouldBe List("day=2024-01-02")
    engine.readPartitions(table, _.toPath == "day=2024-01-02").count() shouldBe 100
  }

  it should "update by-source rows with target-only expressions" in {
    val (engine, table) = fixture()
    val source = spark.range(200).select(col("id"), lit("2024-01-03").as("day"))
    engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "flag stale",
      notMatchedBySource = Seq(BySourceUpdate(Some(col("day") === "2024-01-03"),
        Map("cat" -> concat(lit("stale-"), col("cat"))))))
    val day3 = engine.readPartitions(table, _.toPath == "day=2024-01-03")
    day3.filter(col("cat").startsWith("stale-")).count() shouldBe 200
    day3.filter(col("id") < 200 && col("cat").startsWith("stale-")).count() shouldBe 0
  }

  it should "remove partitions an unconditional by-source delete empties, keeping time travel" in {
    val (engine, table) = fixture()
    val c0 = engine.headCommit(table.name)
    // keep-list covering only day 1: every other partition empties
    val source = spark.range(400).select(col("id"), lit("2024-01-01").as("day"))
    val r = engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "retain day1",
      notMatchedBySource = Seq(BySourceDelete(None)))
    r.removed.map(_.toPath).sorted shouldBe
      List("day=2024-01-02", "day=2024-01-03", "day=2024-01-04")
    engine.read(table).count() shouldBe 400
    engine.readAt(table, c0).count() shouldBe 1600
  }

  behavior of "mergeApply — composition and equivalence"

  it should "run all three clause families in one atomic commit" in {
    val (engine, table) = fixture()
    val source = spark.range(380, 420).select(
      col("id"), lit("2024-01-04").as("day"), (col("id") * 3.0).as("nv"))
    val log0 = engine.log(table.name).size
    val r = engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "all",
      matched = Seq(
        MatchedDelete(Some(col("id") % 2 === 1)),
        MatchedUpdate(None, Map("v" -> col("s.nv")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("id" -> col("id"), "day" -> col("day"), "v" -> col("nv"), "cat" -> lit("x")))),
      notMatchedBySource = Seq(BySourceDelete(Some(col("day") === "2024-01-04" && col("id") < 10))))
    engine.log(table.name).size shouldBe log0 + 1
    r.rewritten.map(_.toPath) shouldBe List("day=2024-01-04")
    val day4 = engine.readPartitions(table, _.toPath == "day=2024-01-04")
    // matched 380..399: odd deleted (10), even updated to v = 3*id
    day4.filter(col("id") >= 380 && col("id") < 400).count() shouldBe 10
    day4.filter(col("id") === 390).select("v").head().getDouble(0) shouldBe 1170.0
    // inserts 400..419 all land
    day4.filter(col("id") >= 400).count() shouldBe 20
    // by-source: ids 0..9 deleted
    day4.filter(col("id") < 10).count() shouldBe 0
    day4.count() shouldBe (400 - 20 - 10) + 10 + 20
  }

  it should "reproduce mergeInto exactly on the keyed source-row shape" in {
    val (engineA, tableA) = fixture()
    val (engineB, tableB) = fixture()
    val source = spark.range(390, 410).select(
      (col("id") % 400).as("id"),
      lit("2024-01-02").as("day"),
      (col("id") * 7.0).as("v"),
      when(col("id") % 3 === 0, lit("del")).otherwise(lit("up")).as("cat"))
      .localCheckpoint()
    val allCols = Seq("id", "day", "v", "cat")
    engineA.mergeInto(tableA, source, Seq("day", "id"), UserId("t"), "keyed",
      deleteWhen = Some(col("cat") === "del"))
    engineB.mergeApply(tableB, source, Seq("day", "id"), UserId("t"), "general",
      matched = Seq(
        MatchedDelete(Some(col("s.cat") === "del")),
        MatchedUpdate(None, allCols.map(c => c -> col(s"s.$c")).toMap)),
      notMatched = Seq(NotMatchedInsert(Some(!coalesce(col("cat") === "del", lit(false))),
        allCols.map(c => c -> col(c)).toMap)))
    val a = engineA.read(tableA).select("id", "day", "v", "cat")
      .orderBy("day", "id").collect()
    val b = engineB.read(tableB).select("id", "day", "v", "cat")
      .orderBy("day", "id").collect()
    b shouldBe a
  }

  it should "take the whole-row replace shape exactly when a matched row becomes its source row" in {
    import org.apache.spark.sql.types._
    val target = StructType(Seq(StructField("id", LongType), StructField("day", StringType),
      StructField("v", DoubleType)))
    val cols = target.fieldNames.toSeq
    def shape(matched: Seq[MatchedAction], notMatched: Seq[NotMatchedInsert],
        schema: StructType = target, keys: Seq[String] = Seq("day", "id")) =
      MergeApply.replaceShape(schema, schema, keys, matched, notMatched, cols.toSet)
    val setAll = MatchedUpdate(None, cols.map(c => c -> col(s"s.$c")).toMap)
    val setValue = MatchedUpdate(None, Map("v" -> col("s.v")))
    val insertAll = NotMatchedInsert(None, cols.map(c => c -> col(c)).toMap)
    val del = MatchedDelete(Some(col("s.v") < 0))
    val insertUnlessDeleted = insertAll.copy(condition = Some(!coalesce(col("v") < 0, lit(false))))

    shape(Seq(setAll), Seq(insertAll)) shouldBe Some(None)
    // every non-key column SET from the source: keys are identical on a match
    shape(Seq(setValue), Seq(insertAll)) shouldBe Some(None)
    shape(Seq(del, setAll), Seq(insertUnlessDeleted)).map(_.isDefined) shouldBe Some(true)
    // an unconditioned INSERT after a DELETE inserts unmatched delete rows:
    // a different statement, so the general shape runs it
    shape(Seq(del, setAll), Seq(insertAll)) shouldBe None
    shape(Seq(del, setAll), Seq(insertAll.copy(condition = Some(!(col("v") < 0))))) shouldBe None
    // a DELETE condition reading the target row
    shape(Seq(MatchedDelete(Some(col("v") < 0)), setAll), Seq(insertUnlessDeleted)) shouldBe None
    // a partial SET keeps the target's other columns
    shape(Seq(MatchedUpdate(None, Map("id" -> col("s.id"), "day" -> col("s.day")))),
      Seq(insertAll)) shouldBe None
    shape(Seq(setAll.copy(condition = Some(col("s.v") > 0))), Seq(insertAll)) shouldBe None
    shape(Seq(MatchedUpdate(None, Map("v" -> (col("s.v") + 1), "id" -> col("s.id"),
      "day" -> col("s.day")))), Seq(insertAll)) shouldBe None
    shape(Seq(setAll), Seq(NotMatchedInsert(None, Map("id" -> col("id"), "day" -> col("day"))))) shouldBe None
    shape(Seq(setAll), Nil) shouldBe None
    // a key left out of the SET whose equality does not mean identity
    shape(Seq(MatchedUpdate(None, Map("id" -> col("s.id"), "day" -> col("s.day")))),
      Seq(insertAll), keys = Seq("day", "v")) shouldBe None // -0.0 = 0.0
    val lcase = StructType(Seq(StructField("id", LongType),
      StructField("day", DataType.fromDDL("STRING COLLATE UTF8_LCASE")), StructField("v", DoubleType)))
    shape(Seq(setValue), Seq(insertAll), schema = lcase) shouldBe None
    shape(Seq(setAll), Seq(insertAll), schema = lcase) shouldBe Some(None)
  }

  it should "commit nothing when no clause changes any row" in {
    val (engine, table) = fixture()
    val log0 = engine.log(table.name).size
    val source = spark.range(5000, 5010).select(col("id"), lit("2024-01-01").as("day"))
    val r = engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "no-op",
      notMatched = Seq(NotMatchedInsert(Some(lit(false)),
        Map("id" -> col("id"), "day" -> col("day")))))
    r.rewritten shouldBe empty
    r.removed shouldBe empty
    engine.log(table.name).size shouldBe log0
  }

  behavior of "mergeApply — schema evolution"

  it should "add source columns with evolveSchema: clauses write them, kept rows read NULL" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-mrg-evo-")
    val engine = VersionedTables.withFileStore(spark, dir.resolve("store").toUri)
    val table = TableDefinition(TableName("mrg", "evo1"), dir.resolve("t").toUri,
      PartitionSchema("day"), FileFormat.Parquet, options = Map("mergeSchema" -> "true"))
    engine.initTable(table, UserId("t"), "init")
    import spark.implicits._
    Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("k", "day")
      .versionedInsertInto(engine, table, UserId("t"), "narrow")
    val pre = engine.headCommit(table.name)
    val source = Seq((1L, "d1", "hot"), (9L, "d2", "fresh")).toDF("k", "day", "tag")
    engine.mergeApply(table, source, Seq("day", "k"), UserId("t"), "evolve",
      matched = Seq(MatchedUpdate(None, Map("tag" -> col("s.tag")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("k" -> col("k"), "day" -> col("day"), "tag" -> col("tag")))),
      evolveSchema = true)
    val cur = engine.read(table)
    cur.columns.toSet shouldBe Set("k", "day", "tag")
    cur.count() shouldBe 4
    cur.filter(col("tag") === "hot").select("k").head().getLong(0) shouldBe 1L
    cur.filter(col("tag") === "fresh").select("k").head().getLong(0) shouldBe 9L
    cur.filter(col("tag").isNull).select("k").as[Long].collect().sorted shouldBe Array(2L, 3L)
    // pre-merge time travel keeps the narrow schema
    engine.readAt(table, pre).columns.toSet shouldBe Set("k", "day")
  }

  it should "refuse evolveSchema without the mergeSchema option, and unknown SET columns without it" in {
    val (engine, table) = fixture() // no mergeSchema option
    val source = spark.range(3).select(col("id"), lit("2024-01-01").as("day"),
      lit("x").as("tag"))
    intercept[IllegalArgumentException] {
      engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "evolve",
        matched = Seq(MatchedUpdate(None, Map("tag" -> col("s.tag")))),
        evolveSchema = true)
    }.getMessage should include("mergeSchema=true")
    intercept[IllegalArgumentException] {
      engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "no-evolve",
        matched = Seq(MatchedUpdate(None, Map("tag" -> col("s.tag")))))
    }.getMessage should include("is not a column")
  }

  behavior of "mergeApply — refusals"

  it should "MOVE rows when a matched update SETs a partition column" in {
    val (engine, table) = fixture()
    // key on id ONLY (ids exist in all four days → 4 target rows per key);
    // move every matched row to a fresh partition
    val source = spark.range(5).select(col("id"))
    val r = engine.mergeApply(table, source, Seq("id"), UserId("t"), "move",
      matched = Seq(MatchedUpdate(None, Map("day" -> lit("2024-02-01")))))
    // all four origin partitions rewritten + the new destination
    r.rewritten.map(_.toPath).sorted shouldBe List("day=2024-01-01", "day=2024-01-02",
      "day=2024-01-03", "day=2024-01-04", "day=2024-02-01")
    val moved = engine.readPartitions(table, _.toPath == "day=2024-02-01")
    moved.count() shouldBe 20 // 5 ids × 4 origin days
    engine.read(table).filter(col("id") < 5 && col("day").startsWith("2024-01")).count() shouldBe 0
    engine.read(table).count() shouldBe 1600 // moves, not deletes
  }

  it should "refuse SET on a partition column in by-source clauses" in {
    val (engine, table) = fixture()
    val source = spark.range(5).select(col("id"), lit("2024-01-01").as("day"))
    val e = intercept[IllegalArgumentException] {
      engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "move",
        notMatchedBySource = Seq(BySourceUpdate(None, Map("day" -> lit("2024-01-09")))))
    }
    e.getMessage should include("partition column")
  }

  it should "refuse source references in by-source clauses" in {
    val (engine, table) = fixture()
    val source = spark.range(5).select(col("id"), lit("2024-01-01").as("day"),
      col("id").cast("double").as("nv"))
    intercept[IllegalArgumentException] {
      engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "bad",
        notMatchedBySource = Seq(BySourceUpdate(None, Map("v" -> col("s.nv")))))
    }.getMessage should include("cannot reference source columns")
  }

  it should "refuse duplicate source keys when matched clauses exist" in {
    val (engine, table) = fixture()
    val source = spark.range(10).select(
      (col("id") % 5).as("id"), lit("2024-01-01").as("day"))
    intercept[IllegalArgumentException] {
      engine.mergeApply(table, source, Seq("day", "id"), UserId("t"), "dup",
        matched = Seq(MatchedDelete(None)))
    }.getMessage should include("duplicate source keys")
  }

  it should "refuse a merge into a never-written table and one with no clauses" in {
    val (engine, table0) = fixture()
    val fresh = table0.copy(
      name = TableName("mrg", s"fresh_${seq.incrementAndGet()}"),
      location = java.nio.file.Files.createTempDirectory("graft-mrg-fresh-")
        .resolve("t").toUri)
    engine.initTable(fresh, UserId("t"), "init")
    val source = spark.range(5).select(col("id"), lit("2024-01-01").as("day"))
    intercept[IllegalArgumentException] {
      engine.mergeApply(fresh, source, Seq("day", "id"), UserId("t"), "first",
        notMatched = Seq(NotMatchedInsert(None, Map("id" -> col("id")))))
    }.getMessage should include("never-written")
    intercept[IllegalArgumentException] {
      engine.mergeApply(table0, source, Seq("day", "id"), UserId("t"), "empty")
    }.getMessage should include("at least one WHEN clause")
  }
}
