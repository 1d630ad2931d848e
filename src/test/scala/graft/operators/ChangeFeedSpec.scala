package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.ChangeFeed._
import graft.operators.VersionedMerge._
import graft.operators.VersionedTables._

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Row-level change feed between commits: classification (insert / update /
  * delete with post-/pre-images), changed-partitions-only IO (pinned by
  * corrupting untouched partitions), snapshot diffs, and the dup-key
  * refusal. */
class ChangeFeedSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newEngine(): (VersionedTables, File) = {
    val dir = Files.createTempDirectory("graft-cdf-").toFile
    (VersionedTables.withFileStore(spark, new File(dir, "store").toURI), dir)
  }

  private def feedTuples(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "balance", ChangeFeed.ChangeTypeColumn)
      .as[(String, Long, String)].collect().toSet

  behavior of "readRowChangesBetween"

  it should "classify insert/update/delete across a merge, images included" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "accounts"),
      new File(dir, "accounts").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "eu", 20), Account("a3", "us", 30))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    val c0 = engine.headCommit(table.name)
    engine.mergeInto(table,
      Seq(Account("a1", "eu", 11),  // update
        Account("a4", "eu", 40),    // insert into an existing partition
        Account("a5", "ap", 50),    // insert into a NEW partition
        Account("a3", "us", -1)     // delete
      ).toDS().toDF(),
      Seq("id"), UserId("t"), "merge", deleteWhen = Some(col("balance") < 0))
    val c1 = engine.headCommit(table.name)

    feedTuples(engine.readRowChangesBetween(table, Seq("id"), c0, c1)) shouldBe Set(
      ("a1", 11L, "update"), // post-image
      ("a4", 40L, "insert"),
      ("a5", 50L, "insert"),
      ("a3", 30L, "delete")) // pre-image
    // a2 was in a rewritten partition but identical — absent from the feed

    // same endpoints → empty feed with the right schema
    val same = engine.readRowChangesBetween(table, Seq("id"), c1, c1)
    same.count() shouldBe 0
    same.columns should contain(ChangeFeed.ChangeTypeColumn)
    // keep prunes the diff to selected partitions
    feedTuples(engine.readRowChangesBetween(table, Seq("id"), c0, c1,
      keep = _.columnValues.exists(_.value == "us"))) shouldBe Set(("a3", 30L, "delete"))

    // the FULL CDF shape: updates split into (pre, post) pairs; every other
    // class identical — both sides come from the one compare join
    feedTuples(engine.readRowChangesBetween(table, Seq("id"), c0, c1,
      updatePreimages = true)) shouldBe Set(
      ("a1", 10L, "update_preimage"),
      ("a1", 11L, "update_postimage"),
      ("a4", 40L, "insert"),
      ("a5", 50L, "insert"),
      ("a3", 30L, "delete"))
  }

  it should "never read partitions whose version is unchanged between the commits" in {
    val (engine, dir) = newEngine()
    val loc = new File(dir, "accounts")
    val table = TableDefinition(TableName("cdf", "accounts2"),
      loc.toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "us", 20), Account("a3", "ap", 30))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    val c0 = engine.headCommit(table.name)
    // rewrite ONLY eu via a keyed merge on (region, id)
    engine.mergeInto(table, Seq(Account("a1", "eu", 11)).toDS().toDF(),
      Seq("region", "id"), UserId("t"), "touch eu")
    val c1 = engine.headCommit(table.name)
    // corrupt the untouched partitions' files: a feed read of them fails loudly
    def corrupt(d: File): Unit = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(d).filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.write(f.toPath, "junk".getBytes))
    }
    corrupt(new File(loc, "region=us"))
    corrupt(new File(loc, "region=ap"))
    feedTuples(engine.readRowChangesBetween(table, Seq("id"), c0, c1)) shouldBe
      Set(("a1", 11L, "update"))
  }

  it should "report added partitions as inserts and removed partitions as deletes without a join" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "accounts3"),
      new File(dir, "accounts3").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "us", 20))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    val c0 = engine.headCommit(table.name)
    // replace-all: eu kept (identical version? no — rewritten), us dropped, ap added
    Seq(Account("a1", "eu", 10), Account("a5", "ap", 50))
      .toDS().versionedReplaceAll(engine, table, UserId("t"), "replace")
    val c1 = engine.headCommit(table.name)
    feedTuples(engine.readRowChangesBetween(table, Seq("id"), c0, c1)) shouldBe Set(
      ("a2", 20L, "delete"), // whole partition removed
      ("a5", 50L, "insert")) // whole partition added
    // a1's partition was rewritten with identical content → not in the feed
  }

  it should "diff snapshot tables whole" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "snap"),
      new File(dir, "snap").toURI, PartitionSchema.snapshot, FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(("u1", 1L), ("u2", 2L)).toDF("id", "v")
      .versionedInsertInto(engine, table, UserId("t"), "v1")
    val c0 = engine.headCommit(table.name)
    Seq(("u1", 9L), ("u3", 3L)).toDF("id", "v")
      .versionedInsertInto(engine, table, UserId("t"), "v2")
    val c1 = engine.headCommit(table.name)
    engine.readRowChangesBetween(table, Seq("id"), c0, c1)
      .select("id", "v", ChangeFeed.ChangeTypeColumn)
      .as[(String, Long, String)].collect().toSet shouldBe Set(
      ("u1", 9L, "update"), ("u2", 2L, "delete"), ("u3", 3L, "insert"))
  }

  it should "derive per-commit changes via readRowChangesAt, initial commit as all-inserts" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "percommit"),
      new File(dir, "percommit").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "us", 20))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    val c0 = engine.headCommit(table.name)
    engine.mergeInto(table, Seq(Account("a1", "eu", 11)).toDS().toDF(),
      Seq("id"), UserId("t"), "merge")
    val c1 = engine.headCommit(table.name)
    // the data commit after init: parent is the empty init state → inserts
    feedTuples(engine.readRowChangesAt(table, Seq("id"), c0)) shouldBe Set(
      ("a1", 10L, "insert"), ("a2", 20L, "insert"))
    feedTuples(engine.readRowChangesAt(table, Seq("id"), c1)) shouldBe Set(
      ("a1", 11L, "update"))
    an[UnknownCommitError] should be thrownBy
      engine.readRowChangesAt(table, Seq("id"), CommitId("nope"))
  }

  it should "diff across the adoption boundary (mixed Unversioned partitions, review finding)" in {
    val (engine, dir) = newEngine()
    val loc = new File(dir, "adopted")
    // pre-versioning data sits at grp=g1 directly; adopt it, add g2 versioned
    Seq(("a", "g1")).toDF("k", "grp").write.parquet(new File(loc, "grp=g1").toString)
    val table = TableDefinition(TableName("cdf", "adopted"), loc.toURI,
      PartitionSchema("grp"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    engine.tracker.commit(table.name, TableUpdate(UserId("t"), "adopt g1",
      java.time.Instant.now(),
      List(TableOperation.AddPartitionVersion(Partition("grp", "g1"), Version.Unversioned))))
    Seq(("b", "g2")).toDF("k", "grp")
      .versionedInsertInto(engine, table, UserId("t"), "write g2")
    val c0 = engine.headCommit(table.name)
    // rewrite the ADOPTED partition at a real version
    Seq(("post", "g1")).toDF("k", "grp")
      .versionedInsertInto(engine, table, UserId("t"), "rewrite g1")
    val c1 = engine.headCommit(table.name)
    // the from-endpoint mixes an Unversioned partition (string-typed grp on
    // the direct-file read branch) with a versioned one — the feed must
    // fall back to the whole-slice compare instead of failing on the union
    engine.readRowChangesBetween(table, Seq("k"), c0, c1)
      .select("k", ChangeFeed.ChangeTypeColumn)
      .as[(String, String)].collect().toSet shouldBe Set(
      ("a", "delete"), ("post", "insert")) // b unchanged
  }

  it should "replay per-commit feeds into the exact final table (the CDC-consumer law)" in {
    // the law a downstream CDC consumer relies on: folding each commit's
    // row-level feed (insert/update → upsert, delete → remove), in commit
    // order, over an empty state reproduces the table's final content —
    // across inserts, merges with deletes, replace-alls, and compaction
    // (whose feed is EMPTY: rewritten bytes, identical rows)
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "replay"),
      new File(dir, "replay").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 10), Account("a2", "us", 20))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
    engine.mergeInto(table,
      Seq(Account("a1", "eu", 11), Account("a3", "eu", 30), Account("a2", "us", -1))
        .toDS().toDF(),
      Seq("id"), UserId("t"), "merge", deleteWhen = Some(col("balance") < 0))
    engine.compact(table, UserId("t"), "compact")
    Seq(Account("a4", "ap", 40), Account("a1", "eu", 12))
      .toDS().versionedReplaceAll(engine, table, UserId("t"), "replace")

    val commits = engine.log(table.name).reverse.map(_.id) // oldest → newest
    var state = Map.empty[String, Account]
    commits.foreach { id =>
      engine.readRowChangesAt(table, Seq("id"), id)
        .select("id", "region", "balance", ChangeFeed.ChangeTypeColumn)
        .as[(String, String, Long, String)].collect()
        .foreach {
          case (k, r, b, "delete") => state -= k
          case (k, r, b, _)        => state += k -> Account(k, r, b)
        }
    }
    state.values.toSet shouldBe engine.read(table).as[Account].collect().toSet
    // and the compaction commit's feed really was empty
    val compactId = engine.log(table.name).find(_.message == "compact").get.id
    engine.readRowChangesAt(table, Seq("id"), compactId).count() shouldBe 0
  }

  it should "replay per-commit feeds for RANDOM operation histories (property arm)" in {
    // the replay law across arbitrary interleavings of the four write
    // shapes — overwrite-by-partition inserts (absent same-partition rows
    // DISAPPEAR, which the feed must report as deletes), keyed merges with
    // deletes, replace-alls, and compactions
    val regions = Seq("eu", "us", "ap")
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(7000 + seed)
      val (engine, dir) = newEngine()
      val table = TableDefinition(TableName("cdf", s"randreplay$seed"),
        new File(dir, "rr").toURI, PartitionSchema("region"), FileFormat.Parquet)
      engine.initTable(table, UserId("t"), "init")
      def randomRows(n: Int): Seq[Account] = {
        val ids = rnd.shuffle((0 until 10).toList).take(n)
        ids.map(i => Account(s"a$i", regions(rnd.nextInt(3)), rnd.nextInt(100).toLong))
      }
      Seq(Account("a0", "eu", 1), Account("a5", "us", 5))
        .toDS().versionedInsertInto(engine, table, UserId("t"), "base")
      (1 to 4).foreach { step =>
        rnd.nextInt(4) match {
          case 0 =>
            Seq(randomRows(1 + rnd.nextInt(3)): _*).toDS()
              .versionedInsertInto(engine, table, UserId("t"), s"ins$step")
          case 1 =>
            val src = randomRows(1 + rnd.nextInt(3))
              .map(a => if (rnd.nextInt(4) == 0) a.copy(balance = -1) else a)
            engine.mergeInto(table, src.toDS().toDF(), Seq("id"), UserId("t"),
              s"merge$step", deleteWhen = Some(col("balance") < 0))
          case 2 =>
            Seq(randomRows(1 + rnd.nextInt(3)): _*).toDS()
              .versionedReplaceAll(engine, table, UserId("t"), s"rep$step")
          case 3 =>
            engine.compact(table, UserId("t"), s"compact$step")
        }
      }
      // key the FEED by (id, region): overwrite-by-partition inserts can
      // legitimately leave the same id alive in two partitions (the batch
      // only replaces the partitions it carries), so id alone is not a
      // table-wide row identity here — (id, partition) is
      var state = Map.empty[(String, String), Account]
      engine.log(table.name).reverse.map(_.id).foreach { id =>
        engine.readRowChangesAt(table, Seq("id", "region"), id)
          .select("id", "region", "balance", ChangeFeed.ChangeTypeColumn)
          .as[(String, String, Long, String)].collect()
          .foreach {
            case (k, r, _, "delete") => state -= ((k, r))
            case (k, r, b, _)        => state += (k, r) -> Account(k, r, b)
          }
      }
      withClue(s"seed $seed: ") {
        state.values.toSet shouldBe engine.read(table).as[Account].collect().toSet
      }
    }
  }

  it should "refuse ambiguous duplicate keys unless the caller opts out" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "dups"),
      new File(dir, "dups").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    Seq(Account("a1", "eu", 1), Account("a1", "eu", 2))
      .toDS().versionedInsertInto(engine, table, UserId("t"), "dups")
    val c0 = engine.headCommit(table.name)
    Seq(Account("a1", "eu", 3)).toDS()
      .versionedInsertInto(engine, table, UserId("t"), "rewrite")
    val c1 = engine.headCommit(table.name)
    // round 17: the guard rides the compare's own aggregation, so the
    // refusal surfaces at the feed's first ACTION (not construction), as a
    // task-level raise carrying the same message
    val ex = the[Exception] thrownBy
      engine.readRowChangesBetween(table, Seq("id"), c0, c1).collect()
    ex.getMessage should include("duplicate keys")
    noException should be thrownBy
      engine.readRowChangesBetween(table, Seq("id"), c0, c1,
        requireDistinctKeys = false).collect()
  }

  it should "raise on a full collect whichever slice holds the duplicate, in both output shapes" in {
    val (engine, dir) = newEngine()
    val table = TableDefinition(TableName("cdf", "dups_full"),
      new File(dir, "dups_full").toURI, PartitionSchema("region"), FileFormat.Parquet)
    engine.initTable(table, UserId("t"), "init")
    // many unique keys around ONE duplicated key: the guard is per key
    // group, so a full collect must reach and refuse that one group
    val unique = (1 to 40).map(i => Account(s"u$i", "eu", i.toLong))
    (unique :+ Account("u7", "eu", 70)).toDS()
      .versionedInsertInto(engine, table, UserId("t"), "dup in old")
    val c0 = engine.headCommit(table.name)
    unique.map(a => a.copy(balance = a.balance + 1)).toDS()
      .versionedReplaceAll(engine, table, UserId("t"), "unique new")
    val c1 = engine.headCommit(table.name)
    (unique :+ Account("u9", "eu", 90)).toDS()
      .versionedReplaceAll(engine, table, UserId("t"), "dup in new")
    val c2 = engine.headCommit(table.name)
    for ((from, to) <- Seq(c0 -> c1, c1 -> c2); pre <- Seq(false, true)) {
      withClue(s"$from -> $to, updatePreimages = $pre: ") {
        val ex = the[Exception] thrownBy
          engine.readRowChangesBetween(table, Seq("id"), from, to,
            updatePreimages = pre).collect()
        ex.getMessage should include("duplicate keys")
      }
    }
  }
}
