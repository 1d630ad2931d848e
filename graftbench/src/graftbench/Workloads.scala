package graftbench

import graft.core._
import graft.core.TableOperation.{AddPartitionVersion, RemovePartition}
import graft.operators.VersionedTables
import graft.operators.VersionedTables.DatasetVersionedOps
import graft.sources.FileBackedVersionTracker
import graft.sql.GraftTableRegistry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.types._

import java.nio.file.Path
import java.time.Instant
import scala.jdk.CollectionConverters._

/** What one workload instance runs on: a fresh directory, the shared
  * session, and the runner that times and checks every operation. */
final class Ctx(
    val spark: SparkSession, val seed: Long, val dir: Path, val runner: Runner,
    val tracer: Option[Tracer], val corrupt: Boolean)

/**
 * One workload on one fresh table `graft.bench.t` (k BIGINT, v BIGINT,
 * pay STRING, partitioned by p STRING). `setup` creates and loads the table
 * and builds its history; `round(r)` runs the r-th round, a fixed sequence
 * of operations. Every operation goes through [[Runner.op]], which times the
 * call into graft and then checks its answer against [[Model]].
 */
abstract class Bench(ctx: Ctx) {
  import ctx.{seed, spark}
  protected val runner: Runner = ctx.runner

  def stats: Option[ColumnStatsConfig]
  def setup(): Unit
  def round(r: Int): Unit
  /** Rounds run before timing, so that the JIT has mostly settled: round
    * times keep falling for 15–20 s of work after set-up. */
  def warmupRounds: Int

  val T = TableName("bench", "t")
  val tableDir: Path = ctx.dir.resolve("t")
  val storeDir: Path = ctx.dir.resolve("store")
  lazy val tdef = TableDefinition(T, tableDir.toUri, PartitionSchema("p"), FileFormat.Parquet,
    stats = stats)
  val tracker: VersionTracker = {
    val fbt = new FileBackedVersionTracker(storeDir.toUri, spark.sparkContext.hadoopConfiguration)
    ctx.tracer.fold[VersionTracker](fbt)(t => new TracingTracker(fbt, t))
  }
  val engine = new VersionedTables(spark, tracker)
  val model = new Model(ctx.corrupt)
  val user = UserId("graftbench")
  /** Rows the user submitted over the table's life (inserts, merge sources). */
  var userRows = 0L
  private var writeNo = 0L

  def fs(): FsState = Fs.walk(tableDir, storeDir)

  protected def init(): Unit = {
    GraftTableRegistry.register(engine, tdef)
    engine.initTable(tdef, user, "graftbench init")
    model.commit(engine.headCommit(T).id, Map.empty)
  }

  // ---- inputs ----

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false),
    StructField("pay", StringType, nullable = false), StructField("p", StringType, nullable = false)))

  protected def frame(rows: Seq[BenchRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.k, r.v, r.pay, r.p)).asJava, schema)

  /** Fresh rows (one new write number) for every (partition, slot). */
  protected def rowsFor(parts: Seq[Int], slots: Seq[Int]): Seq[BenchRow] = {
    writeNo += 1
    for (p <- parts; s <- slots) yield Gen.row(seed, Gen.key(p, s), writeNo)
  }

  protected def pick(r: Int, i: Int, n: Int): Int = Gen.pick(seed, r, i, n)

  // ---- checks shared by every write ----

  /** After a write: the head is a commit id never seen before, `log` shows
    * exactly one new commit on top of the previous head, its message is the
    * expected one, and the model moves to `next`. */
  protected def afterWrite(msgOk: String => Boolean, next: => model.Snap): Unit = {
    val head = engine.headCommit(T).id
    if (model.contains(head)) throw new CheckFailed(s"head did not move to a new commit ($head)")
    val page = engine.log(T, 2, 0)
    if (page.map(_.id.id) != Seq(head, model.headId))
      throw new CheckFailed(s"log after write is ${page.map(_.id.id)}, expected [$head, ${model.headId}]")
    if (!msgOk(page.head.message)) throw new CheckFailed(s"unexpected commit message '${page.head.message}'")
    model.commit(head, next)
  }

  /** Commit straight through the tracker (history built in set-up). */
  protected def metaCommit(op: TableOperation, msg: String, next: model.Snap): Unit = {
    val u = TableUpdate(user, msg, Instant.now(), List(op))
    tracker.commit(T, u)
    model.commit(u.metadata.id.id, next)
  }

  /** `pairs` remove/re-add commit pairs over partitions `parts`: each pair
    * hides a partition, then points it back at the version it had. */
  protected def buildHistory(pairs: Int, parts: Int, tag: String): Unit = {
    val versions = tracker.currentVersion(T) match {
      case PartitionedTableVersion(m) => m
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    for (j <- 0 until pairs) {
      val p = Gen.part(j % parts)
      val part = Partition("p", p)
      val st = model.head(p)
      metaCommit(RemovePartition(part), s"history $tag.$j hide $p", model.head - p)
      metaCommit(AddPartitionVersion(part, versions(part)), s"history $tag.$j restore $p",
        model.head.updated(p, st))
    }
  }

  // ---- operations ----

  /** Scala-API overwrite-by-partition insert of `rows`. */
  protected def insert(rows: Seq[BenchRow], msg: String): Unit = {
    val d = frame(rows)
    userRows += rows.size
    runner.op("write", "insert")(d.versionedInsertInto(engine, tdef, user, msg)) { _ =>
      afterWrite(_ == msg, model.replaced(rows))
    }
  }

  /** A SQL statement that commits; `msgPrefix` is the commit message graft
    * gives that statement, `next` the model's state after it. */
  protected def sqlWrite(name: String, sql: String, msgPrefix: String)(next: => model.Snap): Unit =
    runner.op("write", name)(spark.sql(sql).collect()) { _ => afterWrite(_.startsWith(msgPrefix), next) }

  protected def aggsOf(d: DataFrame): Map[String, Agg] =
    d.groupBy("p").agg(count(lit(1)), sum("v"), sum("k")).collect()
      .map(r => r.getString(0) -> Agg(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  protected def sqlAggs(from: String, where: String = ""): Map[String, Agg] =
    aggsOf(spark.sql(s"SELECT * FROM $from $where"))

  protected val SqlT = "graft.bench.t"

  protected def readSql(name: String, where: String, keep: Long => Boolean): Unit =
    runner.op("read", name)(sqlAggs(SqlT, where)) { got =>
      model.expectAggs(s"read $name", got, model.aggs(model.head, keep))
    }

  protected def readPart(part: Int): Unit = {
    val p = Gen.part(part)
    readSql("partition", s"WHERE p = '$p'", Gen.partOf(_) == p)
  }

  protected def readAll(): Unit = readSql("all", "", _ => true)

  protected def travelSql(name: String, id: String): Unit =
    runner.op("travel", name)(sqlAggs(s"$SqlT VERSION AS OF '$id'")) { got =>
      model.expectAggs(s"travel $name to $id", got, model.aggs(model.snapAt(id)))
    }

  protected def changes(from: String, to: String): Unit =
    runner.op("travel", "changes")(
      aggsOf(engine.readChangesBetween(tdef, CommitId(from), CommitId(to)))) { got =>
      model.expectAggs(s"changes $from..$to", got,
        model.aggs(model.changed(model.snapAt(from), model.snapAt(to))))
    }

  protected def metaHead(): Unit =
    runner.op("meta", "head")(engine.headCommit(T).id) { h =>
      if (h != model.headId) throw new CheckFailed(s"head $h, expected ${model.headId}")
    }

  /** The newest page of the log, read as `graft-cli log` and the delivery
    * ledger read it (keyset `updatesPage`, no cursor). */
  protected def metaLog(): Unit =
    runner.op("meta", "log")(tracker.updatesPage(T, 8, None)._1.map(_.id.id)) { got =>
      if (got != model.logNewestFirst(8)) throw new CheckFailed(s"log page differs from the commits made")
    }

  protected def metaHistory(): Unit =
    runner.op("meta", "history")(
      spark.sql(s"DESCRIBE HISTORY $SqlT").collect().map(r => (r.getLong(0), r.getString(1)))) { got =>
      val want = model.logNewestFirst(Int.MaxValue)
      if (got.map(_._2).toSeq != want || got.map(_._1).toSeq != (want.size.toLong to 1L by -1L))
        throw new CheckFailed(s"DESCRIBE HISTORY lists ${got.length} commits, differing from the ${want.size} made")
    }
}

/** Many small partition writes through the Scala API, a small share of
  * reads, travel and metadata calls; the history crosses tracker
  * checkpoints (every 64 commits) and a full refold (every 512). */
final class CommitStream(ctx: Ctx) extends Bench(ctx) {
  private val P = 16
  private val R = 40
  def stats: Option[ColumnStatsConfig] = None
  def warmupRounds = 8

  def setup(): Unit = {
    init()
    insert(rowsFor(0 until P, 0 until R), "load")
    for (i <- 0 until 4) insert(rowsFor(Seq(i), 0 until R), s"load rewrite $i")
    // 444 commits, 500 after the warm-up: the window's second round crosses
    // commit 512, a full refold
    buildHistory(219, P, "s")
  }

  private def write1(r: Int, i: Int): Unit =
    insert(rowsFor(Seq(pick(r, i, P)), 0 until R), s"stream $r.$i")

  private def write2(r: Int, i: Int): Unit = {
    val a = pick(r, i, P)
    insert(rowsFor(Seq(a, (a + 1 + pick(r, i + 100, P - 1)) % P), 0 until R), s"stream $r.$i")
  }

  private def readAllScala(): Unit =
    runner.op("read", "all")(aggsOf(engine.read(tdef))) { got =>
      model.expectAggs("read all", got, model.aggs(model.head))
    }

  private def readAt(r: Int, i: Int): Unit = {
    val id = model.idAt(1 + pick(r, i, model.commits - 1))
    runner.op("travel", "readAt")(aggsOf(engine.readAt(tdef, CommitId(id)))) { got =>
      model.expectAggs(s"readAt $id", got, model.aggs(model.snapAt(id)))
    }
  }

  def round(r: Int): Unit = {
    write1(r, 0); metaHead(); write1(r, 1); readAllScala(); write1(r, 2); metaLog(); readAt(r, 20)
    write2(r, 3); readAllScala(); write1(r, 4); metaLog(); readAt(r, 21); write1(r, 5); readAllScala()
    changes(model.idAt(1 + pick(r, 22, model.commits - 2)), model.headId); metaLog()
  }
}

/** SQL DELETE and UPDATE in rewrite and dv mode, MERGE INTO upserts, INSERT
  * of replacement rows and OPTIMIZE, each followed by a read-back; the
  * table's size stays stationary round over round. */
final class SqlDml(ctx: Ctx) extends Bench(ctx) {
  import ctx.spark
  private val P = 8
  private val R = 100
  def stats: Option[ColumnStatsConfig] = Some(ColumnStatsConfig(List("k")))
  def warmupRounds = 2

  /** Commits whose state carries no deletion vector: the load and every
    * OPTIMIZE. Travel reads target the load, the last two of these and this
    * round's state with vectors: the same shapes in every round, so the
    * cost mix does not depend on the seed. */
  private val clean = scala.collection.mutable.ArrayBuffer.empty[String]

  def setup(): Unit = {
    init()
    insert(rowsFor(0 until P, 0 until R), "load")
    clean += model.headId
  }

  private def inRange(p: Int, from: Int, n: Int)(k: Long): Boolean =
    k >= Gen.key(p, from) && k < Gen.key(p, from + n)
  private def where(p: Int, from: Int, n: Int): String =
    s"p = '${Gen.part(p)}' AND k >= ${Gen.key(p, from)} AND k <= ${Gen.key(p, from + n - 1)}"

  private def delete(mode: String, p: Int, from: Int): Unit = {
    spark.conf.set("spark.graft.delete.mode", mode)
    val prefix = if (mode == "dv") "SQL DELETE (dv) FROM" else "SQL DELETE FROM"
    sqlWrite(s"delete_$mode", s"DELETE FROM $SqlT WHERE ${where(p, from, 10)}", prefix)(
      model.edited(Seq(Gen.part(p)))((_, rows) => rows.filterNot(kv => inRange(p, from, 10)(kv._1))))
  }

  private def update(mode: String, p: Int, from: Int, add: Int): Unit = {
    spark.conf.set("spark.graft.update.mode", mode)
    val prefix = if (mode == "dv") "SQL UPDATE (dv)" else "SQL UPDATE bench"
    sqlWrite(s"update_$mode", s"UPDATE $SqlT SET v = v + $add WHERE ${where(p, from, 10)}", prefix)(
      model.edited(Seq(Gen.part(p)))((_, rows) =>
        rows.map { case (k, v) => k -> (if (inRange(p, from, 10)(k)) v + add else v) }))
  }

  private def sqlInsert(rows: Seq[BenchRow]): Unit = {
    userRows += rows.size
    frame(rows).createOrReplaceTempView("bench_src")
    sqlWrite("insert", s"INSERT INTO $SqlT SELECT * FROM bench_src", "SQL INSERT INTO")(
      model.edited(rows.map(_.p).distinct)((p, old) => old ++ rows.filter(_.p == p).map(x => x.k -> x.v)))
  }

  private def merge(rows: Seq[BenchRow]): Unit = {
    userRows += rows.size
    frame(rows).createOrReplaceTempView("bench_src")
    sqlWrite("merge",
      s"""MERGE INTO $SqlT AS tgt USING bench_src AS src ON tgt.k = src.k AND tgt.p = src.p
         |WHEN MATCHED THEN UPDATE SET v = src.v, pay = src.pay
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "SQL MERGE INTO")(
      model.edited(rows.map(_.p).distinct)((p, old) => old ++ rows.filter(_.p == p).map(x => x.k -> x.v)))
  }

  private def optimize(ps: Seq[Int]): Unit = {
    val parts = ps.map(Gen.part)
    sqlWrite("optimize", s"OPTIMIZE $SqlT WHERE p IN (${parts.map(p => s"'$p'").mkString(", ")})",
      "SQL OPTIMIZE")(model.edited(parts)((_, rows) => rows))
  }

  def round(r: Int): Unit = {
    val Seq(a, b, c, d) = (0 until 4).map(i => (4 * r + i) % P)
    val s0 = pick(r, 0, R - 10) // deleted from a: 8 re-inserted, 2 merged back
    val t0 = pick(r, 1, R - 10) // dv-deleted from c, re-inserted
    delete("rewrite", a, s0); readPart(a)
    update("rewrite", b, pick(r, 2, R - 10), 7); readPart(b)
    delete("dv", c, t0); readPart(c)
    update("dv", d, pick(r, 3, R - 10), 3); readPart(d)
    val withVectors = model.headId
    sqlInsert(rowsFor(Seq(a), s0 until s0 + 8) ++ rowsFor(Seq(c), t0 until t0 + 10)); readAll()
    val m0 = (s0 + 10 + pick(r, 4, R - 15)) % (R - 5) // five live rows of a, updated
    merge(rowsFor(Seq(a), s0 + 8 until s0 + 10) ++ rowsFor(Seq(a), m0 until m0 + 5)); readPart(a)
    optimize(Seq(c, d)); readAll()
    clean += model.headId
    // 6 DESCRIBE HISTORY to 1 headCommit: a two-round window holds 12
    // samples of the kind the meta median falls on
    travelSql("clean", clean.last); metaHistory(); metaHistory()
    travelSql("vectors", withVectors); metaHistory(); metaHistory()
    travelSql("clean", clean(clean.size - 2)); metaHead()
    travelSql("clean", clean.head); metaHistory(); metaHistory()
  }
}

object Workloads {
  val names = Seq("commit_stream", "sql_dml")
  def apply(name: String, ctx: Ctx): Bench = name match {
    case "commit_stream" => new CommitStream(ctx)
    case "sql_dml" => new SqlDml(ctx)
  }
}
