package graft.operators

import graft.{SparkJobs, TestSpark}
import graft.core._
import graft.operators.DeleteVectors._
import graft.operators.VersionedTables._
import graft.sql.{GraftTableRegistry, PrunedGraftFileIndex}

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The layout rule of [[VersionedTables.readVersion]]: a read whose size
  * estimate (the listed file bytes) is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` is one scan
  * partition. One partition is `SinglePartition`, which satisfies the
  * distribution an aggregate needs, so a per-partition aggregate over a
  * small read runs as one Spark job with no shuffle — on every read
  * surface. Lowering the cutoff below the estimate restores the scan's own
  * partitions, the shuffle and its second job, with identical rows. The
  * plan matchers see through the one-partition coalesce: file skipping on
  * `read().filter`, metadata-served aggregates and `_metadata` columns. */
class SmallReadLayoutSpec extends AnyFlatSpec with Matchers with AdaptiveSparkPlanHelper {
  import SmallReadLayoutSpec.Fixture

  lazy val spark = TestSpark.spark

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private val CutoffKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false),
    StructField("pay", StringType, nullable = false), StructField("p", StringType, nullable = false)))

  private val parts = (0 until 16).map(i => f"p$i%02d")

  private def rows(p: String, ks: Range, mul: Long = 7L): Seq[Row] =
    ks.map(k => Row(k.toLong, k * mul, f"payload-$k%024d", p))

  /** A 16-partition stats table, some tens of KB: commit `c1` writes 40 rows
    * into each partition (k 0–39), `c2` rewrites four of them (k 100–139). */
  private def fixture(): Fixture = {
    val dir = Files.createTempDirectory("graft-smallread-").toFile
    val n = seq.incrementAndGet()
    val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
    val table = TableDefinition(TableName("smallread", s"t$n"), new File(dir, s"t$n").toURI,
      PartitionSchema("p"), FileFormat.Parquet, stats = Some(ColumnStatsConfig(List("k", "v"))))
    GraftTableRegistry.register(engine, table)
    engine.initTable(table, UserId("t"), "init")
    def insert(rs: Seq[Row], msg: String): CommitId = {
      // one input slice per partition, so every partition gets its own file
      spark.createDataFrame(rs.asJava, schema).repartition(col("p"))
        .versionedInsertInto(engine, table, UserId("t"), msg)
      engine.headCommit(table.name)
    }
    val c1 = insert(parts.flatMap(p => rows(p, 0 until 40)), "load")
    val c2 = insert(parts.take(4).flatMap(p => rows(p, 100 until 140, mul = 11L)), "rewrite four")
    Fixture(engine, table, c1, c2)
  }

  private def withCutoff[T](bytes: Long)(f: => T): T = {
    spark.conf.set(CutoffKey, bytes.toString)
    try f finally spark.conf.unset(CutoffKey)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }

  private def perPartition(df: DataFrame): DataFrame =
    df.groupBy("p").agg(sum("v").as("s"), count(lit(1)).as("n"))

  private def sorted(rs: Array[Row]): Seq[Row] = rs.toSeq.sortBy(_.toString)

  /** Every read surface of `f`, as the per-partition aggregate over it:
    * the Scala API builds its reads when called, SQL text when analyzed. */
  private def surfaces(f: Fixture): Seq[(String, () => DataFrame)] = Seq(
    "read" -> (() => perPartition(f.engine.read(f.table))),
    "readAt" -> (() => perPartition(f.engine.readAt(f.table, f.c1))),
    "readChangesBetween" -> (() => perPartition(f.engine.readChangesBetween(f.table, f.c1, f.c2))),
    "SQL SELECT" -> (() => spark.sql(
      s"SELECT p, SUM(v) AS s, COUNT(1) AS n FROM ${f.sql} GROUP BY p")),
    "VERSION AS OF" -> (() => spark.sql(
      s"SELECT p, SUM(v) AS s, COUNT(1) AS n FROM ${f.sql} VERSION AS OF '${f.c1.id}' GROUP BY p")))

  "a small versioned read" should "be one scan partition" in {
    val f = fixture()
    val read = f.engine.read(f.table)
    read.queryExecution.analyzed.stats.sizeInBytes should be <= BigInt(1L << 20)
    read.inputFiles.length shouldBe 16
    read.rdd.getNumPartitions shouldBe 1
    read.count() shouldBe 16 * 40
  }

  it should "run its per-partition aggregate as one job with no shuffle on every read surface" in {
    val f = fixture()
    surfaces(f).foreach { case (what, agg) =>
      withClue(s"$what: ") {
        val df = agg()
        val jobs = SparkJobs.of(spark)(df.collect())
        jobs should have size 1
        shuffles(df) shouldBe empty
      }
    }
  }

  it should "keep the scan's partitions, the shuffle and its second job under a lower cutoff" in {
    val f = fixture()
    val ruled = surfaces(f).map { case (what, agg) => what -> sorted(agg().collect()) }.toMap
    withCutoff(1L) {
      f.engine.read(f.table).rdd.getNumPartitions should be > 1
      surfaces(f).foreach { case (what, agg) =>
        withClue(s"$what: ") {
          val df = agg()
          var got: Array[Row] = null
          val jobs = SparkJobs.of(spark) { got = df.collect() }
          jobs should have size 2
          shuffles(df) should not be empty
          sorted(got) shouldBe ruled(what)
        }
      }
    }
    ruled("read").map(_.getAs[Long]("n")).sum shouldBe 16 * 40
    ruled("readChangesBetween").map(_.getAs[String]("p")) shouldBe parts.take(4)
  }

  it should "apply to a read of deletion-vector partitions" in {
    val f = fixture()
    f.engine.deleteWhereDV(f.table, col("p") === "p05" && col("k") < 10, UserId("t"), "dv")
    val read = f.engine.read(f.table)
    read.rdd.getNumPartitions shouldBe 1
    val df = perPartition(read)
    val got = sorted(df.collect())
    shuffles(df) shouldBe empty
    got.find(_.getAs[String]("p") == "p05").get.getAs[Long]("n") shouldBe 30L
    withCutoff(1L) {
      val unruled = f.engine.read(f.table)
      unruled.rdd.getNumPartitions should be > 1
      sorted(perPartition(unruled).collect()) shouldBe got
    }
  }

  it should "still skip files when filtered" in {
    val f = fixture()
    val filtered = f.engine.read(f.table).filter(col("k") === 3L)
    val pruned = filtered.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: PrunedGraftFileIndex => Some(idx)
          case _                         => None
        }
        case _ => None
      }
    }.flatten
    pruned should have size 1
    // the files of the four partitions c2 rewrote hold k 100–139 only
    pruned.head.inputFiles.length shouldBe 12
    filtered.count() shouldBe 12
  }

  it should "still answer COUNT/MIN/MAX from the stats manifests" in {
    val f = fixture()
    def metadataServed(df: DataFrame): Boolean = {
      val plan = df.queryExecution.optimizedPlan
      plan.collect { case l: LocalRelation => l }.nonEmpty &&
        plan.collect { case lr: LogicalRelation => lr }.isEmpty
    }
    val scala = f.engine.read(f.table).agg(count(lit(1)), min("k"), max("v"))
    val sql = spark.sql(s"SELECT COUNT(*), MIN(k), MAX(v) FROM ${f.sql}")
    Seq(scala, sql).foreach { df =>
      metadataServed(df) shouldBe true
      df.head() shouldBe Row(16L * 40, 0L, 139L * 11)
    }
    val grouped = spark.sql(s"SELECT p, COUNT(*) AS n FROM ${f.sql} GROUP BY p")
    metadataServed(grouped) shouldBe true
    grouped.collect().map(_.getLong(1)).toSeq shouldBe Seq.fill(16)(40L)
  }

  it should "resolve the _metadata columns of a small read" in {
    val f = fixture()
    val files = f.engine.read(f.table).select(col("_metadata.file_path")).distinct().collect()
    files.length shouldBe 16
  }
}

object SmallReadLayoutSpec {
  final case class Fixture(
      engine: VersionedTables, table: TableDefinition, c1: CommitId, c2: CommitId) {
    def sql: String = s"graft.${table.name.fullyQualifiedName}"
  }
}
