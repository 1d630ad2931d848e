package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.VersionedTables._

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The schema-drift guard of partial inserts reads the schema the commit
  * log recorded, on uniform and mergeSchema tables alike: with every data
  * file's footer corrupted, a renamed, retyped or dropped column is still
  * refused as drift and the table's own shape is still accepted. A history
  * without a record (hand-committed, as an adopted or imported table's is)
  * samples its footers and refuses the same drift. */
class RecordedSchemaGuardSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def newTable(options: Map[String, String]): (VersionedTables, TableDefinition) = {
    val dir = Files.createTempDirectory("graft-guard-").toFile
    val engine = VersionedTables.withFileStore(spark, new java.io.File(dir, "store").toURI)
    val table = TableDefinition(TableName("guard", s"t${seq.incrementAndGet()}"),
      new java.io.File(dir, "t").toURI, PartitionSchema("day"), FileFormat.Parquet,
      options = options)
    engine.initTable(table, UserId("t"), "init")
    (engine, table)
  }

  private def corruptParquetFooters(dir: java.net.URI): Int = {
    def walk(f: java.io.File): List[java.io.File] =
      if (f.isDirectory) f.listFiles().toList.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) List(f) else Nil
    val files = walk(new java.io.File(dir))
    files.foreach(f => Files.write(f.toPath, Array.fill[Byte](64)(0x7f)))
    files.size
  }

  private def recordedSchemas(engine: VersionedTables, table: TableDefinition): Int =
    engine.tracker.tableState(table.name).updates.flatMap(_.operations).count {
      case TableOperation.SetTableSchema(_) => true
      case _ => false
    }

  /** Renamed, retyped and dropped `v`, each on its own day. */
  private def drifted: Seq[(String, DataFrame)] = Seq(
    "renamed" -> Seq((3L, 1.5, "d3")).toDF("k", "w", "day"),
    "retyped" -> Seq((3L, "1.5", "d3")).toDF("k", "v", "day"),
    "dropped" -> Seq((3L, "d3")).toDF("k", "day"))

  /** Each drifted insert refuses against a guard with no cached shape. */
  private def refusesDrift(engine: VersionedTables, table: TableDefinition): Unit =
    drifted.foreach { case (what, df) =>
      val head = engine.headCommit(table.name)
      val e = withClue(s"$what: ") {
        intercept[IllegalArgumentException] {
          df.versionedInsertInto(new VersionedTables(spark, engine.tracker), table,
            UserId("t"), what)
        }
      }
      e.getMessage should include("Schema drift")
      engine.headCommit(table.name) shouldBe head
    }

  for ((kind, options) <- Seq("uniform" -> Map.empty[String, String],
      "mergeSchema" -> Map("mergeSchema" -> "true"))) {

    s"The drift guard on a $kind table with a recorded schema" should
      "refuse renamed, retyped and dropped columns without reading a footer" in {
      val (engine, table) = newTable(options)
      Seq((1L, 0.5, "d1"), (2L, 1.0, "d2")).toDF("k", "v", "day")
        .versionedInsertInto(engine, table, UserId("t"), "load")
      recordedSchemas(engine, table) shouldBe 1
      // any footer read now fails: a refusal that names drift, and an
      // accepted insert of the table's own shape, prove the record decided
      corruptParquetFooters(table.location) should be > 0
      refusesDrift(engine, table)
      Seq((4L, 2.0, "d4")).toDF("k", "v", "day")
        .versionedInsertInto(new VersionedTables(spark, engine.tracker), table,
          UserId("t"), "same shape")
      engine.tracker.currentVersion(table.name) match {
        case PartitionedTableVersion(pvs) => pvs.keySet.map(_.toPath) should contain("day=d4")
        case other => fail(s"unexpected $other")
      }
    }

    s"The drift guard on a $kind table without a recorded schema" should
      "sample footers and refuse the same drift" in {
      val (engine, table) = newTable(options)
      // an imported history: data committed with no SetTableSchema op
      val v1 = Version.generate()
      VersionedTables.writeDataVersioned(
        Seq((1L, 0.5, "d1"), (2L, 1.0, "d2")).toDF("k", "v", "day"), table, v1)
      engine.tracker.commit(table.name, TableUpdate(UserId("t"), "import",
        java.time.Instant.now(), List("d1", "d2").map(d =>
          TableOperation.AddPartitionVersion(Partition("day", d), v1))))
      recordedSchemas(engine, table) shouldBe 0
      refusesDrift(engine, table)
      // the footers are the guard's source: once they are unreadable, even
      // the table's own shape cannot be verified
      corruptParquetFooters(table.location) should be > 0
      val head = engine.headCommit(table.name)
      intercept[Exception] {
        Seq((4L, 2.0, "d4")).toDF("k", "v", "day")
          .versionedInsertInto(new VersionedTables(spark, engine.tracker), table,
            UserId("t"), "same shape")
      }
      engine.headCommit(table.name) shouldBe head
    }
  }
}
