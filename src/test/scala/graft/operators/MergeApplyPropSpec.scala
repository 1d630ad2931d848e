package graft.operators

import graft.TestSpark
import graft.core._
import graft.operators.MergeApply._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Property-hammer for the general clause merge: 25 random scenarios
  * (random clause lists, three-valued conditions incl. NULL branches,
  * sparse inserts, by-source actions, multi-partition key matches) each
  * checked row-for-row against a driver-side REFERENCE evaluation of SQL
  * MERGE semantics (first-TRUE-wins, NULL falls through, unmatched source
  * rows insert only when not matched anywhere, unmentioned target rows
  * take by-source clauses). The pool pairs every Column with its Scala
  * twin, so the oracle is independent of Spark expression evaluation. */
class MergeApplyPropSpec extends AnyFlatSpec with Matchers {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  case class T(k: Long, v: Option[Double], day: String)
  case class S(k: Long, nv: Double, flag: String)

  // ---- condition pools: (Column, Scala twin). Option[Boolean] is SQL's
  // three-valued logic: None = NULL (clause falls through).
  type MCond = (T, S) => Option[Boolean] // matched: sees both rows
  private val matchedConds: Seq[(Column, MCond)] = Seq(
    (col("v") > 20.0, (t, _) => t.v.map(_ > 20.0)),
    (col("s.nv") % 2 === 0, (_, s) => Some(s.nv % 2 == 0)),
    (col("v") < col("s.nv"), (t, s) => t.v.map(_ < s.nv)),
    (col("s.flag") === "del", (_, s) => Some(s.flag == "del")))

  type ICond = S => Option[Boolean] // insert: source only
  private val insertConds: Seq[(Column, ICond)] = Seq(
    (col("nv") > 10.0, s => Some(s.nv > 10.0)),
    (col("flag") === "new", s => Some(s.flag == "new")))

  type BCond = T => Option[Boolean] // by-source: target only
  private val bySourceConds: Seq[(Column, BCond)] = Seq(
    (col("v") > 20.0, t => t.v.map(_ > 20.0)),
    (col("day") === "d2", t => Some(t.day == "d2")),
    (col("k") % 3 === 0, t => Some(t.k % 3 == 0)),
    // NULL on every 4th key — pins the fall-through
    (when(col("k") % 4 === 0, lit(null).cast("boolean")).otherwise(col("v") > 10.0),
      t => if (t.k % 4 == 0) None else t.v.map(_ > 10.0)))

  // ---- actions with Scala twins
  private val updateSets: Seq[(Map[String, Column], (T, S) => Option[Double])] = Seq(
    (Map("v" -> (coalesce(col("v"), lit(0.0)) + col("s.nv"))),
      (t, s) => Some(t.v.getOrElse(0.0) + s.nv)),
    (Map("v" -> lit(-5.0)), (_, _) => Some(-5.0)))
  private val bySourceSets: Seq[(Map[String, Column], T => Option[Double])] = Seq(
    (Map("v" -> (coalesce(col("v"), lit(0.0)) * 2.0)), t => Some(t.v.getOrElse(0.0) * 2.0)),
    (Map("v" -> lit(99.0)), _ => Some(99.0)))

  private sealed trait RefMatched
  private case class RefMU(cond: Option[MCond], f: (T, S) => Option[Double]) extends RefMatched
  private case class RefMD(cond: Option[MCond]) extends RefMatched
  private case class RefIns(cond: Option[ICond], v: S => Option[Double], day: String)
  private sealed trait RefBySource
  private case class RefBU(cond: Option[BCond], f: T => Option[Double]) extends RefBySource
  private case class RefBD(cond: Option[BCond]) extends RefBySource

  it should "match a driver-side reference semantics on 25 random clause sets" in {
    val rnd = new scala.util.Random(1313)
    for (scenario <- 1 to 25) {
      // ---- random clause lists (at least one clause overall)
      def opt[A](xs: Seq[A]): Option[A] =
        if (rnd.nextBoolean()) Some(xs(rnd.nextInt(xs.size))) else None
      var matchedCls = Seq.empty[(MatchedAction, RefMatched)]
      var insertCls = Seq.empty[(NotMatchedInsert, RefIns)]
      var bySourceCls = Seq.empty[(BySourceAction, RefBySource)]
      (0 until rnd.nextInt(3)).foreach { _ =>
        val cond = opt(matchedConds)
        if (rnd.nextBoolean()) {
          val set = updateSets(rnd.nextInt(updateSets.size))
          matchedCls :+= (MatchedUpdate(cond.map(_._1), set._1), RefMU(cond.map(_._2), set._2))
        } else
          matchedCls :+= (MatchedDelete(cond.map(_._1)), RefMD(cond.map(_._2)))
      }
      (0 until rnd.nextInt(3)).foreach { _ =>
        val cond = opt(insertConds)
        val day = if (rnd.nextBoolean()) "dnew" else "d2"
        val sparse = rnd.nextBoolean()
        val values = Map("k" -> col("k"), "day" -> lit(day)) ++
          (if (sparse) Map.empty[String, Column] else Map("v" -> col("nv")))
        insertCls :+= (NotMatchedInsert(cond.map(_._1), values),
          RefIns(cond.map(_._2), s => if (sparse) None else Some(s.nv), day))
      }
      (0 until rnd.nextInt(3)).foreach { _ =>
        val cond = opt(bySourceConds)
        if (rnd.nextBoolean()) {
          val set = bySourceSets(rnd.nextInt(bySourceSets.size))
          bySourceCls :+= (BySourceUpdate(cond.map(_._1), set._1), RefBU(cond.map(_._2), set._2))
        } else
          bySourceCls :+= (BySourceDelete(cond.map(_._1)), RefBD(cond.map(_._2)))
      }
      if (matchedCls.isEmpty && insertCls.isEmpty && bySourceCls.isEmpty) {
        val set = updateSets.head
        matchedCls = Seq((MatchedUpdate(None, set._1), RefMU(None, set._2)))
      }

      // ---- random table + source (distinct source keys; key k alone, so
      // one source row can match rows in SEVERAL partitions)
      val target: Seq[T] = (0L until 30L).map { k =>
        T(k, if (k % 5 == 0) None else Some(rnd.nextInt(40).toDouble),
          Seq("d1", "d2", "d3")(rnd.nextInt(3)))
      } ++ Seq(T(2L, Some(7.0), "d3"), T(3L, None, "d1")) // duplicate keys across partitions
      val srcKeys = rnd.shuffle((0L until 40L).toList).take(14).distinct
      val source: Seq[S] = srcKeys.map { k =>
        S(k, rnd.nextInt(30).toDouble, Seq("up", "del", "new")(rnd.nextInt(3)))
      }

      val dir = java.nio.file.Files.createTempDirectory(s"graft-mergeprop-")
      val engine = VersionedTables.withFileStore(spark, dir.resolve("store").toUri)
      val table = TableDefinition(TableName("prop", s"t${seq.incrementAndGet()}"),
        dir.resolve("t").toUri, PartitionSchema("day"), FileFormat.Parquet)
      engine.initTable(table, UserId("p"), "init")
      import graft.operators.VersionedTables._
      target.map(t => (t.k, t.v, t.day)).toDF("k", "v", "day").repartition(2)
        .versionedInsertInto(engine, table, UserId("p"), "load")
      val sourceDf = source.map(s => (s.k, s.nv, s.flag))
        .toDF("k", "nv", "flag").localCheckpoint()

      engine.mergeApply(table, sourceDf, Seq("k"), UserId("p"), s"prop $scenario",
        matched = matchedCls.map(_._1), notMatched = insertCls.map(_._1),
        notMatchedBySource = bySourceCls.map(_._1))

      // ---- reference evaluation
      val byK = source.map(s => s.k -> s).toMap
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double], String)]
      target.foreach { t =>
        byK.get(t.k) match {
          case Some(s) =>
            matchedCls.map(_._2).find {
              case RefMU(c, _) => c.forall(_(t, s).contains(true))
              case RefMD(c)    => c.forall(_(t, s).contains(true))
            } match {
              case Some(RefMU(_, f)) => kept += ((t.k, f(t, s), t.day))
              case Some(RefMD(_))    => () // deleted
              case None              => kept += ((t.k, t.v, t.day))
            }
          case None =>
            bySourceCls.map(_._2).find {
              case RefBU(c, _) => c.forall(_(t).contains(true))
              case RefBD(c)    => c.forall(_(t).contains(true))
            } match {
              case Some(RefBU(_, f)) => kept += ((t.k, f(t), t.day))
              case Some(RefBD(_))    => () // deleted
              case None              => kept += ((t.k, t.v, t.day))
            }
        }
      }
      val targetKeys = target.map(_.k).toSet
      source.filterNot(s => targetKeys(s.k)).foreach { s =>
        insertCls.map(_._2).find(i => i.cond.forall(_(s).contains(true))).foreach { i =>
          kept += ((s.k, i.v(s), i.day))
        }
      }

      // a merge deleting every row leaves a zero-partition version whose
      // read has an empty schema — that IS the expected-empty case
      val cur = engine.read(table)
      val got =
        if (cur.columns.isEmpty) Array.empty[(Long, Option[Double], String)]
        else cur.select("k", "v", "day").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            r.getString(2))).sortBy(x => (x._1, x._3, x._2.getOrElse(Double.NaN)))
      val expected = kept.toArray.sortBy(x => (x._1, x._3, x._2.getOrElse(Double.NaN)))
      withClue(s"scenario $scenario (matched=${matchedCls.size}, " +
        s"ins=${insertCls.size}, bySrc=${bySourceCls.size}): ") {
        got shouldBe expected
      }
    }
  }

  it should "match a driver-side reference on 12 random whole-row replace clause sets" in {
    // SET-all (key column optionally left out) + INSERT-all, with an
    // optional source-only DELETE (three-valued: NULL on every 4th key)
    // whose INSERT is conditioned on its canonical negation, on a plain
    // NOT, or not at all; unmatched delete rows, new partitions and
    // partition moves (the key is k alone, day comes from the source).
    // Even scenarios repeat some target keys, in one partition or across
    // two: SQL MERGE makes each such row the source row, so the statement
    // must leave the replace shape for the general plan.
    val rnd = new scala.util.Random(2727)
    case class W(k: Long, v: Option[Double], day: String, flag: String)
    type DCond = W => Option[Boolean]
    val deleteConds: Seq[(Column, DCond)] = Seq(
      (col("s.flag") === "del", w => Some(w.flag == "del")),
      (when(col("s.k") % 4 === 0, lit(null).cast("boolean")).otherwise(col("s.flag") === "del"),
        w => if (w.k % 4 == 0) None else Some(w.flag == "del")))
    for (scenario <- 1 to 12) {
      val unique: Seq[T] = (0L until 30L).map { k =>
        T(k, if (k % 5 == 0) None else Some(rnd.nextInt(40).toDouble),
          Seq("d1", "d2", "d3")(rnd.nextInt(3)))
      }
      val target: Seq[T] =
        if (scenario % 2 == 1) unique
        else unique ++ rnd.shuffle(unique.toList).take(4).map(t =>
          t.copy(v = Some(rnd.nextInt(40).toDouble), day = Seq("d1", "d2", "d3")(rnd.nextInt(3))))
      val source: Seq[W] = rnd.shuffle((0L until 40L).toList).take(14).map { k =>
        W(k, if (k % 7 == 0) None else Some(rnd.nextInt(30).toDouble),
          Seq("d1", "d2", "d3", "d4")(rnd.nextInt(4)), Seq("up", "del")(rnd.nextInt(2)))
      }
      val delete = if (rnd.nextBoolean()) Some(deleteConds(rnd.nextInt(deleteConds.size))) else None
      // 0: NOT coalesce(c, false) · 1: NOT c · 2: no condition
      val insertForm = if (delete.isEmpty) 2 else rnd.nextInt(3)
      val setKey = rnd.nextBoolean()
      val qualifyInsert = rnd.nextBoolean()

      val dir = java.nio.file.Files.createTempDirectory(s"graft-mergeprop-row-")
      val engine = VersionedTables.withFileStore(spark, dir.resolve("store").toUri)
      val table = TableDefinition(TableName("prop", s"w${seq.incrementAndGet()}"),
        dir.resolve("t").toUri, PartitionSchema("day"), FileFormat.Parquet)
      engine.initTable(table, UserId("p"), "init")
      import graft.operators.VersionedTables._
      target.map(t => (t.k, t.v, t.day)).toDF("k", "v", "day").repartition(2)
        .versionedInsertInto(engine, table, UserId("p"), "load")
      val sourceDf = source.map(w => (w.k, w.v, w.day, w.flag))
        .toDF("k", "v", "day", "flag").localCheckpoint()

      val set = Map("v" -> col("s.v"), "day" -> col("s.day")) ++
        (if (setKey) Map("k" -> col("s.k")) else Map.empty[String, Column])
      val values = Seq("k", "v", "day").map(c => c -> col(if (qualifyInsert) s"s.$c" else c)).toMap
      val insertCond = delete.map(_._1).flatMap { c =>
        insertForm match {
          case 0 => Some(!coalesce(c, lit(false)))
          case 1 => Some(!c)
          case _ => None
        }
      }
      engine.mergeApply(table, sourceDf, Seq("k"), UserId("p"), s"row $scenario",
        matched = delete.map(d => MatchedDelete(Some(d._1))).toSeq :+ MatchedUpdate(None, set),
        notMatched = Seq(NotMatchedInsert(insertCond, values)))

      // ---- reference evaluation
      val byK = source.map(w => w.k -> w).toMap
      val deletes = (w: W) => delete.exists(_._2(w).contains(true))
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double], String)]
      target.foreach { t =>
        byK.get(t.k) match {
          case Some(w) => if (!deletes(w)) kept += ((w.k, w.v, w.day))
          case None    => kept += ((t.k, t.v, t.day))
        }
      }
      val targetKeys = target.map(_.k).toSet
      source.filterNot(w => targetKeys(w.k)).foreach { w =>
        val inserts = insertForm match {
          case 0 => !deletes(w)
          case 1 => delete.exists(_._2(w).contains(false))
          case _ => true
        }
        if (inserts) kept += ((w.k, w.v, w.day))
      }

      val cur = engine.read(table)
      val got =
        if (cur.columns.isEmpty) Array.empty[(Long, Option[Double], String)]
        else cur.select("k", "v", "day").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            r.getString(2))).sortBy(x => (x._1, x._3, x._2.getOrElse(Double.NaN)))
      val expected = kept.toArray.sortBy(x => (x._1, x._3, x._2.getOrElse(Double.NaN)))
      withClue(s"scenario $scenario (delete=${delete.isDefined}, insertForm=$insertForm, " +
          s"setKey=$setKey): ") {
        got shouldBe expected
      }
    }
  }
}
