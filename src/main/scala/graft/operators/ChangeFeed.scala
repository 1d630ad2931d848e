package graft.operators

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Row-level change feed between two commits — the Delta "change data feed"
 * pattern reconstructed from the versioned layout, completing the CDC story
 * that `readChangesBetween` (partition-level incremental read) and
 * [[graft.streaming.EventStreams.writeVersionedMerged]] (the apply side)
 * bracket. The reference's capability stops at whole partitions
 * (chronicles has no row-level diff at all); this derives per-row changes
 * WITHOUT any write-side bookkeeping, because immutable version
 * directories + the commit log already pin both endpoint states exactly.
 *
 * Output: the table's columns plus `_change_type` ∈
 * `insert` / `update` / `delete` — post-image rows for insert/update,
 * pre-image rows for delete. With `updatePreimages = true` the FULL Delta
 * CDF shape is emitted instead: every update contributes TWO rows,
 * `update_preimage` (the old row) and `update_postimage` (the new row) —
 * both sides are already in the compare join, so the option costs one
 * generator over the matched rows, not a second read of `from`.
 *
 * Scale shape: only CHANGED partitions are ever listed or read —
 * partitions whose version is identical at both commits contribute nothing
 * and cost nothing. Newly-added partitions stream straight out as inserts
 * and removed partitions as deletes (no join at all); only REPOINTED
 * (rewritten) partitions pay the keyed full-outer compare, one hash
 * exchange per side on the key columns, with the full-row comparison
 * (`<=>` over a struct) deciding update-vs-unchanged without materializing
 * column lists. At 100 TB a merge that rewrote 3 partitions diffs 3
 * partitions.
 *
 * Keys must identify a row uniquely WITHIN each compared slice — the same
 * precondition SQL MERGE and `mergeInto` carry; `requireDistinctKeys`
 * (default on) checks it with a per-key count fused into the compare's own
 * aggregation — no separate probe pass, no eager job at construction. The
 * check runs only where the guarded rows are evaluated, so it is
 * best-effort: an action that evaluates every row of the feed (`collect`,
 * a write) raises on a violated slice, but one that evaluates part of it
 * may not — a filter on key columns that Spark pushes below the per-key
 * aggregation, or `limit`/`take`/`show`, which stop early. Callers that
 * need the refusal under such plans evaluate the unfiltered feed once, or
 * de-duplicate the keys themselves. Rows with any NULL key column never
 * equi-match, so a rewritten partition reports an old null-key row as
 * `delete` and a new one as `insert` — the honest answer, since no pairing
 * exists.
 */
object ChangeFeed {

  /** The change-type column appended to the table's own columns. */
  val ChangeTypeColumn = "_change_type"

  implicit final class ChangeFeedOps(private val engine: VersionedTables) extends AnyVal {

    /** Per-row changes `from` → `to` (both inclusive commit ids of this
      * table). See [[ChangeFeed]] for semantics and the scale contract.
      * `keep` prunes the diff to selected partitions BEFORE any file
      * listing, like every other partial read. */
    def readRowChangesBetween(
        table: TableDefinition,
        keyColumns: Seq[String],
        from: CommitId,
        to: CommitId,
        keep: Partition => Boolean = _ => true,
        requireDistinctKeys: Boolean = true,
        updatePreimages: Boolean = false): DataFrame = {
      require(keyColumns.nonEmpty, "readRowChangesBetween needs at least one key column")
      // two bounded versionAt resolutions (fold doc + tail on the
      // persistent stores — CDC endpoints sit near the head) instead of one
      // full-history materialization per delivered commit
      (engine.tracker.versionAt(table.name, from),
       engine.tracker.versionAt(table.name, to)) match {
        case (PartitionedTableVersion(a), PartitionedTableVersion(b)) =>
          val aKept = a.filter { case (p, _) => keep(p) }
          val bKept = b.filter { case (p, _) => keep(p) }
          // ADOPTED tables can mix pre-versioning (Unversioned) partitions
          // with versioned ones: readVersion's direct-file branch types
          // partition columns as STRING while partition discovery infers
          // native types, so the per-class frames below could not union or
          // compare. Route BOTH endpoints whole through the same read
          // branch and diff them with one keyed compare — correct, at the
          // cost of the changed-partitions-only IO shortcut, for this
          // legacy-adoption edge only (same fallback readVersionWhere
          // takes).
          val mixedAdopted = (aKept.valuesIterator ++ bKept.valuesIterator)
            .contains(Version.Unversioned)
          if (mixedAdopted) {
            val oldAll = engine.readVersion(table, PartitionedTableVersion(aKept))
            val newAll = engine.readVersion(table, PartitionedTableVersion(bKept))
            val partCols = table.partitionSchema.columnNames.map(_.toLowerCase).toSet
            // align partition-column types across the two reads (one side
            // may have taken the all-versioned fast path): strings on both
            def stringPartCols(df: DataFrame): DataFrame =
              df.columns.foldLeft(df)((d, c) =>
                if (partCols(c.toLowerCase)) d.withColumn(c, col(c).cast("string")) else d)
            return keyedDiff(stringPartCols(oldAll), stringPartCols(newAll),
              keyColumns, requireDistinctKeys, updatePreimages)
          }
          val added = bKept.filter { case (p, _) => !aKept.contains(p) }
          val removed = aKept.filter { case (p, _) => !bKept.contains(p) }
          val repointedParts = aKept.keySet
            .filter(p => bKept.get(p).exists(v => !aKept.get(p).contains(v)))
          val inserts =
            if (added.isEmpty) None
            else Some(engine.readVersion(table, PartitionedTableVersion(added))
              .withColumn(ChangeTypeColumn, lit("insert")))
          val deletes =
            if (removed.isEmpty) None
            else Some(engine.readVersion(table, PartitionedTableVersion(removed))
              .withColumn(ChangeTypeColumn, lit("delete")))
          val compared =
            if (repointedParts.isEmpty) None
            else {
              val oldSlice = engine.readVersion(table,
                PartitionedTableVersion(aKept.filter(kv => repointedParts(kv._1))))
              val newSlice = engine.readVersion(table,
                PartitionedTableVersion(bKept.filter(kv => repointedParts(kv._1))))
              Some(keyedDiff(oldSlice, newSlice, keyColumns, requireDistinctKeys,
                updatePreimages))
            }
          val parts = Seq(inserts, deletes, compared).flatten
          if (parts.isEmpty) emptyFeed(engine, table)
          else parts.reduce(_.unionByName(_))

        case (SnapshotTableVersion(va), SnapshotTableVersion(vb)) =>
          if (va == vb) emptyFeed(engine, table)
          else {
            val oldDf = engine.readVersion(table, SnapshotTableVersion(va))
            val newDf = engine.readVersion(table, SnapshotTableVersion(vb))
            // a never-written endpoint reads back with an empty schema —
            // treat it as the empty slice of the OTHER side's shape
            if (oldDf.columns.isEmpty)
              newDf.withColumn(ChangeTypeColumn, lit("insert"))
            else if (newDf.columns.isEmpty)
              oldDf.withColumn(ChangeTypeColumn, lit("delete"))
            else keyedDiff(oldDf, newDf, keyColumns, requireDistinctKeys, updatePreimages)
          }

        case _ =>
          throw new IllegalArgumentException(
            "Cannot diff partitioned and snapshot table versions")
      }
    }

    /** The row-level changes ONE commit introduced: [[readRowChangesBetween]]
      * from the commit's parent to the commit itself (an initial commit
      * diffs against emptiness — every row an insert). Depends only on
      * `id`, so it composes with [[graft.streaming.CommitStream]]'s
      * UNORDERED commit feed into a streaming row-level CDC pipeline the
      * same way partition-level `readChangesAt` does: replays re-read the
      * same changes instead of corrupting a range. */
    def readRowChangesAt(
        table: TableDefinition,
        keyColumns: Seq[String],
        id: CommitId,
        keep: Partition => Boolean = _ => true,
        requireDistinctKeys: Boolean = true,
        updatePreimages: Boolean = false): DataFrame = {
      // the parent lookup rides VersionTracker.parentCommit: O(distance
      // from head) page walk by default, and on the file store a
      // zero-listing head-manifest resolution for commits near the head —
      // the per-delivery cost of following a 100k-commit table stays
      // bounded (never a history materialization)
      engine.tracker.parentCommit(table.name, id) match {
        case None => // initial commit: everything it wrote is an insert
          engine.readChangesAt(table, id, keep)
            .withColumn(ChangeTypeColumn, lit("insert"))
        case Some(p) =>
          engine.readRowChangesBetween(table, keyColumns, p, id, keep, requireDistinctKeys,
            updatePreimages)
      }
    }
  }

  /** Zero-row feed with the table's columns + the change column (schema
    * recovered from disk like every empty read). */
  private def emptyFeed(engine: VersionedTables, table: TableDefinition): DataFrame =
    engine.readVersion(table, PartitionedTableVersion(Map.empty))
      .withColumn(ChangeTypeColumn, lit("insert")).limit(0)

  /** Keyed full-outer compare of two same-schema slices: new-only keys →
    * insert (post-image), old-only → delete (pre-image), both-with-a-
    * difference → update (post-image); bit-identical rows vanish. ONE hash
    * exchange per side on the keys (the distinct-keys guard, when on, is a
    * pre-aggregation riding that same exchange); the row comparison is a
    * null-safe struct equality, no per-column plumbing. */
  private[operators] def keyedDiff(
      oldDf: DataFrame, newDf: DataFrame,
      keyColumns: Seq[String], requireDistinctKeys: Boolean,
      updatePreimages: Boolean = false): DataFrame = {
    val cols = oldDf.columns.toSeq
    require(newDf.columns.toSeq.map(_.toLowerCase).sorted == cols.map(_.toLowerCase).sorted,
      s"change feed endpoints have different columns: ${cols.mkString(",")} vs " +
        newDf.columns.mkString(","))
    val missing = keyColumns.filterNot(cols.contains)
    require(missing.isEmpty, s"key columns not in table: ${missing.mkString(", ")}")
    val rowStruct = struct(cols.map(col): _*)
    // The distinct-keys precondition rides the diff plan itself: each side
    // pre-aggregates by key on the SAME hash exchange the full-outer
    // compare needs anyway, and a key counted >1 raises from inside the job
    // (null-key rows group together and so still refuse) — no eager probe
    // action per side at construction. So it raises only in an action that
    // evaluates the duplicated key's group (see the class doc).
    def sided(df: DataFrame, alias: String): DataFrame =
      df.select(keyColumns.map(col) :+ rowStruct.as(alias): _*)
    def guarded(df: DataFrame, side: String, alias: String): DataFrame = {
      val cnt = s"${alias}_n"
      val msg = concat(
        lit(s"duplicate keys on (${keyColumns.mkString(", ")}) in the $side slice: e.g. ("),
        concat_ws(", ", keyColumns.map(c => coalesce(col(c).cast("string"), lit("null"))): _*),
        lit(") — per-row pairing is ambiguous; pass a unique key or " +
          "requireDistinctKeys = false if the producer guarantees it"))
      sided(df, alias)
        .groupBy(keyColumns.map(col): _*)
        .agg(count(lit(1)).as(cnt), first(col(alias)).as(alias))
        .select(keyColumns.map(col) :+
          when(col(cnt) > 1, raise_error(msg)).otherwise(col(alias)).as(alias): _*)
    }
    val (o, n) =
      if (requireDistinctKeys)
        (guarded(oldDf, "old", "_cf_old"), guarded(newDf, "new", "_cf_new"))
      else (sided(oldDf, "_cf_old"), sided(newDf, "_cf_new"))
    val joined = o.join(n, keyColumns, "full_outer")
    val change = when(col("_cf_old").isNull, lit("insert"))
      .when(col("_cf_new").isNull, lit("delete"))
      .when(!(col("_cf_old") <=> col("_cf_new")), lit("update"))
    if (!updatePreimages) {
      val image = coalesce(col("_cf_new"), col("_cf_old"))
      joined
        .withColumn(ChangeTypeColumn, change)
        .filter(col(ChangeTypeColumn).isNotNull)
        .select(cols.map(c => image.getField(c).as(c)) :+ col(ChangeTypeColumn): _*)
    } else {
      // full CDF shape: updates emit (pre, post) pairs — one generator
      // over the already-joined rows, unchanged rows explode to nothing
      val pairs = when(change === "update", array(
          struct(col("_cf_old").as("img"), lit("update_preimage").as("t")),
          struct(col("_cf_new").as("img"), lit("update_postimage").as("t"))))
        .when(change === "insert",
          array(struct(col("_cf_new").as("img"), lit("insert").as("t"))))
        .when(change === "delete",
          array(struct(col("_cf_old").as("img"), lit("delete").as("t"))))
      joined
        .select(explode(pairs).as("_cf"))
        .select(cols.map(c => col("_cf.img").getField(c).as(c)) :+
          col("_cf.t").as(ChangeTypeColumn): _*)
    }
  }
}
