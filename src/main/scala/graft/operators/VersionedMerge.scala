package graft.operators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, lit, not}

/**
 * Keyed MERGE INTO for versioned tables — the Delta/Iceberg `MERGE` verb the
 * reference's insert-overwrite-only write path lacks (chronicles
 * `spark/src/main/scala/dev/chronicles/spark/SparkSupport.scala:51-128`
 * only overwrites whole partitions; a keyed upsert there means the caller
 * hand-builds the merged partition content first — this operator IS that
 * read-modify-write, done once, correctly, with the CAS guard it needs).
 *
 * Semantics (one call = one atomic commit):
 *   - source row matches a current row on `keyColumns` → the SOURCE row
 *     replaces it (WHEN MATCHED THEN UPDATE SET *);
 *   - source row matches nothing → inserted (WHEN NOT MATCHED THEN INSERT *);
 *   - source row satisfying `deleteWhen` → its matched current row is
 *     deleted, the source row itself is discarded (WHEN MATCHED AND <pred>
 *     THEN DELETE; an unmatched delete row is a no-op, like SQL MERGE).
 *     Only a TRUE predicate deletes — a NULL falls through to UPDATE,
 *     SQL's three-valued WHEN-clause rule.
 *
 * `mergeInto` runs on the one MERGE engine, [[MergeApply]], as `WHEN
 * MATCHED AND deleteWhen THEN DELETE / WHEN MATCHED THEN UPDATE SET * /
 * WHEN NOT MATCHED AND NOT coalesce(deleteWhen, false) THEN INSERT *` —
 * its whole-row replace shape (pruning and scale contract there).
 */
object VersionedMerge {

  /** What a merge did: the committed state plus the partition-level bill —
    * `rewritten` got new version directories, `removed` were emptied by
    * deletes (dropped from the visible table; their data stays on disk for
    * time travel), untouched partitions kept their versions. */
  final case class MergeResult(
      version: TableVersion,
      changes: TableChanges,
      rewritten: List[Partition],
      removed: List[Partition])

  implicit final class MergeOps(private val engine: VersionedTables) extends AnyVal {

    /** MERGE `source` into the current version of `table` on `keyColumns`
      * and commit the result as one new version. See [[VersionedMerge]] for
      * semantics and [[MergeApply]] for the scale contract.
      *
      * `source` must carry exactly the table's schema (the row that wins a
      * match IS the source row). `deleteWhen` is a predicate over source
      * columns marking delete rows. Duplicate keys in `source` would make
      * the match ambiguous (SQL MERGE raises); `requireDistinctSourceKeys`
      * pins that with one aggregation over the (small) source — opt out only
      * when the producer already guarantees it. A key several current rows
      * share makes each of them the source row, as SQL MERGE updates each. */
    def mergeInto(
        table: TableDefinition,
        source: DataFrame,
        keyColumns: Seq[String],
        userId: UserId,
        message: String,
        deleteWhen: Option[Column] = None,
        clusterBy: Seq[String] = Nil,
        requireDistinctSourceKeys: Boolean = true): MergeResult = {
      engine.requireCompatibleSchema(table, source)
      import MergeApply._
      val whole = source.columns.map(c => c -> MergeApply.sourceRef(c)).toMap
      val delete = deleteWhen.map(MergeApply.qualifySource(_, source.columns.toSeq))
      engine.mergeApply(table, source, keyColumns, userId, message,
        matched = delete.map(d => MatchedDelete(Some(d))).toSeq :+ MatchedUpdate(None, whole),
        notMatched = Seq(NotMatchedInsert(delete.map(d => not(coalesce(d, lit(false)))), whole)),
        clusterBy = clusterBy, requireDistinctSourceKeys = requireDistinctSourceKeys)
    }
  }
}
