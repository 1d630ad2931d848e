package graft.operators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, Coalesce, Expression, Literal, Not, SubqueryExpression}
import org.apache.spark.sql.functions.{
  coalesce, col, collect_set, count, explode, lit, max, not, struct, when}
import org.apache.spark.sql.types.{
  ArrayType, BooleanType, DataType, DoubleType, FloatType, StringType, StructField, StructType}

/**
 * The one MERGE engine for versioned tables — the full SQL `MERGE INTO`
 * shape: ordered `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr … /
 * DELETE`, `WHEN NOT MATCHED [AND cond] THEN INSERT …`, and `WHEN NOT
 * MATCHED BY SOURCE [AND cond] THEN UPDATE / DELETE`. SQL `MERGE INTO` and
 * the keyed [[VersionedMerge.MergeOps.mergeInto]] both run here. The
 * reference has no merge at all (chronicles only overwrites whole
 * partitions, `spark/src/main/scala/dev/chronicles/spark/SparkSupport.scala:51-128`).
 *
 * Expression vocabulary (Scala and SQL faces share it): TARGET columns
 * are plain names (`col("value")`), SOURCE columns are `s.`-qualified
 * (`col("s.value")`). Clause semantics are SQL MERGE's:
 *
 *   - a target row with a key match takes the FIRST matched clause whose
 *     condition is TRUE (unconditioned = always; NULL falls through —
 *     three-valued); no clause fires → the row is kept bit-identical;
 *   - a source row matching nothing takes the first not-matched clause
 *     whose (source-only) condition is TRUE and inserts its values
 *     (unassigned columns are NULL); none fires → the row is discarded;
 *   - a target row matching no source key takes the first
 *     not-matched-by-source clause whose (target-only) condition is TRUE;
 *     none → kept.
 *
 * Two plan shapes, chosen by analysing the clauses (never by a flag):
 * the WHOLE-ROW REPLACE shape, `touched ⟕anti source.keys ∪ upserts` with
 * no wide join and nothing persisted, where a matched row simply becomes
 * its source row ([[replaceShape]] lists the conditions), and the GENERAL
 * shape for everything else: the candidate slice joined with the source,
 * per-row clause dispatch, exact inserts. The replace writes one row per
 * key, so it also needs each matched key to name one target row: the
 * partitioned plan's one discovery pass over the candidates counts them,
 * and a key several rows share sends the statement to the general shape,
 * which updates each. On a snapshot table the replace runs only on a
 * never-written table, as a pure insert with the source's schema.
 *
 * Scale shape (the 100 TB contract):
 *   - matched-row discovery is pruned by [[candidatePartitions]]
 *     (key⊇partition values / manifest ranges / partition Blooms — no
 *     false negatives) before one semi-join over only the surviving
 *     candidates;
 *   - NOT MATCHED BY SOURCE clauses can touch rows anywhere, so their
 *     rewrite slice is pruned by [[TableStats.partitionsMayMatch]] over
 *     the OR of the clause conditions (an UNCONDITIONAL by-source clause
 *     means the whole table is semantically in scope — that full rewrite
 *     is the statement's meaning, not an implementation artifact);
 *   - even the target SCHEMA is resolved without a whole-table footer
 *     read: from the schema the log recorded at the pinned head, or, for
 *     histories without one, from the pruned scope (candidate ∪ by-source
 *     partitions) — the corrupt-the-untouched law covers analysis, not
 *     just execution;
 *   - inserts are computed EXACTLY (source anti-join the candidate
 *     slice's keys, or the key anti-join of the replace shape), so a
 *     partition is only rewritten if a row in it changes or lands in it;
 *   - the rewrite reads only the touched slice and is written in ONE job
 *     that observes the final partitions while it writes (no persist of
 *     the output; the general shape persists only the candidate slice and
 *     the pieces with a second consumer), emptied partitions are removed
 *     from the commit (data retained for time travel), and the commit
 *     CASes on the head pinned at entry.
 */
object MergeApply {

  /** One `WHEN MATCHED [AND condition]` clause, in statement order. */
  sealed trait MatchedAction {
    def condition: Option[Column]
  }
  /** `THEN UPDATE SET col = expr, …` — unassigned columns keep the target
    * value; expressions see the old target row (plain names) and the
    * matching source row (`s.` names). SETting a partition column MOVES
    * the row: the origin partition is rewritten without it and the
    * destination partitions (discovered from the post-image) are rewritten
    * with it. The provably-no-op `SET pcol = s.pcol` where `pcol` is a
    * merge key (what SQL's `UPDATE SET *` expands to) is dropped, keeping
    * the cheaper no-move plan. */
  final case class MatchedUpdate(condition: Option[Column], set: Map[String, Column])
      extends MatchedAction
  /** `THEN DELETE`. */
  final case class MatchedDelete(condition: Option[Column]) extends MatchedAction

  /** `WHEN NOT MATCHED [AND condition] THEN INSERT` — values over SOURCE
    * columns (plain or `s.`-qualified, same thing here); target columns
    * without a value insert NULL. */
  final case class NotMatchedInsert(condition: Option[Column], values: Map[String, Column])

  /** One `WHEN NOT MATCHED BY SOURCE [AND condition]` clause — conditions
    * and update expressions see TARGET columns only. */
  sealed trait BySourceAction {
    def condition: Option[Column]
  }
  final case class BySourceUpdate(condition: Option[Column], set: Map[String, Column])
      extends BySourceAction
  final case class BySourceDelete(condition: Option[Column]) extends BySourceAction

  // action codes for the per-row clause dispatch column
  private val Keep = -1
  private val Drop = -2

  private val SourcePrefix = "_graft_s_"
  // deliberately OUTSIDE the SourcePrefix rename image: a source column
  // named "present" renames to _graft_s_present, which must not collide
  private val PresentCol = "_graft_m_present"
  private val ActionCol = "_graft_m_action"

  /** Partitions that might probe over one bloom job; above this, the probe
    * cost (|source keys| × |candidate blooms|) stops paying for itself and
    * the semi-join over the range-surviving candidates takes over. */
  private val MaxBloomProbePartitions = 512

  /**
   * The partitions of `pvs` that CAN hold a key present in `keyFrame` —
   * a superset of the truly-matched set (every prune step is free of false
   * negatives), so the exact semi-join over just these candidates yields
   * the same `matchedParts` a full-table scan would. Keys that name every
   * partition column need none of this: the caller takes the source keys'
   * partition tuples, exact at tuple granularity with zero scan.
   *
   *   1. Stats manifests ([[TableStats]]): per key column, a partition is
   *      dropped when its value/min-max range is disjoint from the source
   *      keys' [min, max], or its key column is entirely null (null never
   *      equi-matches — detected by the exact nullCount==rows, NOT by
   *      absent min/max, which NaN also causes). Versions without a
   *      manifest always stay.
   *   2. Manifest Blooms over the key tuple: surviving partitions' filters
   *      are probed with `xxhash64(key tuple)` of every source key in ONE
   *      job against broadcast filters (bounded by
   *      [[MaxBloomProbePartitions]]).
   */
  private def candidatePartitions(
      engine: VersionedTables,
      table: TableDefinition,
      pvs: Map[Partition, Version],
      keyFrame: DataFrame,
      keyColumns: Seq[String]): Map[Partition, Version] = {
    if (pvs.isEmpty) return pvs
    val keyLower = keyColumns.map(_.toLowerCase)
    val cfg = table.stats.getOrElse(return pvs)
    val conf = engine.spark.sparkContext.hadoopConfiguration
    val manifests = scala.collection.mutable.Map.empty[String, Option[TableStats.StatsManifest]]
    def manifestFor(v: Version): Option[TableStats.StatsManifest] =
      manifests.getOrElseUpdate(v.label, TableStats.readManifestCached(conf, table.location, v.label))

    // (1) range pruning: the source keys' per-column [min, max], computed in
    // one tiny agg over the (small) key frame and normalized through the
    // SAME codec the manifest values use
    val keyTypes = keyColumns.map(k => k -> keyFrame.schema(k).dataType.catalogString).toMap
    val aggs = keyColumns.flatMap(k =>
      Seq(org.apache.spark.sql.functions.min(col(k)), org.apache.spark.sql.functions.max(col(k))))
    val bounds = keyFrame.agg(aggs.head, aggs.tail: _*).head()
    val sourceRange: Map[String, (Option[TableStats.StatVal], Option[TableStats.StatVal])] =
      keyColumns.zipWithIndex.map { case (k, i) =>
        def v(j: Int) = Option(bounds.get(j)).flatMap(TableStats.encodeValue)
          .flatMap(TableStats.decodeStored(keyTypes(k), _))
        k.toLowerCase -> ((v(2 * i), v(2 * i + 1)))
      }.toMap

    def disjoint(
        pMin: Option[TableStats.StatVal], pMax: Option[TableStats.StatVal],
        sMin: Option[TableStats.StatVal], sMax: Option[TableStats.StatVal]): Boolean = {
      val aboveAll = (pMin, sMax) match {
        case (Some(a), Some(b)) => TableStats.compareVals(a, b).exists(_ > 0)
        case _ => false
      }
      val belowAll = (pMax, sMin) match {
        case (Some(a), Some(b)) => TableStats.compareVals(a, b).exists(_ < 0)
        case _ => false
      }
      aboveAll || belowAll
    }

    val rangeSurvivors = pvs.filter { case (p, v) =>
      manifestFor(v) match {
        case None => true // no manifest: cannot prune this version
        case Some(m) =>
          val files = m.filesFor(p.toHivePath)
          if (files.isEmpty) true
          else {
            val partVals = p.columnValues
              .map(cv => cv.column.name.toLowerCase -> cv.value).toMap
            val provablyUnmatched = keyLower.exists { k =>
              val (sMin, sMax) = sourceRange.getOrElse(k, (None, None))
              partVals.get(k) match {
                case Some(raw) =>
                  // key column IS a partition column: one exact value
                  if (raw == PathCodec.DefaultPartitionName) true // null never matches
                  else sMin.orElse(sMax) match {
                    case Some(like) => TableStats.partitionValueAs(raw, like)
                      .exists(pv => disjoint(Some(pv), Some(pv), sMin, sMax))
                    case None => false
                  }
                case None if m.statsColumns.contains(k) =>
                  val perFile = files.map(f => f.columns.get(k).map(cs => (cs, f.rows)))
                  if (perFile.exists(_.isEmpty)) false // some file unknown: keep
                  else {
                    val known = perFile.flatten
                    // prunable iff EVERY file provably holds no matching key:
                    // all-null files, or a decoded range disjoint from the
                    // source keys' range
                    known.nonEmpty && known.forall { case (cs, rows) =>
                      cs.nullCount >= rows ||
                        ((cs.min.flatMap(TableStats.decodeStored(cs.dataType, _)),
                          cs.max.flatMap(TableStats.decodeStored(cs.dataType, _))) match {
                          case (Some(lo), Some(hi)) =>
                            disjoint(Some(lo), Some(hi), sMin, sMax)
                          case _ => false
                        })
                    }
                  }
                case None => false
              }
            }
            !provablyUnmatched
          }
      }
    }

    // (2) Bloom probe over the range survivors' filters, when the manifest
    // blooms cover exactly the merge key set. Self-describing formats only:
    // xxhash64 is TYPE-sensitive, and only the parquet/orc schema-drift
    // guard pins the source column types to the written ones — a text
    // format's re-inferred int-vs-long drift would silently change the hash
    // domain and fabricate false negatives.
    val bloomOrder = cfg.bloomKeyColumns
    val bloomsUsable = bloomOrder.nonEmpty &&
      bloomOrder.map(_.toLowerCase).toSet == keyLower.toSet &&
      (table.format == FileFormat.Parquet || table.format == FileFormat.Orc)
    if (!bloomsUsable) return rangeSurvivors
    val withBlooms = rangeSurvivors.toList.flatMap { case (p, v) =>
      manifestFor(v)
        .filter(m => m.bloomKeyColumns.map(_.toLowerCase).toSet == keyLower.toSet)
        .flatMap(_.partitionBlooms.get(p.toHivePath))
        .map(bytes => (p, v, bytes))
    }
    if (withBlooms.isEmpty || withBlooms.size > MaxBloomProbePartitions) return rangeSurvivors
    val bcast = engine.spark.sparkContext.broadcast(withBlooms.map(_._3).toArray)
    // deserialize ONCE per task (transient lazy — the heavyHitters pattern);
    // the UDF returns the indices of filters that might contain the key hash
    val probe = new Serializable {
      @transient private lazy val filters =
        bcast.value.map(TableStats.deserializeBloom)
      def hits(h: Long): Array[Int] =
        filters.indices.filter(i => filters(i).mightContainLong(h)).toArray
    }
    val hitUdf = org.apache.spark.sql.functions.udf((h: Long) => probe.hits(h))
    val hitIdx = keyFrame
      .select(TableStats.keyHashColumn(bloomOrder).as("_h"))
      .select(explode(hitUdf(col("_h"))).as("_i"))
      .distinct()
      .collect().map(_.getInt(0)).toSet
    val bloomPruned = withBlooms.zipWithIndex.collect {
      case ((p, _, _), i) if !hitIdx.contains(i) => p
    }.toSet
    rangeSurvivors.filter { case (p, _) => !bloomPruned(p) }
  }

  implicit final class MergeApplyOps(private val engine: VersionedTables) extends AnyVal {

    /** Apply a general clause-based merge of `source` into the current
      * version of `table` on equality of `keyColumns`, as ONE atomic
      * commit. See [[MergeApply]] for semantics and the scale contract.
      * Duplicate source keys make matched clauses ambiguous (SQL MERGE
      * raises too) — `requireDistinctSourceKeys` pins that with one
      * aggregation; opt out only when the producer guarantees it. */
    def mergeApply(
        table: TableDefinition,
        source: DataFrame,
        keyColumns: Seq[String],
        userId: UserId,
        message: String,
        matched: Seq[MatchedAction] = Nil,
        notMatched: Seq[NotMatchedInsert] = Nil,
        notMatchedBySource: Seq[BySourceAction] = Nil,
        clusterBy: Seq[String] = Nil,
        requireDistinctSourceKeys: Boolean = true,
        evolveSchema: Boolean = false): VersionedMerge.MergeResult =
      MergeApply.run(engine, table, source, keyColumns, userId, message,
        matched, notMatched, notMatchedBySource, clusterBy, requireDistinctSourceKeys,
        evolveSchema)
  }

  // ---------------------------------------------------------------------
  // implementation

  private def run(
      engine: VersionedTables,
      table: TableDefinition,
      source: DataFrame,
      keyColumns: Seq[String],
      userId: UserId,
      message: String,
      matched0: Seq[MatchedAction],
      notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[BySourceAction],
      clusterBy: Seq[String],
      requireDistinctSourceKeys: Boolean,
      evolveSchema: Boolean): VersionedMerge.MergeResult = {

    require(keyColumns.nonEmpty, "mergeApply needs at least one key column")
    require(matched0.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeApply needs at least one WHEN clause")
    val missingKeys = keyColumns.filterNot(k => source.columns.exists(_.equalsIgnoreCase(k)))
    require(missingKeys.isEmpty, s"key columns not in source: ${missingKeys.mkString(", ")}")
    // the rewrite introduces _graft_-prefixed working columns (renamed
    // source, presence marker, clause dispatch) — reserve the namespace
    source.columns.find(_.toLowerCase.startsWith("_graft_")).foreach { c =>
      throw new IllegalArgumentException(
        s"mergeApply: source column '$c' uses the reserved _graft_ prefix")
    }

    val sourceColsLower = source.columns.map(_.toLowerCase).toSet
    val partCols = table.partitionSchema.columnNames
    val partColsLower = partCols.map(_.toLowerCase).toSet

    // `SET pcol = s.pcol` where pcol is a merge key is a provable no-op
    // (matched ⇒ equal) — drop it, so SQL `UPDATE SET *` works on
    // partitioned tables merged on their partition columns
    val matched: Seq[MatchedAction] = matched0.map {
      case MatchedUpdate(cond, set) => MatchedUpdate(cond, set.filterNot { case (c, v) =>
        partColsLower.contains(c.toLowerCase) &&
          keyColumns.exists(_.equalsIgnoreCase(c)) && isSourceSelfRef(v, c)
      })
      case other => other
    }

    // MATCHED updates MAY set partition columns — the rewrite treats those
    // rows as moves (origin partition rewritten without them, destination
    // partitions discovered from the post-image and rewritten too). BY
    // SOURCE updates cannot: their scope is pruned from the clause
    // conditions BEFORE any read, and a move would need a second
    // destination-discovery pass over rows the source never mentions.
    val movesPossible = matched.exists {
      case MatchedUpdate(_, set) => set.keys.exists(c => partColsLower.contains(c.toLowerCase))
      case _ => false
    }
    notMatchedBySource.foreach {
      case BySourceUpdate(_, set) => set.keys.foreach { c =>
        require(!partColsLower.contains(c.toLowerCase),
          s"WHEN NOT MATCHED BY SOURCE UPDATE cannot SET partition column '$c' — " +
            "moving rows the source does not mention needs an unprunable rewrite; " +
            "use a matched clause or DML")
      }
      case _ => ()
    }
    // … and by-source clauses referencing source columns (no matching
    // source row exists; the conditions also drive partition pruning)
    notMatchedBySource.foreach { a =>
      (a.condition.toSeq ++ (a match {
        case BySourceUpdate(_, set) => set.values.toSeq
        case _ => Seq.empty
      })).foreach { c =>
        require(!referencesSource(c, sourceColsLower),
          "WHEN NOT MATCHED BY SOURCE clauses cannot reference source columns " +
            "(there is no matching source row)")
      }
    }

    // pin EVERYTHING to one head snapshot (headState: O(partitions + tail),
    // never a history replay); the commit CASes on it
    val state = engine.tracker.headState(table.name)
    val head = state.head
    val snapshot = state.version
    val now = java.time.Instant.now()
    // the schema the log recorded at that head replaces the planning-time
    // footer inference (a Spark job) of every slice read below; hinted and
    // inferred reads are column-for-column identical (readVersion)
    val schemaHint = VersionedTables.parseSchemaJson(state.schemaJson)
    def readSlice(pvs: Map[Partition, Version]): DataFrame =
      engine.readVersion(table, PartitionedTableVersion(pvs), schemaHint)

    if (requireDistinctSourceKeys && matched.nonEmpty) {
      // reserved aggregate alias: .count() names its column "count", which a
      // merge key column of that name would make ambiguous (or shadow)
      val dup = source.groupBy(keyColumns.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("_graft_m_cnt"))
        .filter(col("_graft_m_cnt") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"duplicate source keys on (${keyColumns.mkString(", ")}): e.g. ${dup.head} — " +
          "a target row matched by two source rows is ambiguous (SQL MERGE raises here too)")
    }

    // the source's key columns as they are: semi/anti joins and the
    // discovery aggregates ignore duplicates, so only the presence-marker
    // join below pays the shuffle of a distinct
    val sourceKeys = source.select(keyColumns.map(c => col(s"`$c`")): _*)

    // schema-dependent validation, once the target schema is known (from a
    // read scoped to the pruned partitions — see each branch)
    def validate(targetSchema: StructType): Seq[String] = {
      require(targetSchema.nonEmpty,
        s"mergeApply into never-written table ${table.name.fullyQualifiedName}: the table " +
          "has no schema to merge against — load it first (versionedInsertInto / mergeInto)")
      val targetCols = targetSchema.map(_.name)
      // the `s.` qualifier must be unambiguous: a top-level target column
      // named `s` would make `s.x` mean struct-field access of that column
      require(!targetCols.exists(_.equalsIgnoreCase("s")),
        s"mergeApply: target ${table.name.fullyQualifiedName} has a column named 's' — " +
          "the s.<col> source qualifier would be ambiguous with struct access")
      targetCols.find(_.toLowerCase.startsWith("_graft_")).foreach { c =>
        throw new IllegalArgumentException(
          s"mergeApply: target column '$c' uses the reserved _graft_ prefix")
      }
      def known(c: String, clause: String): Unit =
        require(targetCols.exists(_.equalsIgnoreCase(c)),
          s"$clause column '$c' is not a column of ${table.name.fullyQualifiedName}")
      matched.foreach {
        case MatchedUpdate(_, set) => set.keys.foreach(known(_, "WHEN MATCHED UPDATE SET"))
        case _ => ()
      }
      notMatchedBySource.foreach {
        case BySourceUpdate(_, set) =>
          set.keys.foreach(known(_, "WHEN NOT MATCHED BY SOURCE UPDATE SET"))
        case _ => ()
      }
      notMatched.foreach(_.values.keys.foreach(known(_, "WHEN NOT MATCHED INSERT")))
      targetCols
    }

    // ------------------------------------------------------------------
    // clause dispatch codes (statement order; first TRUE condition wins)
    val matchedCodes: Seq[(MatchedAction, Int)] = matched.zipWithIndex
    val bySourceCodes: Seq[(BySourceAction, Int)] = notMatchedBySource.zipWithIndex.map {
      case (a, i) => (a, 100 + i)
    }
    val insertCodes: Seq[(NotMatchedInsert, Int)] = notMatched.zipWithIndex.map {
      case (a, i) => (a, 200 + i)
    }

    def chain(clauses: Seq[(Option[Column], Int)], default: Int): Column =
      clauses.foldRight(lit(default)) { case ((cond, code), els) =>
        when(coalesce(cond.map(internalize(_, sourceColsLower)).getOrElse(lit(true)),
          lit(false)), lit(code)).otherwise(els)
      }

    val matchedDeleteCodes: Seq[Int] = matchedCodes.collect { case (_: MatchedDelete, i) => i }
    val bySourceDeleteCodes: Seq[Int] = bySourceCodes.collect { case (_: BySourceDelete, i) => i }
    val dropCodes: Seq[Int] = matchedDeleteCodes ++ bySourceDeleteCodes :+ Drop

    def chainValues(updates: Seq[(Int, Column)], f: StructField): Column =
      updates.foldRight(col(s"`${f.name}`"): Column) { case ((code, expr), els) =>
        when(col(ActionCol) === lit(code), expr).otherwise(els)
      }.cast(f.dataType).as(f.name)

    /** Conform a target-slice frame to `schema`: present columns cast,
      * absent ones NULL-filled. Mixed-schema (evolved) tables make this
      * load-bearing — a slice read can carry any GENERATION of the schema,
      * and the old select-by-name would either drop newer columns from the
      * rewrite (silent data loss on the write-back) or fail to resolve. */
    def alignTo(df: DataFrame, schema: StructType): DataFrame =
      df.select(schema.map { f =>
        if (df.columns.exists(_.equalsIgnoreCase(f.name)))
          col(s"`${f.name}`").cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)

    /** The UPDATE clauses among `codes` that assign target column `f`. */
    def updatesFor(codes: Seq[(Any, Int)], f: StructField): Seq[(Int, Column)] =
      codes.collect {
        case (MatchedUpdate(_, set), i) => (set, i)
        case (BySourceUpdate(_, set), i) => (set, i)
      }.flatMap { case (set, i) =>
        set.find(_._1.equalsIgnoreCase(f.name)).map(a => i -> internalize(a._2, sourceColsLower))
      }

    // the source under its internal names, and the key equality against it
    def renamedSource = source.select(
      source.columns.map(c => col(s"`$c`").as(SourcePrefix + c.toLowerCase)): _*)
    def keyJoin = keyColumns.map(k =>
      col(s"`$k`") === col(s"`$SourcePrefix${k.toLowerCase}`")).reduce(_ && _)

    def dropFilter(df: DataFrame, codes: Seq[Int]): DataFrame =
      if (codes.isEmpty) df
      else df.filter(not(col(ActionCol).isin(codes.map(Int.box): _*)))

    /** slice (target rows) → rewritten rows, target schema. */
    def rewriteSlice(slice: DataFrame, targetSchema: StructType): DataFrame = {
      // matched rows need the source row's columns only if a matched clause
      // exists; otherwise a distinct-key presence marker suffices (and
      // cannot duplicate kept rows under duplicate source keys)
      val joined =
        if (matched.nonEmpty)
          slice.join(renamedSource.withColumn(PresentCol, lit(true)), keyJoin, "left_outer")
        else slice.join(sourceKeys.distinct().withColumn(PresentCol, lit(true)),
          keyColumns.toSeq, "left_outer")
      val action = when(col(PresentCol).isNotNull,
        chain(matchedCodes.map { case (a, i) => (a.condition, i) }, Keep))
        .otherwise(chain(bySourceCodes.map { case (a, i) => (a.condition, i) }, Keep))
      dropFilter(joined.withColumn(ActionCol, action), dropCodes)
        .select(targetSchema.map(f =>
          chainValues(updatesFor(matchedCodes ++ bySourceCodes, f), f)): _*)
    }

    /** matched target rows (from the candidate slice) → their post-images:
      * inner join with the renamed source, matched-clause dispatch, deletes
      * dropped, updates applied (possibly moving rows across partitions). */
    def rewriteMatched(candFull: DataFrame, targetSchema: StructType): DataFrame = {
      val joined = candFull.join(renamedSource, keyJoin, "inner")
        .withColumn(ActionCol, chain(matchedCodes.map { case (a, i) => (a.condition, i) }, Keep))
      dropFilter(joined, matchedDeleteCodes)
        .select(targetSchema.map(f => chainValues(updatesFor(matchedCodes, f), f)): _*)
    }

    /** UNMATCHED rows of the touched slice (matched ones are emitted by
      * [[rewriteMatched]]) → by-source dispatch. */
    def rewriteUnmatched(slice: DataFrame, targetSchema: StructType): DataFrame = {
      val un = slice.join(sourceKeys, keyColumns.toSeq, "left_anti")
        .withColumn(ActionCol, chain(bySourceCodes.map { case (a, i) => (a.condition, i) }, Keep))
      dropFilter(un, bySourceDeleteCodes)
        .select(targetSchema.map(f => chainValues(updatesFor(bySourceCodes, f), f)): _*)
    }

    /** source rows that match nothing → inserted rows, target schema.
      * Values evaluate over the source frame itself (plain = `s.` here). */
    def insertRows(eligible: DataFrame, targetSchema: StructType): DataFrame = {
      val action = chain(insertCodes.map { case (a, i) =>
        (a.condition.map(stripSourceQualifier(_, sourceColsLower)), i)
      }, Drop)
      val withAction = eligible.withColumn(ActionCol, action)
        .filter(col(ActionCol) =!= lit(Drop))
      val cols = targetSchema.map { f =>
        val perClause: Seq[(Int, Column)] = insertCodes.collect {
          case (NotMatchedInsert(_, values), i)
              if values.keys.exists(_.equalsIgnoreCase(f.name)) =>
            i -> stripSourceQualifier(
              values.find(_._1.equalsIgnoreCase(f.name)).get._2, sourceColsLower)
        }
        perClause.foldRight(lit(null).cast(f.dataType): Column) { case ((code, expr), els) =>
          when(col(ActionCol) === lit(code), expr).otherwise(els)
        }.cast(f.dataType).as(f.name)
      }
      withAction.select(cols: _*)
    }

    def dropVersionCol(schema: StructType): StructType =
      StructType(schema.filterNot(_.name == Version.VersionColumn).toArray)

    /** The output schema: with `evolveSchema`, source columns missing
      * from the read schema JOIN it (nullable, source types) — under the
      * same mergeSchema contract as versionedInsertIntoEvolving, because a
      * partitioned-table merge leaves mixed file schemas behind. SNAPSHOT
      * tables are exempt from the contract: their merge rewrites the whole
      * table as ONE uniform version, so mixed schemas cannot occur.
      *
      * Only source columns a clause ASSIGNS (an UPDATE SET target or an
      * INSERT values key) can join the schema — Delta/Spark evolution
      * semantics. A helper column referenced only in a clause CONDITION
      * (e.g. a `flag` discriminator) must NOT become a permanent all-NULL
      * target column: the engine has no DROP COLUMN to undo it. */
    val assignedColsLower: Set[String] =
      (matched.collect { case MatchedUpdate(_, set) => set.keys }.flatten ++
        notMatched.flatMap(_.values.keys) ++
        notMatchedBySource.collect { case BySourceUpdate(_, set) => set.keys }.flatten)
        .map(_.toLowerCase).toSet
    def extendSchema(read: StructType): StructType = {
      val existing = read.fieldNames.map(_.toLowerCase).toSet
      if (!evolveSchema) read
      else {
        val extra = source.schema.fields
          .filterNot(f => existing(f.name.toLowerCase))
          .filter(f => assignedColsLower(f.name.toLowerCase))
          .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true))
        if (extra.nonEmpty && !table.isSnapshot)
          require(table.mergesSchema,
            s"mergeApply(evolveSchema=true) on ${table.name.fullyQualifiedName} requires " +
              "the TableDefinition's options to include mergeSchema=true: the merge " +
              "leaves mixed file schemas, and a read sampling one footer would silently " +
              "drop the new columns")
        StructType(read.fields ++ extra)
      }
    }

    /** The output schema and, for a whole-row replace over it, that
      * shape's delete condition. A never-written table (empty read schema)
      * takes the source's schema in the replace shape and refuses in
      * `validate` otherwise. */
    def shapeFor(read: StructType): (StructType, Option[Option[Column]]) = {
      def replace(schema: StructType) =
        if (notMatchedBySource.nonEmpty) None
        else replaceShape(schema, source.schema, keyColumns, matched0, notMatched, sourceColsLower)
      val firstWrite = if (read.isEmpty) replace(source.schema) else None
      val schema = if (firstWrite.isDefined) source.schema else extendSchema(read)
      validate(schema)
      // an evolving merge widens the schema: the general shape writes it
      (schema, firstWrite.orElse(if (schema.length == read.length) replace(schema) else None))
    }

    /** The replace shape's new rows: the source rows its delete condition
      * does not mark (TRUE only — NULL falls through), in the target schema. */
    def upsertRows(deleteWhen: Option[Column], targetSchema: StructType): DataFrame =
      deleteWhen.fold(source)(d => source.filter(not(coalesce(d, lit(false)))))
        .select(targetSchema.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)

    def unchanged = VersionedMerge.MergeResult(snapshot, TableChanges.empty, Nil, Nil)
    def partsOf(df: DataFrame): Set[Partition] =
      VersionedTables.partitionValues(df, table.partitionSchema).toSet

    snapshot match {
      case SnapshotTableVersion(_) =>
        // snapshot table = one unit of data: the whole table is the slice
        // (and the schema scope)
        val currentAll = engine.readVersion(table, snapshot, schemaHint)
        val read = dropVersionCol(currentAll.schema)
        val (targetSchema, replace) = shapeFor(read)
        // only a never-written table takes the replace shape here: it has
        // no rows, so the merge is a pure insert
        val out = replace.filter(_ => read.isEmpty) match {
          case Some(deleteWhen) => upsertRows(deleteWhen, targetSchema)
          case None =>
            val current = alignTo(currentAll, targetSchema)
            val inserts =
              if (notMatched.isEmpty) None
              else Some(insertRows(
                source.join(current.select(keyColumns.map(c => col(s"`$c`")): _*),
                  keyColumns.toSeq, "left_anti"),
                targetSchema))
            val out0 = rewriteSlice(current, targetSchema)
            inserts.map(out0.unionByName(_)).getOrElse(out0)
        }
        // single consumer (the write) — a persist here would materialize the
        // whole rewrite once into cache and then copy it out again
        val version = Version.generate()
        VersionedTables.writeDataVersioned(out, table, version, clusterBy)
        if (table.stats.nonEmpty)
          TableStats.collectAndWrite(engine.spark, table, version, Nil, Some(out.schema))
        val versionDir = new org.apache.hadoop.fs.Path(
          VersionPaths.pathFor(table.location, version))
        val fs = versionDir.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
        require(fs.exists(versionDir),
          s"merge emptied snapshot table ${table.name.fullyQualifiedName} — a " +
            "snapshot version must carry at least one row (emptying is a replace-all concern)")
        val (tv, changes) = engine.versioned.commitIf(
          table.name, TableUpdate(userId, message, now,
            VersionedTables.schemaOpsFor(table, state.schemaJson, snapshot, out.schema,
              definesWholeTable = true) :+
              TableOperation.AddTableVersion(version)), head)
        VersionedMerge.MergeResult(tv, changes, Nil, Nil)

      case PartitionedTableVersion(pvs) =>
        /** Write `out` in one job that observes its partitions, and commit
          * it; a `touched` partition left without rows is REMOVED from the
          * visible table (data kept for time travel). */
        def commit(out: DataFrame, touched: Set[Partition]): VersionedMerge.MergeResult = {
          val version = Version.generate()
          val finalParts = VersionedTables.writeDataVersionedObserved(
            out, table, version, clusterBy)
          // first-class write: the new version carries stats manifests so
          // later reads and merges keep pruning after the rewrite
          if (finalParts.nonEmpty && table.stats.nonEmpty)
            TableStats.collectAndWrite(engine.spark, table, version, finalParts,
              Some(out.schema))
          val emptied = (touched -- finalParts.toSet).toList.sortBy(_.toPath)
            .filter(pvs.contains) // an emptied partition that never existed needs no op
          val ops = finalParts.sortBy(_.toPath)
            .map(TableOperation.AddPartitionVersion(_, version)) ++
            emptied.map(TableOperation.RemovePartition(_))
          if (ops.isEmpty) return unchanged
          // a first write or an evolveSchema merge defines the schema —
          // record it; steady-state merges record nothing
          val schemaOps = VersionedTables.schemaOpsFor(
            table, state.schemaJson, snapshot, out.schema, definesWholeTable = false)
          val (tv, changes) = engine.versioned.commitIf(
            table.name, TableUpdate(userId, message, now, schemaOps ++ ops), head)
          VersionedMerge.MergeResult(tv, changes, finalParts, emptied)
        }

        // (1) candidate partitions that CAN hold a source key — needed both
        // for matched-row discovery and for exact insert suppression. Keys
        // naming every partition column make them the source keys'
        // partition tuples, exact with zero scan.
        val keysCoverPartitions =
          partCols.forall(pc => keyColumns.exists(_.equalsIgnoreCase(pc)))
        lazy val sourceTuples = partsOf(sourceKeys)
        val candidates =
          if (pvs.isEmpty || (matched.isEmpty && notMatched.isEmpty)) Map.empty[Partition, Version]
          else if (keysCoverPartitions) pvs.filter { case (p, _) => sourceTuples(p) }
          else candidatePartitions(engine, table, pvs, sourceKeys, keyColumns)
        val candRead = candidates.headOption.map(_ => readSlice(candidates))
        // (2) partitions a by-source clause could touch — stats-pruned,
        // no false negatives; an unconditional clause scopes the table
        val bySourceParts: Set[Partition] =
          if (notMatchedBySource.isEmpty) Set.empty
          else {
            val conds = notMatchedBySource.map(_.condition)
            if (conds.exists(_.isEmpty)) pvs.keySet
            else TableStats.partitionsMayMatch(engine, table, pvs,
              conds.flatten.reduce(_ || _)).keySet
          }
        // uniform-schema tables resolve their schema from a read SCOPED to
        // the pruned partitions (candidate ∪ by-source; the recorded schema
        // when the log has one, else footers of that scope only) — the
        // corrupt-the-untouched law covers analysis too. Only a merge that
        // touches nothing prunable (pure insert into a table with zero
        // candidates) falls back to the unscoped read. A mergeSchema
        // (evolution-capable) table may hold MIXED generations, so its
        // output schema must be the table-wide UNION — a scope-derived
        // schema could silently drop an evolved column from partitions the
        // merge rewrites (the footer-merge read is the documented cost of
        // evolved tables)
        val bySourcePvs = pvs.filter { case (p, _) => bySourceParts(p) && !candidates.contains(p) }
        val readSchema = dropVersionCol(
          if (table.mergesSchema) engine.read(table).schema
          else if (bySourcePvs.isEmpty && candRead.isDefined) candRead.get.schema
          else if (candidates.nonEmpty || bySourcePvs.nonEmpty)
            readSlice(candidates ++ bySourcePvs).schema
          else engine.read(table).schema)
        val (targetSchema, replace) = shapeFor(readSchema)

        /** The general plan: per-row clause dispatch over the candidate
          * slice joined with the source, exact inserts. */
        def general(): VersionedMerge.MergeResult = {
          // one persisted candidate read serves matched-partition
          // discovery, the matched rewrite, and insert suppression: full
          // columns when a matched clause needs the rows, keys + partition
          // columns otherwise
          val candSlice: Option[DataFrame] = candRead.map { slice =>
            val projected =
              if (matched.nonEmpty) alignTo(slice, targetSchema)
              else slice.select((keyColumns ++ partCols.filterNot(p =>
                keyColumns.exists(_.equalsIgnoreCase(p)))).map(c => col(s"`$c`")): _*)
            projected.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          }
          try {
            // (3) partitions whose rows a matched clause could change — exact
            val matchedParts: Set[Partition] =
              candSlice.filter(_ => matched.nonEmpty).fold(Set.empty[Partition])(cs =>
                partsOf(cs.join(sourceKeys, keyColumns.toSeq, "left_semi")))
            // matched rows → post-images (kept / updated / moved; deletes
            // out). Persisted only when moves are possible — then it has a
            // second consumer, the destination-partition discovery.
            val matchedOut: Option[DataFrame] =
              if (matched.isEmpty) None
              else candSlice.map(rewriteMatched(_, targetSchema)).map(mo =>
                if (movesPossible)
                  mo.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                else mo)
            try {
              // partitions updated rows LAND in — origins when nothing SETs
              // a partition column, discovered from the post-image otherwise
              val destParts: Set[Partition] =
                if (!movesPossible) matchedParts
                else matchedOut.fold(Set.empty[Partition])(partsOf)
              // (4) inserted rows, computed exactly (anti-join candidate keys)
              val inserts: Option[DataFrame] =
                if (notMatched.isEmpty) None
                else {
                  val eligible = candSlice match {
                    case Some(cs) => source.join(
                      cs.select(keyColumns.map(c => col(s"`$c`")): _*),
                      keyColumns.toSeq, "left_anti")
                    case None => source
                  }
                  Some(insertRows(eligible, targetSchema)
                    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
                }
              try {
                val insertParts = inserts.fold(Set.empty[Partition])(partsOf)
                val touched =
                  matchedParts ++ (destParts & pvs.keySet) ++ bySourceParts ++
                    (insertParts & pvs.keySet)
                if (touched.isEmpty && insertParts.isEmpty && destParts.isEmpty)
                  return unchanged

                val touchedPvs = pvs.filter { case (p, _) => touched(p) }
                // unmatched rows of the touched slice: with matched clauses
                // present the matched rows are already emitted post-image
                // by rewriteMatched (anti-join excludes them here);
                // without, the single-slice marker join keeps them
                // bit-identical. Touched partitions already sitting in the
                // PERSISTED candidate slice are served from it — no second
                // scan of matched partitions.
                val rewritten: Option[DataFrame] =
                  if (touchedPvs.isEmpty) None
                  else if (matched.nonEmpty) {
                    val candTouched = candidates.keySet & touched
                    val freshPvs = touchedPvs.filter { case (p, _) => !candTouched(p) }
                    val fresh =
                      if (freshPvs.isEmpty) None
                      else Some(alignTo(readSlice(freshPvs), targetSchema))
                    val fromCand = candSlice.filter(_ => candTouched.nonEmpty).map { cs =>
                      if (candTouched == candidates.keySet) cs
                      else cs.filter(partitionMember(candTouched))
                    }
                    val slice = (fresh, fromCand) match {
                      case (Some(f), Some(c)) => f.unionByName(c)
                      case (Some(f), None)    => f
                      case (None, Some(c))    => c
                      case (None, None)       => return unchanged // unreachable: touched nonEmpty
                    }
                    Some(rewriteUnmatched(slice, targetSchema))
                  } else
                    Some(rewriteSlice(alignTo(readSlice(touchedPvs), targetSchema), targetSchema))
                val pieces = Seq(rewritten, matchedOut, inserts).flatten
                if (pieces.isEmpty) return unchanged
                // the matchedOut/inserts pieces with genuine second
                // consumers stay persisted above — this union's only
                // consumer is the write itself
                commit(pieces.reduce(_.unionByName(_)), touched)
              } finally { inserts.foreach(_.unpersist(blocking = false)); () }
            } finally {
              if (movesPossible) matchedOut.foreach(_.unpersist(blocking = false)); ()
            }
          } finally { candSlice.foreach(_.unpersist(blocking = false)); () }
        }

        replace match {
          case Some(deleteWhen) =>
            // the whole-row replace: touched = partitions the upserts land
            // in ∪ partitions holding a matched key; the touched slice minus
            // every source key, plus the upserts, IS the new content
            val upserts = upsertRows(deleteWhen, targetSchema)
            // without a DELETE every source row lands: keys naming every
            // partition column, typed as the target's, make the source keys'
            // tuples the landing set, and every matched key lies in one
            def typeOf(schema: StructType, c: String) =
              schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
            val landsOnSourceTuples = deleteWhen.isEmpty && keysCoverPartitions &&
              partCols.forall(c => typeOf(source.schema, c) == typeOf(targetSchema, c))
            val landing = if (landsOnSourceTuples) sourceTuples else partsOf(upserts)
            // one pass over the candidates finds a matched key that several
            // target rows share: SQL MERGE updates each such row, the
            // replace writes one row per key, so the statement takes the
            // general plan. Unless every matched key lies in a landing
            // partition, the pass also lists the partitions holding one.
            val (shared, hitParts) = candRead match {
              case None => (false, Set.empty[Partition])
              case Some(slice) =>
                val byKey = slice.join(sourceKeys, keyColumns.toSeq, "left_semi")
                  .groupBy(keyColumns.map(c => col(s"`$c`")): _*)
                if (landsOnSourceTuples)
                  (byKey.agg(count(lit(1)).as("_graft_m_n")).filter(col("_graft_m_n") > 1)
                    .limit(1).collect().nonEmpty, Set.empty[Partition])
                else {
                  val rows = byKey.agg(count(lit(1)).as("_graft_m_n"),
                      collect_set(struct(partCols.map(c => col(s"`$c`")): _*)).as("_graft_m_p"))
                    .select(explode(col("_graft_m_p")).as("_graft_m_p"), col("_graft_m_n"))
                    .groupBy("_graft_m_p").agg(max("_graft_m_n")).collect()
                  (rows.exists(_.getLong(1) > 1),
                    rows.map(r => VersionedTables.partitionOf(r.getStruct(0), partCols)).toSet)
                }
            }
            if (shared) general()
            else {
              val touched = landing ++ hitParts
              if (touched.isEmpty) return unchanged
              // no touched slice (first write, or upserts landing only in new
              // partitions) is a pure insert — readVersion on an empty map
              // would yield an empty-SCHEMA frame, so the guard is load-bearing
              val touchedPvs = pvs.filter { case (p, _) => touched(p) }
              commit(
                if (touchedPvs.isEmpty) upserts
                else alignTo(readSlice(touchedPvs), targetSchema)
                  .join(sourceKeys, keyColumns.toSeq, "left_anti").unionByName(upserts),
                touched)
            }

          case None => general()
        }
    }
  }

  /** The whole-row replace shape of a clause set over `target`:
    * `Some(deleteWhen)` — the delete condition over the source frame, if
    * any — when every matched row becomes its source row and every
    * unmatched source row the delete condition does not mark is inserted;
    * None when the statement needs the general shape. That is: at most one
    * matched DELETE, conditioned on source columns only, then one
    * unconditioned UPDATE SETting every column from the same-name source
    * column (a key column may be left out when its type makes join
    * equality mean identical values — not float/double, not a non-binary
    * collation), and one whole-row INSERT, unconditioned without a DELETE,
    * else conditioned on exactly `NOT coalesce(<delete cond>, false)`. The
    * caller rules out by-source clauses and schema evolution, and checks
    * that each matched key names one target row. */
  private[operators] def replaceShape(
      target: StructType,
      source: StructType,
      keyColumns: Seq[String],
      matched: Seq[MatchedAction],
      notMatched: Seq[NotMatchedInsert],
      sourceColsLower: Set[String]): Option[Option[Column]] = {
    def expr(c: Column): Expression = GraftSqlBridge.convertedExpression(c)
    // a key column the UPDATE leaves out keeps the target's value, which
    // is the source's only where join equality means identical values
    def equalMeansIdentical(t: DataType): Boolean = t match {
      case FloatType | DoubleType => false // -0.0 = 0.0
      case s: StringType => s == StringType // UTF8_BINARY; other collations equate distinct strings
      case StructType(fs) => fs.forall(f => equalMeansIdentical(f.dataType))
      case ArrayType(e, _) => equalMeansIdentical(e)
      case _ => true
    }
    def setsEveryColumn(set: Map[String, Column]): Boolean = target.forall { f =>
      set.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, v)) => isSourceSelfRef(v, f.name) && sourceColsLower(f.name.toLowerCase)
        case None =>
          keyColumns.exists(_.equalsIgnoreCase(f.name)) && equalMeansIdentical(f.dataType) &&
            source.find(_.name.equalsIgnoreCase(f.name)).exists(_.dataType == f.dataType)
      }
    }
    def insertsEveryColumn(values: Map[String, Column]): Boolean = target.forall { f =>
      values.find(_._1.equalsIgnoreCase(f.name)).exists { case (_, v) =>
        expr(stripSourceQualifier(v, sourceColsLower)) match {
          case UnresolvedAttribute(Seq(n)) => n.equalsIgnoreCase(f.name) && sourceColsLower(n.toLowerCase)
          case _ => false
        }
      }
    }
    def sourceOnly(c: Column): Boolean = !expr(c).exists {
      case ua: UnresolvedAttribute => !isSourceRef(ua, sourceColsLower)
      case _: Attribute => true
      case _ => false
    }
    // `NOT coalesce(d, false)` — TRUE exactly where the DELETE does not
    // fire — as a Column (unresolved functions) or from SQL (resolved)
    object Call {
      def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
        case f: UnresolvedFunction => Some((f.nameParts.mkString(".").toLowerCase, f.arguments))
        case Not(c)                => Some(("not", Seq(c)))
        case Coalesce(cs)          => Some(("coalesce", cs))
        case _                     => None
      }
    }
    def negates(insertCond: Column, deleteCond: Column): Boolean =
      expr(stripSourceQualifier(insertCond, sourceColsLower)) match {
        case Call("not" | "!", Seq(Call("coalesce", Seq(x, Literal(false, BooleanType))))) =>
          x == expr(stripSourceQualifier(deleteCond, sourceColsLower))
        case _ => false
      }
    (matched, notMatched) match {
      case (Seq(MatchedUpdate(None, set)), Seq(NotMatchedInsert(None, values)))
          if setsEveryColumn(set) && insertsEveryColumn(values) => Some(None)
      case (Seq(MatchedDelete(Some(d)), MatchedUpdate(None, set)),
            Seq(NotMatchedInsert(Some(i), values)))
          if sourceOnly(d) && setsEveryColumn(set) && insertsEveryColumn(values) && negates(i, d) =>
        Some(Some(stripSourceQualifier(d, sourceColsLower)))
      case _ => None
    }
  }

  /** `s.<c>`: source column `c` in the clause vocabulary. */
  private[operators] def sourceRef(c: String): Column =
    GraftSqlBridge.column(UnresolvedAttribute(Seq("s", c)))

  /** A predicate over source columns by plain name, re-expressed in the
    * clause vocabulary (`s.`-qualified) so a matched clause can use it. */
  private[operators] def qualifySource(c: Column, sourceCols: Seq[String]): Column =
    GraftSqlBridge.column(GraftSqlBridge.convertedExpression(c).transform {
      case ua: UnresolvedAttribute if sourceCols.exists(_.equalsIgnoreCase(ua.nameParts.head)) =>
        UnresolvedAttribute("s" +: ua.nameParts)
      case a: AttributeReference if sourceCols.exists(_.equalsIgnoreCase(a.name)) =>
        UnresolvedAttribute(Seq("s", a.name))
    })

  /** Row-is-in-one-of-these-partitions predicate, comparing partition
    * columns in their STRING (directory-name) form — the VersionedDml
    * member discipline, so no type coercion can silently deselect. An OR
    * over the partition set: fine at rewrite-slice cardinalities. */
  private def partitionMember(parts: Set[Partition]): Column =
    parts.toSeq.map { p =>
      p.columnValues.map { cv =>
        val c = col(s"`${cv.column.name}`")
        if (cv.value == PathCodec.DefaultPartitionName) c.isNull
        else c.cast("string") === lit(cv.value)
      }.reduce(_ && _)
    }.reduce(_ || _)

  /** Is `v` exactly the source's own column `c` (`s.c`)? — the provably
    * no-op `SET * `-generated assignment of a merge-key partition column. */
  private def isSourceSelfRef(v: Column, c: String): Boolean =
    GraftSqlBridge.convertedExpression(v) match {
      case ua: UnresolvedAttribute =>
        ua.nameParts.length == 2 && ua.nameParts.head.equalsIgnoreCase("s") &&
          ua.nameParts(1).equalsIgnoreCase(c)
      case _ => false
    }

  /** Rewrite `s.<col>` references to the internal renamed source columns
    * of the joined frame; plain names resolve against the target slice.
    * Subqueries are refused (the expression is evaluated inside a rewrite
    * that runs twice — discovery and write — and must be stable). */
  private def internalize(c: Column, sourceColsLower: Set[String]): Column =
    mapSourceRefs(c, sourceColsLower,
      rest => UnresolvedAttribute(rest.updated(0, SourcePrefix + rest.head.toLowerCase)))

  /** For expressions evaluated over the SOURCE frame itself (insert
    * clauses): `s.<col>` just means `<col>`. */
  private def stripSourceQualifier(c: Column, sourceColsLower: Set[String]): Column =
    mapSourceRefs(c, sourceColsLower, rest => UnresolvedAttribute(rest))

  private def mapSourceRefs(
      c: Column,
      sourceColsLower: Set[String],
      f: Seq[String] => UnresolvedAttribute): Column = {
    val e = GraftSqlBridge.convertedExpression(c)
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      "subqueries in merge clause expressions are not supported — " +
        "materialize the subquery into the source frame")
    GraftSqlBridge.column(e.transform {
      case ua: UnresolvedAttribute if isSourceRef(ua, sourceColsLower) => f(ua.nameParts.drop(1))
    })
  }

  /** Is `ua` an `s.<source column>` reference? */
  private def isSourceRef(ua: UnresolvedAttribute, sourceColsLower: Set[String]): Boolean =
    ua.nameParts.length >= 2 && ua.nameParts.head.equalsIgnoreCase("s") &&
      sourceColsLower.contains(ua.nameParts(1).toLowerCase)

  private def referencesSource(c: Column, sourceColsLower: Set[String]): Boolean =
    GraftSqlBridge.convertedExpression(c).exists {
      case ua: UnresolvedAttribute => isSourceRef(ua, sourceColsLower)
      case _ => false
    }
}
