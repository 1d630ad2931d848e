package graft.operators

import graft.core._
import graft.operators.TableStats.{FileStats, StatsManifest, compareVals, decodeStored, encodeValue}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
import org.apache.spark.sql.types._

/**
 * Metadata-only aggregation — the Delta/Iceberg "optimize metadata-only
 * query" pattern over graft's commit-time stats manifests
 * ([[TableStats]]): `COUNT(*)`, per-column `MIN`/`MAX` and null counts of
 * a versioned table answered DRIVER-side from `_stats/<label>.json`, with
 * zero Spark jobs for the covered part of the table. At 100 TB this is the
 * difference between a full-table scan and a few KB of (cached) manifest
 * reads per distinct live version label.
 *
 * Exactness discipline — the result is always EXACT, never approximate:
 *   - manifests record exact per-file rows / min / max / nullCount at
 *     write time (one pass over the files the write just produced), so
 *     covered partitions fold exactly;
 *   - a partition is METADATA-ANSWERABLE only when its manifest lists its
 *     files AND every requested column is decidable in every file: a stats
 *     entry exists, and the file is empty, or all-null, or carries both
 *     bounds AND they decode under the manifest's recorded type. Bounds
 *     are absent exactly when NaN/±Infinity touched them, so a file whose
 *     true extreme is non-representable is never answered from metadata;
 *   - everything else (adopted/pre-stats versions, partition columns,
 *     undeclared columns, NaN-touched files) falls into the RESIDUE: one
 *     Spark aggregation over exactly those partitions, combined with the
 *     manifest fold driver-side (float/double combine under Spark's own
 *     NaN-greatest ordering). Coverage shrinks the scan; it never changes
 *     the answer — the MetadataQuerySpec laws corrupt the covered
 *     partitions' parquet in place, so an answer that read them would
 *     fail loudly.
 *
 * The fully-covered path opens NO data file at all — even result TYPING
 * comes from the manifests' recorded catalog types, not a footer read
 * (the corrupt-every-file law), which is also what lets the SQL
 * metadata-aggregate rewrite ([[graft.sql.GraftMetadataAggregate]]) call
 * [[foldFullyCovered]] inside the optimizer with zero IO beyond the
 * cached manifests.
 *
 * [[summarize]] returns a ONE-ROW frame — `n_rows` plus `<col>_min`,
 * `<col>_max`, `<col>_nulls` per requested column — so it composes with
 * the oracle gate and with plain SQL consumers.
 */
object MetadataQuery {

  /** Folded knowledge of one column: EXTERNAL min/max (as the JVM values a
    * `Row` of the result carries) + exact null count. */
  final case class ColFold(min: Option[Any], max: Option[Any], nulls: Long)

  /** A whole version folded purely from manifests. */
  final case class CoveredFold(
      rows: Long, cols: Map[String, ColFold], colTypes: Map[String, DataType])

  /** Internal split of a version under a column request. */
  private final case class VersionSplit(
      answeredFiles: List[FileStats],
      residue: Option[TableVersion],
      colTypes: Map[String, DataType]) // manifest-typed columns only

  /** One-row exact summary of `table`'s current version. See class doc. */
  def summarize(
      engine: VersionedTables,
      table: TableDefinition,
      columns: Seq[String]): DataFrame = {
    val hs = engine.tracker.headState(table.name)
    summarizeVersion(engine, table, hs.version, columns,
      VersionedTables.parseSchemaJson(hs.schemaJson))
  }

  /** Fold `version` ENTIRELY from manifests — `None` unless every file of
    * every partition is metadata-answerable for every requested column
    * (then the caller must scan; [[summarizeVersion]] does that residue
    * arithmetic). `boundsFor` names the columns whose MIN/MAX will
    * actually be read: only those need decodable bounds in every file —
    * a column requested for COUNT alone needs just its (always-exact)
    * null count, so a NaN-touched file doesn't disqualify it. The
    * returned [[ColFold]] bounds are trustworthy ONLY for columns in
    * `boundsFor` (outside it, NaN-touched files contribute no bounds and
    * the partial min/max must not be read). Zero data-file IO, zero Spark
    * jobs; this is the entry the optimizer-time SQL rewrite uses. */
  def foldFullyCovered(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      columns: Seq[String],
      boundsFor: Option[Set[String]] = None): Option[CoveredFold] = {
    val cols = normalized(columns)
    val bounds = boundsFor.map(_.map(_.toLowerCase)).getOrElse(cols.toSet)
    val s = split(engine, table, version, cols, bounds)
    if (s.residue.isDefined || !bounds.forall(s.colTypes.contains)) None
    else Some(fold(s.answeredFiles, cols, s.colTypes))
  }

  /** [[foldFullyCovered]] restricted to an EXACT partition selection —
    * the entry behind partition-filtered SQL metadata aggregates
    * (`SELECT COUNT(*) … WHERE day = '2024-03-01'`): the caller evaluates
    * the partition predicate two-valued (partition values are known
    * scalars, so there is no "maybe"), and this folds ONLY the kept
    * partitions. `partitionCols` additionally answers aggregates OVER
    * partition columns themselves — a partition value is an exact
    * min=max for all its rows (the null partition contributes rows to the
    * null count instead). `None` unless every KEPT partition is fully
    * metadata-decidable; unkept partitions never disqualify (that is the
    * point of filtering). `keep = None` means "keep everything"; a
    * snapshot table accepts ONLY that form (it has no partitions to
    * evaluate a selection against — answering a filtered request with
    * the whole-table fold would be silently wrong, e.g. under a
    * definition/tracker flavor mismatch) and no partition columns.
    * `boundsFor` as in [[foldFullyCovered]]. Zero data-file IO. */
  def foldCoveredSelected(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      dataCols: Seq[String],
      partitionCols: Map[String, DataType],
      keep: Option[Partition => Boolean],
      boundsFor: Option[Set[String]] = None): Option[CoveredFold] = {
    val cols = normalized(dataCols)
    val bounds = boundsFor.map(_.map(_.toLowerCase)).getOrElse(cols.toSet)
    version match {
      case SnapshotTableVersion(_) =>
        if (partitionCols.nonEmpty || keep.isDefined) None
        else foldFullyCovered(engine, table, version, cols, Some(bounds))
      case PartitionedTableVersion(pvs) =>
        val keptVersion =
          PartitionedTableVersion(keep.fold(pvs)(k => pvs.filter(kv => k(kv._1))))
        val s = split(engine, table, keptVersion, cols, bounds)
        if (s.residue.isDefined || !bounds.forall(s.colTypes.contains)) None
        else {
          val dataFold = fold(s.answeredFiles, cols, s.colTypes)
          // partition columns: fold the kept partitions' VALUES, weighted
          // by their (manifest-known) row counts
          val manifests = scala.collection.mutable.Map.empty[String, Option[StatsManifest]]
          val conf = engine.spark.sparkContext.hadoopConfiguration
          def rowsOf(p: Partition, v: Version): Long =
            manifests.getOrElseUpdate(v.label,
              TableStats.readManifestCached(conf, table.location, v.label))
              .map(_.filesFor(p.toHivePath).map(_.rows).sum).getOrElse(0L)
          val partFolds: Option[Map[String, ColFold]] = partitionCols.toList
            .foldLeft(Option(Map.empty[String, ColFold])) { case (accOpt, (c, dt)) =>
              accOpt.flatMap { acc =>
                keptVersion.partitionVersions.toList
                  .foldLeft(Option(ColFold(None, None, 0L))) { case (fOpt, (p, v)) =>
                    fOpt.flatMap { f =>
                      val rows = rowsOf(p, v)
                      if (rows == 0) Some(f)
                      else p.columnValues.find(_.column.name.equalsIgnoreCase(c)) match {
                        case None => None // not a partition column after all
                        case Some(cv) if cv.value == PathCodec.DefaultPartitionName =>
                          Some(f.copy(nulls = f.nulls + rows))
                        case Some(cv) =>
                          externalValue(dt, cv.value).map { ext =>
                            ColFold(
                              combine(dt, f.min, Some(ext), takeMin = true),
                              combine(dt, f.max, Some(ext), takeMin = false),
                              f.nulls)
                          } // undecodable partition value → refuse whole fold
                      }
                    }
                  }
                  .map(fold => acc + (c.toLowerCase -> fold))
              }
            }
          partFolds.map { pf =>
            CoveredFold(dataFold.rows, dataFold.cols ++ pf,
              dataFold.colTypes ++ partitionCols.map { case (c, dt) => c.toLowerCase -> dt })
          }
        }
    }
  }

  /** [[summarize]] at any pinned state — time travel included (manifests
    * are per version label, so history folds exactly like the head).
    * `schemaHint` is the schema the log recorded at the pinned commit
    * ([[VersionedTables.schemaHintAt]]; None for a history without one):
    * the residue scan and the typing read plan under it instead of
    * inferring the schema from footers.
    *
    * Requested PARTITION columns deliberately route through the residue
    * scan even though [[foldCoveredSelected]] could fold their values
    * driver-side: the core model's partition values are untyped strings,
    * so a metadata fold would have to report them as strings while the
    * scan path reports partition-discovery types (e.g. DATE) — the same
    * request would change type with coverage. The SQL rewrite has no such
    * ambiguity (its types come from the plan) and IS the metadata-fast
    * path for partition columns. */
  def summarizeVersion(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      columns: Seq[String],
      schemaHint: Option[StructType]): DataFrame = {
    val spark = engine.spark
    val cols = normalized(columns)
    val s = split(engine, table, version, cols, cols.toSet)
    val folded = fold(s.answeredFiles, cols, s.colTypes)

    // one bounded aggregation over exactly the partitions metadata could
    // not answer; its result schema also types any column the manifests
    // don't know (partition and undeclared columns)
    val residue: Option[(Row, StructType)] = s.residue.map { rv =>
      val df = engine.readVersion(table, rv, schemaHint)
      val missing = cols.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"column(s) ${missing.mkString(", ")} not in table " +
          s"${table.name.fullyQualifiedName} (schema: ${df.schema.catalogString})")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
      }
      val r = df.agg(aggs.head, aggs.tail: _*)
      (r.head(), r.schema)
    }
    // last-resort typing for covered-but-untyped corners (e.g. an EMPTY
    // version state): the version's own read schema — emptyLike recovers
    // it from the table layout without touching the covered files
    lazy val versionSchema: StructType =
      StructType(engine.readVersion(table, version, schemaHint).schema
        .filterNot(_.name == Version.VersionColumn).toArray)
    val colTypes: Map[String, DataType] = cols.map { c =>
      c -> s.colTypes.getOrElse(c, residue match {
        case Some((_, schema)) => schema(s"${c}_min").dataType
        case None =>
          versionSchema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
            .getOrElse(throw new IllegalArgumentException(
              s"column '$c' not in table ${table.name.fullyQualifiedName} " +
                s"(schema: ${versionSchema.catalogString})"))
      })
    }.toMap

    val outSchema = StructType(
      (StructField("n_rows", LongType, nullable = false) +:
        cols.flatMap { c =>
          Seq(StructField(s"${c}_min", colTypes(c)), StructField(s"${c}_max", colTypes(c)),
            StructField(s"${c}_nulls", LongType, nullable = false))
        }).toArray)

    val totalRows = folded.rows + residue.map(_._1.getLong(0)).getOrElse(0L)
    val values: Seq[Any] = totalRows +: cols.zipWithIndex.flatMap { case (c, i) =>
      val dt = colTypes(c)
      val f = folded.cols.getOrElse(c, ColFold(None, None, 0L))
      val (rMin, rMax, rNulls) = residue match {
        case Some((r, _)) =>
          val base = 1 + i * 3
          (Option(r.get(base)), Option(r.get(base + 1)),
            if (r.isNullAt(base + 2)) 0L else r.getLong(base + 2))
        case None => (None, None, 0L)
      }
      Seq(
        combine(dt, f.min, rMin, takeMin = true).orNull,
        combine(dt, f.max, rMax, takeMin = false).orNull,
        f.nulls + rNulls)
    }
    spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(values)), outSchema)
  }

  // ------------------------------------------------------------------ core

  private def normalized(columns: Seq[String]): Seq[String] = {
    val cols = columns.map(_.toLowerCase)
    require(cols.distinct == cols, s"duplicate summary columns in $columns")
    cols
  }

  /** Partition the version into metadata-answerable files and the residue,
    * reading only (cached) manifests. `bounds` ⊆ cols need decodable
    * min/max per file; the rest need only a stats entry (exact
    * rows/nullCount) — COUNT of a NaN-touched column stays answerable. */
  private def split(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      cols: Seq[String],
      bounds: Set[String]): VersionSplit = {
    val conf = engine.spark.sparkContext.hadoopConfiguration

    // partition columns have no per-file stats (their value is the path) —
    // requesting one routes EVERYTHING through the residue scan: exact,
    // just not metadata-fast
    val partitionCols = table.partitionSchema.columns.map(_.name.toLowerCase).toSet
    val anyPartitionCol = cols.exists(partitionCols.contains)

    val manifests = scala.collection.mutable.Map.empty[String, Option[StatsManifest]]
    def manifestFor(v: Version): Option[StatsManifest] =
      manifests.getOrElseUpdate(v.label,
        TableStats.readManifestCached(conf, table.location, v.label))
    version match {
      case SnapshotTableVersion(v) if v != Version.Unversioned => manifestFor(v)
      case PartitionedTableVersion(pvs) =>
        pvs.valuesIterator.filter(_ != Version.Unversioned).foreach(manifestFor)
      case _ => ()
    }

    val manifestTypes: Map[String, DataType] = manifests.values.flatten
      .flatMap(_.files).flatMap(_.columns).toList
      .groupBy(_._1).view.mapValues(_.head._2.dataType).toMap
      .flatMap { case (c, ddl) =>
        try Some(c -> DataType.fromDDL(ddl)) catch { case _: Exception => None }
      }

    def fileAnswerable(f: FileStats): Boolean =
      !anyPartitionCol && cols.forall { c =>
        f.columns.get(c) match {
          case Some(cs) if !bounds.contains(c) =>
            true // rows + nullCount are always exact — enough for COUNT
          case Some(cs) =>
            // the fold decodes every file's bounds under ONE per-column
            // type; a file whose own recorded type diverged (mixed-schema
            // partitions from the documented unguarded insertInto-vs-
            // replaceAll race) must route to the residue, matching
            // planRead's per-file-type discipline — bounds written under a
            // different ordering must never decode under this one
            manifestTypes.get(c).exists { dt =>
              cs.dataType == dt.catalogString &&
                (f.rows == 0 || cs.nullCount == f.rows ||
                  Seq(cs.min, cs.max).forall(_.exists(s =>
                    decodeStored(dt.catalogString, s).isDefined &&
                      externalValue(dt, s).isDefined)))
            }
          case None => false
        }
      }

    version match {
      case SnapshotTableVersion(v) =>
        if (v == Version.Unversioned)
          VersionSplit(Nil, Some(version), manifestTypes)
        else manifestFor(v) match {
          case Some(m) if m.files.nonEmpty && m.files.forall(fileAnswerable) =>
            VersionSplit(m.files, None, manifestTypes)
          case _ => VersionSplit(Nil, Some(version), manifestTypes)
        }
      case PartitionedTableVersion(pvs) =>
        val parts = pvs.toList.map { case (p, v) =>
          val files =
            if (v == Version.Unversioned) Nil
            else manifestFor(v).map(_.filesFor(p.toHivePath)).getOrElse(Nil)
          if (files.nonEmpty && files.forall(fileAnswerable)) Left(files)
          else Right(p -> v)
        }
        val residue = parts.collect { case Right(pv) => pv }
        VersionSplit(
          parts.collect { case Left(fs) => fs }.flatten,
          if (residue.isEmpty) None else Some(PartitionedTableVersion(residue.toMap)),
          manifestTypes)
    }
  }

  /** Driver-side fold of answerable files into per-column externals. A
    * column without a (decodable) manifest type still folds its exact
    * null count — bounds stay None, which is all a COUNT request reads. */
  private def fold(
      files: List[FileStats], cols: Seq[String],
      colTypes: Map[String, DataType]): CoveredFold = {
    val perCol = cols.map { c =>
      c -> files.foldLeft(ColFold(None, None, 0L)) { (acc, fs) =>
        (fs.columns.get(c), colTypes.get(c)) match {
          case (Some(cs), Some(dt)) if fs.rows > 0 && cs.nullCount < fs.rows =>
            ColFold(
              combine(dt, acc.min, cs.min.flatMap(externalValue(dt, _)), takeMin = true),
              combine(dt, acc.max, cs.max.flatMap(externalValue(dt, _)), takeMin = false),
              acc.nulls + cs.nullCount)
          case (Some(cs), _) => acc.copy(nulls = acc.nulls + cs.nullCount)
          case (None, _)     => acc // file not answerable for c — caller excluded this
        }
      }
    }.toMap
    CoveredFold(files.map(_.rows).sum, perCol, colTypes.filter(kv => cols.contains(kv._1)))
  }

  /** MIN/MAX-combine two optional EXTERNAL values of the column's type.
    * Floats/doubles compare under Spark's aggregation ordering (NaN
    * greatest, so a residue NaN wins MAX exactly like `max()` would);
    * everything else goes through the manifest codec's family compare. */
  private def combine(
      dt: DataType, a: Option[Any], b: Option[Any], takeMin: Boolean): Option[Any] =
    (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(x), Some(y)) =>
        val c = compareExternal(dt, x, y)
        if ((c <= 0) == takeMin) Some(x) else Some(y)
    }

  private def compareExternal(dt: DataType, x: Any, y: Any): Int = (x, y) match {
    case (a: java.lang.Double, b: java.lang.Double) => java.lang.Double.compare(a, b)
    case (a: java.lang.Float, b: java.lang.Float)   => java.lang.Float.compare(a, b)
    case (a: String, b: String) => TableStats.utf8Compare(a, b)
    case _ =>
      val catalog = dt.catalogString
      (for {
        ex <- encodeValue(x); ey <- encodeValue(y)
        vx <- decodeStored(catalog, ex); vy <- decodeStored(catalog, ey)
        c <- compareVals(vx, vy)
      } yield c).getOrElse(throw new IllegalStateException(
        s"incomparable summary values '$x' / '$y' of type $catalog"))
  }

  /** Decode a manifest-encoded bound string into the EXTERNAL JVM value a
    * `Row` of the result schema carries. None = not representable under
    * the manifest type (answerability then routes to the residue). */
  private[graft] def externalValue(dt: DataType, encoded: String): Option[Any] =
    try dt match {
      case ByteType         => Some(encoded.toByte)
      case ShortType        => Some(encoded.toShort)
      case IntegerType      => Some(encoded.toInt)
      case LongType         => Some(encoded.toLong)
      case FloatType        => Some(encoded.toFloat)
      case DoubleType       => Some(encoded.toDouble)
      case _: DecimalType   => Some(new java.math.BigDecimal(encoded))
      case StringType       => Some(encoded)
      case DateType         => Some(java.sql.Date.valueOf(java.time.LocalDate.parse(encoded)))
      case TimestampType    => Some(java.sql.Timestamp.from(java.time.Instant.parse(encoded)))
      case TimestampNTZType => Some(java.time.LocalDateTime.parse(encoded))
      case BooleanType      => Some(encoded.toBoolean)
      case _                => None
    } catch { case _: Exception => None }
}
