package graft.operators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, collect_set, concat, count, length, lit,
  raise_error, struct, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.net.URI

/**
 * Merge-on-read DELETE via positional deletion vectors — the 100 TB answer
 * for SELECTIVE deletes (GDPR row removal, spot de-duplication): a
 * one-in-a-billion-row delete must move O(matched rows) bytes, not rewrite
 * whole partitions the way [[VersionedDml.deleteWhere]]'s copy-on-write
 * rewrite does. Same shape as Delta deletion vectors / Iceberg positional
 * delete files, re-expressed on this engine's immutable version
 * directories:
 *
 *   - the delete SCANS the matched rows once and writes only their
 *     positions — `(file_path, row_index)` pairs from Spark's `_metadata`
 *     struct — as small parquet files;
 *   - the commit repoints each affected partition to a fresh
 *     DELETION-VECTOR VERSION (label flagged via
 *     [[graft.core.Version.generateDeleteMarker]] — a pure bit in the
 *     existing label format, so every codec/store/path carries it
 *     unchanged and a reader can recognize it with ZERO I/O). The marker's
 *     directory holds the DV files under `_dv/` plus a `_base.json` naming
 *     the DATA version it filters; the commit also records the binding as
 *     [[graft.core.TableOperation.SetVersionBase]] so retention can pin
 *     live markers' bases without touching the filesystem;
 *   - reads of a marker version load the BASE version's data files and
 *     anti-join the DV on `(file_path, row_index)` — O(matched rows)
 *     extra work, only on the partitions that carry DVs. The DV side is
 *     broadcast ONLY when its summed on-disk size is under a threshold
 *     (`spark.graft.dv.broadcastThreshold`, defaulting to the session's
 *     `spark.sql.autoBroadcastJoinThreshold`): a bulk delete's multi-GB
 *     vector must not be forced past Spark's size-based planning onto
 *     every executor — above the gate the join plans as a plain shuffled
 *     left_anti;
 *   - time travel is untouched: pre-delete commits point at the base
 *     version directly; the fold and every wire format see ordinary
 *     partition→version ops;
 *   - a second DV delete on the same partition REBASES to depth 1: the new
 *     marker's DV is the union of the old entries and the new matches, and
 *     `_base.json` keeps naming the original DATA version — reads always
 *     resolve in one hop;
 *   - `compact` (SQL OPTIMIZE) FOLDS DVs for free: its read applies them,
 *     and its rewrite commits a plain data version that resets the
 *     partition.
 *
 * Boundaries, all loud: parquet only (`_metadata.row_index` is a parquet
 * reader capability); snapshot tables refuse (a snapshot version is one
 * self-contained unit — rewriting it IS the merge-on-read-free answer);
 * adopted (unversioned) partitions refuse (their data sits at the
 * partition root, which has no stable file set to anchor positions to);
 * Hive/Glue catalog sync REFUSES marker versions by default (an external
 * reader pointed at a marker directory would silently read empty — fold
 * with compact/OPTIMIZE before syncing); `spark.graft.dv.catalogSync=base`
 * opts into the degraded mode that syncs the markers' BASE versions with a
 * loud warning (external readers then see pre-delete rows until folded).
 * Chronicles export refuses unconditionally (the wire format cannot carry
 * the binding).
 *
 * Positions anchor to file paths RELATIVE to the table root, so relocating
 * the whole table directory (copy + re-point `TableDefinition.location`)
 * keeps every DV valid. Legacy DVs written by earlier releases carried
 * absolute paths: reads migrate them transparently while the table sits at
 * the root they were written under (the prefix strips on the fly), and
 * REFUSE loudly — rather than silently resurrecting deleted rows — if such
 * a table is relocated with live legacy DVs (fold before moving, the old
 * rule, now enforced instead of documented).
 *
 * Bulk-delete guard: when the candidate partitions' stats manifests cover
 * their row counts, a DML matching more than
 * `spark.graft.dv.maxDeleteFraction` (default 0.5) of those rows refuses —
 * merge-on-read is the SELECTIVE-delete tool; at that match rate the
 * copy-on-write rewrite moves comparable bytes once instead of taxing
 * every subsequent read with a giant anti-join.
 */
object DeleteVectors {

  /** What a DV delete did: the committed state + the affected partitions
    * (empty = the predicate matched nothing; no commit happened) and the
    * number of NEWLY deleted row positions. */
  final case class DvDeleteResult(
      version: TableVersion,
      changes: TableChanges,
      affected: List[Partition],
      deletedRows: Long)

  private val FileCol = "_graft_dv_file"
  private val PosCol = "_graft_dv_pos"

  /** Max on-disk DV bytes that still broadcast the anti-join side (size
    * string or bytes; default = `spark.sql.autoBroadcastJoinThreshold`). */
  val BroadcastThresholdKey = "spark.graft.dv.broadcastThreshold"

  /** Refuse a merge-on-read DML whose matched rows exceed this fraction of
    * the candidate partitions' manifest-known row counts (default 0.5; set
    * >= 1.0 to disable). Only enforced when every candidate's base version
    * has a stats manifest — unknown sizes never block. */
  val MaxDeleteFractionKey = "spark.graft.dv.maxDeleteFraction"

  /** When a merge-on-read DML hits a partition already carrying an
    * UPDATE-marker, fold JUST that partition inline and proceed (default
    * true) — bytes moved = the hot partition once, and position chains stay
    * at depth 1 by construction. `false` restores the old loud refusal. */
  val AutoFoldUpdateMarkersKey = "spark.graft.dv.autoFoldUpdateMarkers"

  /** DV file schema: data-file path RELATIVE to the table root + row
    * position within it (legacy files hold absolute paths; reads migrate
    * them on the fly — see the class doc). */
  private[operators] val DvSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false)))

  /** The table root as the scan's `_metadata.file_path` renders it
    * (filesystem-qualified, trailing slash) — the prefix DV entries are
    * relativized against. Spark renders the metadata column via
    * `SparkPath.fromPath(file).toString`, i.e. the Hadoop path's
    * `toUri.toString` (URL-ENCODED: a location with spaces reads back as
    * `%20`), so the prefix must round-trip through the SAME encoder — a
    * plain `Path.toString` (decoded) would mismatch on any URI-reserved
    * character and fail every DV read of such a table through the loud
    * outside-the-root guard in [[relativeToRoot]]. A truly divergent
    * rendering still fails that guard rather than mis-joining. */
  private[operators] def qualifiedRootPrefix(
      conf: org.apache.hadoop.conf.Configuration, location: URI): String = {
    val p = new org.apache.hadoop.fs.Path(location)
    val u = p.getFileSystem(conf).makeQualified(p).toUri
    // render like Hadoop Path.toString (drop an EMPTY authority: "file:/x",
    // never "file:///x" — the form the scan's metadata column uses) but
    // keep the RAW (encoded) path, which Path.toString would decode
    val sb = new StringBuilder
    if (u.getScheme != null) sb.append(u.getScheme).append(':')
    val auth = u.getRawAuthority
    if (auth != null && auth.nonEmpty) sb.append("//").append(auth)
    sb.append(u.getRawPath)
    val q = sb.toString
    if (q.endsWith("/")) q else q + "/"
  }

  /** DATA-side join key: the scan's absolute `_metadata.file_path`
    * relativized to the table root. Loud on a file outside the root — that
    * means the prefix rendering diverged and rows would silently escape
    * their DV. */
  private def relativeToRoot(c: Column, rootPrefix: String): Column =
    when(c.startsWith(rootPrefix), c.substr(lit(rootPrefix.length + 1), length(c)))
      .otherwise(raise_error(concat(
        lit(s"graft DV: data file outside the table root '$rootPrefix': "), c)))

  /** DV-side join key (migrate-on-read): relative entries pass through;
    * LEGACY absolute entries written under the CURRENT root strip to
    * relative on the fly; an absolute entry under a DIFFERENT root means
    * the table was relocated with live legacy DVs — matching nothing would
    * silently resurrect deleted rows, so raise instead (fold before
    * moving). */
  private def normalizeDvPath(c: Column, rootPrefix: String): Column = {
    val absolute = c.startsWith("/") || c.rlike("^[A-Za-z][A-Za-z0-9+.-]*:/")
    when(c.startsWith(rootPrefix), c.substr(lit(rootPrefix.length + 1), length(c)))
      .when(!absolute, c)
      .otherwise(raise_error(concat(
        lit("graft DV: legacy absolute DV entry not under the current table root " +
          s"'$rootPrefix' — the table was relocated with live pre-relative-path " +
          "deletion vectors; restore it to the original location and fold " +
          "(compact / SQL OPTIMIZE) before moving. Entry: "), c)))
  }

  private def dvBroadcastThreshold(spark: SparkSession): Long = {
    val s = spark.conf.get(BroadcastThresholdKey,
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
  }

  /** Broadcast the DV side only under the size gate; above it (or with the
    * threshold disabled, < 0) the anti-join is left to Spark's own
    * size-based planning — a shuffled left_anti for a genuinely large DV. */
  private def gateBroadcast(spark: SparkSession, dv: DataFrame, bytes: Long): DataFrame = {
    val t = dvBroadcastThreshold(spark)
    if (t >= 0 && bytes <= t) broadcast(dv) else dv
  }

  private[operators] def dvDir(table: TableDefinition, p: Partition, marker: Version): URI = {
    val versionDir = VersionPaths.pathFor(p.resolvePath(table.location), marker)
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(versionDir), "_dv").toUri
  }

  private def basePath(table: TableDefinition, p: Partition, marker: Version) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(VersionPaths.pathFor(p.resolvePath(table.location), marker)),
      "_base.json")

  private[operators] def writeBase(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, p: Partition, marker: Version, base: Version): Unit = {
    val path = basePath(table, p, marker)
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    try out.write(s"""{"base": "${base.label}"}""".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The DATA version a marker filters, from its `_base.json`. Loud on a
    * missing or unparseable document: a marker without its base is a
    * corrupt state — reading past it would silently show an empty
    * partition. Served from the immutable-marker cache after the first
    * read. */
  private[operators] def readBase(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, p: Partition, marker: Version): Version =
    markerMeta(conf, table, p, marker)._1

  private def readBaseUncached(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, p: Partition, marker: Version): Version = {
    val path = basePath(table, p, marker)
    val fs = path.getFileSystem(conf)
    val in =
      try fs.open(path)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"deletion-vector version ${marker.label} of partition '${p.toPath}' " +
              s"(${table.name.fullyQualifiedName}) has no _base.json — corrupt DV state", e)
      }
    val json = try {
      val baos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, baos, 8192, false)
      baos.toString("UTF-8")
    } finally in.close()
    val label = "\"base\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"unparseable _base.json for ${marker.label} of '${p.toPath}': $json"))
    Version.parse(label).fold(
      err => throw new IllegalStateException(s"bad base label in _base.json: $err"),
      identity)
  }

  /** A marker version's metadata — its base version and whether its
    * directory carries DATA files (an UPDATE-marker) — is IMMUTABLE once
    * the marker is committed (everything under `_version=<marker>` is
    * written before the commit and never touched again), so one JVM-wide
    * cache keyed by the marker directory serves every later read without
    * re-probing the filesystem. Vacuum deleting an EXPIRED marker leaves a
    * stale entry behind, which is harmless: expired markers are no longer
    * referenced by any retained state, so nothing resolves them. The cache
    * is a SIZE-BOUNDED LRU: a long-lived driver touching millions of
    * markers re-probes cold ones instead of growing without bound, and —
    * because entries are a pure function of the immutable marker dir —
    * eviction can never change a result (law pinned by the spec). */
  /** (base version, has own data files, DV sidecar bytes) of a marker. */
  private type MarkerMeta = (Version, Boolean, Long)

  private val MarkerMetaCacheMax = 8192

  /** LOCK-STRIPED bounded LRU: the cache sits on the steady read path of
    * every DV table in the driver, so one global monitor would serialize
    * concurrent reads across ALL tables (round-15 advice). 16 stripes, each
    * its own synchronized LRU bounded at Max/16 — contention drops 16×, and
    * a MISS computes inside its stripe's lock, so concurrent misses on the
    * SAME marker never duplicate the filesystem probes (a miss on a
    * different stripe proceeds unblocked; same-stripe different-key misses
    * briefly serialize — the bounded price of dogpile protection). */
  private val markerMetaStripes: Array[java.util.LinkedHashMap[String, MarkerMeta]] =
    Array.fill(16)(new java.util.LinkedHashMap[String, MarkerMeta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, MarkerMeta]): Boolean =
        size() > MarkerMetaCacheMax / 16
    })

  private def stripeFor(key: String) =
    markerMetaStripes(math.floorMod(key.hashCode, markerMetaStripes.length))

  /** Test hook: drop every cached marker entry. Results must be identical
    * before and after — the purity law of the cache. */
  private[graft] def clearMarkerMetaCache(): Unit = {
    markerMetaStripes.foreach(s => s.synchronized { s.clear() })
    dvRowCountStripes.foreach(s => s.synchronized { s.clear() })
  }

  /** Exact row count of a marker's DV sidecar, summed from the parquet
    * FOOTERS on the driver — what `spark.read.parquet(dir).count()` returns
    * (a parquet count is itself footer-served), minus the Spark job: the
    * bulk-match guard needs this once per guarded DV statement, and a
    * whole scheduler round-trip for a few tiny immutable sidecar files was
    * the statement's only non-write job. Cached JVM-wide under the same
    * immutability argument as [[markerMeta]] (everything under a marker
    * dir is written before the commit and never touched again); bounded
    * LRU stripes like the marker-meta cache. */
  private val dvRowCountStripes: Array[java.util.LinkedHashMap[String, java.lang.Long]] =
    Array.fill(16)(new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > MarkerMetaCacheMax / 16
    })

  private[operators] def dvRowCount(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, p: Partition, marker: Version): Long = {
    val key = dvDir(table, p, marker).toString
    val stripe = dvRowCountStripes(math.floorMod(key.hashCode, dvRowCountStripes.length))
    stripe.synchronized {
      Option(stripe.get(key)).map(_.longValue).getOrElse {
        val dir = new org.apache.hadoop.fs.Path(dvDir(table, p, marker))
        val fs = dir.getFileSystem(conf)
        // the same file set a Spark parquet read of the directory uses:
        // every non-hidden file (no extension filter — Spark applies none)
        val rows = fs.listStatus(dir).iterator
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map { s =>
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
            try reader.getRecordCount finally reader.close()
          }.sum
        stripe.put(key, rows)
        rows
      }
    }
  }

  private def markerMeta(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, p: Partition, marker: Version): MarkerMeta = {
    val key = VersionPaths.pathFor(p.resolvePath(table.location), marker).toString
    val stripe = stripeFor(key)
    stripe.synchronized {
      Option(stripe.get(key)).getOrElse {
        val dirUri = VersionPaths.pathFor(p.resolvePath(table.location), marker)
        val base = readBaseUncached(conf, table, p, marker)
        val dir = new org.apache.hadoop.fs.Path(dirUri)
        val fs = dir.getFileSystem(conf)
        val hasData =
          try fs.listStatus(dir).exists(s =>
            s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          catch { case _: java.io.FileNotFoundException => false }
        val dvBytes =
          try fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_dv"))
            .iterator.filter(_.isFile).map(_.getLen).sum
          catch { case _: java.io.FileNotFoundException => 0L }
        val computed = (base, hasData, dvBytes)
        stripe.put(key, computed)
        computed
      }
    }
  }

  /** Summed on-disk bytes of the markers' DV sidecars — the size the
    * broadcast gate compares against the threshold. Served from the
    * immutable-marker cache: zero filesystem listings on the steady read
    * path. */
  private def markerDvBytes(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, markers: Seq[(Partition, Version)]): Long =
    markers.iterator.map { case (p, m) => markerMeta(conf, table, p, m)._3 }.sum

  /** Whether a marker version's directory carries DATA files of its own —
    * an UPDATE-marker ([[DvOps.updateWhereDV]] writes the post-update rows
    * there, beside the DV that hides their pre-images). Served from the
    * immutable-marker cache after the first probe. */
  private[operators] def markerHasData(
      conf: org.apache.hadoop.conf.Configuration,
      table: TableDefinition, p: Partition, marker: Version): Boolean =
    markerMeta(conf, table, p, marker)._2

  /** Read the given DELETION-VECTOR partitions: base data files PLUS any
    * update-marker data files, minus the DV positions — partition columns
    * recovered by discovery exactly like the plain read path (one load for
    * all partitions; root-relative file paths make DV entries globally
    * unambiguous within the table, so a single anti-join covers every
    * partition — broadcast only under the size gate). Marker data files
    * never appear in a DV (their rows are the post-images), so they pass
    * the anti-join untouched. */
  private[operators] def readDvPartitions(
      engine: VersionedTables,
      table: TableDefinition,
      dvParts: Map[Partition, Version],
      schemaHint: Option[StructType],
      // data-skipping hook: a pre-pruned BASE file list (from planRead over
      // the base versions) replaces the whole base directories — DV entries
      // anchor to absolute file paths, so the anti-join is indifferent to
      // which subset of files is loaded. Update-marker dirs are appended
      // either way: their rows have no manifest and can never be pruned.
      dataPathsOverride: Option[Seq[String]] = None): DataFrame = {
    val conf = engine.spark.sparkContext.hadoopConfiguration
    val sorted = dvParts.toSeq.sortBy(_._1.toPath)
    val markerDataDirs = sorted.collect {
      case (p, m) if markerHasData(conf, table, p, m) =>
        VersionedTables.uriToLoadPath(VersionPaths.pathFor(p.resolvePath(table.location), m))
    }
    val dataPaths = dataPathsOverride.getOrElse(sorted.map { case (p, m) =>
      VersionedTables.uriToLoadPath(
        VersionPaths.pathFor(p.resolvePath(table.location), readBase(conf, table, p, m)))
    }) ++ markerDataDirs
    val dvPaths = sorted.map { case (p, m) => VersionedTables.uriToLoadPath(dvDir(table, p, m)) }
    val rootPrefix = qualifiedRootPrefix(conf, table.location)
    val reader = engine.spark.read.format(table.format.name).options(table.options)
    val data = schemaHint.fold(reader)(h =>
        reader.schema(VersionedTables.hintLoadSchema(table, h)))
      .option("basePath", VersionedTables.uriToLoadPath(table.location))
      .load(dataPaths: _*)
      .withColumn(FileCol, relativeToRoot(col("_metadata.file_path"), rootPrefix))
      .withColumn(PosCol, col("_metadata.row_index"))
    val dv = engine.spark.read.schema(DvSchema).parquet(dvPaths: _*)
      .select(normalizeDvPath(col("file_path"), rootPrefix).as("file_path"),
        col("row_index"))
    data.join(gateBroadcast(engine.spark, dv, markerDvBytes(conf, table, sorted)),
        data(FileCol) === dv("file_path") && data(PosCol) === dv("row_index"),
        "left_anti")
      .drop(FileCol, PosCol, Version.VersionColumn)
  }

  implicit final class DvOps(private val engine: VersionedTables) extends AnyVal {

    /** Merge-on-read DELETE: rows of the CURRENT version where `predicate`
      * is TRUE (SQL three-valued — NULL keeps the row) become invisible via
      * a deletion-vector commit; zero data bytes are rewritten. One call =
      * one atomic commit, CAS'd on the head read at entry. See
      * [[DeleteVectors]] for the model and its loud boundaries. */
    def deleteWhereDV(
        table: TableDefinition,
        predicate: Column,
        userId: UserId,
        message: String): DvDeleteResult =
      DeleteVectors.runDvDml(engine, table, predicate, set = None, userId, message)

    /** Merge-on-read UPDATE: matched rows' PRE-images become invisible via
      * the deletion vector while their POST-images (SET expressions over
      * the OLD row, like [[VersionedDml.DmlOps.updateWhere]]) are written
      * as the marker version's own data files — bytes moved are
      * O(matched rows), never a partition rewrite. Rows already deleted by
      * an earlier DV can never resurrect (the match runs against the
      * DV-applied live set). Stacking a second merge-on-read DML onto an
      * UPDATE-marker auto-folds JUST the marker partitions inline first
      * (position chains stay at depth 1 by construction; disable with
      * [[DeleteVectors.AutoFoldUpdateMarkersKey]]=false to get the old
      * loud refusal). */
    def updateWhereDV(
        table: TableDefinition,
        predicate: Column,
        set: Map[String, Column],
        userId: UserId,
        message: String): DvDeleteResult = {
      require(set.nonEmpty, "updateWhereDV needs at least one SET column")
      val partColsLower = table.partitionSchema.columnNames.map(_.toLowerCase).toSet
      set.keys.foreach { c =>
        require(!partColsLower.contains(c.toLowerCase),
          s"UPDATE cannot SET partition column '$c' — a row changing partition would " +
            "need its destination partition rewritten too; use mergeInto for moves")
      }
      DeleteVectors.runDvDml(engine, table, predicate, Some(set), userId, message)
    }
  }

  /** The shared merge-on-read DML engine behind [[DvOps.deleteWhereDV]] and
    * [[DvOps.updateWhereDV]]: prune candidates, resolve bases (depth-1),
    * scan the DV-applied live rows once, write the new DV to a temporary
    * directory while observing the matches, run the bulk guard on those
    * counts, then move the DV (and for UPDATE write the post-image data
    * files) under one fresh marker version and commit with a CAS on the
    * entry head. */
  private def runDvDml(
      engine: VersionedTables,
      table: TableDefinition,
      predicate: Column,
      set: Option[Map[String, Column]],
      userId: UserId,
      message: String,
      refolded: Boolean = false): DvDeleteResult = {
    val verb = if (set.isDefined) "updateWhereDV" else "deleteWhereDV"
    require(table.format == FileFormat.Parquet,
      s"$verb needs parquet (row positions come from the reader's " +
        "_metadata.row_index); use the copy-on-write DML for other formats")
    require(!table.isSnapshot,
      s"$verb applies to partitioned tables — a snapshot version is one " +
        "self-contained unit; use the copy-on-write DML, which rewrites it")
    val spark = engine.spark
    val conf = spark.sparkContext.hadoopConfiguration

    // bounded state read: head + visible version + every (partition, marker)
    // → base binding come from the store's fold checkpoint + commit tail —
    // O(partitions + tail) however long the history, never a full replay
    val state = engine.tracker.headState(table.name)
    val head = state.head
    val snapshot = state.version
    // the schema the log recorded at the pinned head plans every scan below
    // (no footer schema-inference job); histories without a record infer
    val recorded = VersionedTables.parseSchemaJson(state.schemaJson)
    val pvs = snapshot match {
      case PartitionedTableVersion(m) => m
      case _ => throw new IllegalStateException(
        s"${table.name} initialised as snapshot but definition says partitioned")
    }
    if (pvs.isEmpty) return DvDeleteResult(snapshot, TableChanges.empty, Nil, 0L)

    // candidate pruning first (partition values / stats / Blooms — no
    // false negatives; update-marker partitions stay in unconditionally,
    // delete-markers prune through their BASE manifests)
    val candidates = TableStats.partitionsMayMatch(engine, table, pvs, predicate)
    if (candidates.isEmpty) return DvDeleteResult(snapshot, TableChanges.empty, Nil, 0L)
    candidates.foreach { case (p, v) =>
      require(v != Version.Unversioned,
        s"$verb: partition '${p.toPath}' is adopted (unversioned) data — its " +
          "files sit at the partition root with no stable set to anchor positions to; " +
          "compact or rewrite it into a versioned state first")
    }

    // an UPDATE-marker candidate (data files of its own) can't be rebased —
    // its post-update rows live outside the base, and carrying them forward
    // would chain positional references. Fold EXACTLY those partitions
    // inline (bytes moved = the hot partitions once, depth stays 1 by
    // construction) and re-run against the folded state; the old loud
    // refusal stays available behind the conf.
    val updateMarkers = candidates.collect {
      case (p, v) if Version.isDeleteMarker(v) && markerHasData(conf, table, p, v) => p
    }.toSet
    if (updateMarkers.nonEmpty) {
      val autoFold =
        spark.conf.get(AutoFoldUpdateMarkersKey, "true").trim.equalsIgnoreCase("true")
      require(autoFold, s"partition(s) ${updateMarkers.map(_.toPath).toList.sorted.mkString(", ")} " +
        "carry a merge-on-read UPDATE version — fold them (compact / SQL OPTIMIZE) " +
        s"before stacking another merge-on-read DML, set $AutoFoldUpdateMarkersKey=true " +
        "to fold them inline, or use the copy-on-write DML")
      require(!refolded,
        "internal: update-markers survived an inline fold — refusing to loop")
      // bulk-fraction ESTIMATE before the fold commit: a DML the guard
      // refuses must not leave a folded-partition rewrite behind (the fold
      // is semantically a no-op, but a refused statement that mutated the
      // commit log is a surprise). One pruned scan of the candidates' live
      // view (base + update-marker post-images − DV) against the
      // manifest-known base totals; the precise CUMULATIVE guard still runs
      // after the fold on the re-entry, so a rare near-threshold statement
      // can fold and then refuse — never the bulk case this estimate stops.
      val maxFraction = spark.conf.get(MaxDeleteFractionKey, "0.5").toDouble
      if (maxFraction < 1.0) {
        val counted = candidates.toSeq.map { case (p, v) =>
          val b = if (Version.isDeleteMarker(v))
            state.versionBases.getOrElse((p, v), readBase(conf, table, p, v)) else v
          TableStats.readManifestCached(conf, table.location, b.label)
            .map(_.filesFor(p.toHivePath).map(_.rows).sum)
        }
        if (counted.forall(_.isDefined)) {
          val total = counted.flatten.sum
          if (total > 0) {
            val estimate = engine.readVersion(table, PartitionedTableVersion(candidates), recorded)
              .filter(coalesce(predicate, lit(false))).count()
            if (estimate > maxFraction * total)
              throw new IllegalArgumentException(
                f"$verb matched $estimate of ~$total rows " +
                  f"(${estimate.toDouble / total}%.2f > $MaxDeleteFractionKey=$maxFraction) " +
                  "in the candidate partitions — a bulk merge-on-read DML builds a " +
                  "deletion vector every later read must anti-join; use the " +
                  "copy-on-write DML (deleteWhere/updateWhere, or " +
                  "spark.graft.delete.mode=cow) or raise the fraction")
          }
        }
      }
      engine.foldDeleteVectors(table, userId,
        s"auto-fold update-marker partitions before $verb", keep = updateMarkers)
      return runDvDml(engine, table, predicate, set, userId, message, refolded = true)
    }

    // resolve every candidate to its DATA version: the commit log already
    // carries every (partition, marker)→base binding (SetVersionBase), and
    // headState serves them from the fold extras — zero _base.json reads on
    // the steady path (the sidecar stays the fallback for adopted stores
    // whose history predates the binding ops)
    val bases: Map[Partition, Version] = candidates.map { case (p, v) =>
      p -> (if (Version.isDeleteMarker(v))
              state.versionBases.getOrElse((p, v), readBase(conf, table, p, v))
            else v)
    }
    val partCols = table.partitionSchema.columnNames
    val sortedCand = bases.toSeq.sortBy(_._1.toPath)
    val dataPaths = sortedCand.map { case (p, b) =>
      VersionedTables.uriToLoadPath(VersionPaths.pathFor(p.resolvePath(table.location), b))
    }
    val rootPrefix = qualifiedRootPrefix(conf, table.location)
    val reader = spark.read.format(table.format.name).options(table.options)
    val raw = recorded.fold(reader)(h => reader.schema(VersionedTables.hintLoadSchema(table, h)))
      .option("basePath", VersionedTables.uriToLoadPath(table.location))
      .load(dataPaths: _*)
      .withColumn(FileCol, relativeToRoot(col("_metadata.file_path"), rootPrefix))
      .withColumn(PosCol, col("_metadata.row_index"))

    // existing DV entries of the candidate markers, normalized to
    // root-relative on the way (migrate-on-rebase: a rebase of a legacy
    // absolute-path DV writes the relative form forward). They are
    // subtracted from the match scan — decisive for UPDATE: a row an
    // earlier DV deleted can never resurrect as a post-image — and carried
    // into the new DV of every partition this statement affects (depth-1
    // rebase). The subtraction also makes new and carried entries
    // disjoint, so their union needs no de-duplication.
    val oldMarkers = candidates.toSeq.collect {
      case (p, m) if Version.isDeleteMarker(m) => (p, m)
    }.sortBy(_._1.toPath)
    def dvEntries(markers: Seq[(Partition, Version)]): DataFrame =
      spark.read.schema(DvSchema)
        .parquet(markers.map { case (p, m) => VersionedTables.uriToLoadPath(dvDir(table, p, m)) }: _*)
        .select(normalizeDvPath(col("file_path"), rootPrefix).as("file_path"),
          col("row_index"))
    val live =
      if (oldMarkers.isEmpty) raw
      else {
        val dv = dvEntries(oldMarkers)
        raw.join(gateBroadcast(spark, dv, markerDvBytes(conf, table, oldMarkers)),
          raw(FileCol) === dv("file_path") && raw(PosCol) === dv("row_index"), "left_anti")
      }

    val matchCond = coalesce(predicate, lit(false))
    // UPDATE reads the matched rows twice (DV entries, then post-images):
    // persisted, so both come from ONE evaluation of the predicate
    val matched =
      if (set.isEmpty) live.filter(matchCond)
      else live.filter(matchCond).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val marker = Version.generateDeleteMarker()

      // (1) ONE write puts the new DV entries — plus the carried entries of
      // every stacked candidate — under `_tmp_dv_<marker>/<partition>`, and
      // OBSERVES the new matches during it: their count and the partitions
      // holding them, so match discovery costs no job of its own. Small
      // inputs run as one task, larger ones shuffle by partition: either way
      // each partition's DV is one file. Nothing is under a `_version=`
      // directory yet.
      val partExprs = partCols.map(c => col(s"`$c`"))
      val obs = Observation(s"graft_dv_${marker.label}")
      val newEntries = matched.select((partExprs :+
          col(FileCol).as("file_path")) :+ col(PosCol).as("row_index"): _*)
        .observe(obs, count(lit(1)).as("n"), collect_set(struct(partExprs: _*)).as("parts"))
      val carried: Seq[DataFrame] = oldMarkers.map { case (p, m) =>
        val withCols = partCols.zipWithIndex.foldLeft(dvEntries(Seq(p -> m))) {
          case (df, (c, i)) =>
            val value = p.columnValues(i).value
            df.withColumn(c,
              if (value == PathCodec.DefaultPartitionName) lit(null).cast("string")
              else lit(value))
        }
        withCols.select((partExprs :+ col("file_path")) :+ col("row_index"): _*)
      }
      val allDv = carried.foldLeft(newEntries)(_.unionByName(_))
      val tmp = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(table.location), s"_tmp_dv_${marker.label}")
      val fs = tmp.getFileSystem(conf)
      val (affected, matchedRows) = try {
        val arranged =
          if (VersionedTables.writesAsOneTask(allDv)) allDv.coalesce(1)
          else allDv.repartition(partExprs: _*)
        arranged.write.partitionBy(partCols: _*).mode("overwrite")
          .options(VersionedTables.NoSuccessMarker)
          .parquet(tmp.toString)
        val metrics = obs.get
        val matchedRows = metrics("n").asInstanceOf[Long]
        // Value→Partition conversion mirrors VersionedTables.partitionValues:
        // null and "" collapse into the default-partition dir
        val affected = metrics("parts").asInstanceOf[scala.collection.Seq[Row]]
          .map(VersionedTables.partitionOf(_, partCols))
          .distinct.filter(pvs.contains).sortBy(_.toPath).toList
        if (affected.isEmpty) return DvDeleteResult(snapshot, TableChanges.empty, Nil, 0L)
        val affectedSet = affected.toSet

        // (2) bulk-match guard, on the observed counts, before anything moves
        // under a `_version=` directory (a refusal leaves only the temporary
        // directory, removed below): when the stats manifests know every
        // AFFECTED partition's row count, refuse if the CUMULATIVE deletion
        // vector — carried-forward old entries PLUS this statement's new
        // matches — would exceed the configured fraction of those
        // partitions' base rows. Counting the carried entries is what keeps
        // repeated sub-threshold deletes honest: 40% then 40% of the
        // remainder must trip the cap the second time, because the read tax
        // the guard bounds is the WHOLE anti-join, not one increment. The DV
        // this DML would build taxes every subsequent read; copy-on-write
        // moves comparable bytes ONCE at that selectivity. Partitions
        // without a manifest leave the total unknown and the guard silent
        // (never a false refusal).
        val maxFraction = spark.conf.get(MaxDeleteFractionKey, "0.5").toDouble
        if (maxFraction < 1.0) {
          val counted = affected.map { p =>
            TableStats.readManifestCached(conf, table.location, bases(p).label)
              .map(_.filesFor(p.toHivePath).map(_.rows).sum)
          }
          if (counted.forall(_.isDefined)) {
            val total = counted.flatten.sum
            // footer-count only, ON THE DRIVER: DV sidecars are a few small
            // immutable files, so their exact row count comes from cached
            // footer reads, not a Spark job
            val carriedRows = oldMarkers.iterator.collect {
              case (p, m) if affectedSet(p) => dvRowCount(conf, table, p, m)
            }.sum
            if (total > 0 && matchedRows + carriedRows > maxFraction * total)
              throw new IllegalArgumentException(
                f"$verb would leave a deletion vector of ${matchedRows + carriedRows} " +
                  f"($matchedRows new + $carriedRows carried) of ~$total base rows " +
                  f"(${(matchedRows + carriedRows).toDouble / total}%.2f > " +
                  f"$MaxDeleteFractionKey=$maxFraction) in the affected partitions — " +
                  "a bulk merge-on-read DML builds a deletion vector every later " +
                  "read must anti-join; use the copy-on-write DML " +
                  "(deleteWhere/updateWhere, or spark.graft.delete.mode=cow), fold " +
                  "first (compact / SQL OPTIMIZE), or raise the fraction")
          }
        }

        // UPDATE: the post-images land as the marker version's own data
        // files through the one shared versioned writer (assignments see the
        // OLD row — staged into temp columns first so later SETs cannot read
        // earlier SETs' results, exactly like the copy-on-write updateWhere)
        val postImages = set.map { assignments =>
          val staged = assignments.zipWithIndex.foldLeft(matched: DataFrame) {
            case (d, ((_, e), i)) => d.withColumn(s"_dv_set_$i", e)
          }
          val swapped = assignments.zipWithIndex.foldLeft(staged) {
            case (d, ((c, _), i)) => d.withColumn(c, col(s"_dv_set_$i"))
          }
          val updated = assignments.zipWithIndex.foldLeft(swapped) {
            case (d, (_, i)) => d.drop(s"_dv_set_$i")
          }.drop(FileCol, PosCol)
          // a SET that RETYPES a column would leave the marker's post-image
          // files under a different schema than the base files of the SAME
          // partition version — a mix no read contract covers. The
          // copy-on-write updateWhere rewrites whole partitions and records
          // the schema; this path refuses instead.
          def shape(s: StructType) = s.fields.iterator
            .map(f => (f.name.toLowerCase, f.dataType.catalogString)).toSet
          val originalShape = shape(StructType(
            matched.schema.filterNot(f => f.name == FileCol || f.name == PosCol).toArray))
          require(shape(updated.schema) == originalShape,
            s"updateWhereDV cannot RETYPE columns (post-image files would mix schemas " +
              s"with the base files of the same version): got " +
              s"${updated.schema.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(", ")} " +
              "— cast the SET expression back to the column's type, or use the " +
              "copy-on-write updateWhere")
          updated
        }

        // (3) O(affected) renames slot the DV files under their marker
        // directories; the carried entries of unaffected candidates stay in
        // the temporary directory and go with it
        affected.foreach { p =>
          val src = new org.apache.hadoop.fs.Path(tmp, p.toHivePath)
          require(fs.exists(src), s"DV write produced no output for '${p.toPath}'")
          val dst = new org.apache.hadoop.fs.Path(dvDir(table, p, marker))
          fs.mkdirs(dst.getParent)
          require(fs.rename(src, dst), s"failed to move DV files into $dst")
          writeBase(conf, table, p, marker, bases(p))
        }
        // (4) UPDATE's post-images: one more write, into the same markers
        postImages.foreach(VersionedTables.writeDataVersioned(_, table, marker))
        (affected, matchedRows)
      } finally { fs.delete(tmp, true); () }

      val ops: List[TableOperation] = affected.flatMap(p => List(
        TableOperation.AddPartitionVersion(p, marker),
        TableOperation.SetVersionBase(p, marker, bases(p))))
      val (tv, changes) = engine.versioned.commitIf(
        table.name, TableUpdate(userId, message, java.time.Instant.now(), ops), head)
      DvDeleteResult(tv, changes, affected, matchedRows)
    } finally { if (set.isDefined) matched.unpersist(blocking = false); () }
  }
}
