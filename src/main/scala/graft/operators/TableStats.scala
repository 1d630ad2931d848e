package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, count, lit, max, min, udaf, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.net.URI
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/**
 * Commit-time file/column statistics + data-skipping reads — the Delta
 * `_delta_log` stats pattern re-expressed for the versioned-directory layout
 * (the reference has nothing of this kind; its reads always list whole
 * partition directories, `spark/src/main/scala/dev/chronicles/spark/
 * SparkSupport.scala:110-128`).
 *
 * WRITE SIDE ([[collectAndWrite]], called by every versioned write when the
 * table declares a [[graft.core.ColumnStatsConfig]]): one column-pruned pass
 * over the files the write just produced — grouped by `_metadata.file_path`,
 * so it is a single Spark job whatever the file count — records per-file
 * `rows` + per-column `(min, max, nullCount)`, plus an optional per-PARTITION
 * Bloom filter over `xxhash64(keyColumns)` (built per file by a tiny typed
 * [[Aggregator]], merged per partition on the driver — Bloom merge is exact).
 * The manifest is persisted as `_stats/<version-label>.json` beside the data,
 * BEFORE the commit: a committed version either has its full manifest or
 * (crash, pre-stats history, chronicles import) none at all — never a partial
 * one. Cost at 100 TB: the pass re-reads ONLY the declared stats columns of
 * the files just written (columnar formats prune the rest), KBs of manifest
 * per commit, zero extra shuffles.
 *
 * READ SIDE ([[readVersionWhere]], surfaced as
 * [[VersionedTables.readWhere]]): resolve the version's partition→version
 * map as usual, then prune BEFORE any file listing:
 *   1. partition-level — partition values act as exact one-value stats, so a
 *      predicate on a partition column drops whole partitions DRIVER-side
 *      (no directory listing at all, same contract as `readPartitions`);
 *   2. file-level — each surviving partition's manifest is consulted and
 *      only files whose `[min, max]`/null counts MAY satisfy the predicate
 *      are handed to the reader. A version without a manifest simply
 *      contributes its directory unpruned.
 * The pruned file set is loaded through the SAME reader configuration as
 * `readVersion` (basePath + partition discovery) and the predicate is then
 * applied normally — skipping is purely an optimization, so Catalyst still
 * sees the filter (parquet row-group pruning etc. stack on top) and a
 * too-conservative manifest can never change results.
 *
 * Predicate → stats evaluation ([[SkipEval]]) is deliberately three-valued
 * and conservative: it understands And/Or/Not, the binary comparisons,
 * In, IsNull/IsNotNull, EqualNullSafe and StartsWith over
 * `column <op> literal` atoms; ANY other shape (casts, arithmetic, UDFs,
 * subqueries) makes that atom "may match" and the file is kept. Values
 * compare only within the same type family (numeric / string / date /
 * timestamp / boolean) — a predicate comparing a date column to an untyped
 * string literal is kept, never mis-pruned.
 */
object TableStats {

  /** Per-column stats of one file: encoded min/max (absent when the column
    * was all-null in that file, or the value doesn't round-trip, e.g. NaN)
    * and the null count. `dataType` is the Spark catalog string of the
    * column as written. */
  final case class ColumnStats(
      dataType: String, min: Option[String], max: Option[String], nullCount: Long)

  /** Stats of one data file: path RELATIVE to the table location, the
    * Hive-escaped partition path it belongs to ("" for snapshot tables),
    * its row count, and per-column stats keyed by LOWERCASED column name. */
  final case class FileStats(
      path: String, partition: String, rows: Long, columns: Map[String, ColumnStats])

  /** The manifest of one versioned write: every file it produced, plus one
    * serialized Bloom filter per partition when key columns were declared.
    * `bloomKeyTypes` records the catalog type of each bloom key column AS
    * WRITTEN (parallel to `bloomKeyColumns`): xxhash64 is type-sensitive,
    * so a literal probe ([[planRead]]'s equality/IN partition pruning) must
    * hash in exactly this domain — manifests from before the field existed
    * parse with it empty, which simply disables literal probing for them
    * (merge discovery, which hashes real columns, is unaffected). */
  final case class StatsManifest(
      version: String,
      statsColumns: List[String],
      bloomKeyColumns: List[String],
      files: List[FileStats],
      partitionBlooms: Map[String, Array[Byte]],
      bloomKeyTypes: List[String] = Nil) {

    def filesFor(partitionPath: String): List[FileStats] =
      files.filter(_.partition == partitionPath)
  }

  // ---------------------------------------------------------------- manifest IO

  private val ManifestFormatVersion = 1

  private[operators] def statsManifestPath(location: URI, label: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(location), s"_stats/$label.json")

  private val mapper = new ObjectMapper()

  private def manifestNode(m: StatsManifest): com.fasterxml.jackson.databind.node.ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("formatVersion", ManifestFormatVersion)
    root.put("version", m.version)
    val sc = root.putArray("statsColumns"); m.statsColumns.foreach(sc.add)
    val bc = root.putArray("bloomKeyColumns"); m.bloomKeyColumns.foreach(bc.add)
    val bt = root.putArray("bloomKeyTypes"); m.bloomKeyTypes.foreach(bt.add)
    val files = root.putArray("files")
    m.files.foreach { f =>
      val fn = files.addObject()
      fn.put("path", f.path)
      fn.put("partition", f.partition)
      fn.put("rows", f.rows)
      val cols = fn.putObject("columns")
      f.columns.foreach { case (name, cs) =>
        val cn = cols.putObject(name)
        cn.put("type", cs.dataType)
        cs.min.fold { cn.putNull("min"); () } { v => cn.put("min", v); () }
        cs.max.fold { cn.putNull("max"); () } { v => cn.put("max", v); () }
        cn.put("nulls", cs.nullCount)
      }
    }
    val blooms = root.putObject("blooms")
    m.partitionBlooms.foreach { case (p, bytes) =>
      blooms.put(p, java.util.Base64.getEncoder.encodeToString(bytes))
    }
    root
  }

  def toJson(m: StatsManifest): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(manifestNode(m))

  private def manifestFromNode(root: com.fasterxml.jackson.databind.JsonNode): StatsManifest = {
    val files = root.path("files").elements().asScala.map { fn =>
      val cols = fn.path("columns").properties().asScala.map { e =>
        val cn = e.getValue
        e.getKey -> ColumnStats(
          cn.path("type").asText(),
          if (cn.path("min").isNull) None else Some(cn.path("min").asText()),
          if (cn.path("max").isNull) None else Some(cn.path("max").asText()),
          cn.path("nulls").asLong())
      }.toMap
      FileStats(fn.path("path").asText(), fn.path("partition").asText(),
        fn.path("rows").asLong(), cols)
    }.toList
    val blooms = root.path("blooms").properties().asScala.map { e =>
      e.getKey -> java.util.Base64.getDecoder.decode(e.getValue.asText())
    }.toMap
    StatsManifest(
      root.path("version").asText(),
      root.path("statsColumns").elements().asScala.map(_.asText()).toList,
      root.path("bloomKeyColumns").elements().asScala.map(_.asText()).toList,
      files, blooms,
      root.path("bloomKeyTypes").elements().asScala.map(_.asText()).toList)
  }

  def fromJson(json: String): Either[String, StatsManifest] =
    try {
      val root = mapper.readTree(json)
      if (root.path("formatVersion").asInt(-1) != ManifestFormatVersion)
        scala.Left(s"unsupported stats manifest formatVersion ${root.path("formatVersion")}")
      else scala.Right(manifestFromNode(root))
    } catch { case e: Exception => scala.Left(s"bad stats manifest: ${e.getMessage}") }

  private[operators] def writeManifest(
      conf: org.apache.hadoop.conf.Configuration, location: URI, m: StatsManifest): Unit = {
    val p = statsManifestPath(location, m.version)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(toJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Bounded JVM-wide manifest cache. SOUND because manifests are
    * IMMUTABLE: every write generates a fresh label and persists the
    * manifest BEFORE its commit, so by the time any reader can learn of a
    * label the manifest's content is final (absence is final too — only
    * versions written without a stats config lack one). A cached entry for
    * a since-vacuumed version is harmless: its decisions were exact for the
    * files that existed. What the cache buys: a discovery pass over a
    * table whose partitions were ingested one-by-one touches O(live
    * LABELS) manifests — per-call that is one filesystem read each, which
    * on object storage is the slowest part of a small merge; with the
    * cache, repeated passes (a streaming CDC-apply sink merging every
    * trigger, repeated readWhere calls) pay only for labels they have not
    * seen. */
  private val ManifestCacheMax = 4096
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), Option[StatsManifest]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), Option[StatsManifest]]): Boolean =
          size() > ManifestCacheMax
      })

  /** [[readManifest]] through the JVM-wide immutability-backed cache — the
    * variant every pruning pass uses. A cache miss consults the table's
    * latest stats CHECKPOINT first (one bulk file for O(live labels)
    * manifests — see [[writeStatsCheckpoint]]) and falls back to the
    * per-label file, so a cold reader of a long-history table pays one
    * checkpoint read + one read per label committed since, not O(labels). */
  def readManifestCached(
      conf: org.apache.hadoop.conf.Configuration, location: URI, label: String): Option[StatsManifest] = {
    val key = (location.toString, label)
    val hit = manifestCache.get(key)
    if (hit != null) hit
    else {
      val loaded = checkpointManifests(conf, location).get(label) match {
        case some @ Some(_) => some
        case None           => readManifest(conf, location, label)
      }
      manifestCache.put(key, loaded)
      loaded
    }
  }

  /** The stored manifest of version `label`, or None when it was never
    * written (pre-stats history, chronicles import) or doesn't parse — both
    * mean "read that version unpruned", never an error. */
  def readManifest(
      conf: org.apache.hadoop.conf.Configuration, location: URI, label: String): Option[StatsManifest] = {
    manifestFsReads.incrementAndGet()
    val p = statsManifestPath(location, label)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try {
        val baos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, baos, 8192, false)
        baos.toString("UTF-8")
      } finally in.close()
      fromJson(json).toOption
    }
  }

  // ------------------------------------------------------------- checkpoints

  /** Stats-manifest CHECKPOINTING — the Delta checkpoint pattern for the
    * per-label manifest files: [[writeStatsCheckpoint]] rolls the manifests
    * of every label the CURRENT version references into ONE
    * `_stats/_checkpoint-<stamp>.json`, and [[readManifestCached]] serves
    * cache misses from the latest checkpoint before touching per-label
    * files. A years-old high-commit-rate table then costs a cold reader
    * one checkpoint read (+ one list) plus one read per label committed
    * SINCE the checkpoint, instead of O(live labels) filesystem reads.
    * Checkpoints only ACCELERATE: they are derived data — missing, stale
    * or corrupt checkpoints degrade to the per-label path, never change
    * results (manifests are immutable, so a stale checkpoint's entries are
    * still exact for the labels it holds). Written by `vacuum` on real
    * runs, by the CLI `stats-checkpoint` verb, or on demand. */
  private val CheckpointPrefix = "_checkpoint-"

  private def statsDirPath(location: URI): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(location), "_stats")

  /** Latest-checkpoint content per table location (None = no checkpoint).
    * Sound for the same reason as the manifest cache: checkpoint FILES are
    * immutable (fresh stamped name per write); a newer checkpoint written
    * by another process is simply not seen until this JVM's entry ages
    * out, which only costs per-label fallbacks, never correctness. */
  private val CheckpointCacheMax = 64
  private val checkpointCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Option[(String, Map[String, StatsManifest])]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[(String, Map[String, StatsManifest])]]): Boolean =
          size() > CheckpointCacheMax
      })

  /** Filesystem-read counters for the I/O-shape laws (per-label manifest
    * reads vs checkpoint reads) — test observability only. */
  private[graft] val manifestFsReads = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val checkpointFsReads = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def clearStatsCachesForTesting(): Unit = {
    manifestCache.clear()
    checkpointCache.clear()
  }

  private def listCheckpointNames(
      fs: org.apache.hadoop.fs.FileSystem, location: URI): Seq[String] = {
    val dir = statsDirPath(location)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(CheckpointPrefix) && n.endsWith(".json"))
      .sorted.toSeq // stamped names: lexicographic == chronological
  }

  /** The latest checkpoint's manifests for `location` (empty when none),
    * cached JVM-wide. Any surprise degrades to empty — per-label reads
    * then answer as before. */
  private def checkpointManifests(
      conf: org.apache.hadoop.conf.Configuration, location: URI): Map[String, StatsManifest] = {
    val key = location.toString
    val hit = checkpointCache.get(key)
    if (hit != null) return hit.map(_._2).getOrElse(Map.empty)
    val loaded: Option[(String, Map[String, StatsManifest])] =
      try {
        val fs = statsDirPath(location).getFileSystem(conf)
        listCheckpointNames(fs, location).lastOption.flatMap { name =>
          checkpointFsReads.incrementAndGet()
          val in = fs.open(new org.apache.hadoop.fs.Path(statsDirPath(location), name))
          val json = try {
            val baos = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, baos, 8192, false)
            baos.toString("UTF-8")
          } finally in.close()
          val root = mapper.readTree(json)
          if (root.path("formatVersion").asInt(-1) != ManifestFormatVersion) None
          else Some(name -> root.path("manifests").properties().asScala
            .map(e => e.getKey -> manifestFromNode(e.getValue)).toMap)
        }
      } catch { case _: Exception => None }
    checkpointCache.put(key, loaded)
    loaded.map(_._2).getOrElse(Map.empty)
  }

  /** Roll the current version's manifests into one checkpoint file and
    * retire older checkpoints. Returns the new checkpoint's file name, or
    * None when the version references no manifests (stats-less or
    * pre-stats table — nothing to accelerate). */
  def writeStatsCheckpoint(engine: VersionedTables, table: TableDefinition): Option[String] = {
    val conf = engine.spark.sparkContext.hadoopConfiguration
    val labels: Seq[String] = (engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.valuesIterator.filter(_ != Version.Unversioned).map(_.label).toSeq
      case SnapshotTableVersion(v) =>
        if (v == Version.Unversioned) Nil else Seq(v.label)
    }).distinct.sorted
    val manifests = labels.flatMap(l =>
      readManifestCached(conf, table.location, l).map(l -> _))
    if (manifests.isEmpty) return None
    val root = mapper.createObjectNode()
    root.put("formatVersion", ManifestFormatVersion)
    val mn = root.putObject("manifests")
    manifests.foreach { case (l, m) => mn.set[com.fasterxml.jackson.databind.JsonNode](l, manifestNode(m)); () }
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .withZone(ZoneOffset.UTC).format(Instant.now()) + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    val name = CheckpointPrefix + stamp + ".json"
    val fs = statsDirPath(table.location).getFileSystem(conf)
    val p = new org.apache.hadoop.fs.Path(statsDirPath(table.location), name)
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsString(root).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // retire older checkpoints only AFTER the new one is durable — a crash
    // between the two leaves extra checkpoints, never none
    listCheckpointNames(fs, table.location).filter(_ != name).foreach { old =>
      try { fs.delete(new org.apache.hadoop.fs.Path(statsDirPath(table.location), old), false); () }
      catch { case _: java.io.IOException => () }
    }
    checkpointCache.put(table.location.toString, Some(name -> manifests.toMap))
    Some(name)
  }

  private[graft] def deleteManifest(
      conf: org.apache.hadoop.conf.Configuration, location: URI, label: String): Unit = {
    manifestCache.remove((location.toString, label))
    val p = statsManifestPath(location, label)
    try { p.getFileSystem(conf).delete(p, false); () }
    catch { case _: java.io.IOException => () }
  }

  // ---------------------------------------------------------------- collection

  /** Per-file Bloom filter over the key-tuple hash. Built per FILE so the
    * whole collection stays one grouped aggregation; per-partition filters
    * are merged on the driver (`mergeInPlace` over same-sized filters is
    * exact). Partial buffers cost ~1.2 bytes/expected item per in-flight
    * group — size `bloomExpectedItems` to the expected keys PER PARTITION. */
  private final class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[Long, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, keyHash: Long): BloomFilter = { b.putLong(keyHash); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = { a.mergeInPlace(b); a }
    def finish(b: BloomFilter): Array[Byte] = serializeBloom(b)
    def bufferEncoder = Encoders.javaSerialization(classOf[BloomFilter])
    def outputEncoder = Encoders.BINARY
  }

  private[operators] def serializeBloom(b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    b.writeTo(baos)
    baos.toByteArray
  }

  private[operators] def deserializeBloom(bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** The `xxhash64` of the key tuple in declared order — the ONE hash both
    * the manifest's Bloom build and every probe must agree on. */
  def keyHashColumn(keyColumns: Seq[String]): Column =
    xxhash64(keyColumns.map(quoted): _*)

  private def quoted(c: String): Column =
    if (c.contains(".")) col(s"`$c`") else col(c)

  /** Collect stats for the files that writing `version` into `partitions`
    * just produced, and persist the manifest; `partitions` empty = snapshot
    * table. Called by the write paths before their commit lands.
    *
    * Two collection paths (round 17, optimization guide §6):
    *  - **footer-served** ([[footerStatsManifest]]): for BLOOM-LESS parquet
    *    configs whose declared columns all have a whitelisted type, the
    *    per-file rows / min / max / nullCount are read from the parquet
    *    FOOTERS of the just-written files — zero Spark jobs, zero data-page
    *    reads (the former read-back re-read the declared columns of every
    *    byte just written). Any surprise (non-parquet, bloom config, type
    *    outside the whitelist, truncation configured, absent/incomplete
    *    chunk statistics) falls back to the scan path — the guard is
    *    explicit, not best-effort, because footer min/max for binary
    *    columns carry no exactness flag (see the truncation guard inside).
    *  - **scan** ([[scanStatsManifest]]): the original one-job grouped
    *    read-back — still the only path that can build partition Blooms
    *    (they genuinely need the data pages) and the fallback for
    *    everything the footer path refuses.
    * Both paths produce byte-identical manifests for the cases the footer
    * path accepts (pinned by TableStatsSpec's equivalence law). */
  def collectAndWrite(
      spark: SparkSession,
      table: TableDefinition,
      version: Version,
      partitions: List[Partition],
      writtenSchema: Option[StructType] = None): Unit = {
    val cfg = table.stats.getOrElse(return)
    val leafDirs: Seq[URI] =
      if (table.isSnapshot) Seq(VersionPaths.pathFor(table.location, version))
      else partitions.map(p => VersionPaths.pathFor(p.resolvePath(table.location), version))
    if (leafDirs.isEmpty) return
    val manifest = footerStatsManifest(spark, table, cfg, version, leafDirs)
      .orElse(scanStatsManifest(spark, table, cfg, version, leafDirs, writtenSchema))
    manifest.foreach(m =>
      writeManifest(spark.sparkContext.hadoopConfiguration, table.location, m))
  }

  /** The original read-back collection: one grouped-by-file-path Spark job
    * over ONLY the declared columns of the just-written files. None when no
    * declared column is present in the data (nothing to record).
    *
    * `writtenSchema` (round 17): the frame the caller JUST WROTE these
    * files from, when in scope — its data columns (partition columns and
    * `_version` strip out; the dynamic partitioned writer never puts them
    * in the files) serve as the reader schema, skipping the planning-time
    * schema-inference job of the read-back. Self-describing formats only
    * (parquet/orc footers return exactly the written types, so hint ≡
    * inference); csv/json keep inference — their written-vs-inferred types
    * can genuinely differ, and the manifest's recorded types must match
    * what a later READER of those files sees. */
  private[operators] def scanStatsManifest(
      spark: SparkSession,
      table: TableDefinition,
      cfg: ColumnStatsConfig,
      version: Version,
      leafDirs: Seq[URI],
      writtenSchema: Option[StructType] = None): Option[StatsManifest] = {
    val fileSchema = writtenSchema
      .filter(_ => table.format == FileFormat.Parquet || table.format == FileFormat.Orc)
      .map { s =>
        val partLower = table.partitionSchema.columnNames.map(_.toLowerCase).toSet
        StructType(s.fields.filterNot(f =>
          partLower(f.name.toLowerCase) || f.name == Version.VersionColumn))
      }
    val reader0 = spark.read.format(table.format.name).options(table.options)
    val df = fileSchema.fold(reader0)(reader0.schema)
      .load(leafDirs.map(VersionedTables.uriToLoadPath): _*)
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    // partition columns never appear in the data files — their value is the
    // directory name, already exact, pruned on directly at read time
    val statCols = cfg.statsColumns.filter(c => present.contains(c.toLowerCase))
    val bloomCols = cfg.bloomKeyColumns.filter(c => present.contains(c.toLowerCase))
    val bloomActive = bloomCols.nonEmpty && bloomCols.size == cfg.bloomKeyColumns.size
    val aggs: Seq[Column] =
      count(lit(1)).as("_rows") +:
        (statCols.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(quoted(c)).as(s"_min_$i"), max(quoted(c)).as(s"_max_$i"),
            count(quoted(c)).as(s"_nn_$i"))
        } ++
          (if (bloomActive)
            Seq(udaf(new BloomAgg(cfg.bloomExpectedItems, cfg.bloomFpp), Encoders.scalaLong)
              .apply(keyHashColumn(bloomCols.map(c => present(c.toLowerCase))))
              .as("_bloom"))
          else Nil))
    if (statCols.isEmpty && !bloomActive) return None
    val perFile = df
      .groupBy(col("_metadata.file_path").as("_path"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per file of ONE write — bounded and small
    val basePrefix = {
      val b = VersionedTables.uriToLoadPath(table.location)
      if (b.endsWith("/")) b else b + "/"
    }
    val types = statCols.map(c => df.schema(present(c.toLowerCase)).dataType)
    val files = perFile.toList.map { row =>
      val full = row.getAs[String]("_path")
      val rel = if (full.startsWith(basePrefix)) full.stripPrefix(basePrefix) else full
      val partitionPath = partitionOfRelativePath(rel)
      val rows = row.getAs[Long]("_rows")
      val cols = statCols.zipWithIndex.map { case (c, i) =>
        val nonNull = row.getAs[Long](s"_nn_$i")
        c.toLowerCase -> ColumnStats(
          types(i).catalogString,
          Option(row.get(row.fieldIndex(s"_min_$i"))).flatMap(encodeValue),
          Option(row.get(row.fieldIndex(s"_max_$i"))).flatMap(encodeValue),
          nullCount = rows - nonNull)
      }.toMap
      FileStats(rel, partitionPath, rows, cols)
    }.sortBy(_.path)
    val blooms: Map[String, Array[Byte]] =
      if (!bloomActive) Map.empty
      else perFile.toList
        .map(r => partitionOfRelativePath {
          val full = r.getAs[String]("_path")
          if (full.startsWith(basePrefix)) full.stripPrefix(basePrefix) else full
        } -> r.getAs[Array[Byte]]("_bloom"))
        .groupBy(_._1)
        .map { case (p, group) =>
          val merged = group.map(g => deserializeBloom(g._2)).reduce { (a, b) =>
            a.mergeInPlace(b); a
          }
          p -> serializeBloom(merged)
        }
    Some(StatsManifest(version.label,
      statCols.map(_.toLowerCase), if (bloomActive) bloomCols.map(_.toLowerCase) else Nil,
      files, blooms,
      bloomKeyTypes =
        if (bloomActive)
          bloomCols.map(c => df.schema(present(c.toLowerCase)).dataType.catalogString)
        else Nil))
  }

  // ------------------------------------------------------- footer collection

  /** Signals "this write is outside the footer path's proof obligations —
    * use the scan path". Control flow only, never surfaced. */
  private final class FooterFallback extends Exception with scala.util.control.NoStackTrace

  /** Observability counter: writes whose manifest was served from parquet
    * footers (no Spark job). Test-only, like [[manifestFsReads]]. */
  private[graft] val footerServedWrites = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test hook: force the scan path so the equivalence law can compare both
    * collectors over the same files. */
  @volatile private[graft] var disableFooterStatsForTesting = false

  /** Erased bridge over parquet's self-recursive Statistics[T] bound (the
    * Java method takes the raw type; both sides are the same concrete
    * statistics class here — enforced by the per-column type resolution). */
  private def mergeStats(
      a: org.apache.parquet.column.statistics.Statistics[_],
      b: org.apache.parquet.column.statistics.Statistics[_]): Unit = {
    type S = org.apache.parquet.column.statistics.Statistics[java.lang.Long]
    a.asInstanceOf[S].mergeStatistics(b.asInstanceOf[S])
  }

  /** Build the stats manifest of one write from the parquet FOOTERS of the
    * files it produced — no Spark job, no data-page read. None = "fall back
    * to [[scanStatsManifest]]", raised by ANY condition under which the
    * footer bytes are not PROVABLY byte-identical to what the scan path
    * would record:
    *
    *  - non-parquet format; a bloom-bearing config (filters need data pages);
    *  - `parquet.statistics.truncate.length` configured anywhere the writer
    *    could see it (session runtime conf, hadoop conf, table options):
    *    parquet-mr 1.16 writes footer min/max UNTRUNCATED by default
    *    (DEFAULT_STATISTICS_TRUNCATE_LENGTH = Int.MaxValue) and the footer
    *    carries no exactness flag, so a configured truncation is
    *    undetectable after the fact — refuse up front instead (the verdict's
    *    "explicit truncation guard");
    *  - `parquet.column.statistics.enabled=false` likewise;
    *  - a declared column whose footer type is outside the whitelist below
    *    (INT96 timestamps, decimals, unsigned ints, nested/repeated fields);
    *  - any column chunk with non-null values but absent/incomplete
    *    statistics (covers stats dropped for size — parquet-mr omits
    *    min/max above MAX_STATS_SIZE — and any writer surprise).
    *
    * Value encoding matches [[encodeValue]] over the scan path's external
    * agg values case by case: integral/boolean `toString`, dates
    * `LocalDate.toString`, strings raw UTF-8, timestamps via
    * `Instant`/`LocalDateTime.toString` (micros only), float/double
    * `toString` with ±Infinity mapped to None. NaN-bearing float/double
    * chunks take the fallback automatically: parquet-mr OMITS the footer
    * min/max of a chunk that saw NaN (measured on 1.16), which trips the
    * absent-stats guard — the right outcome, because Spark's agg would
    * still record the real (NaN-excluded) min and the footer cannot
    * reproduce it. Row counts come from block metadata and are always
    * exact. */
  private[operators] def footerStatsManifest(
      spark: SparkSession,
      table: TableDefinition,
      cfg: ColumnStatsConfig,
      version: Version,
      leafDirs: Seq[URI]): Option[StatsManifest] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type => PqType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.column.statistics.Statistics
    if (disableFooterStatsForTesting) return None
    if (table.format != FileFormat.Parquet) return None
    if (cfg.bloomKeyColumns.nonEmpty) return None
    val conf = spark.sparkContext.hadoopConfiguration
    def confVal(key: String): Option[String] =
      table.options.get(key)
        .orElse(spark.conf.getOption(key))
        .orElse(Option(conf.get(key)))
    val truncated = confVal("parquet.statistics.truncate.length")
      .exists(v => scala.util.Try(v.trim.toInt).toOption.forall(_ != Int.MaxValue))
    val statsOff = confVal("parquet.column.statistics.enabled")
      .exists(_.equalsIgnoreCase("false"))
    if (truncated || statsOff) return None

    /** (catalog type string as Spark would read it, min/max encoder from the
      * merged chunk Statistics) — or fallback for types outside the
      * whitelist. Encoders must return EXACTLY what [[encodeValue]] returns
      * for the scan path's external agg value of the same data. */
    // legacy Julian-calendar rebase rewrites stored date/timestamp VALUES on
    // the way in/out — the footer's raw day/micros numbers then differ from
    // the external values Spark's agg would return for pre-Gregorian data.
    // Spark 4 defaults to EXCEPTION (ancient values refuse to write), so
    // only an explicit LEGACY opt-in needs the guard.
    val legacyRebase = spark.conf
      .getOption("spark.sql.parquet.datetimeRebaseModeInWrite")
      .exists(_.equalsIgnoreCase("LEGACY"))
    def colCodec(t: PqType): (String, Statistics[_] => (Option[String], Option[String])) = {
      if (!t.isPrimitive || t.getRepetition == PqType.Repetition.REPEATED)
        throw new FooterFallback
      val p = t.asPrimitiveType()
      val ann = p.getLogicalTypeAnnotation
      def minMax(f: AnyRef => Option[String]): Statistics[_] => (Option[String], Option[String]) =
        st => (f(st.genericGetMin().asInstanceOf[AnyRef]), f(st.genericGetMax().asInstanceOf[AnyRef]))
      (p.getPrimitiveTypeName, ann) match {
        case (INT32, null) =>
          "int" -> minMax(v => Some(v.toString))
        case (INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation) if i.isSigned =>
          val catalog = i.getBitWidth match {
            case 8 => "tinyint"; case 16 => "smallint"; case 32 => "int"
            case _ => throw new FooterFallback
          }
          catalog -> minMax(v => Some(v.toString))
        case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          if (legacyRebase) throw new FooterFallback
          "date" -> minMax(v =>
            Some(LocalDate.ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue).toString))
        case (INT64, null) =>
          "bigint" -> minMax(v => Some(v.toString))
        case (INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
            if i.isSigned && i.getBitWidth == 64 =>
          "bigint" -> minMax(v => Some(v.toString))
        case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
            if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
          if (legacyRebase) throw new FooterFallback
          def instantOf(v: AnyRef): Instant = {
            val micros = v.asInstanceOf[java.lang.Long].longValue
            Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
              Math.floorMod(micros, 1000000L) * 1000L)
          }
          if (ts.isAdjustedToUTC)
            "timestamp" -> minMax(v => Some(instantOf(v).toString))
          else
            "timestamp_ntz" -> minMax(v =>
              Some(LocalDateTime.ofInstant(instantOf(v), ZoneOffset.UTC).toString))
        case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          "string" -> minMax(v => Some(new String(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8)))
        case (BOOLEAN, _) =>
          "boolean" -> minMax(v => Some(v.toString))
        case (DOUBLE, _) =>
          "double" -> minMax { v =>
            val d = v.asInstanceOf[java.lang.Double].doubleValue
            if (d.isNaN || d.isInfinite) None else Some(d.toString)
          }
        case (FLOAT, _) =>
          "float" -> minMax { v =>
            val f = v.asInstanceOf[java.lang.Float].floatValue
            if (f.isNaN || f.isInfinite) None else Some(f.toString)
          }
        case _ => throw new FooterFallback
      }
    }

    val basePrefix = {
      val b = VersionedTables.uriToLoadPath(table.location)
      if (b.endsWith("/")) b else b + "/"
    }
    try {
      // the just-written files, with the SAME relative paths the scan path's
      // `_metadata.file_path` stripping would produce: both leafDir URIs and
      // the base prefix go through uriToLoadPath, so the prefix relation is
      // identical by construction
      val fileEntries: Seq[(String, org.apache.hadoop.fs.FileStatus)] = leafDirs.flatMap { dirUri =>
        val dirPath = new org.apache.hadoop.fs.Path(dirUri)
        val dirLoad = VersionedTables.uriToLoadPath(dirUri)
        if (!dirLoad.startsWith(basePrefix)) throw new FooterFallback
        // Path(URI) keeps a trailing slash the string constructor would
        // normalize away — strip it, or the rel path gains a double slash
        // the scan path's _metadata-derived rel never has
        val relDir = dirLoad.stripPrefix(basePrefix).stripSuffix("/")
        val fs = dirPath.getFileSystem(conf)
        val listed =
          try fs.listStatus(dirPath)
          catch { case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus] }
        listed.iterator.filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(s => (if (relDir.isEmpty) s.getPath.getName
                    else s"$relDir/${s.getPath.getName}") -> s).toSeq
      }

      // first footer fixes the declared-column resolution (present columns,
      // exact footer field names, codecs); every other file must agree
      var resolved: Option[List[(String, String, String, Statistics[_] => (Option[String], Option[String]))]] =
        None // (lowercased manifest key, footer field name, catalog type, codec)
      def resolveCols(schema: org.apache.parquet.schema.MessageType)
          : List[(String, String, String, Statistics[_] => (Option[String], Option[String]))] = {
        val byLower = schema.getFields.asScala.map(f => f.getName.toLowerCase -> f).toMap
        cfg.statsColumns.flatMap(c => byLower.get(c.toLowerCase)).map { f =>
          val (catalog, codec) = colCodec(f)
          (f.getName.toLowerCase, f.getName, catalog, codec)
        }
      }

      // footer I/O in PARALLEL on the driver (the files are independent and
      // just-written): the serial form was the single largest between-job
      // driver cost of a stats-bearing write in thread-dump sampling — a
      // 30-partition commit paid 30+ sequential open+footer round-trips.
      // Processing stays SERIAL in listing order below, so the first-footer
      // column resolution and every fallback decision are unchanged.
      val footersByRel: Map[String, org.apache.parquet.hadoop.metadata.ParquetMetadata] =
        if (fileEntries.isEmpty) Map.empty
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, fileEntries.size))
          try {
            val futures = fileEntries.map { case (rel, status) =>
              rel -> pool.submit(new java.util.concurrent.Callable[
                  org.apache.parquet.hadoop.metadata.ParquetMetadata] {
                def call(): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
                  val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
                    org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf))
                  try reader.getFooter finally reader.close()
                }
              })
            }
            futures.map { case (rel, f) =>
              rel -> (try f.get()
              catch { // unwrap so the fallback catches below stay exact
                case e: java.util.concurrent.ExecutionException =>
                  throw Option(e.getCause).getOrElse(e)
              })
            }.toMap
          } finally pool.shutdownNow()
        }

      val files = fileEntries.map { case (rel, _) =>
        val footer = footersByRel(rel)
        val cols = resolved match {
          case Some(r) =>
            // schema drift across one write's files = not our write shape
            val again = resolveCols(footer.getFileMetaData.getSchema)
            if (again.map(x => (x._1, x._2, x._3)) != r.map(x => (x._1, x._2, x._3)))
              throw new FooterFallback
            r
          case None =>
            val r = resolveCols(footer.getFileMetaData.getSchema)
            resolved = Some(r)
            r
        }
        val blocks = footer.getBlocks.asScala.toList
        val rows = blocks.map(_.getRowCount).sum
        val colStats = cols.map { case (key, fieldName, catalog, codec) =>
          var nulls = 0L
          var merged: Statistics[_] = null
          blocks.foreach { b =>
            val cc = b.getColumns.asScala.find { c =>
              val path = c.getPath.toArray
              path.length == 1 && path(0) == fieldName
            }.getOrElse(throw new FooterFallback)
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) throw new FooterFallback
            nulls += st.getNumNulls
            val chunkNonNull = cc.getValueCount - st.getNumNulls
            if (chunkNonNull > 0) {
              if (!st.hasNonNullValue) throw new FooterFallback
              if (merged == null) merged = st.copy()
              else mergeStats(merged, st)
            }
          }
          val (mn, mx) =
            if (merged == null) (None, None) // all-null column, like the agg's null min/max
            else codec(merged)
          key -> ColumnStats(catalog, mn, mx, nulls)
        }.toMap
        FileStats(rel, partitionOfRelativePath(rel), rows, colStats)
      }.sortBy(_.path).toList

      val statCols = resolved match {
        case Some(r) if r.nonEmpty => r.map(_._1)
        case _ => throw new FooterFallback // no file or no declared column present
      }
      footerServedWrites.incrementAndGet()
      Some(StatsManifest(version.label, statCols, Nil, files, Map.empty, Nil))
    } catch {
      case _: FooterFallback => None
      case _: java.io.IOException => None // unreadable footer: let the scan path decide
    }
  }

  /** Backfill the MISSING stats manifests of the table's CURRENT version
    * state — the `ANALYZE TABLE` path that gives adopted / imported /
    * pre-stats-config tables the same file skipping new writes get at
    * commit time. One scan per distinct missing version label (grouped, so
    * a 10k-partition table written by one commit scans once, not 10k
    * times); versions with a manifest are skipped (manifests are
    * immutable — never overwritten). Deletion-vector markers backfill
    * their BASE version (skipping prunes THROUGH markers via base
    * manifests; update-marker rows stay unconditionally in by design);
    * adopted `Unversioned` partitions have no stable version directory and
    * are skipped. Returns (label, partitions scanned) per manifest
    * written. Backfill is the one writer that violates the manifest
    * cache's "absence is final" assumption, so each write invalidates its
    * cache entry. */
  def backfillManifests(
      engine: VersionedTables, table: TableDefinition): List[(String, Int)] = {
    require(table.stats.isDefined,
      s"${table.name.fullyQualifiedName} declares no ColumnStatsConfig — set " +
        "stats.columns (TBLPROPERTIES or TableDefinition.stats) before ANALYZE")
    val conf = engine.spark.sparkContext.hadoopConfiguration
    val byVersion: Map[Version, List[Partition]] =
      engine.tracker.currentVersion(table.name) match {
        case SnapshotTableVersion(v) =>
          if (v == Version.Unversioned) Map.empty else Map(v -> Nil)
        case PartitionedTableVersion(pvs) =>
          pvs.toList.flatMap { case (p, v0) =>
            if (v0 == Version.Unversioned) None
            else if (Version.isDeleteMarker(v0))
              Some((DeleteVectors.readBase(conf, table, p, v0), p))
            else Some((v0, p))
          }.groupMap(_._1)(_._2)
      }
    byVersion.toList.sortBy(_._1.label).flatMap { case (v, parts) =>
      if (readManifest(conf, table.location, v.label).isDefined) None
      else {
        collectAndWrite(engine.spark, table, v, parts)
        manifestCache.remove((table.location.toString, v.label))
        // written only when the version actually produced one (formats /
        // columns outside the config write nothing — report honestly)
        if (readManifest(conf, table.location, v.label).isDefined)
          Some(v.label -> parts.size)
        else None
      }
    }
  }

  /** `date=2024-01-01/_version=<label>/part-0.parquet` → `date=2024-01-01`;
    * snapshot layout (`_version=<label>/part-0.parquet`) → "". */
  private[operators] def partitionOfRelativePath(rel: String): String = {
    val segs = rel.split("/").toList
    segs.takeWhile(!_.startsWith(VersionPaths.VersionDirPrefix)) match {
      case parts if parts.length < segs.length => parts.mkString("/")
      case _ => "" // no _version= element: direct-file layout, treat as root
    }
  }

  // ---------------------------------------------------------------- skipping

  /** Normalized comparable value. Comparisons are defined only WITHIN a
    * family — cross-family atoms fall back to "may match". */
  private[operators] sealed trait StatVal
  private[operators] final case class NumV(v: java.math.BigDecimal) extends StatVal
  private[operators] final case class StrV(v: String) extends StatVal
  private[operators] final case class DateV(days: Long) extends StatVal
  private[operators] final case class TsV(micros: Long) extends StatVal
  private[operators] final case class BoolV(v: Boolean) extends StatVal

  private[operators] def compareVals(a: StatVal, b: StatVal): Option[Int] = (a, b) match {
    case (NumV(x), NumV(y))   => Some(x.compareTo(y))
    case (StrV(x), StrV(y))   => Some(utf8Compare(x, y))
    case (DateV(x), DateV(y)) => Some(java.lang.Long.compare(x, y))
    case (TsV(x), TsV(y))     => Some(java.lang.Long.compare(x, y))
    case (BoolV(x), BoolV(y)) => Some(java.lang.Boolean.compare(x, y))
    case _                    => None
  }

  /** Unsigned UTF-8 byte order — the order Spark's min/max computed the
    * manifest bounds under (UTF8String.binaryCompare). Java's
    * String.compareTo (UTF-16 code units) DISAGREES for supplementary
    * characters vs BMP chars in U+E000..U+FFFF, which would let a bound
    * comparison mis-prune a file; compare in the writer's order instead. */
  private[operators] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Encode an agg-result (external JVM) value into its manifest string.
    * None for values that don't round-trip ordered (NaN/Infinity). */
  private[operators] def encodeValue(v: Any): Option[String] = v match {
    case null => None
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite => None
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case d: LocalDate => Some(d.toString)
    case t: java.sql.Timestamp => Some(t.toInstant.toString)
    case t: Instant => Some(t.toString)
    case t: LocalDateTime => Some(t.toString)
    case other => Some(other.toString) // numbers, strings, booleans
  }

  /** Decode a stored manifest value by its stored catalog type. */
  private[operators] def decodeStored(catalogType: String, s: String): Option[StatVal] =
    try {
      catalogType match {
        case "tinyint" | "smallint" | "int" | "bigint" | "float" | "double" =>
          Some(NumV(new java.math.BigDecimal(s)))
        case t if t.startsWith("decimal") => Some(NumV(new java.math.BigDecimal(s)))
        case "string" => Some(StrV(s))
        case "date" => Some(DateV(LocalDate.parse(s).toEpochDay))
        case "timestamp" | "timestamp_ltz" =>
          Some(TsV(instantMicros(Instant.parse(s))))
        case "timestamp_ntz" =>
          Some(TsV(instantMicros(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))))
        case "boolean" => Some(BoolV(s.toBoolean))
        case _ => None
      }
    } catch { case _: Exception => None }

  private def instantMicros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** A Catalyst literal's (internal value, type) → normalized value. */
  private[operators] def literalToVal(value: Any, dt: DataType): Option[StatVal] =
    if (value == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(NumV(new java.math.BigDecimal(value.toString)))
      case FloatType =>
        val f = value.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) None else Some(NumV(new java.math.BigDecimal(f.toString)))
      case DoubleType =>
        val d = value.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None else Some(NumV(new java.math.BigDecimal(d.toString)))
      case _: DecimalType =>
        Some(NumV(value.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal))
      case StringType => Some(StrV(value.toString))
      case DateType => Some(DateV(value.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType => Some(TsV(value.asInstanceOf[Long]))
      case BooleanType => Some(BoolV(value.asInstanceOf[Boolean]))
      case _ => None
    }

  /** Decode a raw partition VALUE string into the family of the literal it
    * is being compared against (partition values are untyped strings in the
    * core model). */
  private[operators] def partitionValueAs(raw: String, like: StatVal): Option[StatVal] =
    try {
      like match {
        case _: NumV  => Some(NumV(new java.math.BigDecimal(raw)))
        case _: StrV  => Some(StrV(raw))
        case _: DateV => Some(DateV(LocalDate.parse(raw).toEpochDay))
        case _: TsV   => Some(TsV(instantMicros(
          try Instant.parse(raw)
          catch { case _: Exception => LocalDateTime.parse(raw.replace(' ', 'T')).toInstant(ZoneOffset.UTC) })))
        case _: BoolV => raw.toLowerCase match {
          case "true" => Some(BoolV(true)); case "false" => Some(BoolV(false)); case _ => None
        }
      }
    } catch { case _: Exception => None }

  /** What the skip evaluator knows about one column of one file. */
  private[operators] sealed trait ColKnowledge
  /** Data column with per-file stats (already type-decoded). */
  private[operators] final case class FileCol(
      min: Option[StatVal], max: Option[StatVal], nullCount: Long, rows: Long) extends ColKnowledge
  /** Partition column: one raw string value for the whole file (None = the
    * null/default partition). Decoded lazily against the literal's family. */
  private[operators] final case class PartCol(raw: Option[String]) extends ColKnowledge

  /**
   * Three-valued, conservative evaluator: true = "some row of this file MAY
   * satisfy the predicate", false = "provably no row satisfies it". `lookup`
   * resolves a lowercased column name to what is known; None = unknown
   * column (always "may match").
   */
  private[operators] object SkipEval {

    def mayMatch(e: Expression, lookup: String => Option[ColKnowledge]): Boolean =
      eval(desugar(e), neg = false, lookup)

    /** A Column built with the public API arrives as name-based
      * `UnresolvedFunction("<", ...)` nodes (the parser's pre-analysis
      * shape); rewrite the shapes the evaluator understands into their
      * concrete catalyst nodes. Unknown names stay as-is — the evaluator
      * treats them as "may match". */
    private[operators] def desugar(e: Expression): Expression = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.size == 1 && !f.isDistinct =>
        val a = f.arguments.map(desugar)
        (f.nameParts.head.toLowerCase, a) match {
          case ("<", Seq(l, r))          => LessThan(l, r)
          case ("<=", Seq(l, r))         => LessThanOrEqual(l, r)
          case (">", Seq(l, r))          => GreaterThan(l, r)
          case (">=", Seq(l, r))         => GreaterThanOrEqual(l, r)
          case ("=" | "==", Seq(l, r))   => EqualTo(l, r)
          case ("<=>", Seq(l, r))        => EqualNullSafe(l, r)
          case ("!" | "not", Seq(c))     => Not(c)
          case ("and", Seq(l, r))        => And(l, r)
          case ("or", Seq(l, r))         => Or(l, r)
          case ("isnull", Seq(c))        => IsNull(c)
          case ("isnotnull", Seq(c))     => IsNotNull(c)
          case ("in", v +: list) if list.nonEmpty => In(v, list)
          case ("startswith", Seq(l, r)) => StartsWith(l, r)
          case _                         => f.copy(arguments = a)
        }
      // the optimizer rewrites big literal IN lists (>10 items) to InSet
      // with INTERNAL values — re-express as In so the optimized-plan
      // skipping path ([[graft.sql.GraftDataSkipping]]) prunes large IN
      // lists exactly like small ones
      case s: InSet =>
        In(desugar(s.child), s.hset.toSeq.map(v => Literal(v, s.child.dataType)))
      case other => other.mapChildren(desugar)
    }

    private def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last.toLowerCase)
      case a: AttributeReference  => Some(a.name.toLowerCase)
      case _                      => None
    }

    private def litOf(e: Expression): Option[(Any, DataType)] = e match {
      case Literal(v, dt) => Some((v, dt))
      case _              => None
    }

    private def eval(e: Expression, neg: Boolean, lookup: String => Option[ColKnowledge]): Boolean =
      e match {
        case And(l, r) =>
          if (!neg) eval(l, neg = false, lookup) && eval(r, neg = false, lookup)
          else eval(l, neg = true, lookup) || eval(r, neg = true, lookup)
        case Or(l, r) =>
          if (!neg) eval(l, neg = false, lookup) || eval(r, neg = false, lookup)
          else eval(l, neg = true, lookup) && eval(r, neg = true, lookup)
        case Not(c) => eval(c, !neg, lookup)
        case Literal(b: Boolean, BooleanType) => if (neg) !b else b
        case Literal(null, _) => false // a NULL predicate is never TRUE; nor is NOT(NULL)
        case IsNull(a) =>
          attrName(a).flatMap(lookup) match {
            case Some(FileCol(_, _, nulls, rows)) => if (neg) nulls < rows else nulls > 0
            case Some(PartCol(raw))               => if (neg) raw.isDefined else raw.isEmpty
            case None                             => true
          }
        case IsNotNull(a) => eval(IsNull(a), !neg, lookup)
        case cmp: BinaryComparison =>
          (attrName(cmp.left), litOf(cmp.right), attrName(cmp.right), litOf(cmp.left)) match {
            case (Some(name), Some((v, dt)), _, _) => evalCmp(name, cmp, v, dt, neg, flipped = false, lookup)
            case (_, _, Some(name), Some((v, dt))) => evalCmp(name, cmp, v, dt, neg, flipped = true, lookup)
            case _                                 => true
          }
        case In(a, list) =>
          attrName(a) match {
            case Some(name) if list.forall(_.isInstanceOf[Literal]) =>
              val vals = list.collect { case Literal(v, dt) if v != null => literalToVal(v, dt) }
              if (vals.exists(_.isEmpty)) true
              else {
                val lits = vals.flatten
                if (!neg) lits.isEmpty match {
                  case true  => false // IN () — never true
                  case false => lits.exists(v => rangeMayContain(name, v, lookup))
                }
                else mayHaveValueOutside(name, lits, lookup)
              }
            case _ => true
          }
        case StartsWith(a, Literal(p, StringType)) if p != null =>
          attrName(a) match {
            case Some(name) => evalStartsWith(name, p.asInstanceOf[UTF8String].toString, neg, lookup)
            case None       => true
          }
        case _ => true // unknown shape: conservative
      }

    /** What the evaluator knows about a column of one file, resolved
      * against the literal's family: (min, max, allNull, mayHaveNull).
      * Partition columns decode their single value on demand. */
    private final case class Bounds(
        min: Option[StatVal], max: Option[StatVal], allNull: Boolean, mayNull: Boolean)

    private def bounds(
        name: String, like: StatVal, lookup: String => Option[ColKnowledge]): Option[Bounds] =
      lookup(name).map {
        case FileCol(mn, mx, nulls, rows) =>
          Bounds(mn, mx, allNull = nulls >= rows && rows > 0, mayNull = nulls > 0)
        case PartCol(None) => Bounds(None, None, allNull = true, mayNull = true)
        case PartCol(Some(raw)) =>
          partitionValueAs(raw, like) match {
            case Some(v) => Bounds(Some(v), Some(v), allNull = false, mayNull = false)
            case None    => Bounds(None, None, allNull = false, mayNull = false)
          }
      }

    private def le(a: StatVal, b: StatVal): Boolean = compareVals(a, b).forall(_ <= 0)
    private def lt(a: StatVal, b: StatVal): Boolean = compareVals(a, b).forall(_ < 0)

    private def rangeMayContain(
        name: String, v: StatVal, lookup: String => Option[ColKnowledge]): Boolean =
      bounds(name, v, lookup) match {
        case Some(b) if b.allNull => false // all-null: no comparison is ever TRUE
        case Some(b)              => b.min.forall(le(_, v)) && b.max.forall(le(v, _))
        case None                 => true
      }

    /** May the file hold a NON-NULL value different from every literal in
      * `lits`? False only when min == max == (a value in lits). */
    private def mayHaveValueOutside(
        name: String, lits: Seq[StatVal], lookup: String => Option[ColKnowledge]): Boolean =
      lits.headOption.flatMap(h => bounds(name, h, lookup)) match {
        case Some(b) if b.allNull => false // all-null: NOT(x IN ...) is NULL, not TRUE
        case Some(Bounds(Some(mn), Some(mx), _, _)) if compareVals(mn, mx).contains(0) =>
          !lits.exists(v => compareVals(mn, v).contains(0))
        case _ => true
      }

    private def evalCmp(
        name: String, cmp: BinaryComparison, litVal: Any, litDt: DataType,
        neg: Boolean, flipped: Boolean, lookup: String => Option[ColKnowledge]): Boolean = {
      if (litVal == null) {
        // `col <op> NULL` is NULL — never TRUE, negated or not — EXCEPT the
        // null-safe equal, where `col <=> NULL` means "col IS NULL"
        return cmp match {
          case _: EqualNullSafe => eval(IsNull(UnresolvedAttribute(name)), neg, lookup)
          case _                => false
        }
      }
      val v = literalToVal(litVal, litDt) match {
        case Some(x) => x
        case None    => return true
      }
      // normalize to `col <op> v` (flip when the literal was on the left)
      sealed trait Op
      case object Eq extends Op; case object Lt extends Op; case object Le extends Op
      case object Gt extends Op; case object Ge extends Op
      val base: Op = cmp match {
        case _: EqualTo | _: EqualNullSafe => Eq
        case _: LessThan            => if (flipped) Gt else Lt
        case _: LessThanOrEqual     => if (flipped) Ge else Le
        case _: GreaterThan         => if (flipped) Lt else Gt
        case _: GreaterThanOrEqual  => if (flipped) Le else Ge
      }
      val nullSafe = cmp.isInstanceOf[EqualNullSafe]
      bounds(name, v, lookup) match {
        case None => true
        case Some(b) if b.allNull =>
          // all-null column: plain comparisons are NULL (not TRUE) positive
          // or negated; x <=> v is genuinely FALSE, so NOT(x <=> v) is TRUE
          nullSafe && neg
        case Some(Bounds(mn, mx, _, mayNull)) =>
          if (!neg) base match {
            case Eq => mn.forall(le(_, v)) && mx.forall(le(v, _))
            case Lt => mn.forall(lt(_, v))
            case Le => mn.forall(le(_, v))
            case Gt => mx.forall(lt(v, _))
            case Ge => mx.forall(le(v, _))
          }
          else base match {
            // NOT(col = v): may a non-null value ≠ v exist? For the
            // NULL-SAFE form, NOT(col <=> v) is additionally TRUE on null
            // rows, so a file with any nulls must be kept regardless of
            // its value range.
            case Eq =>
              (nullSafe && mayNull) || ((mn, mx) match {
                case (Some(a), Some(c)) if compareVals(a, c).contains(0) =>
                  !compareVals(a, v).contains(0)
                case _ => true
              })
            // NOT(col < v) ≡ col >= v (non-null), etc.
            case Lt => mx.forall(le(v, _))
            case Le => mx.forall(lt(v, _))
            case Gt => mn.forall(le(_, v))
            case Ge => mn.forall(lt(_, v))
          }
      }
    }

    private def evalStartsWith(
        name: String, prefix: String, neg: Boolean,
        lookup: String => Option[ColKnowledge]): Boolean =
      bounds(name, StrV(prefix), lookup) match {
        case None => true
        case Some(b) if b.allNull => false // all-null
        case Some(Bounds(mn, mx, _, _)) =>
          if (!neg) {
            // any string with this prefix is >= prefix and < incremented(prefix)
            val upperOk = incrementLast(prefix) match {
              case Some(upper) => mn.forall(lt(_, StrV(upper)))
              case None        => true
            }
            mx.forall(le(StrV(prefix), _)) && upperOk
          } else (mn, mx) match {
            case (Some(a), Some(c)) if compareVals(a, c).contains(0) =>
              a match { case StrV(s) => !s.startsWith(prefix); case _ => true }
            case _ => true
          }
      }

    /** `"abc"` → `"abd"`: the exclusive upper bound of the prefix range.
      * Comparisons run in UTF-8 BYTE order ([[utf8Compare]]), and
      * incrementing a UTF-16 char is only order-equivalent to incrementing
      * its UTF-8 encoding while every char stays BELOW the surrogate range
      * — so any prefix touching U+D800 and above gets no finite bound
      * (conservative: only the lower-bound check applies). */
    private def incrementLast(s: String): Option[String] = {
      if (s.exists(c => c >= '\uD800')) return None
      val chars = s.toCharArray
      var i = chars.length - 1
      while (i >= 0 && chars(i) == '\uD7FF') i -= 1
      if (i < 0) None
      else Some(new String(chars.take(i)) + (chars(i) + 1).toChar)
    }
  }

  // ---------------------------------------------------------------- bloom probe

  /** Cap on candidate key TUPLES probed against a partition Bloom (the
    * cross-product of per-column IN lists); wider predicates fall back to
    * range-only pruning. */
  private val MaxBloomCandidates = 256

  private def topLevelConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => topLevelConjuncts(l) ++ topLevelConjuncts(r)
    case other     => Seq(other)
  }

  private def attrNameOf(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.nameParts.last.toLowerCase)
    case a: AttributeReference  => Some(a.name.toLowerCase)
    case _                      => None
  }

  /** The values column `name` is pinned to by ONE top-level conjunct —
    * `col = lit`, `lit = col`, `col <=> lit` (non-null) or `col IN (lits)`.
    * A row can only match the whole predicate if every conjunct holds, so
    * any single pinning conjunct bounds the column's possible values (null
    * list elements are dropped: equality never matches null). */
  private def candidatesOf(c: Expression, name: String): Option[Seq[(Any, DataType)]] =
    c match {
      case EqualTo(a, Literal(v, dt)) if v != null && attrNameOf(a).contains(name) =>
        Some(Seq((v, dt)))
      case EqualTo(Literal(v, dt), a) if v != null && attrNameOf(a).contains(name) =>
        Some(Seq((v, dt)))
      case EqualNullSafe(a, Literal(v, dt)) if v != null && attrNameOf(a).contains(name) =>
        Some(Seq((v, dt)))
      case EqualNullSafe(Literal(v, dt), a) if v != null && attrNameOf(a).contains(name) =>
        Some(Seq((v, dt)))
      case In(a, list) if attrNameOf(a).contains(name) && list.forall(_.isInstanceOf[Literal]) =>
        Some(list.collect { case Literal(v, dt) if v != null => (v, dt) })
      case _ => None
    }

  /** Convert a predicate literal's INTERNAL value into the written column
    * type's internal value EXACTLY — None whenever the conversion could
    * change the value (probing would then hash a different domain than the
    * write side and could fabricate a false negative, i.e. wrong results).
    * Identity always converts; integral widths convert iff the value fits. */
  private[operators] def internalAs(value: Any, from: DataType, to: DataType): Option[Any] =
    if (from == to) Some(value)
    else (from, to) match {
      case (ByteType | ShortType | IntegerType | LongType, _) =>
        val l: Long = value match {
          case b: java.lang.Byte    => b.longValue
          case s: java.lang.Short   => s.longValue
          case i: java.lang.Integer => i.longValue
          case x: java.lang.Long    => x.longValue
          case _                    => return None
        }
        to match {
          case ByteType if l.isValidByte    => Some(l.toByte)
          case ShortType if l.isValidShort  => Some(l.toShort)
          case IntegerType if l.isValidInt  => Some(l.toInt)
          case LongType                     => Some(l)
          case _                            => None
        }
      case _ => None
    }

  /** xxhash64 of one candidate key tuple under the WRITTEN types — the same
    * value [[keyHashColumn]] computed per row when the Bloom was built
    * (XxHash64 with the default seed, evaluated driver-side over literals). */
  private[operators] def hashCandidate(values: Seq[Any], types: Seq[DataType]): Long =
    new XxHash64(values.zip(types).map { case (v, dt) => Literal(v, dt) })
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]

  /** The candidate key-tuple hashes the predicate pins the bloom key columns
    * of manifest `m` to, or None when the predicate doesn't pin every bloom
    * key column / types don't convert exactly / the cross-product is too
    * wide. `conjuncts` are the desugared predicate's top-level conjuncts. */
  private[operators] def bloomCandidateHashes(
      m: StatsManifest, conjuncts: Seq[Expression]): Option[Seq[Long]] = {
    if (m.bloomKeyColumns.isEmpty || m.bloomKeyTypes.size != m.bloomKeyColumns.size)
      return None
    val dts = m.bloomKeyTypes.map { ddl =>
      try DataType.fromDDL(ddl) catch { case _: Exception => return None }
    }
    val perCol: Option[List[Seq[Any]]] =
      m.bloomKeyColumns.zip(dts).foldLeft(Option(List.empty[Seq[Any]])) {
        case (acc, (c, dt)) =>
          acc.flatMap { lists =>
            conjuncts.iterator.map(candidatesOf(_, c))
              .collectFirst { case Some(cands) => cands }
              .flatMap { cands =>
                val converted = cands.map { case (v, from) => internalAs(v, from, dt) }
                if (converted.exists(_.isEmpty)) None else Some(lists :+ converted.flatten)
              }
          }
      }
    perCol.flatMap { lists =>
      val total = lists.map(_.size.toLong).product
      if (total <= 0 || total > MaxBloomCandidates) None
      else {
        val tuples = lists.foldLeft(Seq(Seq.empty[Any])) { (acc, vals) =>
          acc.flatMap(t => vals.map(t :+ _))
        }
        Some(tuples.map(hashCandidate(_, dts)))
      }
    }
  }

  // ---------------------------------------------------------------- layout ops

  /** One partition's layout under the CURRENT version, derived from its
    * stats manifest alone. `covered = false` means the version has no
    * manifest (or no entry for this partition) — file/row figures are then
    * unknown, not zero. */
  final case class LayoutEntry(
      partition: Option[Partition], // None = snapshot table
      versionLabel: String,
      files: Int,
      rows: Long,
      covered: Boolean)

  /** Per-partition layout of the table's current version WITHOUT listing a
    * single data file — the manifests already know every file and row
    * count. This is how small-file discovery should work at 100 TB: the
    * classic approach (recursive listing + per-file status) is O(files)
    * remote calls; this is O(distinct version labels) manifest reads, all
    * cache-served after the first pass. Feed the result to
    * [[smallFileKeep]] + [[VersionedTables.compact]] to target exactly the
    * fragmented partitions. */
  def layoutReport(engine: VersionedTables, table: TableDefinition): List[LayoutEntry] = {
    val conf = engine.spark.sparkContext.hadoopConfiguration
    engine.tracker.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) =>
        pvs.toList.sortBy(_._1.toPath).map { case (p, v) =>
          if (v == Version.Unversioned) LayoutEntry(Some(p), "", 0, 0L, covered = false)
          else readManifestCached(conf, table.location, v.label) match {
            case Some(m) =>
              val fs = m.filesFor(p.toHivePath)
              if (fs.isEmpty) LayoutEntry(Some(p), v.label, 0, 0L, covered = false)
              else LayoutEntry(Some(p), v.label, fs.size, fs.map(_.rows).sum, covered = true)
            case None => LayoutEntry(Some(p), v.label, 0, 0L, covered = false)
          }
        }
      case SnapshotTableVersion(v) =>
        if (v == Version.Unversioned) Nil
        else readManifestCached(conf, table.location, v.label) match {
          case Some(m) if m.files.nonEmpty =>
            List(LayoutEntry(None, v.label, m.files.size, m.files.map(_.rows).sum, covered = true))
          case _ => List(LayoutEntry(None, v.label, 0, 0L, covered = false))
        }
    }
  }

  /** A `keep` predicate for [[VersionedTables.compact]] selecting the
    * partitions [[layoutReport]] flags as fragmented: more than `maxFiles`
    * files, or an average of fewer than `minRowsPerFile` rows per file.
    * Uncovered partitions are never selected (unknown ≠ fragmented —
    * compact them explicitly if suspected). */
  def smallFileKeep(
      report: List[LayoutEntry],
      maxFiles: Int = 8,
      minRowsPerFile: Long = 0L): Partition => Boolean = {
    val flagged = report.collect {
      case LayoutEntry(Some(p), _, files, rows, true)
          if files > maxFiles || (files > 1 && rows / files < minRowsPerFile) => p
    }.toSet
    flagged.contains _
  }

  // ---------------------------------------------------------------- read side

  /** What [[readVersionWhere]] decided, for specs and plan notes: the
    * resolved load paths (files and/or directories) plus the prune bill. */
  final case class SkipDecision(
      paths: Seq[String],
      partitionsTotal: Int,
      partitionsKept: Int,
      filesSeen: Long,   // files listed in consulted manifests of KEPT partitions
      filesKept: Long,   // of those, files that survived the predicate
      unprunedDirs: Int, // version dirs read whole (no manifest)
      bloomPrunedPartitions: Int = 0) // value-survivors excluded by a Bloom probe

  /** Resolve `version` under `predicate` into the minimal load-path set.
    * Pure planning — no Spark job; one manifest read per DISTINCT version
    * label (cached within the call). */
  def planRead(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      predicate: Column): SkipDecision =
    planRead(engine, table, version,
      org.apache.spark.sql.GraftSqlBridge.convertedExpression(predicate))

  /** [[planRead]] over an already-built Catalyst expression — resolved
    * (`AttributeReference`) and unresolved trees both evaluate; this is the
    * entry the optimizer-time skipping rule
    * ([[graft.sql.GraftDataSkipping]]) uses, where the predicate arrives as
    * the optimized plan's `Filter` condition. */
  /** What the skip evaluator knows about each column of file `f` inside
    * optional partition `part` (shared by [[planRead]] and
    * [[partitionsMayMatch]]). */
  private def fileLookup(
      f: FileStats, part: Option[Partition]): String => Option[ColKnowledge] = {
    val partVals: Map[String, Option[String]] = part
      .map(_.columnValues.map(cv => cv.column.name.toLowerCase ->
        (if (cv.value == PathCodec.DefaultPartitionName) None else Some(cv.value))).toMap)
      .getOrElse(Map.empty)
    name =>
      f.columns.get(name) match {
        case Some(cs) =>
          Some(FileCol(
            cs.min.flatMap(decodeStored(cs.dataType, _)),
            cs.max.flatMap(decodeStored(cs.dataType, _)),
            cs.nullCount, f.rows))
        case None => partVals.get(name).map(PartCol(_))
      }
  }

  private def partitionLookup(p: Partition): String => Option[ColKnowledge] = {
    val partVals = p.columnValues.map(cv => cv.column.name.toLowerCase ->
      (if (cv.value == PathCodec.DefaultPartitionName) None else Some(cv.value))).toMap
    name => partVals.get(name).map(PartCol(_))
  }

  /** The partitions of `pvs` whose content MAY contain a row satisfying
    * `predicate` — the partition-granular face of [[planRead]]: partition
    * values, per-file range stats and the partition Blooms all prune, and
    * every step is free of false negatives, so the result is a SUPERSET of
    * the truly-matching partition set. Versions without a manifest always
    * stay. Predicate DML ([[VersionedDml]]) uses this to bound which
    * partitions are even read for match discovery. */
  def partitionsMayMatch(
      engine: VersionedTables,
      table: TableDefinition,
      pvs: Map[Partition, Version],
      predicate: Column): Map[Partition, Version] =
    partitionsMayMatch(engine, table, pvs,
      org.apache.spark.sql.GraftSqlBridge.convertedExpression(predicate))

  def partitionsMayMatch(
      engine: VersionedTables,
      table: TableDefinition,
      pvs: Map[Partition, Version],
      expr: Expression): Map[Partition, Version] = {
    val conf = engine.spark.sparkContext.hadoopConfiguration
    val manifests = scala.collection.mutable.Map.empty[String, Option[StatsManifest]]
    def manifestFor(v: Version): Option[StatsManifest] =
      manifests.getOrElseUpdate(v.label, readManifestCached(conf, table.location, v.label))
    val conjuncts = topLevelConjuncts(SkipEval.desugar(expr))
    val hashCache =
      scala.collection.mutable.Map.empty[(List[String], List[String]), Option[Seq[Long]]]
    def bloomExcludes(m: StatsManifest, partKey: String): Boolean =
      hashCache.getOrElseUpdate(
        (m.bloomKeyColumns, m.bloomKeyTypes), bloomCandidateHashes(m, conjuncts)) match {
        case Some(hashes) =>
          m.partitionBlooms.get(partKey).exists { bytes =>
            val bloom = deserializeBloom(bytes)
            !hashes.exists(bloom.mightContainLong)
          }
        case None => false
      }
    pvs.filter { case (p, v0) =>
      SkipEval.mayMatch(expr, partitionLookup(p)) && {
        // a DELETE-only DV partition prunes through its BASE version's
        // manifest: deletes only REMOVE rows, so base stats/Blooms stay
        // conservative (false positives at worst — a file whose only
        // matching rows were deleted still scans; never a false negative).
        // An UPDATE-marker (data files of its own) must stay IN: its
        // post-image rows are covered by no manifest, and base stats could
        // falsely exclude the values the update introduced.
        if (Version.isDeleteMarker(v0) && DeleteVectors.markerHasData(conf, table, p, v0))
          true
        else {
          val v = if (Version.isDeleteMarker(v0))
            DeleteVectors.readBase(conf, table, p, v0) else v0
          if (v == Version.Unversioned) true
          else manifestFor(v) match {
            case Some(m) =>
              val inPart = m.filesFor(p.toHivePath)
              if (inPart.isEmpty) true
              else if (bloomExcludes(m, p.toHivePath)) false
              else inPart.exists(f => SkipEval.mayMatch(expr, fileLookup(f, Some(p))))
            case None => true
          }
        }
      }
    }
  }

  def planRead(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      expr: Expression): SkipDecision = {
    val conf = engine.spark.sparkContext.hadoopConfiguration
    val manifests = scala.collection.mutable.Map.empty[String, Option[StatsManifest]]
    def manifestFor(v: Version): Option[StatsManifest] =
      manifests.getOrElseUpdate(v.label, readManifestCached(conf, table.location, v.label))

    val basePrefix = {
      val b = VersionedTables.uriToLoadPath(table.location)
      if (b.endsWith("/")) b else b + "/"
    }

    // equality/IN atoms over the bloom key columns prune via the partition
    // Blooms the write side already paid for: candidate tuple hashes are
    // computed once per distinct (columns, types) bloom signature, and a
    // partition whose Bloom contains NONE of them provably holds no
    // matching row — exactly the probe merge discovery runs, driver-side
    val conjuncts = topLevelConjuncts(SkipEval.desugar(expr))
    val hashCache =
      scala.collection.mutable.Map.empty[(List[String], List[String]), Option[Seq[Long]]]
    def bloomExcludes(m: StatsManifest, partKey: String): Boolean =
      hashCache.getOrElseUpdate(
        (m.bloomKeyColumns, m.bloomKeyTypes), bloomCandidateHashes(m, conjuncts)) match {
        case Some(hashes) =>
          m.partitionBlooms.get(partKey) match {
            case Some(bytes) =>
              val bloom = deserializeBloom(bytes)
              !hashes.exists(bloom.mightContainLong)
            case None => false
          }
        case None => false
      }

    version match {
      case SnapshotTableVersion(v) =>
        if (v == Version.Unversioned)
          return SkipDecision(
            Seq(VersionedTables.uriToLoadPath(table.location)), 1, 1, 0, 0, 1)
        manifestFor(v) match {
          case Some(m) if m.files.nonEmpty =>
            if (bloomExcludes(m, ""))
              SkipDecision(Nil, 1, 1, m.files.size.toLong, 0, 0, bloomPrunedPartitions = 1)
            else {
              val kept = m.files.filter(f => SkipEval.mayMatch(expr, fileLookup(f, None)))
              SkipDecision(kept.map(basePrefix + _.path), 1, 1, m.files.size.toLong,
                kept.size.toLong, 0)
            }
          case _ =>
            SkipDecision(
              Seq(VersionedTables.uriToLoadPath(VersionPaths.pathFor(table.location, v))),
              1, 1, 0, 0, 1)
        }
      case PartitionedTableVersion(pvs) =>
        var filesSeen = 0L; var filesKept = 0L; var unpruned = 0; var bloomPruned = 0
        val keptParts = pvs.toList.sortBy(_._1.toPath)
          .filter { case (p, _) => SkipEval.mayMatch(expr, partitionLookup(p)) }
        val paths = keptParts.flatMap { case (p, v) =>
          val dirFallback = Seq(VersionedTables.uriToLoadPath(
            VersionPaths.pathFor(p.resolvePath(table.location), v)))
          if (v == Version.Unversioned) { unpruned += 1; dirFallback }
          else manifestFor(v) match {
            case Some(m) =>
              val inPart = m.filesFor(p.toHivePath)
              if (inPart.isEmpty) { unpruned += 1; dirFallback }
              else if (bloomExcludes(m, p.toHivePath)) {
                filesSeen += inPart.size; bloomPruned += 1
                Nil
              } else {
                val kept = inPart.filter(f => SkipEval.mayMatch(expr, fileLookup(f, Some(p))))
                filesSeen += inPart.size; filesKept += kept.size
                kept.map(basePrefix + _.path)
              }
            case None => unpruned += 1; dirFallback
          }
        }
        SkipDecision(paths, pvs.size, keptParts.size, filesSeen, filesKept, unpruned,
          bloomPruned)
    }
  }

  /** Read `version` of the table with manifest-driven data skipping, then
    * apply `predicate` normally (skipping never changes results — see the
    * class doc). Adopted tables mixing unversioned partitions fall back to
    * the plain read + filter. */
  def readVersionWhere(
      engine: VersionedTables,
      table: TableDefinition,
      version: TableVersion,
      predicate: Column,
      schemaHint: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    // deletion-vector partitions split out and skip-plan through their BASE
    // versions' manifests (deletes only remove rows, so base stats/Blooms
    // stay conservative — false positives at worst); the kept file subset
    // then reads through the DV anti-join. DVs are few and transient
    // (OPTIMIZE folds them), so the extra scan branch is short-lived.
    version match {
      case PartitionedTableVersion(pvs)
          if pvs.valuesIterator.exists(Version.isDeleteMarker) =>
        val (dvParts, plain) = pvs.partition { case (_, v) => Version.isDeleteMarker(v) }
        val conf = engine.spark.sparkContext.hadoopConfiguration
        val baseMap = dvParts.map { case (p, m) =>
          p -> DeleteVectors.readBase(conf, table, p, m)
        }
        val decision = planRead(engine, table, PartitionedTableVersion(baseMap), predicate)
        // UPDATE-marker data files are appended by readDvPartitions itself
        // (their post-image rows have no manifest and can never be pruned)
        // — an all-pruned base set still reads them, so the branch only
        // vanishes when NO marker carries data either
        val markerDataExists = dvParts.exists { case (p, m) =>
          DeleteVectors.markerHasData(conf, table, p, m)
        }
        val dvFrame =
          if (decision.paths.isEmpty && !markerDataExists) None // provably no rows
          else Some(DeleteVectors.readDvPartitions(engine, table, dvParts, schemaHint,
            dataPathsOverride = Some(decision.paths)).filter(predicate))
        val plainFrame =
          if (plain.isEmpty) None
          else Some(readVersionWhere(engine, table, PartitionedTableVersion(plain),
            predicate, schemaHint))
        return (plainFrame, dvFrame) match {
          // same additive null-fill as readVersion's DV union: evolved
          // tables without a recorded schema can resolve the branches to
          // different column sets
          case (Some(a), Some(b)) if table.mergesSchema =>
            a.unionByName(b, allowMissingColumns = true)
          case (Some(a), Some(b)) => a.unionByName(b)
          case (Some(a), None)    => a
          case (None, Some(b))    => b
          case (None, None) =>
            val empty = engine.readVersion(table, PartitionedTableVersion(Map.empty), schemaHint)
            if (empty.columns.isEmpty) empty else empty.filter(predicate)
        }
      case _ => ()
    }
    val mixedAdopted = version match {
      case PartitionedTableVersion(pvs) =>
        pvs.nonEmpty && pvs.valuesIterator.contains(Version.Unversioned)
      case _ => false
    }
    if (mixedAdopted) return engine.readVersion(table, version, schemaHint).filter(predicate)
    val decision = planRead(engine, table, version, predicate)
    if (decision.paths.isEmpty) {
      val empty = engine.readVersion(table,
        version match {
          case _: PartitionedTableVersion => PartitionedTableVersion(Map.empty)
          case _: SnapshotTableVersion    => PartitionedTableVersion(Map.empty)
        }, schemaHint)
      return if (empty.columns.isEmpty) empty else empty.filter(predicate)
    }
    val reader = engine.spark.read.format(table.format.name).options(table.options)
    val df = version match {
      case _: PartitionedTableVersion =>
        schemaHint.fold(reader)(h =>
          reader.schema(VersionedTables.hintLoadSchema(table, h)))
          .option("basePath", VersionedTables.uriToLoadPath(table.location))
          .load(decision.paths: _*)
          .drop(Version.VersionColumn)
      case SnapshotTableVersion(_) =>
        schemaHint.fold(reader)(h => reader.schema(
          org.apache.spark.sql.types.StructType(
            h.filterNot(_.name == Version.VersionColumn).toArray)))
          .load(decision.paths: _*)
    }
    df.filter(predicate)
  }
}
