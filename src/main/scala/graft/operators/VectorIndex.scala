package graft.operators

import graft.core._
import graft.operators.VersionedTables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * A persisted IVF (inverted-file) ANN index as a VERSIONED, cell-partitioned
 * table — the point where the versioning layer and the similarity operators
 * compose:
 *
 *  - **Build** learns `nlist` centroids (driver-side sample, deterministic
 *    k-means — [[Similarity.kmeans]]), assigns every vector to its nearest
 *    cell (the same [[Similarity.nearestCell]] the ad-hoc `ivfTopK` uses —
 *    scan-local, literal centroids, no shuffle),
 *    and commits the index with REPLACE-ALL semantics
 *    (`versionedReplaceAll`): cells absent from the new build are removed in
 *    the same atomic commit, so a rebuild with different geometry (or fewer
 *    vectors) can never leak the previous build's cells into the current
 *    index. Previous index versions stay time-travelable.
 *  - **Append** ([[addBatch]]) assigns a NEW delivery to the PINNED
 *    centroids and lands it as fresh `(cell, batch)` partitions in one
 *    CAS'd commit — O(batch) written data, existing partitions untouched,
 *    so a growing corpus never pays a full index rebuild per delivery
 *    (the [[TextIndex.addBatch]] pattern). A drift guard refuses a batch
 *    whose vectors sit far from every centroid relative to what the index
 *    itself holds: appending to stale geometry silently degrades recall,
 *    and loud is the house rule.
 *  - **Query** pins ONE commit up front (head unless `at` is given), reads
 *    that version's centroid partition, picks `nprobe` cells per query, and
 *    reads ONLY those cells of the SAME pinned version — a concurrent
 *    rebuild cannot mix two index generations mid-query. File listing and
 *    scan are O(probed cells), not O(index): the versioned layer's
 *    partition pruning IS the inverted-file lookup.
 *  - **Compact** ([[compactBatches]]) folds accreted delivery batches back
 *    into one file set per cell (replace-all, CAS'd) — the maintenance arm
 *    of the incremental design, same as the text index's.
 *
 * Centroids are stored in the same table under the reserved partition
 * `cell=centroid` (vec_id = cell index), so index and metadata version
 * together — a query against an old version uses THAT version's centroids,
 * and an APPEND assigns with exactly the centroids its CAS'd base commit
 * pinned. Law (VectorIndexSpec): append ≡ full rebuild over the union
 * corpus with the same centroids — bit-identical query results.
 */
object VectorIndex {

  val CellCol = "cell"
  val BatchCol = "batch"
  val CentroidCell = "centroid"

  /** Partition schema every IVF index table uses: cell-major (the probe
    * path prunes on it), delivery batch below (appends land as fresh
    * leaves without touching earlier deliveries' files). */
  val indexSchema: PartitionSchema = PartitionSchema(CellCol, BatchCol)

  private def requireIndexSchema(table: TableDefinition): Unit =
    require(table.partitionSchema == indexSchema,
      s"IVF index tables must be partitioned by ($CellCol, $BatchCol), got ${table.partitionSchema}")

  def buildIvf(
      engine: VersionedTables,
      table: TableDefinition,
      vectors: DataFrame,
      nlist: Int = 16,
      sampleSize: Int = 2048,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      batchLabel: String = "full",
      userId: UserId = UserId("graft"),
      message: String = "build ivf index",
      precomputedCentroids: Option[Array[Array[Float]]] = None): (TableVersion, TableChanges) = {
    requireIndexSchema(table)
    val spark = vectors.sparkSession
    import spark.implicits._

    val centroids = precomputedCentroids.getOrElse(
      Similarity.learnCentroids(vectors, nlist, sampleSize, idCol, vecCol))
    val centroidDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF(CellCol, "centroid")

    // scan-local assignment (literal centroids, no shuffle) — the whole
    // build is then scan -> project -> repartition(cell) -> write
    val assigned = vectors
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        concat(lit("c"),
          Similarity.nearestCellId(col(vecCol), centroids)).as(CellCol))

    val centroidRows = centroidDf.select(
      col(CellCol).cast("long").as("vec_id"),
      col("centroid").cast("array<float>").as("embedding"),
      lit(CentroidCell).as(CellCol))

    // one file per (cell, batch) (the probe path reads whole cells);
    // replace-all so cells from a previous geometry cannot survive
    assigned.unionByName(centroidRows)
      .withColumn(BatchCol, lit(batchLabel))
      .repartition(col(CellCol), col(BatchCol))
      .versionedReplaceAll(engine, table, userId, message)
  }

  /** The pinned version's centroids, ordered by cell id — shared by the
    * query probe and the append assignment so both always use the exact
    * geometry their pinned commit carries. */
  private def centroidsOf(
      engine: VersionedTables, table: TableDefinition, pinned: TableVersion,
      hint: Option[StructType]): Array[Array[Float]] =
    readCellsOf(engine, table, pinned, hint, _ == CentroidCell)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)

  private def readCellsOf(
      engine: VersionedTables, table: TableDefinition, pinned: TableVersion,
      hint: Option[StructType], keep: String => Boolean): DataFrame = pinned match {
    case PartitionedTableVersion(pvs) =>
      engine.readVersion(table, PartitionedTableVersion(pvs.filter { case (p, _) =>
        p.columnValues.exists(cv => cv.column.name == CellCol && keep(cv.value))
      }), hint)
    case snap => engine.readVersion(table, snap, hint)
  }

  /** How far past the index's own mean assignment distance a new batch may
    * sit before [[addBatch]] refuses (stale centroids). */
  val DefaultMaxDriftFactor = 1.5

  /**
   * Incremental append of one delivery as fresh `(cell, batch)` partitions —
   * O(batch) written data, one atomic commit, existing partitions (and the
   * centroid geometry) untouched. New vectors are assigned to the PINNED
   * centroids via the same scan-local [[Similarity.nearestCellId]] the build
   * uses, so `append ≡ rebuild with the same centroids` holds exactly. The
   * batch label must be new (reuse would overwrite that delivery's
   * partitions — refuse loudly), and the commit CASes on the head the label
   * check read: two concurrent appends racing the same label cannot both
   * land.
   *
   * Drift guard: centroids learned at build time go stale as the corpus
   * distribution moves, and appending to stale geometry silently concentrates
   * new vectors in few cells (recall and probe cost both degrade). The guard
   * compares the BATCH's mean cosine distance to its assigned centroids
   * against the mean over (a bounded sample of) the INDEXED vectors; a ratio
   * past `maxDriftFactor` refuses with a pointer at rebuilding. Set
   * `maxDriftFactor = Double.PositiveInfinity` to disable.
   */
  def addBatch(
      engine: VersionedTables,
      table: TableDefinition,
      vectors: DataFrame,
      batchLabel: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxDriftFactor: Double = DefaultMaxDriftFactor,
      driftSampleSize: Int = 2048,
      userId: UserId = UserId("graft"),
      message: String = "add ivf index batch"): (TableVersion, TableChanges) = {
    requireIndexSchema(table)
    require(batchLabel != CentroidCell, s"batch label '$CentroidCell' is reserved")
    val (checkedHead, pinned, hint) = engine.pin(table.name, None)
    val existing = pinned match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.flatMap(_.columnValues.collect {
          case cv if cv.column.name == BatchCol => cv.value
        }).toSet
      case other =>
        throw new IllegalStateException(
          s"${table.name} resolved to a non-partitioned version ($other) — not an IVF index")
    }
    require(!existing.contains(batchLabel),
      s"batch label '$batchLabel' already exists in ${table.name} — " +
        "reusing it would overwrite that delivery's partitions")
    val centroids = centroidsOf(engine, table, pinned, hint)
    require(centroids.nonEmpty,
      s"${table.name} carries no centroid partition at this version — build the index first")

    // The assignment runs ONCE per row and the centroid lookup is one
    // element_at into a literal array-of-arrays — a when-chain that
    // re-embedded nearestCellId per branch was O(nlist²) dot products per
    // row and blew past the whole-stage-codegen method limit.
    val cents = typedLit(centroids.map(_.toSeq).toSeq)
    def distToAssigned(vc: Column, cellId: Column): Column =
      lit(1.0) - Similarity.cosine(vc, element_at(cents, cellId + 1))

    // Index-side drift reference: mean distance of (a bounded sample of) the
    // INDEXED vectors to their assigned centroid — a guard, not a statistic.
    val indexMean: Double =
      if (maxDriftFactor.isPosInfinity) 0.0
      else readCellsOf(engine, table, pinned, hint, _ != CentroidCell).limit(driftSampleSize)
        .select(col("embedding").as("__v"),
          Similarity.nearestCellId(col("embedding"), centroids).as("__c"))
        .agg(avg(distToAssigned(col("__v"), col("__c")))).collect()(0).getDouble(0)

    // One pass over the batch (optimization guide §1.2): the BATCH-side
    // drift statistic rides the write job as an observed metric — formerly
    // its own full scan of the batch, on top of a partitionValues scan and
    // the write (3 evaluations of the batch plan; now 1). The guard then
    // runs between WRITE and COMMIT: a refused batch never lands (its
    // staged directories are ordinary orphan debris, the identical
    // lifecycle to a failed CAS write), and the refusal message is
    // unchanged.
    val driftObs = org.apache.spark.sql.Observation(s"graft_ivf_drift_$batchLabel")
    val assigned0 = vectors
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        Similarity.nearestCellId(col(vecCol), centroids).as("__cid"))
    val assigned =
      (if (maxDriftFactor.isPosInfinity) assigned0
       else assigned0.observe(driftObs, avg(distToAssigned(col("embedding"), col("__cid")))
         .as("batch_mean")))
        .select(col("vec_id"), col("embedding"),
          concat(lit("c"), col("__cid")).as(CellCol))
        .withColumn(BatchCol, lit(batchLabel))
        .repartition(col(CellCol), col(BatchCol))
    // An EMPTY batch never reaches the guard: the stage's zero-row check
    // refuses it first (pinned by spec), so a null observation can only
    // mean all-null distances, not "no rows" — and the merged (sum, count)
    // observation state could in principle double-count partitions under
    // stage resubmission / speculative retries, a tolerable skew for a
    // guard ratio.
    val staged = assigned.stageInsertInto(engine, table, userId, message, manifest = false)
    if (!maxDriftFactor.isPosInfinity) {
      val batchMean = Option(driftObs.get("batch_mean"))
        .map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.0)
      require(indexMean <= 0.0 || batchMean <= maxDriftFactor * indexMean,
        f"addBatch drift guard: the new batch's mean distance to its nearest " +
          f"centroid ($batchMean%.4f) exceeds $maxDriftFactor× the indexed " +
          f"vectors' ($indexMean%.4f) — the centroids are stale for this data; " +
          "rebuild the index (buildIvf) instead of appending, or raise " +
          f"maxDriftFactor to override. The refused batch's staged files sit " +
          f"under _version=${staged.version.label} directories; " +
          "vacuum(includeOrphans = true) reclaims them")
    }
    staged.publishIf(checkedHead)
  }

  /** Fold the accreted delivery batches back into one `(cell, batch)` leaf
    * per cell — the maintenance arm of the incremental design (every
    * [[addBatch]] adds a file set per touched cell). Replace-all, CAS'd on
    * the head it read; centroids ride through unchanged. Pre-compaction
    * versions stay time-travelable; reclaimed generations are vacuum's
    * business, like any other rewrite. */
  def compactBatches(
      engine: VersionedTables,
      table: TableDefinition,
      batchLabel: String = "compacted",
      userId: UserId = UserId("graft"),
      message: String = "compact ivf index batches"): (TableVersion, TableChanges) = {
    requireIndexSchema(table)
    val (head, pinned, hint) = engine.pin(table.name, None)
    engine.readVersion(table, pinned, hint)
      .drop(BatchCol)
      .withColumn(BatchCol, lit(batchLabel))
      .repartition(col(CellCol), col(BatchCol))
      .versionedReplaceAllIf(engine, table, userId, message, head)
  }

  /** Exact cosine top-k within the `nprobe` nearest cells of each query.
    * Runs against ONE pinned commit — the head at call time, or `at` — for
    * both the centroid and the cell reads. The query set is broadcast-sized
    * by contract; the index side streams. */
  def queryIvf(
      engine: VersionedTables,
      table: TableDefinition,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      at: Option[CommitId] = None): DataFrame = {
    // pin one version for the whole query: centroids and cells must come
    // from the same index generation even if a rebuild lands concurrently.
    // (bounded: a long-lived index must not pay a history materialization
    // per query)
    val (_, pinned, hint) = engine.pin(table.name, at)

    val centroidDf = broadcast(
      readCellsOf(engine, table, pinned, hint, _ == CentroidCell)
        .select(col("vec_id").cast("int").as(CellCol), col("embedding").as("centroid")))

    // materialize the probe assignment once: it is both collected (to decide
    // which partitions to list) and joined below
    val probes = Similarity.assignCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "query_id", "qv", centroidDf, probes = nprobe)
      .withColumn(CellCol, concat(lit("c"), col(CellCol)))
      .localCheckpoint()

    // the probed cells decide which index partitions are LISTED at all
    val probedCells: Set[String] =
      probes.select(CellCol).distinct().collect().map(_.getString(0)).toSet
    val cand = readCellsOf(engine, table, pinned, hint, probedCells.contains)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col(CellCol).cast("string").as(CellCol))

    Similarity.rankTopK(
      cand.join(broadcast(probes), Seq(CellCol))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", Similarity.cosine(col("qv"), col("cv"))), k)
  }
}
