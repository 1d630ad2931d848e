package graft.operators

import graft.core._
import graft.operators.VersionedTables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * A persisted inverted (BM25) text index as a VERSIONED table — the lexical
 * twin of [[VectorIndex]], and the second point where the versioning layer
 * and a search operator compose:
 *
 *  - **Postings** `(tok, doc_id, tf, dl)` are partitioned by
 *    `bucket = xxhash64(tok) mod buckets`: the versioned layer's partition
 *    pruning IS the inverted-file lookup — a query lists and scans only its
 *    terms' buckets, O(matching postings) not O(index).
 *  - **Batches** are the second partition level: [[addBatch]] appends a new
 *    delivery as fresh `(bucket, batch)` partitions in ONE atomic commit —
 *    O(batch), never a rewrite of existing buckets — so the index grows
 *    incrementally with the corpus it serves. (Common tokens touch every
 *    bucket, so a single-level bucket partitioning would rewrite the whole
 *    index per delivery.)
 *  - **Stats** ride the same table under the reserved `bucket=stats`
 *    partition, one row per batch (that batch's doc and token totals, plus
 *    the bucket GEOMETRY the index was built with): index data, corpus
 *    statistics, and geometry version TOGETHER — a time-traveled search
 *    uses THAT version's statistics, and [[addBatch]]/[[search]] derive the
 *    bucket count from the index instead of trusting the caller to repeat
 *    it (a mismatched modulus would silently prune the wrong partitions).
 *  - **Search** pins ONE commit up front (head unless `at` is given) for
 *    stats, document frequencies, and postings alike, then scores with the
 *    exact [[TextSearch]] arithmetic (same driver-quantized idf, same
 *    contribution chain) — [[TextIndexSpec]] pins `search(index)` row- and
 *    score-identical to [[TextSearch.bm25TopK]] over the indexed corpus.
 *
 * Head pins go through the tracker's bounded `headState` (fold checkpoint
 * + commit tail), never a history materialization — a 100k-delivery index
 * must not pay O(history) per query.
 *
 * Assumes deliveries carry disjoint `doc_id`s (the ingestion-dedup
 * operators are the upstream guard); a duplicated id would double-count its
 * postings exactly as it would double-count in any corpus-level scan.
 */
object TextIndex {

  val BucketCol = "bucket"
  val BatchCol = "batch"
  val StatsBucket = "stats"

  /** The token column value of stats rows. Real tokens can collide with
    * this string harmlessly: stats live in the reserved bucket, and every
    * read path filters on the bucket first. */
  val StatsTok = "_stats"

  /** Partition schema every text index table uses. */
  val indexSchema: PartitionSchema = PartitionSchema(BucketCol, BatchCol)

  private def bucketOf(tok: Column, buckets: Int): Column =
    concat(lit("b"), pmod(xxhash64(tok), lit(buckets.toLong)))

  private def requireIndexSchema(table: TableDefinition): Unit =
    require(table.partitionSchema == indexSchema,
      s"text index tables must be partitioned by ($BucketCol, $BatchCol), got ${table.partitionSchema}")

  /** Postings + the stats row for one document batch. The stats row's `dl`
    * column carries the bucket count (data rows use `dl` for document
    * length; the stats row repurposes it for geometry — same reserved-
    * partition trick as the row itself). */
  private def postingsOf(
      docs: DataFrame, idCol: String, textCol: String,
      buckets: Int, batchLabel: String): DataFrame = {
    val tf = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val posted = tf
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        bucketOf(col("tok"), buckets).as(BucketCol), lit(batchLabel).as(BatchCol))
    val stats = docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long").as("n"))
      .agg(count(lit(1)).as("doc_id"), coalesce(sum(col("n")), lit(0L)).as("tf"))
      .select(lit(StatsTok).as("tok"), col("doc_id"), col("tf"),
        lit(buckets.toLong).as("dl"),
        lit(StatsBucket).as(BucketCol), lit(batchLabel).as(BatchCol))
    posted.unionByName(stats)
  }

  /** Read the pinned version's stats partition: (nDocs, totalTokens,
    * buckets). Fails loudly on an index with no stats rows or with
    * inconsistent recorded geometries (a corrupted or hand-edited index
    * must not silently mis-prune). */
  private def statsOf(
      engine: VersionedTables, table: TableDefinition,
      pinned: TableVersion, hint: Option[StructType]): (Long, Long, Int) = {
    val rows = readBucketsOf(engine, table, pinned, hint, _ == StatsBucket)
      .agg(sum(col("doc_id")).as("n"), sum(col("tf")).as("t"),
        min(col("dl")).as("bmin"), max(col("dl")).as("bmax"))
      .collect()(0)
    require(!rows.isNullAt(0) && !rows.isNullAt(2),
      s"${table.name} has no stats rows — not a TextIndex-built table, or an empty version")
    require(rows.getLong(2) == rows.getLong(3),
      s"${table.name} records inconsistent bucket counts " +
        s"(${rows.getLong(2)} vs ${rows.getLong(3)}) — mixed-geometry batches")
    (rows.getLong(0), if (rows.isNullAt(1)) 0L else rows.getLong(1), rows.getLong(2).toInt)
  }

  /** Pruned read of one pinned version, planned under `hint` (the schema
    * recorded at the pin — see [[VersionedTables.pin]]). The index contract guarantees a
    * partitioned version (buildIndex/addBatch enforce the schema); anything
    * else is a corrupted table and must not silently read everything. */
  private def readBucketsOf(
      engine: VersionedTables, table: TableDefinition,
      pinned: TableVersion, hint: Option[StructType],
      keep: String => Boolean): DataFrame = pinned match {
    case PartitionedTableVersion(pvs) =>
      engine.readVersion(table, PartitionedTableVersion(pvs.filter { case (p, _) =>
        p.columnValues.exists(cv => cv.column.name == BucketCol && keep(cv.value))
      }), hint)
    case other =>
      throw new IllegalStateException(
        s"${table.name} resolved to a non-partitioned version ($other) — not a text index")
  }

  /** Full (re)build: REPLACE-ALL commit, so buckets/batches from a previous
    * geometry or corpus can never survive into this version. Previous index
    * versions stay time-travelable.
    *
    * Id contract: the postings schema stores `doc_id` as BIGINT, so `idCol`
    * must be numeric (the cast throws loudly under ANSI on string ids —
    * assign a surrogate key upstream for string/UUID-keyed corpora; the
    * funnel operators, which have no storage schema, take ids generically). */
  def buildIndex(
      engine: VersionedTables,
      table: TableDefinition,
      docs: DataFrame,
      buckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchLabel: String = "full",
      userId: UserId = UserId("graft"),
      message: String = "build text index"): (TableVersion, TableChanges) = {
    requireIndexSchema(table)
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    postingsOf(docs, idCol, textCol, buckets, batchLabel)
      .repartition(col(BucketCol), col(BatchCol))
      .versionedReplaceAll(engine, table, userId, message)
  }

  /** Incremental append of one delivery as fresh `(bucket, batch)`
    * partitions — O(batch) written data, one atomic commit. The bucket
    * geometry comes from the index's own stats rows (never the caller), the
    * batch label must be new (reusing one would silently overwrite that
    * delivery's partitions, so this fails loudly instead), and the commit
    * CASes on the head the label check read — two concurrent `addBatch`
    * calls racing the same label cannot both land (the loser gets
    * [[graft.core.CommitConflictError]]; its written version dirs are
    * vacuum-reclaimable debris, never visible). */
  def addBatch(
      engine: VersionedTables,
      table: TableDefinition,
      docs: DataFrame,
      batchLabel: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      userId: UserId = UserId("graft"),
      message: String = "add text index batch"): (TableVersion, TableChanges) = {
    requireIndexSchema(table)
    val (checkedHead, pinned, hint) = engine.pin(table.name, None)
    val existing = pinned match {
      case PartitionedTableVersion(pvs) =>
        pvs.keys.flatMap(_.columnValues.collect {
          case cv if cv.column.name == BatchCol => cv.value
        }).toSet
      case other =>
        throw new IllegalStateException(
          s"${table.name} resolved to a non-partitioned version ($other) — not a text index")
    }
    require(!existing.contains(batchLabel),
      s"batch label '$batchLabel' already exists in ${table.name} — " +
        "reusing it would overwrite that delivery's partitions")
    val (_, _, buckets) = statsOf(engine, table, pinned, hint)
    postingsOf(docs, idCol, textCol, buckets, batchLabel)
      .repartition(col(BucketCol), col(BatchCol))
      .versionedInsertIntoIf(engine, table, userId, message, checkedHead)
  }

  /**
   * Fold the accumulated batches back into one — the maintenance arm of the
   * incremental design: every [[addBatch]] adds a file set per touched
   * bucket, so a long-lived index accretes small files; compaction rewrites
   * the postings under a single batch label and collapses the per-batch
   * stats rows into one (geometry carried through), in a REPLACE-ALL commit
   * CASed on the head it read (a delivery landing mid-compaction wins or
   * loses atomically, never merges half). Pre-compaction versions stay
   * time-travelable; the reclaimed generations become vacuum's business,
   * like any other rewrite.
   */
  def compactBatches(
      engine: VersionedTables,
      table: TableDefinition,
      batchLabel: String = "compacted",
      userId: UserId = UserId("graft"),
      message: String = "compact text index batches"): (TableVersion, TableChanges) = {
    requireIndexSchema(table)
    val (head, pinned, hint) = engine.pin(table.name, None)
    val (_, _, buckets) = statsOf(engine, table, pinned, hint)
    val all = engine.readVersion(table, pinned, hint)
    val posted = all.filter(col(BucketCol) =!= StatsBucket)
      .withColumn(BatchCol, lit(batchLabel))
    val stats = all.filter(col(BucketCol) === StatsBucket)
      .agg(sum(col("doc_id")).as("doc_id"), coalesce(sum(col("tf")), lit(0L)).as("tf"))
      .select(lit(StatsTok).as("tok"), col("doc_id"), col("tf"),
        lit(buckets.toLong).as("dl"),
        lit(StatsBucket).as(BucketCol), lit(batchLabel).as(BatchCol))
    posted.unionByName(stats)
      .repartition(col(BucketCol), col(BatchCol))
      .versionedReplaceAllIf(engine, table, userId, message, head)
  }

  /**
   * BM25 top-`k` against the index: stats, document frequencies, bucket
   * geometry, and postings all come from ONE pinned commit, and only the
   * query terms' buckets (plus the tiny stats partition) are listed or
   * scanned. Exactly [[TextSearch.bm25TopK]]'s result over the indexed
   * corpus, by shared arithmetic: the driver-side idf quantization consumes
   * document frequencies read from the index, and the scoring column is the
   * same [[TextSearch.contribution]] chain.
   */
  def search(
      engine: VersionedTables,
      table: TableDefinition,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      at: Option[CommitId] = None): DataFrame = {
    require(terms.nonEmpty, "query terms must not be empty")
    require(k >= 1, s"k must be >= 1, got $k")
    requireIndexSchema(table)
    val spark = engine.spark
    import spark.implicits._

    val (_, pinned, hint) = engine.pin(table.name, at)
    val (nDocs, totTok, buckets) = statsOf(engine, table, pinned, hint)
    require(nDocs > 0, s"${table.name} indexes no documents at this version")

    // the terms' buckets, evaluated through the same xxhash64 the build used
    val termBuckets = terms.toDF("tok")
      .select(bucketOf(col("tok"), buckets).as("b"))
      .collect().map(_.getString(0)).toSet

    // evaluated twice (the df collect, then the scoring scan) — both reads
    // are the SAME pinned version of the pruned buckets, and two pruned
    // scans beat materializing the matching postings (for a common term
    // that's a large fraction of the corpus; a checkpoint here would be the
    // operator's only corpus-sized buffer)
    val hits = ScaleTools.filterInValues(
      readBucketsOf(engine, table, pinned, hint, termBuckets.contains), "tok", terms)

    val dfMap = hits.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = TextSearch.Bm25Stats(nDocs, totTok,
      terms.map(t => t -> dfMap.getOrElse(t, 0L)).toMap)
    val c = TextSearch.consts(st, k1, b)
    val idf = TextSearch.idfMicro(st)
    val idfCol = terms.foldLeft(lit(0L)) { (acc, t) =>
      when(col("tok") === t, lit(idf(t))).otherwise(acc)
    }

    hits
      .withColumn("__contrib",
        TextSearch.contribution(idfCol, col("tf"), col("dl"), c).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__contrib")).as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }
}
