package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{CfMeta, Comparators, Tokens}

/** The SSTable analog (SURVEY §2.4): immutable sorted parquet runs.
  *
  * Write layout mirrors what made SSTables fast and maps it onto what makes
  * parquet scans fast at 100 TB:
  *  - range-partitioned by token (ring placement ⇒ partition pruning for
  *    token/key ranges, `repartitionByRange` co-locates each key's cells);
  *  - sorted within partitions by (token, key, super_name-sortkey,
  *    col_name-sortkey) ⇒ parquet page min/max stats prune row groups for
  *    key point-reads and column slices — the IndexSummary + 64KB column
  *    index of io/SSTableReader.java:399-560, for free;
  *  - parquet bloom filters on `key` (row bloom, utils/BloomFilter.java) and
  *    `col_name` (the fork's column-level blooms, io/BloomFilterWriter.java).
  *
  * Merge-on-read: a read unions base runs with the in-memory delta
  * ("memtable") and reconciles — db/ColumnFamilyStore.getTopLevelColumns'
  * collated merge is replaced by unionByName + the Reconcile aggregate.
  */
object CellStore {

  /** Parquet bloom expected-NDV hints, DERIVED from the write's own key
    * population (round 20, VERDICT r19 task 2 — reference parity:
    * SSTableWriter sizes its blooms from the exact per-file key count,
    * `BloomFilter.getFilter(numElements, …)`). Without an explicit NDV
    * parquet sizes blooms ADAPTIVELY — several candidate bitsets per
    * column, every value inserted into all of them — which round-19
    * measured at ~25% of insert_super's write wall; and round 19's fixed
    * 2^17 hint silently degraded the false-positive rate for any file
    * holding more distinct keys (the read-side failure mode that never
    * shows at sf0.1). Each writer now runs ONE approx_count_distinct
    * aggregate over the frame (column-pruned to key/col_name/domain) and
    * divides by its own expected file count. 2x headroom absorbs
    * placement imbalance; blooms have no false negatives, so an
    * under-provisioned filter only degrades its false-positive rate.
    * Clamp floor 2^10 keeps degenerate estimates sane, ceiling 2^21
    * bounds the per-file bitset (~2.5 MB at the default 1% fpp).
    */
  val BloomNdvFloor: Long = 1L << 10
  val BloomNdvCeiling: Long = 1L << 21

  private def clampNdv(perFile: Long): String =
    math.min(BloomNdvCeiling,
      math.max(BloomNdvFloor, 2L * math.max(perFile, 1L))).toString

  /** Upper bound on the frame's DISTINCT key count from leaf metadata —
    * zero Spark jobs (ADVICE r19: "derive expected NDV from an estimated
    * rows-per-file bound where available"). Sound for any lineage whose
    * key values derive per input row (projections, filters, generates,
    * unions, joins, aggregates — none mint more distinct keys than the
    * leaves have rows): distinct keys ≤ Σ leaf row counts. Parquet leaf
    * rows come from footers (driver-side, one IO per file, capped at
    * [[MaxFooterReads]] files so a giant store falls back to the
    * aggregate pass); local relations and ranges count directly. None
    * when any leaf is opaque (an RDD checkpoint, a stream) or the file
    * count exceeds the cap — the caller then pays one
    * approx_count_distinct job instead.
    */
  val MaxFooterReads = 256

  private def leafRowBound(cells: DataFrame): Option[Long] = {
    val leaves = cells.queryExecution.analyzed.collectLeaves()
    var total = 0L
    var files = 0
    val conf = cells.sparkSession.sparkContext.hadoopConfiguration
    val ok = leaves.forall {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val paths = h.location.inputFiles.filter(_.endsWith(".parquet"))
            files += paths.length
            files <= MaxFooterReads && paths.forall { p =>
              try {
                val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    new org.apache.hadoop.fs.Path(p), conf))
                try { total += rd.getRecordCount; true } finally rd.close()
              } catch { case _: Throwable => false }
            }
          case _ => false
        }
      case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
        total += math.max(0L, r.numElements.toLong); true
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        total += lr.data.size.toLong; true
      case _ => false
    }
    if (ok) Some(total) else None
  }

  /** (key-hint, col_name-hint) for a write producing `files` files:
    * leaf-row bound when readable (free), else one
    * approx_count_distinct pass.
    */
  private def derivedNdv(cells: DataFrame, files: Int): (String, String) =
    leafRowBound(cells) match {
      case Some(bound) =>
        // rows-per-file bounds BOTH per-file distinct keys and
        // per-file distinct names (range placement balances rows)
        val h = clampNdv(bound / math.max(1, files))
        (h, h)
      case None =>
        val r = cells.agg(
          approx_count_distinct(col("key")),
          approx_count_distinct(col("col_name"))).head()
        // col_name: the name SET repeats in every file — per-file ≈ global
        (clampNdv(r.getLong(0) / math.max(1, files)), clampNdv(r.getLong(1)))
    }

  /** Key hint for a DOMAIN-partitioned write: files-per-key-population is
    * the domain fan-out (times `bucketsPerDomain` when also bucketed).
    */
  private def derivedDomainNdv(cells: DataFrame, bucketsPerDomain: Int): String = {
    val r = cells.agg(
      approx_count_distinct(col("key")),
      approx_count_distinct(substring(col("key"), -2, 2))).head()
    val files = math.max(1L, r.getLong(1)) * math.max(1, bucketsPerDomain)
    clampNdv(r.getLong(0) / files)
  }

  def write(cells: DataFrame, meta: CfMeta, path: String, numPartitions: Int = 32): Unit = {
    val sk = Comparators.sortKey(meta.comparator, col("col_name"))
    // NOT widened here (round-19 battery): the range exchange right below
    // already spreads the sort+write, and pre-shuffling a CHEAP-encode
    // source (plain orders cells) regressed the insert leg ~1.7x. Sources
    // whose encoding is the expensive part widen themselves BELOW their
    // heavy expressions (lineitemSuperCells widens before its 4-way
    // explode — that placement, not this one, is what insert_super's 2x
    // win came from).
    val (keyNdv, colNdv) = derivedNdv(cells, numPartitions)
    cells
      .withColumn("token", Tokens.token(meta.partitioner, col("key")))
      .repartitionByRange(numPartitions, col("token"), col("key"))
      .sortWithinPartitions(col("token"), col("key"), col("super_name"), sk)
      .drop("token")
      .write
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.enabled#col_name", "true")
      .option("parquet.bloom.filter.expected.ndv#key", keyNdv)
      .option("parquet.bloom.filter.expected.ndv#col_name", colNdv)
      .mode("overwrite")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read view over base runs + an unflushed delta (memtable analog). */
  def mergeOnRead(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)

  /** Read a cell store written either FLAT (legacy
    * [[graft.streaming.CellStream.writeToStore]] appends) or as
    * `run=<id>` directories (its `compactAtRuns` mode): partition
    * discovery surfaces the run id as a column on the latter — drop it
    * so readers always see the plain cell schema.
    */
  def readRuns(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (df.columns.contains("run")) df.drop("run") else df
  }

  /** Minor compaction of a `run=<id>` CELL store — the size-tiered
    * fold of [[graft.sources.ZOrder.compactZRuns]] applied to the
    * primary cell store's streaming runs, with the cell-specific merge
    * in the middle: each bucket of similar-size runs reconciles
    * ([[graft.operators.Compaction.compact]] — LWW + container
    * shadowing) into ONE key-clustered run. Same crash protocol
    * ([[RunFold]]): temp write → `_compacted_from` manifest → rename
    * publish → delete sources; negative id namespace so replayed
    * stream batches never collide; heal-first so residue from an
    * earlier crash is collected before planning.
    *
    * TOMBSTONE PURGE RULE: `gcBeforeSeconds` is applied ONLY when the
    * fold covers EVERY run in the store. A purge from a subset could
    * drop a tombstone whose shadowed value lives in an unfolded run —
    * the value would resurrect at read. The reference's minor
    * compactions guard the same hazard per-key with bloom-filter
    * checks against the other SSTables
    * (db/CompactionManager.java:427-440); this is the conservative
    * store-grain version: partial folds reconcile without purging,
    * and GC happens on full folds and major compactions.
    */
  def compactCellRuns(spark: SparkSession, basePath: String,
      gcBeforeSeconds: Int = Int.MinValue,
      targetFileBytes: Long = 128L << 20, minRunsPerBucket: Int = 2,
      low: Double = 0.5, high: Double = 1.5,
      minRunBytes: Long = 4L << 20): Seq[(Long, Seq[Long])] =
    RunFold.foldSizeTiered(spark, basePath, targetFileBytes,
      minRunsPerBucket, low, high, minRunBytes) { (srcPaths, tmp, nFiles, isFullFold) =>
      // purge only on a full fold (see the rule above)
      val gcUse = if (isFullFold) gcBeforeSeconds else Int.MinValue
      val merged = graft.operators.Compaction.compact(
        spark.read.parquet(srcPaths.map(_.toString): _*), gcUse)
      // NDV from the RAW runs (footer row bound — free), not the merged
      // frame: deriving from the aggregate would re-run the reconcile
      val keyNdv = derivedNdv(
        spark.read.parquet(srcPaths.map(_.toString): _*), nFiles)._1
      merged
        .repartitionByRange(nFiles, col("key"))
        .sortWithinPartitions(col("key"), col("super_name"), col("col_name"))
        .write
        .option("parquet.bloom.filter.enabled#key", "true")
        .option("parquet.bloom.filter.expected.ndv#key", keyNdv)
        .mode("overwrite").parquet(tmp.toString)
    }

  /** Domain-split layout (fork CFMetaData.domainSplit,
    * config/CFMetaData.java:49-53 + dht/OdklDomainPartitioner): the 2-char
    * key domain becomes a parquet PARTITION COLUMN — the Spark moral
    * equivalent of sharding one logical CF into 256 physical CFs. Keyed
    * reads derive the domain from the key and prune whole directories
    * (PartitionFilters) before any file is opened.
    */
  def writeDomainSplit(cells: DataFrame, meta: CfMeta, path: String): Unit = {
    val sk = Comparators.sortKey(meta.comparator, col("col_name"))
    // not widened — same battery evidence as [[write]]: the domain
    // exchange below already parallelizes, and the extra pre-shuffle of
    // a cheap-encode source bought nothing measurable
    val keyNdv = derivedDomainNdv(cells, bucketsPerDomain = 1)
    cells
      .withColumn("domain", substring(col("key"), -2, 2))
      .repartition(col("domain"))
      .sortWithinPartitions(col("key"), col("super_name"), sk)
      .write
      .partitionBy("domain")
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.expected.ndv#key", keyNdv)
      .mode("overwrite")
      .parquet(path)
  }

  /** Read a domain-split store, keeping the `domain` partition column so
    * lens-derived domain predicates reach PartitionFilters.
    */
  def readDomainSplit(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Z-ordered cell-store layout — the reference's 2-D read pattern (row
    * key × comparator-ordered column: the IndexSummary key seek composed
    * with the 64KB intra-row column index, `io/IndexHelper.java:75-150`)
    * mapped onto the Morton layout: files cluster by the interleave of a
    * KEY bucket and a COLUMN-sortkey bucket, so a key-range ×
    * column-slice query prunes files in BOTH dimensions at once — where
    * the 1-D [[write]] layout prunes keys only and rescans every key's
    * full column span. `keyBucket`/`colBucket` are caller-supplied maps
    * into [0, 65536), MONOTONE in key order / comparator order
    * respectively; they are deliberately COARSE — exactness always comes
    * from the lens's own key and slice predicates downstream, so bucket
    * collisions and clamps are safe (nulls bucket to 0). The persisted
    * `zkey` is the seek column ([[ZOrder.zRangeScan]]); the original
    * columns keep their own min/max stats for plain readers.
    */
  def writeZOrdered(cells: DataFrame, path: String,
      keyBucket: org.apache.spark.sql.Column,
      colBucket: org.apache.spark.sql.Column, numFiles: Int): Unit =
    ZOrder.writeZOrdered(cells, path,
      coalesce(keyBucket, lit(0L)), coalesce(colBucket, lit(0L)), numFiles)

  /** Coarse rectangle seek over a [[writeZOrdered]] store: the cells
    * whose (key, column) BUCKETS fall inside the rectangle, planned as
    * zkey range predicates (footer-only skipping in both dimensions,
    * capped at `maxRanges` seeks). The result is a cell frame — wrap it
    * in a lens and issue the EXACT query; bucket overcoverage never
    * leaks because the lens re-applies the precise key bounds and slice
    * filter. The 100 TB contract: this is the scan-avoidance half
    * (which files open at all); the lens is the correctness half.
    */
  def zRectangle(spark: SparkSession, path: String,
      keyBucketLo: Long, keyBucketHi: Long,
      colBucketLo: Long, colBucketHi: Long, maxRanges: Int = 64): DataFrame =
    ZOrder.zRangeScan(spark, path, keyBucketLo, keyBucketHi,
      colBucketLo, colBucketHi, maxRanges).drop("zkey")

  /** Write the store PLUS the tombstone-horizon sidecar: the per-key and
    * per-supercolumn deletion horizons are tiny (they are deletes), and a
    * lens given them joins the two small tables into every read instead
    * of re-aggregating marker cells out of the full store — at 100 TB
    * that removes two scans of the big table per unbounded read (a
    * key-bounded read without a sidecar windows its horizons in its one
    * keyed pass, Reconcile.shadowByKey). The sidecar is valid
    * for exactly the runs written here; appended deltas require either a
    * sidecar refresh (compaction does this) or the self-computing path.
    */
  def writeWithHorizons(cells: DataFrame, meta: CfMeta, path: String, numPartitions: Int = 32): Unit = {
    write(cells, meta, s"$path/runs", numPartitions)
    graft.operators.Reconcile.rowTombstones(cells)
      .write.mode("overwrite").parquet(s"$path/horizons_row")
    graft.operators.Reconcile.superTombstones(cells)
      .write.mode("overwrite").parquet(s"$path/horizons_sc")
  }

  /** Compact a horizon-sidecar store in place, folding in an optional
    * unflushed delta (CompactionManager.submitMajor analog over the
    * sidecar layout).
    *
    * The sidecar is refreshed INCREMENTALLY: horizons only change through
    * new marker cells, and the horizon aggregate (max (ts, ldt) per
    * container, then the gcGrace cutoff) is associative — so
    * `new = gc(merge(old_sidecar, markers(delta)))` is exactly
    * `recompute(compacted runs)` without ever scanning the runs for the
    * sidecar. At 100 TB that's the difference between two small-table
    * aggregates and two extra full-store passes per compaction.
    *
    * Publish is by directory rename — the atomic-commit primitive on
    * HDFS-compatible filesystems (write runs_next, swap, drop old).
    */
  def compactWithHorizons(spark: SparkSession, path: String, delta: Option[DataFrame],
      meta: CfMeta, gcBeforeSeconds: Int, numPartitions: Int = 32): Unit = {
    val base = spark.read.parquet(s"$path/runs")
    val all = delta.map(d => base.unionByName(d)).getOrElse(base)
    val compacted = graft.operators.Compaction.compact(all, gcBeforeSeconds)
    write(compacted, meta, s"$path/runs_next", numPartitions)

    // old sidecar rows re-shaped as marker cells, merged with the delta's
    // markers only — max-of-max equals max-over-all
    def mergeHorizons(old: DataFrame, deltaMarkers: DataFrame,
        groupCols: Seq[String], tsCol: String, ldtCol: String): DataFrame =
      old.unionByName(deltaMarkers)
        .groupBy(groupCols.map(col): _*)
        .agg(max(struct(col(tsCol), col(ldtCol))).as("w"))
        .filter(col(s"w.$ldtCol") >= gcBeforeSeconds)
        .select(groupCols.map(col) ++ Seq(col(s"w.$tsCol").as(tsCol), col(s"w.$ldtCol").as(ldtCol)): _*)

    val newRow = mergeHorizons(
      spark.read.parquet(s"$path/horizons_row"),
      delta.map(graft.operators.Reconcile.rowTombstones)
        .getOrElse(spark.read.parquet(s"$path/horizons_row").limit(0)),
      Seq("key"), "row_del_ts", "row_del_ldt")
    val newSc = mergeHorizons(
      spark.read.parquet(s"$path/horizons_sc"),
      delta.map(graft.operators.Reconcile.superTombstones)
        .getOrElse(spark.read.parquet(s"$path/horizons_sc").limit(0)),
      Seq("key", "super_name"), "sc_del_ts", "sc_del_ldt")
    newRow.write.mode("overwrite").parquet(s"$path/horizons_row_next")
    newSc.write.mode("overwrite").parquet(s"$path/horizons_sc_next")

    // publish: current → _old, _next → current, drop _old. Rename is the
    // commit primitive; its boolean result is CHECKED (Hadoop FileSystem
    // signals failure by returning false), and the old generation survives
    // as _old until the new one is fully in place — a crash mid-publish
    // leaves either the old store intact or a recoverable _old copy,
    // never a store with no runs directory.
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    def mv(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(from, to), s"publish failed: rename $from -> $to")
    Seq("runs", "horizons_row", "horizons_sc").foreach { d =>
      val cur = new org.apache.hadoop.fs.Path(s"$path/$d")
      val old = new org.apache.hadoop.fs.Path(s"$path/${d}_old")
      val next = new org.apache.hadoop.fs.Path(s"$path/${d}_next")
      fs.delete(old, true)
      mv(cur, old)
      mv(next, cur)
      fs.delete(old, true)
    }
  }

  /** Open a lens over a store written by [[writeWithHorizons]]. */
  def openWithHorizons(spark: SparkSession, path: String, meta: CfMeta): graft.api.CassandraLens =
    new graft.api.CassandraLens(
      spark.read.parquet(s"$path/runs"), meta,
      horizons = Some((
        spark.read.parquet(s"$path/horizons_row"),
        spark.read.parquet(s"$path/horizons_sc"))))

  /** Bucketed catalog table variant — the 100 TB layout. `bucketBy(key)`
    * co-locates every version of a key in one bucket file set, so the
    * reconcile groupBy(key, …) and all per-key windows run WITHOUT a
    * shuffle (Catalyst recognizes the bucketing as satisfying the required
    * hash distribution). This is the Spark-native equivalent of the ring:
    * placement by key hash, reads local to the owning bucket.
    */
  /** @param preClustered the input is ALREADY distributed by the bucket
    *   hash on `key` (e.g. [[compactBucketed]]'s read of the bucketed
    *   table itself, whose aggregate preserves the scan's bucketing):
    *   skip the clustering exchange so the in-place rewrite stays
    *   zero-movement — the 100 TB major-compaction contract.
    */
  def writeBucketed(cells: DataFrame, meta: CfMeta, tableName: String, buckets: Int,
      preClustered: Boolean = false): Unit = {
    val sk = Comparators.sortKey(meta.comparator, col("col_name"))
    // cluster by the bucket function BEFORE the bucketed write: Spark's
    // v1 bucketed insert enforces no distribution, so every input task
    // writes one file per bucket it touches — input tasks x buckets
    // files of which blooms are a fixed per-file tax (round-19 measured
    // a 32-task input producing 4096 files, 1.5 GB, and a 4x slower
    // bucketed read). repartition(buckets, key) IS the bucket hash
    // (pmod(Murmur3) on both sides), so each task holds exactly one
    // bucket and the table comes out one file per bucket.
    val keyNdv = derivedNdv(cells, buckets)._1
    (if (preClustered) cells else cells.repartition(buckets, col("key")))
      .write
      .bucketBy(buckets, "key")
      .sortBy("key")
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.expected.ndv#key", keyNdv)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(tableName)
  }

  def readTable(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /** Drop a managed table AND its warehouse location. The in-memory
    * catalog is per-session, so a previous session's DROP cannot have
    * removed the directory — saveAsTable would then fail on the leftover.
    */
  def dropManaged(spark: SparkSession, tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val parts = tableName.split('.')
    val rel = if (parts.length == 2) s"${parts(0)}.db/${parts(1)}" else parts(0)
    // Hadoop FS API so a non-local warehouse (hdfs://, s3a://) is handled
    // too, not just file: paths
    val loc = new org.apache.hadoop.fs.Path(wh.stripSuffix("/") + "/" + rel)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Replace a managed table's contents via a staging table + catalog
    * rename (safe when `df` READS from the table being replaced — the
    * staging write completes before the old table drops). Publish is
    * rename-aside: the old table is renamed out of the way, staging is
    * renamed in, and only then is the old copy dropped — a failure at any
    * point leaves a complete table reachable (under the name, or under
    * `__old` for the one-statement window between the two renames).
    */
  def replaceTable(spark: SparkSession, tableName: String, df: DataFrame): Unit = {
    val staged = s"${tableName}__staging"
    val old = s"${tableName}__old"
    recoverRenamedAside(spark, tableName)
    dropManaged(spark, staged)
    dropManaged(spark, old)
    df.write.mode("overwrite").format("parquet").saveAsTable(staged)
    if (spark.catalog.tableExists(tableName)) {
      spark.sql(s"ALTER TABLE $tableName RENAME TO $old")
      // partition registrations are ABSOLUTE and survive the rename — for
      // a partitioned table they now point INTO the live name's directory,
      // and the DROP below deletes by partition location (the
      // compactBucketed lesson; guard the generic helper the same way)
      dropPartitionMetadata(spark, old)
    }
    // the staged table is written unpartitioned just above, so unlike
    // compactBucketed no partition re-registration is needed on the live
    // name — only the renamed-aside OLD copy can carry stale entries
    spark.sql(s"ALTER TABLE $staged RENAME TO $tableName")
    spark.sql(s"DROP TABLE IF EXISTS $old")
  }

  /** Major compaction of a bucketed catalog CF IN PLACE
    * (CompactionManager.submitMajor, db/CompactionManager.java:192-280,
    * over the ring-placed layout): reconcile + container shadowing +
    * gcGrace purge run WITHOUT a shuffle — the table's bucketing already
    * satisfies the reconcile's required hash distribution — and because a
    * bucketed read yields one partition per bucket, each output task holds
    * exactly one bucket's keys and the bucketed rewrite emits one file per
    * bucket, also exchange-free. At 100 TB this makes major compaction a
    * single scan+rewrite with zero network movement.
    *
    * Publish swaps a staging table into the name via rename-aside — the
    * managed-table analog of compactWithHorizons' directory-rename commit:
    * the pre-compaction table is renamed to `__old`, staging renamed in,
    * and only then is `__old` dropped, so a failure at any step leaves a
    * complete copy reachable (never a missing name with data stranded in
    * the staging table).
    */
  def compactBucketed(spark: SparkSession, tableName: String, meta: CfMeta,
      gcBeforeSeconds: Int, buckets: Int,
      processors: Seq[graft.operators.Compaction.RowProcessor] = Nil): Unit = {
    val staged = s"${tableName}__compacting"
    val old = s"${tableName}__old"
    recoverRenamedAside(spark, tableName)
    dropManaged(spark, staged)
    dropManaged(spark, old)
    // compaction reduces to the canonical cell columns; the rewrite
    // re-derives the layout — domain-partitioned when the CF metadata
    // says so, plain bucketed otherwise
    val compacted = graft.operators.Compaction.compact(
      spark.table(tableName).select(graft.model.Cell.columns.map(org.apache.spark.sql.functions.col): _*),
      gcBeforeSeconds, processors)
    // preClustered: the aggregate reads the bucketed table and groups on
    // keys INCLUDING `key`, so its output keeps the scan's bucket-hash
    // distribution — re-clustering would re-shuffle the whole CF. ONLY
    // when no processors are attached, though (ADVICE r19): a processor
    // chain goes through groupByKey(_.key).flatMapGroups, which exchanges
    // on a lambda-derived key at spark.sql.shuffle.partitions — that
    // output is NOT clustered by the bucket function, and skipping the
    // repartition would re-introduce the tasks×buckets file explosion.
    if (meta.domainSplit) writeDomainBucketed(compacted, meta, staged, buckets)
    else writeBucketed(compacted, meta, staged, buckets,
      preClustered = processors.isEmpty)
    // a partitioned table's per-partition locations are registered in the
    // catalog ABSOLUTELY and survive the rename unchanged, so after each
    // rename the moved table's entries point at the PREVIOUS directory —
    // for the renamed-aside old copy that is the LIVE name's directory, and
    // DROP TABLE deletes by partition location. Purge the stale entries
    // metadata-only (retainData) before any drop can see them, then
    // re-register the live table's partitions from the filesystem.
    spark.sql(s"ALTER TABLE $tableName RENAME TO $old")
    if (meta.domainSplit) dropPartitionMetadata(spark, old)
    spark.sql(s"ALTER TABLE $staged RENAME TO $tableName")
    if (meta.domainSplit) {
      dropPartitionMetadata(spark, tableName)
      spark.sql(s"MSCK REPAIR TABLE $tableName")
    }
    spark.sql(s"DROP TABLE $old")
  }

  /** Crash recovery for the rename-aside publish: a run that died between
    * the two renames left NO table under the live name and the only
    * complete copy under `__old`. The entry-point `dropManaged(old)` of a
    * rerun would destroy that copy and then fail reading the missing live
    * table — so first rename `__old` back in. Partition registrations were
    * purged before the aside-rename (they point into the live directory),
    * so a partitioned recovered table re-registers from the filesystem.
    */
  private def recoverRenamedAside(spark: SparkSession, tableName: String): Unit = {
    val old = s"${tableName}__old"
    if (!spark.catalog.tableExists(tableName) && spark.catalog.tableExists(old)) {
      spark.sql(s"ALTER TABLE $old RENAME TO $tableName")
      val id = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
      if (spark.sessionState.catalog.getTableMetadata(id).partitionColumnNames.nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $tableName")
    }
  }

  /** Remove a table's partition registrations WITHOUT touching data —
    * catalog partition locations are absolute, so after a table rename they
    * still point at the pre-rename directory and a managed DROP (table or
    * partition) would delete whatever now lives there.
    */
  private def dropPartitionMetadata(spark: SparkSession, tableName: String): Unit = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val cat = spark.sessionState.catalog
    if (cat.getTableMetadata(id).partitionColumnNames.nonEmpty) {
      val specs = cat.listPartitions(id).map(_.spec)
      if (specs.nonEmpty)
        cat.dropPartitions(id, specs, ignoreIfNotExists = true, purge = false,
          retainData = true)
    }
  }

  /** domainSplit COMPOSED with the ring layout: the 2-char key domain is
    * a partition column (whole-directory pruning on keyed reads, fork
    * CFMetaData.domainSplit) AND rows are bucketed by key within each
    * domain (shuffle-free reconcile/windows — the bucketed scan unifies
    * each bucket id across domain directories into one partition, so the
    * HashPartitioning contract still holds). The layout the fork would
    * have wanted: OdklDomainPartitioner placement with co-located keys.
    */
  def writeDomainBucketed(cells: DataFrame, meta: CfMeta, tableName: String,
      buckets: Int): Unit = {
    val keyNdv = derivedDomainNdv(cells, bucketsPerDomain = buckets)
    cells
      .withColumn("domain", substring(col("key"), -2, 2))
      .repartition(col("domain"))
      .write
      .partitionBy("domain")
      .bucketBy(buckets, "key")
      .sortBy("key")
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.expected.ndv#key", keyNdv)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(tableName)
  }

  /** SSTable JSON export (tools/SSTableExport.java analog): golden-file
    * round-trip format — binary columns hex-encoded for portability.
    */
  def exportJson(cells: DataFrame, path: String): Unit =
    cells.select(
      col("key"),
      hex(col("super_name")).as("super_name"),
      hex(col("col_name")).as("col_name"),
      hex(col("value")).as("value"),
      col("ts"), col("tombstone"), col("local_del_time"))
      .write.mode("overwrite").json(path)

  /** SSTable JSON import (tools/SSTableImport.java analog). */
  def importJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(
      "key STRING, super_name STRING, col_name STRING, value STRING, " +
        "ts LONG, tombstone BOOLEAN, local_del_time INT")
      .json(path)
      .select(
        col("key"),
        unhex(col("super_name")).as("super_name"),
        unhex(col("col_name")).as("col_name"),
        unhex(col("value")).as("value"),
        col("ts"), col("tombstone"), col("local_del_time"))
}
