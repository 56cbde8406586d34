package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.CfMeta
import graft.sources.CellStore

/** Keyspace = Spark catalog namespace (SURVEY §1.1: db/Table.java:52-60 →
  * `spark.catalog` database). Column families live as bucketed tables
  * inside the namespace; CF metadata is carried in table properties via a
  * naming convention so a lens can be re-opened from the catalog alone —
  * the describe_keyspace(s) surface (thrift:429-443).
  */
class Keyspace(val spark: SparkSession, val name: String) {
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $name")

  private def tableName(cf: String) = s"$name.$cf"

  /** Create/replace a column family from a cell DataFrame (bucketed by key
    * — per-key reads and reconcile run shuffle-free).
    */
  private def hrowTable(cf: String) = s"${tableName(cf)}__hrow"
  private def hscTable(cf: String) = s"${tableName(cf)}__hsc"

  /** Create/replace a column family plus its tombstone-horizon sidecar
    * tables — the keyspace face of CellStore.writeWithHorizons. The
    * horizons are tiny (they are deletes). A lens opened by
    * [[columnFamily]] carries them, so its reads plan the winners
    * aggregate over the bucketed table (no exchange) joined against the
    * two small sidecar tables (Reconcile.liveViewGiven). For unbounded
    * reads (full-CF scans, counts, pages above 10000 keys) that replaces
    * two marker-aggregate passes over the store; a key-bounded read
    * without the sidecar would window its horizons in its own single
    * pass (Reconcile.shadowByKey), so there the sidecar saves no scan.
    *
    * `meta.domainSplit` drives the physical layout, exactly like the
    * fork's CFMetaData flag: domain-partitioned + bucketed when set
    * (directory pruning AND shuffle-free reconcile), plain bucketed
    * otherwise. Compaction preserves whichever layout the metadata names.
    */
  def saveColumnFamily(cells: DataFrame, meta: CfMeta, buckets: Int = 32): Unit = {
    CellStore.dropManaged(spark, tableName(meta.name))
    if (meta.domainSplit)
      CellStore.writeDomainBucketed(cells, meta, tableName(meta.name), buckets)
    else
      CellStore.writeBucketed(cells, meta, tableName(meta.name), buckets)
    setMetaProperties(meta)
    CellStore.dropManaged(spark, hrowTable(meta.name))
    CellStore.dropManaged(spark, hscTable(meta.name))
    graft.operators.Reconcile.rowTombstones(cells)
      .write.format("parquet").saveAsTable(hrowTable(meta.name))
    graft.operators.Reconcile.superTombstones(cells)
      .write.format("parquet").saveAsTable(hscTable(meta.name))
  }

  /** Major compaction of a stored CF in place (reconcile + gcGrace purge,
    * shuffle-free over the bucketed layout; see CellStore.compactBucketed).
    * Metadata properties are re-applied — the rename-published staging
    * table starts without them.
    */
  def compactColumnFamily(meta: CfMeta, gcBeforeSeconds: Int, buckets: Int = 32,
      processors: Seq[graft.operators.Compaction.RowProcessor] = Nil): Unit = {
    CellStore.compactBucketed(spark, tableName(meta.name), meta, gcBeforeSeconds,
      buckets, processors)
    setMetaProperties(meta)
    // incremental sidecar refresh: horizons only shrink under compaction
    // (entries past the gcGrace horizon purge; no new markers appear), so
    // the refresh filters the OLD sidecar — never rescans the store
    if (spark.catalog.tableExists(hrowTable(meta.name)))
      CellStore.replaceTable(spark, hrowTable(meta.name),
        spark.table(hrowTable(meta.name)).filter(col("row_del_ldt") >= gcBeforeSeconds))
    if (spark.catalog.tableExists(hscTable(meta.name)))
      CellStore.replaceTable(spark, hscTable(meta.name),
        spark.table(hscTable(meta.name)).filter(col("sc_del_ldt") >= gcBeforeSeconds))
  }

  /** Open a lens over a stored column family; when the horizon sidecar
    * tables exist, reads join them instead of re-aggregating markers.
    */
  def columnFamily(meta: CfMeta): CassandraLens = {
    val horizons =
      if (spark.catalog.tableExists(hrowTable(meta.name)) &&
        spark.catalog.tableExists(hscTable(meta.name)))
        Some((spark.table(hrowTable(meta.name)), spark.table(hscTable(meta.name))))
      else None
    new CassandraLens(spark.table(tableName(meta.name)), meta, horizons)
  }

  // ---- CF metadata in the catalog (config/CFMetaData.java:30-88 →
  // table properties; describe_keyspace returns real metadata, and a lens
  // re-opens from the catalog alone) ----

  private def setMetaProperties(meta: CfMeta): Unit = {
    val props = Map(
      "graft.comparator" -> meta.comparator.toString,
      "graft.subComparator" -> meta.subComparator.toString,
      "graft.isSuper" -> meta.isSuper.toString,
      "graft.partitioner" -> meta.partitioner.toString,
      "graft.gcGraceSeconds" -> meta.gcGraceSeconds.toString,
      "graft.domainSplit" -> meta.domainSplit.toString)
      .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE ${tableName(meta.name)} SET TBLPROPERTIES ($props)")
  }

  /** Reconstruct a CF's metadata from its catalog table properties. */
  def columnFamilyMeta(cf: String): CfMeta = {
    val props = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(cf, Some(name))).properties
    CfMeta(cf,
      comparator = graft.model.ComparatorType.withName(
        props.getOrElse("graft.comparator", "Bytes")),
      subComparator = graft.model.ComparatorType.withName(
        props.getOrElse("graft.subComparator", "Bytes")),
      isSuper = props.getOrElse("graft.isSuper", "false").toBoolean,
      partitioner = graft.model.PartitionerType.withName(
        props.getOrElse("graft.partitioner", "OrderPreserving")),
      gcGraceSeconds = props.getOrElse("graft.gcGraceSeconds", "864000").toInt,
      domainSplit = props.getOrElse("graft.domainSplit", "false").toBoolean)
  }

  /** Open a lens by NAME alone — metadata comes from the catalog, the
    * describe_keyspace round trip (thrift:429-443).
    */
  def columnFamily(cf: String): CassandraLens = columnFamily(columnFamilyMeta(cf))

  /** describe_keyspace: list column families in the namespace (horizon
    * sidecar and staging tables are internal — filtered out).
    */
  def describe(): DataFrame =
    spark.sql(s"SHOW TABLES IN $name").select(col("tableName").as("column_family"))
      .filter(!col("column_family").rlike("__(hrow|hsc|compacting|staging)$"))

  /** describe_keyspace with full CF metadata (thrift:437-443 returns the
    * CfDef fields; here they come back out of the table properties).
    */
  def describeDetailed(): DataFrame = {
    import spark.implicits._
    describe().collect().map(_.getString(0))
      .map { cf =>
        val m = columnFamilyMeta(cf)
        (cf, m.comparator.toString, m.subComparator.toString, m.isSuper,
          m.partitioner.toString, m.gcGraceSeconds, m.domainSplit)
      }.toSeq
      .toDF("column_family", "comparator", "sub_comparator", "is_super",
        "partitioner", "gc_grace_seconds", "domain_split")
  }

  /** Q8 `batch_mutate` across column families (thrift:415-418 —
    * map<key, map<cf, list<Mutation>>>; RowMutation folds all CFs of one
    * key into one commit-log entry, db/RowMutation.java:270-289). Every
    * CF's mutation cells are applied in ONE logical batch; the returned
    * lenses all observe the batch or none of it (the caller swaps views
    * together) — the structural analog of the reference's atomic-per-row
    * multi-CF apply.
    */
  def batchMutate(batch: Map[CfMeta, Seq[DataFrame]]): Map[String, CassandraLens] =
    batch.map { case (meta, muts) =>
      meta.name -> columnFamily(meta).batchMutate(muts: _*)
    }

  def drop(): Unit = spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")

  // ---- snapshot / backup maintenance (the fork's nightly cluster
  // snapshots: maint/ClusterSnapshotTask.java:34-124 tag(cfRegExp) config +
  // window-manager trigger, maint/CleanOldSnapshotsTask.java:55-115
  // retention by the directory name's leading millis, db/Table.java:283-330
  // snapshot naming `<millis>-<tag>`, db/ColumnFamilyStore.java:1283-1330
  // hard-linked SSTable clones).
  //
  // A snapshot clones the CF's current parquet runs (data + the two horizon
  // sidecars) into `<warehouse>/<ks>.db/__snapshots/<millis>-<tag>/<cf>/`
  // by HARD LINK — parquet files are immutable once published, so a link
  // is a complete, consistent, O(#files) copy that costs no data IO and
  // survives compaction's rename-aside replace of the live table (links
  // keep the inodes alive), exactly the reference's hard-link semantics.
  // On object stores without link support each file falls back to a copy;
  // at 100 TB the same contract is a manifest pin + deferred deletion
  // (immutability is what makes both correct). A manifest records the
  // CfMeta + bucket count so restore needs nothing but the snapshot dir.

  import org.apache.hadoop.fs.Path

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def snapshotsRoot: Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    new Path(wh.stripSuffix("/") + "/" + name + ".db/__snapshots")
  }

  private def tableLocation(table: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location)

  /** Recursively clone `src` into `dst`, hard-linking files when the
    * filesystem supports it (local/posix), copying otherwise — the
    * shared [[graft.util.FsTrees.linkTree]].
    */
  private def linkTree(src: Path, dst: Path): Unit =
    graft.util.FsTrees.linkTree(src, dst, hconf)

  private def writeManifest(dir: Path, meta: CfMeta, buckets: Int): Unit = {
    val fs = dir.getFileSystem(hconf)
    val out = fs.create(new Path(dir, "manifest.json"), true)
    out.write((s"""{"name":"${meta.name}","comparator":"${meta.comparator}",""" +
      s""""subComparator":"${meta.subComparator}","isSuper":${meta.isSuper},""" +
      s""""partitioner":"${meta.partitioner}","gcGraceSeconds":${meta.gcGraceSeconds},""" +
      s""""domainSplit":${meta.domainSplit},"buckets":$buckets}""").getBytes("UTF-8"))
    out.close()
  }

  private def readManifest(dir: Path): (CfMeta, Int) = {
    val fs = dir.getFileSystem(hconf)
    val in = fs.open(new Path(dir, "manifest.json"))
    val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    def str(k: String) = s""""$k":"([^"]*)"""".r.findFirstMatchIn(txt).get.group(1)
    def raw(k: String) = (s""""$k":([^,}]*)""").r.findFirstMatchIn(txt).get.group(1)
    (CfMeta(str("name"),
      comparator = graft.model.ComparatorType.withName(str("comparator")),
      subComparator = graft.model.ComparatorType.withName(str("subComparator")),
      isSuper = raw("isSuper").toBoolean,
      partitioner = graft.model.PartitionerType.withName(str("partitioner")),
      gcGraceSeconds = raw("gcGraceSeconds").toInt,
      domainSplit = raw("domainSplit").toBoolean), raw("buckets").toInt)
  }

  /** Snapshot one column family under `<millis>-<tag>` (Table.snapshot's
    * name scheme, db/Table.java:288-298). Idempotent per name: an existing
    * snapshot of the same name+CF is replaced. Returns the snapshot name.
    */
  def snapshot(cf: String, tag: String = "",
      atMillis: Long = System.currentTimeMillis()): String = {
    val meta = columnFamilyMeta(cf)
    val buckets = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tableName(cf)))
      .bucketSpec.map(_.numBuckets).getOrElse(0)
    val snapName = if (tag.nonEmpty) s"$atMillis-$tag" else atMillis.toString
    val cfDir = new Path(snapshotsRoot, s"$snapName/$cf")
    val fs = cfDir.getFileSystem(hconf)
    if (fs.exists(cfDir)) fs.delete(cfDir, true)
    for ((t, sub) <- Seq((tableName(cf), "data"), (hrowTable(cf), "hrow"),
        (hscTable(cf), "hsc")) if spark.catalog.tableExists(t))
      linkTree(tableLocation(t), new Path(cfDir, sub))
    writeManifest(cfDir, meta, buckets)
    snapName
  }

  /** Snapshot every CF in the keyspace whose name matches `cfRegExp` under
    * one snapshot name — ClusterSnapshotTask's `tag(cfRegExp)` config
    * (maint/ClusterSnapshotTask.java:34-52; null regex = all CFs).
    */
  def snapshotAll(tag: String = "", cfRegExp: Option[String] = None,
      atMillis: Long = System.currentTimeMillis()): String = {
    val cfs = describe().collect().map(_.getString(0))
      .filter(cf => cfRegExp.forall(cf.matches))
    val snapName = if (tag.nonEmpty) s"$atMillis-$tag" else atMillis.toString
    cfs.foreach(snapshot(_, tag, atMillis))
    snapName
  }

  /** Restore a CF from a snapshot: recreate the table EMPTY with the
    * snapshot's metadata (schema + bucket spec from the manifest), then
    * hard-link the snapshot's immutable runs back into the table location —
    * restore is a metadata + link operation, never a data rewrite, the
    * inverse of ColumnFamilyStore.snapshot's link direction.
    */
  def restoreSnapshot(snapshotName: String, cf: String): Unit = {
    val cfDir = new Path(snapshotsRoot, s"$snapshotName/$cf")
    val fs = cfDir.getFileSystem(hconf)
    require(fs.exists(cfDir), s"no snapshot $snapshotName for $cf")
    val (meta, buckets) = readManifest(cfDir)
    val dataDir = new Path(cfDir, "data")
    // bucket-spec'd empty write: bucket ids live in the part-file NAMES,
    // which the links preserve, so the restored table's catalog bucketing
    // matches the files and shuffle-free reads still hold
    CellStore.dropManaged(spark, tableName(cf))
    val empty = spark.read.parquet(dataDir.toString)
      .select(graft.model.Cell.columns.map(col): _*).limit(0)
    if (meta.domainSplit)
      CellStore.writeDomainBucketed(empty, meta, tableName(cf), buckets)
    else CellStore.writeBucketed(empty, meta, tableName(cf), buckets)
    linkTree(dataDir, tableLocation(tableName(cf)))
    if (meta.domainSplit) spark.sql(s"MSCK REPAIR TABLE ${tableName(cf)}")
    setMetaProperties(meta)
    for ((sub, t) <- Seq(("hrow", hrowTable(cf)), ("hsc", hscTable(cf)))) {
      CellStore.dropManaged(spark, t)
      val subDir = new Path(cfDir, sub)
      if (fs.exists(subDir)) {
        spark.read.parquet(subDir.toString).limit(0)
          .write.format("parquet").saveAsTable(t)
        linkTree(subDir, tableLocation(t))
      }
    }
  }

  /** List snapshots: name, leading millis, tag, column families inside.
    * Directories whose name has no parseable leading millis are listed
    * with millis = null (and are never retention-deleted — the reference
    * warns and skips them, CleanOldSnapshotsTask.java:92-98).
    */
  def snapshots(): DataFrame = {
    import spark.implicits._
    val fs = snapshotsRoot.getFileSystem(hconf)
    val rows =
      if (!fs.exists(snapshotsRoot)) Seq.empty
      else fs.listStatus(snapshotsRoot).filter(_.isDirectory).toSeq.map { st =>
        val n = st.getPath.getName
        val millis = scala.util.Try(n.split("-")(0).toLong).toOption
        val tag = n.split("-").drop(1).mkString("-")
        val cfs = fs.listStatus(st.getPath).filter(_.isDirectory)
          .map(_.getPath.getName).sorted.toSeq
        (n, millis, tag, cfs)
      }
    rows.toDF("snapshot", "millis", "tag", "column_families")
      .withColumn("millis", col("millis").cast("long"))
  }

  /** Retention: delete snapshots whose leading millis <= `earliestMillis`
    * (CleanOldSnapshotsTask.cleanDir, maint/CleanOldSnapshotsTask.java:
    * 84-115 — unparseable directory names are skipped with a warning, not
    * deleted). Returns the deleted snapshot names.
    */
  def cleanOldSnapshots(earliestMillis: Long): Seq[String] = {
    val fs = snapshotsRoot.getFileSystem(hconf)
    if (!fs.exists(snapshotsRoot)) return Seq.empty
    fs.listStatus(snapshotsRoot).filter(_.isDirectory).toSeq.flatMap { st =>
      val n = st.getPath.getName
      scala.util.Try(n.split("-")(0).toLong).toOption match {
        case Some(m) if m <= earliestMillis => fs.delete(st.getPath, true); Some(n)
        case _ => None
      }
    }
  }

  // ---- archived mutation log (the fork's commit-log archive surface:
  // CommitLog.java:670-680 copies a discarded segment into the archive
  // destination; maint/CleanArchivedLogsTask.java:34-120 deletes archived
  // `CommitLog-<millis>.log` files older than N days each maintenance
  // window). Segments here are parquet mutation-cell batches named by
  // their stamp; replay is the ts-bounded reconcile CassandraLens.replayAt
  // already provides, so an archive replay is read → filter → lens. ----

  private def logArchiveRoot: Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    new Path(wh.stripSuffix("/") + "/" + name + ".db/__logarchive")
  }

  /** Archive one discarded mutation-log segment: the cell batch written
    * under `CommitLog-<segmentMillis>` (CommitLog.java:674 naming). An
    * existing segment of the same stamp is replaced (re-archive of the
    * same discarded segment is idempotent).
    */
  def archiveMutationLog(cells: DataFrame, segmentMillis: Long): Unit =
    cells.write.mode("overwrite")
      .parquet(new Path(logArchiveRoot, s"CommitLog-$segmentMillis").toString)

  /** Archived segment stamps, ascending; names the task cannot parse are
    * skipped, never deleted (CleanArchivedLogsTask's FileFilter contract).
    */
  def archivedLogSegments(): Seq[Long] = {
    val fs = logArchiveRoot.getFileSystem(hconf)
    if (!fs.exists(logArchiveRoot)) return Seq.empty
    fs.listStatus(logArchiveRoot).filter(_.isDirectory).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("CommitLog-"))
        scala.util.Try(n.stripPrefix("CommitLog-").toLong).toOption
      else None
    }.sorted
  }

  /** Point-in-time replay from the archive (tools/ReplayLogs.java over the
    * archive directory): union every archived segment, bound at `maxTs`
    * via the lens's replayAt reconcile. Throws if the archive is empty —
    * replaying nothing silently would masquerade as an empty store.
    */
  def replayArchivedLogs(meta: CfMeta, maxTs: Long): CassandraLens = {
    val segs = archivedLogSegments()
    require(segs.nonEmpty, s"no archived log segments under $logArchiveRoot")
    val cells = spark.read.parquet(
      segs.map(m => new Path(logArchiveRoot, s"CommitLog-$m").toString): _*)
    new CassandraLens(cells, meta).replayAt(maxTs)
  }

  /** Retention: delete archived segments whose stamp <= `nowMillis` minus
    * `daysOld` days — CleanArchivedLogsTask.earliestLogFile's cutoff rule,
    * inclusive like the reference's `<=`. Unparseable names are skipped
    * (warned in the reference, never deleted). Returns CONFIRMED-deleted
    * segment stamps (the expireDays convention — a failed delete is not
    * reported as applied, and the segment reappears in the next run's
    * candidates); rerun after full success is a no-op.
    */
  def cleanArchivedLogs(daysOld: Int, nowMillis: Long): Seq[Long] = {
    require(daysOld >= 0, s"daysOld $daysOld must be >= 0")
    val cutoff = nowMillis - daysOld.toLong * 86400000L
    val fs = logArchiveRoot.getFileSystem(hconf)
    if (!fs.exists(logArchiveRoot)) return Seq.empty
    archivedLogSegments().filter(_ <= cutoff).filter { m =>
      fs.delete(new Path(logArchiveRoot, s"CommitLog-$m"), true)
    }
  }

  /** Run-integrity report for a CF's physical stores — the
    * `tools/SSTableValidator.java:40-70` / SSTableRepair analog: scan
    * the CF's data files AND its horizon-sidecar tables, footer-decode
    * every parquet file (`deep = true` additionally decodes every page
    * — the validator's full-scan mode), and report unreadable files or
    * layout inconsistencies WITHOUT touching the read path. Returns
    * (store, path, kind, status, detail); an empty non-ok subset means
    * the CF is clean. See [[graft.sources.RunIntegrity.validateStore]]
    * for the checks and the quarantine recipe.
    */
  def validateRuns(cf: String, deep: Boolean = false): DataFrame = {
    val stores = Seq(tableName(cf), hrowTable(cf), hscTable(cf))
      .filter(t => spark.catalog.tableExists(t))
      .map(t => (t, tableLocation(t).toString))
    require(stores.nonEmpty, s"validateRuns: no stores for CF '$cf'")
    stores.map { case (t, loc) =>
      graft.sources.RunIntegrity.validateStore(spark, loc, label = t,
        deep = deep)
    }.reduce(_ unionByName _)
  }

  /** Per-CF store census — the `nodetool cfstats` analog
    * (tools/NodeCmd.java:295-380 printColumnFamilyStats: SSTable count,
    * live disk space, key estimate, cache stats per CF), the readout an
    * operator consults BEFORE scheduling compaction at 100 TB: is this
    * store fragmented (files ≫ buckets), how much of it is tombstone
    * mass, is the horizon sidecar stale. One row per physical store
    * (`data` + the two horizon sidecars when present):
    *
    *  - `files` / `bytes` / `rows`: visible parquet files, their total
    *    size, and their FOOTER row counts (the footer is the cheapest
    *    per-file proof + census — no data pages read; distributed via
    *    [[graft.sources.RunIntegrity.footerRows]]). `unreadable_files`
    *    counts footers that fail to decode (non-zero ⇒ run
    *    [[validateRuns]] for the detail report).
    *  - `domain_dirs`: domain partition directories (the domainSplit
    *    layout's fan-out; 0 for flat stores).
    *  - `max_mtime`: newest file's modification time. `sidecar_fresh`
    *    (data row only, null when no sidecar): every sidecar's newest
    *    file is at least as new as the data store's — the write paths
    *    (saveColumnFamily, compactColumnFamily) always write data THEN
    *    horizons, so a data store newer than its sidecar means the
    *    horizons were not refreshed after the last data change.
    *  - `snapshots`: how many snapshots under this keyspace contain
    *    this CF (the backup-coverage readout).
    *  - `withCellStats = true` adds one column-pruned aggregate over
    *    the data store (key/col_name/tombstone columns only — at scale
    *    this reads three thin columns, never values): `keys_est`
    *    (approx distinct keys — NodeCmd's "Number of Keys (estimate)"),
    *    `value_cells` (live column versions), `deleted_cells`
    *    (tombstoned columns), `marker_cells` (row/SC deletion markers)
    *    — the live-vs-tombstone ratio that schedules compaction.
    *    Cache occupancy (the cfstats row-cache block) lives on the
    *    lens, not the catalog — see [[CassandraLens.withRowCache]].
    */
  def storeStats(cf: String, withCellStats: Boolean = false): DataFrame = {
    import spark.implicits._
    val stores = Seq((tableName(cf), "data"), (hrowTable(cf), "hrow"),
      (hscTable(cf), "hsc")).filter { case (t, _) => spark.catalog.tableExists(t) }
    require(stores.nonEmpty, s"storeStats: no stores for CF '$cf'")
    val snapCount = {
      val fs = snapshotsRoot.getFileSystem(hconf)
      if (!fs.exists(snapshotsRoot)) 0L
      else fs.listStatus(snapshotsRoot).count(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, cf))).toLong
    }
    // one listing pass per store: visible parquet files (path, len,
    // mtime) + domain-directory fan-out — metadata-scale, like the
    // reference's MBean reads; the walker (and its hidden/residue name
    // conventions) is the shared graft.util.FsTrees definition
    def listing(loc: Path): (Seq[(String, Long, Long)], Long) = {
      val fs = loc.getFileSystem(hconf)
      if (!fs.exists(loc)) return (Nil, 0L)
      val files = graft.util.FsTrees.walkFiles(fs, loc)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      val domains = fs.listStatus(loc).count(st => st.isDirectory &&
        st.getPath.getName.startsWith("domain=")).toLong
      (files, domains)
    }
    val listed = stores.map { case (t, role) =>
      val (files, domains) = listing(tableLocation(t))
      (t, role, files, domains)
    }
    // ONE distributed footer pass over every store's files
    val rowsByFile = graft.sources.RunIntegrity.footerRows(spark,
      listed.flatMap(_._3.map(_._1))).toMap
    val dataMtime = listed.find(_._2 == "data")
      .map(_._3.map(_._3).foldLeft(0L)(math.max)).getOrElse(0L)
    val sidecarFresh: Option[Boolean] =
      if (listed.count(_._2 != "data") < 2) None
      // a fileless sidecar (no horizons of that kind) has nothing stale
      else Some(listed.filter(_._2 != "data").forall(s =>
        s._3.isEmpty || s._3.map(_._3).foldLeft(0L)(math.max) >= dataMtime))
    val cellStats: Option[(Long, Long, Long, Long)] =
      if (!withCellStats) None
      else {
        val r = spark.table(tableName(cf)).agg(
          approx_count_distinct(col("key")).as("keys_est"),
          coalesce(sum(when(col("col_name").isNotNull && !col("tombstone"),
            1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("col_name").isNotNull && col("tombstone"),
            1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("col_name").isNull, 1L).otherwise(0L)),
            lit(0L))).head()
        Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
    listed.map { case (t, role, files, domains) =>
      val counted = files.map(f => rowsByFile.getOrElse(f._1, None))
      (t, role, files.size.toLong, files.map(_._2).sum,
        counted.flatten.sum, counted.count(_.isEmpty).toLong, domains,
        files.map(_._3).foldLeft(0L)(math.max), snapCount,
        if (role == "data") sidecarFresh else None,
        if (role == "data") cellStats.map(_._1) else None,
        if (role == "data") cellStats.map(_._2) else None,
        if (role == "data") cellStats.map(_._3) else None,
        if (role == "data") cellStats.map(_._4) else None)
    }.toDF("store", "role", "files", "bytes", "rows", "unreadable_files",
      "domain_dirs", "max_mtime", "snapshots", "sidecar_fresh", "keys_est",
      "value_cells", "deleted_cells", "marker_cells")
  }

  /** Enumerate one run's decorated keys in token order — the
    * `bin/sstablekeys` analog (tools/SSTableExport.enumeratekeys:149-163
    * walks one SSTable's index file printing each decorated key). A
    * "run" here is one parquet file of the CF's data store (the
    * SSTable-grain physical unit); pass its file name (or full path) as
    * listed by [[storeStats]]/[[validateRuns]]. Returns (token, key)
    * distinct, ordered by the CF partitioner's token — exactly the
    * on-disk decoration the reference prints.
    */
  def runKeys(cf: String, run: String): DataFrame = {
    val meta = columnFamilyMeta(cf)
    val loc = tableLocation(tableName(cf))
    val fs = loc.getFileSystem(hconf)
    val matches = graft.util.FsTrees.walkFiles(fs, loc).map(_.getPath)
      .filter(p => p.getName == run || p.toString == run)
    require(matches.nonEmpty, s"runKeys: no file '$run' under $loc")
    // sstablekeys enumerates ONE run: a bare name that matches several
    // files (domainSplit writes identical part names into every
    // domain= dir) would silently merge runs — demand the full path
    require(matches.size == 1, s"runKeys: '$run' is ambiguous (" +
      s"${matches.size} files — a domainSplit layout repeats part " +
      s"names across domains); pass the full path: " +
      matches.take(3).mkString(", "))
    spark.read.parquet(matches.map(_.toString): _*)
      .select(col("key")).distinct()
      .withColumn("token",
        graft.model.Tokens.token(meta.partitioner, col("key")))
      .select(col("token"), col("key"))
      .orderBy(col("token"), col("key"))
  }

  /** Bucket-id suffix in a Spark bucketed part-file name
    * (`part-00000-<uuid>_00007.c000.snappy.parquet` → bucket 7): the
    * file-to-shard map the advice planner groups by.
    */
  private val BucketIdRe = "_([0-9]{5})\\.c[0-9]+".r

  /** Compaction-trigger policy — the `submitMinorIfNeeded` decision
    * (reference db/CompactionManager.java:87-141: every memtable flush
    * asks "would compaction be useful?"; db/ColumnFamilyStore.java:558-640
    * wires it into the flush path) computed as a READOUT over the CF's
    * physical state, replacing the NOTES-recipe "consult storeStats
    * first" with an operator. Advice kinds, one row each:
    *
    *  - `minor`: per (domain-dir, bucket-id) shard — a Spark bucket is
    *    this engine's ring shard, so files WITHIN one bucket are the
    *    SSTables of one mini-CF and the merge unit — size-tiered groups
    *    ([[graft.operators.Compaction.minorCompactionPlan]], the
    *    getBuckets:614-660 rule) of at least `minThreshold` similar-size
    *    files, capped at `maxThreshold` per job. A freshly-compacted
    *    store (one file per bucket) produces no group and no advice.
    *  - `gc`: tombstone/marker cells whose deletion time has passed the
    *    gcGrace horizon at `nowSec` (getDefaultGcBefore = now − grace):
    *    compaction would actually reclaim them. Counted by ONE
    *    column-pruned aggregate (col_name/tombstone/local_del_time —
    *    three thin columns, never values; the storeStats cell-census
    *    move). Zero reclaimable ⇒ no row: tombstones still inside grace
    *    are not advice, they are the contract.
    *  - `sidecar`: the horizon sidecar is STALE (data store's newest
    *    file newer than a sidecar's — the storeStats freshness rule);
    *    [[compactColumnFamily]] refreshes it.
    *
    * Empty result = nothing to do. `nowSec` is explicit so the decision
    * is deterministic and testable (the reference's implicit clock).
    */
  def compactionAdvice(cf: String, nowSec: Int, minThreshold: Int = 4,
      maxThreshold: Int = 32, minSmall: Long = 50L << 20): DataFrame = {
    import spark.implicits._
    val meta = columnFamilyMeta(cf)
    val loc = tableLocation(tableName(cf))
    val fs = loc.getFileSystem(hconf)
    val files = graft.util.FsTrees.walkFiles(fs, loc)
      .filter(_.getPath.getName.endsWith(".parquet"))
    // minor: size-tiered plan per (parent dir, bucket id) shard
    val minor = files.groupBy { st =>
      val bucket = BucketIdRe.findFirstMatchIn(st.getPath.getName)
        .map(_.group(1)).getOrElse("")
      (st.getPath.getParent.toString, bucket)
    }.toSeq.sortBy(_._1).flatMap { case ((dir, bucket), members) =>
      graft.operators.Compaction.minorCompactionPlan(
        members.map(st => (st.getPath.getName, st.getLen)),
        minThreshold, maxThreshold, minSmall)
        .map { group =>
          val bytes = members.filter(st => group.contains(st.getPath.getName))
            .map(_.getLen).sum
          val shard = if (bucket.isEmpty) dir else s"bucket $bucket"
          ("minor", s"$shard: ${group.size} similar-size files would merge " +
            s"into one", group.size.toLong, bytes, 0L)
        }
    }
    // gc: reclaimable tombstone mass under the CF's own grace at nowSec
    val gcBefore = nowSec - meta.gcGraceSeconds
    val reclaimable = spark.table(tableName(cf))
      .filter((col("tombstone") || col("col_name").isNull) &&
        col("local_del_time") < gcBefore)
      .count()
    val gc = if (reclaimable == 0L) Nil
      else Seq(("gc", s"$reclaimable tombstone/marker cells past the " +
        s"gcGrace horizon (gcBefore = $gcBefore) would purge", 0L, 0L,
        reclaimable))
    // sidecar: newest data file vs newest sidecar file (mtime listing only)
    def newest(t: String): Option[Long] =
      if (!spark.catalog.tableExists(t)) None
      else {
        val l = tableLocation(t)
        val f = l.getFileSystem(hconf)
        if (!f.exists(l)) None
        else Some(graft.util.FsTrees.walkFiles(f, l)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getModificationTime).foldLeft(0L)(math.max))
      }
    val dataM = files.map(_.getModificationTime).foldLeft(0L)(math.max)
    val stale = Seq(hrowTable(cf), hscTable(cf))
      .flatMap(newest).exists(m => m > 0L && m < dataM)
    val sidecar = if (!stale) Nil
      else Seq(("sidecar", "horizon sidecar older than the data store — " +
        "refresh (compactColumnFamily rewrites it incrementally)", 0L, 0L, 0L))
    (minor ++ gc ++ sidecar)
      .toDF("kind", "reason", "files", "bytes", "cells")
  }

  /** Act on [[compactionAdvice]] — the full `submitMinorIfNeeded` loop:
    * when any advice row exists, compact the CF in place
    * ([[compactColumnFamily]] with gcBefore = nowSec − gcGrace, the
    * reference's getDefaultGcBefore) and return the advice acted on;
    * an empty return means the store was already tight and NOTHING was
    * rewritten. A SIDECAR-ONLY advice (stale horizons, tight data
    * store) refreshes the two horizon tables from the store's
    * value-free marker branches and rewrites no data — at 100 TB a
    * metadata-freshness fix must never cost a full-store rewrite.
    * The DECISION grain is the reference's (size-tiered
    * buckets, thresholds); the MECHANISM is this engine's: the bucketed
    * in-place rewrite merges every advised group in one shuffle-free
    * job (each Spark bucket rewrites locally), rather than one job per
    * SSTable group — at 100 TB the per-bucket rewrite is embarrassingly
    * parallel across executors and touches each row exactly once.
    */
  def compactIfNeeded(cf: String, nowSec: Int, minThreshold: Int = 4,
      maxThreshold: Int = 32, minSmall: Long = 50L << 20): DataFrame = {
    val advice = compactionAdvice(cf, nowSec, minThreshold, maxThreshold,
      minSmall).localCheckpoint()
    val kinds = advice.select(col("kind")).collect().map(_.getString(0)).toSet
    if (kinds == Set("sidecar")) {
      // staleness alone needs no data rewrite: recompute the horizons
      // from the store's MARKER branches (value-free, column-pruned —
      // two thin aggregates) instead of rewriting every bucket of a
      // possibly-huge CF to fix metadata freshness
      val cells = spark.table(tableName(cf))
      if (spark.catalog.tableExists(hrowTable(cf)))
        CellStore.replaceTable(spark, hrowTable(cf),
          graft.operators.Reconcile.rowTombstones(cells))
      if (spark.catalog.tableExists(hscTable(cf)))
        CellStore.replaceTable(spark, hscTable(cf),
          graft.operators.Reconcile.superTombstones(cells))
    } else if (kinds.nonEmpty) {
      val meta = columnFamilyMeta(cf)
      val buckets = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(tableName(cf)))
        .bucketSpec.map(_.numBuckets).getOrElse(32)
      compactColumnFamily(meta, nowSec - meta.gcGraceSeconds, buckets)
    }
    advice
  }
}

object Keyspace {
  def apply(spark: SparkSession, name: String): Keyspace = new Keyspace(spark, name)

  /** The deprecated property-getter meta-API
    * (interface/cassandra.thrift:429-437 →
    * thrift/CassandraServer.java:463-502), mapped onto engine-native
    * facts — the last uncited Thrift methods, closing the §2.1 surface:
    *  - "cluster name" → the Spark application name (the
    *    DatabaseDescriptor.getClusterName analog);
    *  - "config file"  → the session's runtime conf rendered as sorted
    *    `key=value` lines (the reference streams storage-conf.xml off
    *    disk; the session conf IS this engine's config source).
    *    Credential-bearing keys are REDACTED (the `spark.redaction.regex`
    *    default pattern: secret/password/token/access.key, case-blind) —
    *    the reference's file never held session credentials, and Spark's
    *    own UI/event log redact the same way, so a Shell caller must
    *    never see more than the UI would;
    *  - "token map"    → JSON token→endpoint map. A single-engine build
    *    owns the whole ring, so the map is one entry: the partitioner's
    *    minimum token against the Spark master endpoint (the
    *    getStringEndpointMap shape at cluster size 1);
    *  - "version"      → the Thrift API version the surface speaks
    *    (gen-java Constants.VERSION = "2.2.0");
    *  - anything else  → "?" (the reference's literal fallback).
    */
  def getStringProperty(spark: SparkSession, property: String): String =
    property match {
      case "cluster name" => spark.sparkContext.appName
      case "config file" =>
        // Spark's spark.redaction.regex default, applied to KEYS: a
        // matching key renders the UI's literal placeholder, not the value
        val redact = java.util.regex.Pattern
          .compile("(?i)secret|password|token|access[.]key")
        spark.conf.getAll.toSeq.sortBy(_._1)
          .map { case (k, v) =>
            if (redact.matcher(k).find()) s"$k=*********(redacted)"
            else s"$k=$v"
          }.mkString("\n")
      case "token map" =>
        val master = spark.sparkContext.master
        s"""{"0":"${master.replace("\"", "\\\"")}"}"""
      case "version" => "2.2.0"
      case _ => "?"
    }

  /** get_string_list_property (thrift:436, CassandraServer.java:504-510):
    * "keyspaces" lists the defined namespaces from the catalog (the
    * DatabaseDescriptor.getTables analog); every other property is the
    * reference's literal empty list.
    */
  def getStringListProperty(spark: SparkSession, property: String): Seq[String] =
    property match {
      case "keyspaces" => spark.catalog.listDatabases().collect().map(_.name).toSeq
      case _ => Seq.empty
    }
}

/** Thrift-shaped result materialization (SURVEY §1.4): rows as
  * key → comparator-ordered array of columns — the `thriftifyColumns`
  * sink (thrift/CassandraServer.java:112-208) as one aggregation.
  */
object Thriftify {
  import graft.model.{Comparators, ComparatorType}

  /** (key, columns: array<struct<name,value,ts>>) — array sorted by the
    * comparator's order via a sort-key-first struct (sort_array orders by
    * the leading fields; reversal applied at materialization, matching the
    * reference).
    */
  def rows(live: DataFrame, cmp: ComparatorType.Value, reversed: Boolean = false): DataFrame = {
    val sorted = sort_array(
      collect_list(struct(
        Comparators.sortKey(cmp, col("col_name")).as("_sk"),
        col("col_name").as("name"), col("value").as("value"), col("ts").as("ts"))),
      asc = !reversed)
    live.groupBy(col("key"))
      .agg(sorted.as("_cols"))
      .select(col("key"),
        expr("transform(_cols, c -> struct(c.name AS name, c.value AS value, c.ts AS ts))")
          .as("columns"))
  }

  /** Super-CF rows: key → comparator-ordered array of supercolumns, each
    * holding its subcomparator-ordered subcolumn array — the two-level
    * ColumnOrSuperColumn nesting (thrift:72-90) as nested arrays.
    */
  def superRows(live: DataFrame, cmp: ComparatorType.Value,
      subCmp: ComparatorType.Value): DataFrame = {
    val subSorted = sort_array(
      collect_list(struct(
        Comparators.sortKey(subCmp, col("col_name")).as("_sk"),
        col("col_name").as("name"), col("value").as("value"), col("ts").as("ts"))))
    val perSuper = live
      .groupBy(col("key"), col("super_name"))
      .agg(subSorted.as("_cols"))
      .select(col("key"), col("super_name"),
        expr("transform(_cols, c -> struct(c.name AS name, c.value AS value, c.ts AS ts))")
          .as("columns"))
    perSuper
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(
        Comparators.sortKey(cmp, col("super_name")).as("_sk"),
        col("super_name").as("name"), col("columns").as("columns")))).as("_sc"))
      .select(col("key"),
        expr("transform(_sc, s -> struct(s.name AS name, s.columns AS columns))")
          .as("super_columns"))
  }
}
