package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge & reconciliation operators (SURVEY §2.3) — the heart of the engine.
  *
  * The reference merges N versions of each column (memtables + SSTables +
  * replicas) with a deterministic, order-insensitive priority rule
  * (db/Column.java:196-210 `comparePriority`):
  *   1. the tombstone wins timestamp ties;
  *   2. otherwise the higher timestamp wins;
  *   3. equal-timestamp live columns tie-break on unsigned value bytes
  *      (FBUtilities.compareByteArrays — greater value wins).
  *
  * Spark realization: `max(struct(ts, tombstone::int, value))` — struct
  * comparison evaluates the fields in order, and Spark's BinaryType
  * comparison is unsigned lexicographic, so the struct maximum IS
  * comparePriority. A single hash aggregation with map-side partial
  * aggregation; no custom code in the hot path, full whole-stage codegen.
  *
  * Container tombstones (row-level / supercolumn-level deletes,
  * db/ColumnFamilyStore.java:663-717 `removeDeleted*`) shadow any column
  * whose timestamp is <= the container's markedForDeleteAt. They are carried
  * as marker cells (`col_name IS NULL`) and applied in one of two plans:
  *  - unbounded reads ([[liveView]], [[liveViewGiven]], [[compacted]]):
  *    the winners aggregate partially map-side, then join the per-key and
  *    per-supercolumn maximum deletion timestamps (derived from the cells
  *    or read from a sidecar);
  *  - key-bounded reads ([[liveByKey]], [[liveNamesByKey]]): the horizons
  *    are windowed maxima computed in the same key-clustered pass that
  *    shadows the raw versions ahead of the winners aggregate
  *    ([[shadowByKey]]), the reference's one-pass-per-row shape
  *    (ColumnFamilyStore.getColumnFamily, db/ColumnFamilyStore.java:993-1114).
  */
object Reconcile {

  /** One winning version per (key, super_name, col_name), tombstones
    * included (the caller decides whether to GC or surface them).
    * Marker cells (col_name NULL) pass through reduced the same way.
    *
    * Exactly one shuffle; partial aggregation runs map-side, so at 100 TB
    * the shuffled volume is one cell per distinct column per map partition,
    * not one per version. The aggregate is the native ReconcileMax
    * TypedImperativeAggregate (graft.functions.ReconcileMax): declarative
    * struct-max/max_by formulations fall back to SortAggregate (a
    * per-partition sort of the whole scan), while this plans as
    * ObjectHashAggregate — hash-based, no sort — the plan that survives a
    * 100× scale-up.
    */
  def latestCells(cells: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cells.sparkSession)
    cells
      .groupBy(col("key"), col("super_name"), col("col_name"))
      .agg(call_function("graft_reconcile",
        col("value"), col("ts"), col("tombstone"), col("local_del_time")).as("w"))
      .select(
        col("key"),
        col("super_name"),
        col("col_name"),
        col("w.value").as("value"),
        col("w.ts").as("ts"),
        col("w.tombstone").as("tombstone"),
        col("w.local_del_time").as("local_del_time"))
  }

  /** Row-level deletion horizon per key: (key, row_del_ts, row_del_ldt).
    * Marker = col_name NULL and super_name NULL
    * (ColumnFamily.markedForDeleteAt, db/ColumnFamily.java:233-252).
    */
  def rowTombstones(cells: DataFrame): DataFrame =
    cells
      .filter(col("col_name").isNull && col("super_name").isNull && col("tombstone"))
      .groupBy(col("key"))
      .agg(max(struct(col("ts"), col("local_del_time"))).as("w"))
      .select(col("key"), col("w.ts").as("row_del_ts"), col("w.local_del_time").as("row_del_ldt"))

  /** Supercolumn-level deletion horizon per (key, super_name)
    * (SuperColumn.markedForDeleteAt, db/SuperColumn.java:84-92).
    */
  def superTombstones(cells: DataFrame): DataFrame =
    cells
      .filter(col("col_name").isNull && col("super_name").isNotNull && col("tombstone"))
      .groupBy(col("key"), col("super_name"))
      .agg(max(struct(col("ts"), col("local_del_time"))).as("w"))
      .select(
        col("key"), col("super_name"),
        col("w.ts").as("sc_del_ts"), col("w.local_del_time").as("sc_del_ldt"))

  /** Drop cells shadowed by their containing row / supercolumn tombstone:
    * keep a column iff ts > max(row_del_ts, sc_del_ts)
    * (db/ColumnFamilyStore.java:663-717: `column.timestamp() <=
    * cf.getMarkedForDeleteAt()` ⇒ removed; subcolumns additionally against
    * the supercolumn's markedForDeleteAt). The horizons are either
    * derived from the raw cells ([[rowTombstones]], [[superTombstones]])
    * or PRECOMPUTED — the sidecar path: compaction persists the (tiny)
    * horizon tables next to the runs, so reads join against them instead
    * of re-aggregating marker cells out of the full store
    * (CellStore.writeWithHorizons). The marker sets are tiny relative to
    * the data (they are deletes, not data); Spark/AQE broadcasts them when
    * small, otherwise this is a shuffle join on `key`.
    */
  def shadowByContainersGiven(cells: DataFrame, rowDel: DataFrame, scDel: DataFrame): DataFrame = {
    cells
      .filter(col("col_name").isNotNull)
      .join(rowDel, Seq("key"), "left")
      // null super_name never equi-joins ⇒ standard cells skip SC horizon — correct
      .join(scDel, Seq("key", "super_name"), "left")
      .filter(
        col("ts") > coalesce(
          greatest(col("row_del_ts"), col("sc_del_ts")),
          lit(Long.MinValue)))
      .drop("row_del_ts", "row_del_ldt", "sc_del_ts", "sc_del_ldt")
  }

  /** The user-visible reconciled LIVE view: LWW per column, container
    * shadowing applied, tombstones consumed. This is the dataframe every
    * read operator (get / get_slice / get_count / get_range_slices) runs on.
    */
  def liveView(cells: DataFrame): DataFrame =
    // horizons from the RAW cells, not the reconciled stream: max(ts, ldt)
    // is associative so the horizons are identical (this is exactly what
    // the persisted sidecar computes), and it keeps the two horizon
    // branches to a marker filter + max agg — without this they each ran
    // the full ReconcileMax, dragging `value` (the widest column) into
    // their scans; now column pruning drops it from both
    liveViewGiven(cells, rowTombstones(cells), superTombstones(cells))

  /** Live view with precomputed horizons (sidecar read path). */
  def liveViewGiven(cells: DataFrame, rowDel: DataFrame, scDel: DataFrame): DataFrame =
    shadowByContainersGiven(latestCells(cells), rowDel, scDel).filter(!col("tombstone"))

  /** Key-clustered shadowing of RAW versions: drops marker cells and every
    * version whose ts is <= its row horizon (`max(ts)` of the key's row
    * markers, windowed over `key`) or its supercolumn horizon (`max(ts)`
    * of the (key, super_name) supercolumn markers, windowed over
    * `(key, super_name)`). The input columns pass through unchanged.
    *
    * Shadowing a version before LWW equals shadowing the winner after it:
    * comparePriority orders by ts first, so the winner carries its
    * column's maximum ts. If that ts beats the horizon the winner survives
    * the filter and still wins among the survivors; if it does not, no
    * version of the column beats the horizon and the column is gone
    * either way.
    *
    * Plan: both windows cluster on `key`, so Catalyst inserts ONE
    * `hashpartitioning(key)` exchange on a plain store and none on a
    * store bucketed by key, and the winners aggregate and a per-key slice
    * window after it reuse that distribution. Raw versions cross the
    * exchange (no map-side partial aggregate): KEY-BOUNDED reads only.
    */
  def shadowByKey(cells: DataFrame): DataFrame = {
    val marker = col("col_name").isNull && col("tombstone")
    cells
      .withColumn("row_del_ts", max(when(marker && col("super_name").isNull, col("ts")))
        .over(Window.partitionBy(col("key"))))
      .withColumn("sc_del_ts", max(when(marker && col("super_name").isNotNull, col("ts")))
        .over(Window.partitionBy(col("key"), col("super_name"))))
      .filter(col("col_name").isNotNull && col("ts") > coalesce(
        greatest(col("row_del_ts"), col("sc_del_ts")), lit(Long.MinValue)))
      .drop("row_del_ts", "sc_del_ts")
  }

  /** [[liveView]] of a key-bounded cell set in one key-clustered pass:
    * [[shadowByKey]], then the winners aggregate, then tombstones
    * consumed. Same rows as [[liveView]] (see [[shadowByKey]]).
    */
  def liveByKey(cells: DataFrame): DataFrame =
    latestCells(shadowByKey(cells)).filter(!col("tombstone"))

  /** Best live ts (`lmax`) and best tombstone ts (`tmax`) per
    * (key, super_name, col_name) — the value-free liveness verdict:
    * reconcile priority is (ts, tombstone, value) with the value bytes
    * only breaking ties BETWEEN live cells, so a column's winner is live
    * iff lmax > tmax (the tombstone wins ties). Two scalar max buffers (a
    * plain HashAggregate; a struct buffer would be a SortAggregate, and a
    * ts<<1|tomb bit-pack would overflow for sentinel-huge timestamps like
    * Long.MaxValue).
    */
  def liveTsMaxima(cells: DataFrame): DataFrame =
    cells
      .groupBy(col("key"), col("super_name"), col("col_name"))
      .agg(
        max(when(!col("tombstone"), col("ts"))).as("lmax"),
        max(when(col("tombstone"), col("ts"))).as("tmax"))

  /** The live (key, super_name, col_name) names of a key-bounded cell set,
    * without values: the [[liveTsMaxima]] verdict over the versions
    * [[shadowByKey]] keeps, behind the same single key exchange.
    */
  def liveNamesByKey(cells: DataFrame): DataFrame =
    liveTsMaxima(shadowByKey(cells.select(col("key"), col("super_name"),
        col("col_name"), col("ts"), col("tombstone"))))
      .filter(col("lmax") > coalesce(col("tmax"), lit(Long.MinValue)))
      .select(col("key"), col("super_name"), col("col_name"))

  /** Compaction output view (SURVEY §2.7): winning versions with tombstones
    * RETAINED unless expired — a tombstone (column-level or marker) is
    * purged only when local_del_time < gcBefore (db/CompactionManager.java:
    * 636-643; gcBefore = now - gcGraceSeconds). Shadowed live cells are
    * dropped outright (they lost to a container delete).
    */
  def compacted(cells: DataFrame, gcBeforeSeconds: Int): DataFrame = {
    val latest = latestCells(cells)
    // raw-derived horizons for the same reason as liveView: the marker
    // branches stay value-free (column-pruned scans)
    val live = shadowByContainersGiven(latest,
      rowTombstones(cells), superTombstones(cells))
    val keptColumns = live.filter(
      !col("tombstone") || col("local_del_time") >= gcBeforeSeconds)
    // container markers survive GC the same way (ColumnFamilyStore.removeDeleted)
    val keptMarkers = latest.filter(
      col("col_name").isNull && col("local_del_time") >= gcBeforeSeconds)
    keptColumns.unionByName(keptMarkers)
  }
}
