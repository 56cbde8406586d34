package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-path operators (SURVEY §2.1 Q7–Q9): timestamped upserts and
  * tombstones, expressed as cell appends. The reference applies a
  * RowMutation to a memtable (db/RowMutation.java:191-216,
  * db/Table.java:568-640); here a mutation batch is a DataFrame of cells
  * unioned into the store — last-write-wins resolution happens at read
  * (Reconcile) or compaction time, exactly like memtable/SSTable merge.
  */
object Mutations {

  /** Normalize a DataFrame holding (key, super_name, col_name, value, ts)
    * into live insert cells (batch_insert, thrift:378-396).
    */
  def asInserts(df: DataFrame): DataFrame =
    conform(df
      .withColumn("tombstone", lit(false))
      .withColumn("local_del_time", lit(0)))

  /** Column-level deletions: (key, super_name, col_name, ts) + the server
    * clock seconds (drives gcGrace; db/Column.java:189-193 stores it in the
    * tombstone's value — we keep it in local_del_time).
    */
  def asColumnDeletes(df: DataFrame, localDeletionTimeSec: Int): DataFrame =
    conform(df
      .withColumn("value", lit(Array.emptyByteArray))
      .withColumn("tombstone", lit(true))
      .withColumn("local_del_time", lit(localDeletionTimeSec)))

  /** Whole-row deletions: (key, ts) → marker cells with NULL names
    * (remove with a ColumnPath naming only the CF, thrift:403-408;
    * db/RowMutation.java:202-216 `delete`).
    */
  def asRowDeletes(df: DataFrame, localDeletionTimeSec: Int): DataFrame =
    conform(df
      .withColumn("super_name", lit(null).cast("binary"))
      .withColumn("col_name", lit(null).cast("binary"))
      .withColumn("value", lit(Array.emptyByteArray))
      .withColumn("tombstone", lit(true))
      .withColumn("local_del_time", lit(localDeletionTimeSec)))

  /** Supercolumn deletions: (key, super_name, ts) → marker cells with NULL
    * col_name (Deletion with super_column set, thrift:260-274).
    */
  def asSuperDeletes(df: DataFrame, localDeletionTimeSec: Int): DataFrame =
    conform(df
      .withColumn("col_name", lit(null).cast("binary"))
      .withColumn("value", lit(Array.emptyByteArray))
      .withColumn("tombstone", lit(true))
      .withColumn("local_del_time", lit(localDeletionTimeSec)))

  /** batch_mutate: atomic-per-row batch = plain union; per-row atomicity is
    * trivially satisfied because reads reconcile whole batches.
    */
  def apply(store: DataFrame, mutations: DataFrame*): DataFrame =
    mutations.foldLeft(store)((acc, m) => acc.unionByName(conform(m)))

  /** Project/cast to the canonical cell schema, adding absent optional
    * columns as NULL (super_name for standard-CF writers).
    */
  def conform(df: DataFrame): DataFrame = {
    val withSuper =
      if (df.columns.contains("super_name")) df
      else df.withColumn("super_name", lit(null).cast("binary"))
    withSuper.select(
      col("key").cast("string").as("key"),
      col("super_name").cast("binary").as("super_name"),
      col("col_name").cast("binary").as("col_name"),
      col("value").cast("binary").as("value"),
      col("ts").cast("long").as("ts"),
      col("tombstone").cast("boolean").as("tombstone"),
      col("local_del_time").cast("int").as("local_del_time"))
  }
}
