package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{CfMeta, Comparators, ComparatorType}

/** SlicePredicate — the per-row projection/predicate layer (SURVEY §2.2).
  * Matches interface/cassandra.thrift:188-229: either an explicit name list
  * or a (start, finish, reversed, count) range; empty start/finish bytes
  * mean unbounded (db/filter/SSTableSliceIterator.java:70-80 sentinels).
  */
sealed trait SlicePredicate
case class SliceRange(
    start: Array[Byte] = Array.emptyByteArray,
    finish: Array[Byte] = Array.emptyByteArray,
    reversed: Boolean = false,
    count: Int = 100)
  extends SlicePredicate
case class SliceByNames(names: Seq[Array[Byte]]) extends SlicePredicate

object Slice {

  /** Apply a slice predicate over a reconciled LIVE view.
    *
    * `nameCol` is the sliced dimension: `col_name` for standard CFs and for
    * sub-slices inside one supercolumn; `super_name` when slicing the
    * top-level entities of a super CF (thrift get_slice with a
    * ColumnParent naming only the CF — SliceQueryFilter.filterSuperColumn,
    * db/filter/SliceQueryFilter.java:66-96).
    *
    * `count` counts live top-level entities per key — dense_rank (not
    * row_number) so a supercolumn with many subcells counts once
    * (SliceQueryFilter.collectReducedColumns live-count semantics,
    * db/filter/SliceQueryFilter.java:104-147; tombstones were already
    * consumed by reconciliation, SURVEY §2.6).
    */
  def apply(
      live: DataFrame,
      cmp: ComparatorType.Value,
      nameCol: String,
      pred: SlicePredicate,
      perKey: Seq[String] = Seq("key")): DataFrame = pred match {

    case SliceByNames(_) =>
      live.filter(rawNameFilter(cmp, nameCol, pred))

    case SliceRange(start, finish, reversed, count) =>
      val sk = Comparators.sortKey(cmp, col(nameCol))
      val skLit = (b: Array[Byte]) => Comparators.sortKey(cmp, lit(b))
      // In a reversed slice `start` is the upper bound (thrift:202-213).
      val (lo, hi) = if (reversed) (finish, start) else (start, finish)
      var out = live.withColumn("_sk", sk)
      if (lo.nonEmpty) out = out.filter(col("_sk") >= skLit(lo))
      if (hi.nonEmpty) out = out.filter(col("_sk") <= skLit(hi))
      if (lo.nonEmpty && hi.nonEmpty)
        // redundant raw-byte range that parquet CAN push (page pruning on
        // the decoded-comparator sort key's source column)
        Comparators.pushdownRange(cmp, col(nameCol), lo, hi)
          .foreach(p => out = out.filter(p))
      if (count == Int.MaxValue) out.drop("_sk") // unlimited slice: skip the rank
      else {
        val order = if (reversed) col("_sk").desc_nulls_last else col("_sk").asc_nulls_first
        val w = Window.partitionBy(perKey.map(col): _*).orderBy(order)
        out
          .withColumn("_rank", dense_rank().over(w))
          .filter(col("_rank") <= count)
          .drop("_rank", "_sk")
      }
  }

  /** The names a slice can return, as a predicate on the RAW bytes of
    * `nameCol` that a parquet scan can push: the name list, or the range
    * bounds where the comparator orders by raw bytes (Bytes, Ascii, Utf8)
    * or Comparators.pushdownRange has an exact byte form. It may keep
    * more names than the slice returns (the range in comparator order is
    * applied by [[apply]]), never fewer. It reads only `nameCol`, so it
    * keeps or drops every version of a column alike and also holds on raw
    * cells ahead of the reconcile.
    */
  def rawNameFilter(cmp: ComparatorType.Value, nameCol: String, pred: SlicePredicate): Column =
    pred match {
      case SliceByNames(names) =>
        // NamesQueryFilter (db/filter/NamesQueryFilter.java:31-91)
        col(nameCol).isin(names.map(lit(_)): _*)
      case SliceRange(start, finish, reversed, _) =>
        val (lo, hi) = if (reversed) (finish, start) else (start, finish)
        cmp match {
          case ComparatorType.Bytes | ComparatorType.Ascii | ComparatorType.Utf8 =>
            (if (lo.nonEmpty) col(nameCol) >= lit(lo) else lit(true)) &&
              (if (hi.nonEmpty) col(nameCol) <= lit(hi) else lit(true))
          case _ if lo.nonEmpty && hi.nonEmpty =>
            Comparators.pushdownRange(cmp, col(nameCol), lo, hi).getOrElse(lit(true))
          case _ => lit(true)
        }
    }

  /** Read-amplification guard (fork ReadColumnsLimit,
    * db/filter/SliceQueryFilter.java:113-146 + DatabaseDescriptor:2114-2120):
    * hard-error when any row's live column count exceeds `limit` — surfaces
    * pathological wide rows instead of silently burning executor memory.
    */
  def withReadGuard(live: DataFrame, limit: Int, perKey: Seq[String] = Seq("key")): DataFrame = {
    val w = Window.partitionBy(perKey.map(col): _*)
    live
      .withColumn("_cnt", org.apache.spark.sql.functions.count(lit(1)).over(w))
      .filter(
        when(col("_cnt") > limit,
          raise_error(concat(lit("ReadColumnsLimit exceeded for key "), col("key"))))
          .otherwise(lit(true)).cast("boolean"))
      .drop("_cnt")
  }

  /** Live top-level-entity count per key — get_count (thrift:342-346,
    * CassandraServer.java:321-333 implements it literally as slice + size;
    * here it is a codegen'd count(distinct) aggregate instead).
    */
  def count(live: DataFrame, isSuper: Boolean, perKey: Seq[String] = Seq("key")): DataFrame = {
    val entity = if (isSuper) col("super_name") else col("col_name")
    live.groupBy(perKey.map(col): _*).agg(count_distinct(entity).as("n"))
  }
}
