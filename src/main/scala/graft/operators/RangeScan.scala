package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{PartitionerType, Tokens}

/** Key/token range scans (SURVEY §2.4 `getKeyRange`,
  * db/ColumnFamilyStore.java:1125-1239) and split computation
  * (`describe_splits` → StorageService.getSplits, consumed by
  * hadoop/ColumnFamilyInputFormat.java:147-192).
  *
  * Semantics (thrift:233-246): a KeyRange holds either
  *  - start_key/end_key — BOUNDS: start-inclusive, end-inclusive; or
  *  - start_token/end_token — RANGE: start-EXCLUSIVE, end-inclusive, and it
  *    may wrap around the ring (dht/Range.java `isWrapAround`), in which
  *    case the planner splits it into two ordinary scans (SURVEY §2.8
  *    `getRestrictedRanges`).
  * Keys surface in token order; `count` limits the number of KEYS.
  */
object RangeScan {

  /** Token-range predicate: start-EXCLUSIVE, end-inclusive; a wrap-around
    * range (start >= end — dht/Range.java `isWrapAround`) is split into two
    * ordinary ranges: (start, MAX] ∪ (MIN, end].
    */
  def tokenRangePredicate(token: Column, start: Option[Column], end: Option[Column]): Column =
    (start, end) match {
      case (None, None) => lit(true)
      case (Some(s), None) => token > s
      case (None, Some(e)) => token <= e
      case (Some(s), Some(e)) =>
        (s < e && token > s && token <= e) ||
          (s >= e && (token > s || token <= e))
    }

  /** Key-BOUNDS predicate: start-key-inclusive, end-key-inclusive
    * (thrift:233-239; dht/Bounds.java vs Range.java distinction).
    */
  def keyBoundsPredicate(key: Column, startKey: Option[String], endKey: Option[String]): Column = {
    val lo = startKey.filter(_.nonEmpty).map(key >= _).getOrElse(lit(true))
    val hi = endKey.filter(_.nonEmpty).map(key <= _).getOrElse(lit(true))
    lo && hi
  }

  /** Ring position of a token relative to a scan's start token: on a
    * wrap-around scan the reference walks the post-start arc FIRST, then
    * the wrapped arc past the ring origin (StorageProxy.getRangeSlice scans
    * restricted ranges sequentially, :805-864) — so the key limit must
    * consume keys in that order, not in global token order.
    */
  def ringOrder(token: Column, startToken: Option[Column]): Column =
    startToken match {
      case Some(s) => struct(when(token > s, 0).otherwise(1).as("arc"), token.as("t"))
      case None => struct(lit(0).as("arc"), token.as("t"))
    }

  /** The first `maxKeys` keys of `df` in (ring-)token order, as a
    * single-column DataFrame — the reference's per-scan key limit
    * (ColumnFamilyStore.getKeyRange maxResults, :1219-1222) as a
    * distributed top-K (TakeOrderedAndProject over the distinct keys),
    * never a global window over cells. Callers apply the picked set to
    * the RAW cell store (literal In page or broadcast semi-join —
    * CassandraLens.livePage) so the expensive reconcile runs
    * once over the range for key selection and once over only the
    * selected keys — not twice over the full range (per-key reconcile
    * commutes with key restriction).
    */
  def pickKeys(df: DataFrame, maxKeys: Int, startToken: Option[Column] = None): DataFrame =
    df.select(col("token"), col("key"))
      .distinct()
      .orderBy(ringOrder(col("token"), startToken), col("key"))
      .limit(maxKeys)
      .select(col("key"))

  /** Exact NTILE(n) split assignment over the (token, key) population
    * WITHOUT a single-partition window: global ranks come from the
    * pid-offset machinery ([[graft.pipeline.TextAnalysis.exactRankBuckets]]
    * — range-repartition, pinned bounds, per-partition offsets, local
    * row_number), then split_id reproduces NTILE's exact fill rule from
    * (rank, N): the first N mod n splits hold ⌈N/n⌉ keys, the rest
    * ⌊N/n⌋ — bit-identical to `ntile(n) OVER (ORDER BY token, key)`, so
    * the SQL oracle still gates it, but every stage stays partitioned
    * (no task ever sees more than one range partition of keys).
    */
  private def ntileRanked(keys: DataFrame, n: Int): DataFrame = {
    val (ranked, nk) = graft.pipeline.TextAnalysis
      .exactRanksWithTotal(keys, Seq(col("token").asc, col("key").asc))
    val q = nk / n
    val r = nk % n
    // else-branch divisor clamped: when q = 0 every rank takes the THEN
    // branch (rank <= r = N), so the clamp is never observed — it only
    // keeps an unevaluated DIV-by-zero literal out of the plan
    val qSafe = math.max(q, 1L)
    ranked.withColumn("split_id", expr(
      s"CAST(CASE WHEN rank <= ${r * (q + 1)}L THEN (rank - 1) DIV ${q + 1}L " +
        s"ELSE ${r}L + (rank - 1 - ${r * (q + 1)}L) DIV ${qSafe}L END + 1 AS BIGINT)"))
  }

  /** describe_splits(n): decompose the key population into n contiguous
    * token ranges of ~equal key count — exact ntile quantiles (deterministic,
    * so it is SQL-oracle checkable; the reference samples its key index
    * instead, StorageService.getSplits). Ranks run over the DISTINCT KEY
    * projection (|keys|, after a map-side distinct), not the cells, and
    * come from the pid-offset machinery — no single-partition Exchange
    * anywhere in the plan (PlanQualitySpec-pinned), so the exact path
    * survives a 100× key population; at 100 TB the sampled sibling
    * ([[describeSplitsSampled]]) shrinks the ranked set itself.
    */
  def describeSplits(live: DataFrame, n: Int): DataFrame =
    ntileRanked(live.select(col("token"), col("key")).distinct(), n)
      .groupBy(col("split_id"))
      .agg(
        count(lit(1)).as("n_keys"),
        min(col("key")).as("start_key"),
        max(col("key")).as("end_key"))

  /** describe_splits over a SAMPLED key population — the production path
    * at scale (the reference computes splits from its sampled key index,
    * io/IndexSummary.java:1-150 keeps every 128th index entry;
    * StorageService.getSplits walks that sample, never the full key set).
    *
    * The sample is content-deterministic — keys whose 60-bit md5 hash
    * ([[graft.pipeline.TextAnalysis.hash60]], the engine's cross-engine-
    * reproducible sampling hash) lands in 1/interval of the hash space —
    * so it is reproducible across runs AND engines (oracle-gated, q46),
    * unbiased for any token order, and computed by a map-side filter:
    * the exact path's ranked set over ALL distinct keys shrinks to
    * |keys|/interval sampled rows, the same memory contract as the
    * reference's index summary (10^9 keys at interval 128 → ~8M sample
    * rows); ranks use the same pid-offset machinery as the exact path.
    * Split i covers the token arc (end_{i-1}, end_i], with split 1 open
    * below and split n open above; `est_keys` estimates the split's
    * population as sample-count × interval.
    */
  def describeSplitsSampled(live: DataFrame, n: Int, interval: Int = 128): DataFrame = {
    val sample = live.select(col("token"), col("key")).distinct()
      .filter(graft.pipeline.TextAnalysis.hash60(col("key")) % interval === 0)
    ntileRanked(sample, n)
      .groupBy(col("split_id"))
      .agg(
        (count(lit(1)) * interval).as("est_keys"),
        max(col("key")).as("end_key"))
  }
}
