package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model._
import graft.operators._

/** The public query surface (SURVEY §2.1 Q1–Q11) over one column family's
  * cell store. Each method compiles to a single declarative Catalyst plan:
  * key/token predicates land on the parquet scan (pushdown + bloom +
  * min/max pruning), reconciliation is a codegen'd hash aggregate, slices
  * are window ranks — no driver-side iteration anywhere.
  *
  * Validation mirrors thrift/ThriftValidation.java:230-391.
  */
class CassandraLens(
    val cells: DataFrame,
    val meta: CfMeta,
    /** Precomputed tombstone horizons (row, supercolumn) from a sidecar
      * store (CellStore.writeWithHorizons). When present, reads join the
      * tiny horizon tables instead of re-aggregating marker cells from the
      * full store. Mutating operations drop the sidecar (it would be
      * stale) and fall back to self-computed horizons.
      */
    val horizons: Option[(DataFrame, DataFrame)] = None,
    /** Row-cache analog (ColumnFamilyStore.cacheRow / InstrumentedCache,
      * cache/InstrumentedCache.java): when set, keyed reads serve slices
      * from this cached reconciled view (InMemoryTableScan) instead of
      * re-running the reconcile. Built by [[withRowCache]]; valid only
      * while the underlying cells are unchanged — mutations return lenses
      * WITHOUT the cache, like the reference invalidating on write.
      */
    private val cachedLive: Option[DataFrame] = None,
    /** IStoreApplyListener analog (fork db/IStoreApplyListener.java:1-30,
      * invoked from db/Table.java:568-605 before the commit-log/memtable
      * critical section): a pre-apply chain run on every mutation batch
      * BEFORE it reaches the store. The reference hook can only veto
      * (preapply → false drops that row's CF mutation); a listener here is
      * a whole-batch transform, so a veto is a `filter` and rewrites (TTL
      * stamping, value normalization) compose in the same Catalyst plan —
      * strictly more expressive, still entirely pre-write. Like the
      * compaction RowProcessor chain, listeners run ONLY when attached:
      * the unhooked write path is byte-identical to before.
      */
    private val applyListeners: Seq[DataFrame => DataFrame] = Nil,
    /** The frame `.cache()` was actually called on when it differs from
      * the served view (the hot-key partial cache serves a union whose
      * cached child this tracks) — [[dropRowCache]] must unpersist the
      * real cache, not the derived union.
      */
    private val cachedFrame: Option[DataFrame] = None) {
  GraftFunctions.register(cells.sparkSession)

  /** Attach a pre-apply listener (ColumnFamilyStore.setStoreApplyListener
    * analog). Listeners are store configuration: they persist across
    * mutations and derived lenses, in attach order.
    */
  def withApplyListener(listener: DataFrame => DataFrame): CassandraLens =
    new CassandraLens(cells, meta, horizons, cachedLive,
      applyListeners :+ listener, cachedFrame)

  /** Run the attached listener chain over one mutation batch, then re-conform
    * to the canonical cell schema (a transform may add helper columns; the
    * store never sees them). No-op when nothing is attached.
    */
  private def preApply(mutation: DataFrame): DataFrame =
    if (applyListeners.isEmpty) mutation
    else Mutations.conform(
      applyListeners.foldLeft(Mutations.conform(mutation))((df, l) => l(df)))

  private def topCmp: ComparatorType.Value = meta.comparator
  private def subCmp: ComparatorType.Value = meta.subComparator

  /** Cache the reconciled live view in executor memory and serve keyed
    * reads from it — the row cache. All lens predicates at [[liveOf]]
    * call sites are key-scoped, so filtering the cached view is exactly
    * equivalent to reconciling the filtered cells.
    */
  def withRowCache(): CassandraLens =
    new CassandraLens(cells, meta, horizons, Some(live.cache()), applyListeners)

  /** HOT-KEY row cache — the PARTIAL cache the reference actually runs
    * (the row cache is sized, not total: cache/InstrumentedCache.java
    * capacity + ColumnFamilyStore.cacheRow admits per key): pin only
    * `hotKeys`' reconciled rows in executor memory; every other key
    * falls through to the reconcile path INSIDE the same plan (the
    * cached hot slice unioned with the cold remainder — Catalyst
    * pushes a keyed read's predicate into both branches, so a hot read
    * is an InMemoryTableScan hit and a cold read prunes the cached
    * side empty and runs the ordinary pruned scan+reconcile). At
    * 100 TB the whole reconciled view cannot be pinned; a bounded hot
    * set can — pair with [[saveCachedKeys]]/[[loadCachedKeys]] for
    * restart pre-warming. Hot sets up to the IN-list convention
    * (10,000 keys, the same bound as the range-scan page pick) become
    * one pushed-down IN predicate; larger sets split hot from cold by
    * a BROADCAST semi/anti join instead — a restart pre-warm from a
    * big saved key set must not build a mega-predicate the optimizer
    * re-walks on every plan. `MaxHotKeys` bounds the set loudly: the
    * hot set must stay cache-sized (driver list + broadcast +
    * executor-pinned rows), never corpus-sized.
    */
  def withRowCache(hotKeys: Seq[String]): CassandraLens = {
    require(hotKeys.nonEmpty, "withRowCache(hotKeys): empty hot set")
    require(hotKeys.size <= CassandraLens.MaxHotKeys,
      s"withRowCache(hotKeys): ${hotKeys.size} keys exceed MaxHotKeys = " +
        s"${CassandraLens.MaxHotKeys} — a hot set is cache-sized, not " +
        "corpus-sized; cache fewer keys or use withRowCache() on a " +
        "store small enough to pin whole")
    val (hot, cold) =
      if (hotKeys.size <= 10000)
        (live.filter(col("key").isin(hotKeys: _*)).cache(),
          live.filter(!col("key").isin(hotKeys: _*)))
      else {
        val spark = cells.sparkSession
        import spark.implicits._
        val keys = hotKeys.toDF("key")
        (live.join(broadcast(keys), Seq("key"), "left_semi").cache(),
          live.join(broadcast(keys), Seq("key"), "left_anti"))
      }
    new CassandraLens(cells, meta, horizons, Some(hot.unionByName(cold)),
      applyListeners, cachedFrame = Some(hot))
  }

  /** Persist the cached KEY SET (not the rows) — the reference's
    * key-cache save (db/ColumnFamilyStore.java:305 submitKeyCacheWrite
    * writes the cached keys at shutdown; :257-264 readSavedCache
    * pre-warms from them at startup). Saves exactly what is CACHED:
    * the hot set on a partial cache, every key on a full one. One tiny
    * sorted string column; a fresh session re-warms DETERMINISTICALLY
    * via [[loadCachedKeys]] + the hot-key `withRowCache` overload
    * without having observed the previous session's traffic.
    *
    * RE-WARM CONTRACT by cache kind: a PARTIAL cache's saved set is
    * hot-sized by construction — re-warm with `withRowCache(keys)`.
    * A FULL cache on a big store can save MORE than
    * [[CassandraLens.MaxHotKeys]] keys; such a store re-warms with the
    * no-arg `withRowCache()` (it fit in executor memory last session,
    * pin it whole again — the key list adds nothing) and the hot-key
    * overload's bound is deliberately NOT a path around that.
    */
  def saveCachedKeys(path: String): Unit = {
    require(cachedLive.nonEmpty, "no row cache attached — call withRowCache() first")
    cachedFrame.orElse(cachedLive).get.select(col("key")).distinct()
      .repartition(1).sortWithinPartitions("key")
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCachedKeys]] hot-key set (readSavedCache analog).
    * Driver-side by design: the artifact is cache-sized, and the hot
    * set becomes an in-plan predicate.
    */
  def loadCachedKeys(path: String): Seq[String] =
    cells.sparkSession.read.parquet(path)
      .select(col("key")).collect().map(_.getString(0)).toSeq

  /** Release this lens's row cache (InstrumentedCache eviction analog).
    * Mutations drop the cache REFERENCE automatically but cannot unpersist
    * it — the caller owns the cache lifetime, exactly like the reference's
    * explicitly-sized row cache; call this before discarding a cached lens
    * in a long-lived session.
    */
  def dropRowCache(): CassandraLens = {
    cachedFrame.orElse(cachedLive).foreach(_.unpersist())
    new CassandraLens(cells, meta, horizons, None, applyListeners)
  }

  /** Persist the row cache's reconciled view next to the store — the
    * saved-cache analog (db/ColumnFamilyStore.java:305 submitKeyCacheWrite
    * writes cached keys at shutdown so a restart preloads instead of
    * starting cold). The engine's row cache holds the whole reconciled
    * view, so the natural save unit is that view: one sorted parquet
    * snapshot a reopening session can serve reads from WITHOUT re-running
    * the reconcile. Valid exactly as long as the in-memory cache would be
    * (same cells); writers must re-save after compaction/mutation.
    */
  def saveRowCache(path: String): Unit = {
    require(cachedLive.nonEmpty, "no row cache attached — call withRowCache() first")
    // a hot-key PARTIAL cache must not save here: cachedLive is the
    // hot∪cold union, so this write would materialize the whole
    // reconciled view (corpus-sized at 100 TB) and a later
    // withRowCacheFrom would serve ONLY the saved subset as if it were
    // the full view — the partial cache's save unit is its KEY SET
    require(cachedFrame.isEmpty, "partial hot-key cache: persist the key " +
      "set via saveCachedKeys and re-warm with withRowCache(hotKeys)")
    cachedLive.get.sortWithinPartitions("key", "super_name", "col_name")
      .write.mode("overwrite").parquet(path)
  }

  /** Reopen-preheat (db/ColumnFamilyStore.java:190-264 readSavedCache
    * analog): attach a row cache served from a [[saveRowCache]] snapshot —
    * the reconcile never re-runs; the snapshot parquet loads lazily into
    * executor memory on first read, exactly like the reference warming its
    * row cache from the saved key set at startup.
    */
  def withRowCacheFrom(path: String): CassandraLens =
    new CassandraLens(cells, meta, horizons,
      Some(cells.sparkSession.read.parquet(path).cache()), applyListeners)

  /** Reconciled live view of the whole CF. */
  def live: DataFrame = cachedLive.getOrElse(horizons match {
    case Some((rowDel, scDel)) => Reconcile.liveViewGiven(cells, rowDel, scDel)
    case None => Reconcile.liveView(cells)
  })

  /** Live view of a restricted cell set, using the sidecar when present. */
  private def liveFrom(restricted: DataFrame): DataFrame = horizons match {
    case Some((rowDel, scDel)) => Reconcile.liveViewGiven(restricted, rowDel, scDel)
    case None => Reconcile.liveView(restricted)
  }

  /** Live view of the keys `pred` selects, cut to the columns `names`
    * selects (a raw-byte predicate on super_name/col_name only).
    */
  private def liveOf(pred: Column, names: Column): DataFrame = cachedLive match {
    case Some(c) => c.filter(pred && names) // key-scoped predicate: filter the cached view
    case None => liveFromKeyed(cutToNames(cells.filter(pred), names))
  }

  /** Raw cells cut to the columns `names` selects, keeping the marker
    * cells (col_name null) that carry the deletion horizons. `names` reads
    * only super_name/col_name, so it keeps or drops every version of a
    * column alike and commutes with the per-column reconcile; applied to
    * raw cells, parquet can push it — the keyed pass's horizon windows
    * would otherwise hold it above the reconcile. It must compare raw
    * bytes only: the OR with `col_name IS NULL` pushes to the scan only
    * when every leaf does.
    */
  private def cutToNames(raw: DataFrame, names: Column): DataFrame =
    raw.filter(col("col_name").isNull || names)

  /** Live view of a KEY-BOUNDED restriction. Sidecar lenses join their
    * precomputed horizons ([[liveFrom]]); the rest reconcile in one
    * key-clustered pass (Reconcile.liveByKey): one scan per store leaf,
    * one `hashpartitioning(key)` exchange of the raw versions, the horizon
    * windows, the winners aggregate and the caller's per-key slice window
    * behind it, no join — on a store bucketed by key not even the
    * exchange (plans/r22/read_after.txt: 2 scans for the store's two
    * leaves, 1 shuffle exchange, 0 broadcasts for a 150-key multiget).
    * KEY-BOUNDED ONLY: a keyed read's rows are bounded by the 10k-key page
    * convention, so shuffling raw versions is small at any corpus size;
    * the full-CF [[live]] keeps map-side partial aggregation ahead of its
    * exchange.
    */
  private def liveFromKeyed(restricted: DataFrame): DataFrame = horizons match {
    case Some(_) => liveFrom(restricted)
    case None => Reconcile.liveByKey(restricted)
  }

  /** The keyed-read restriction: key equality for one key, an IN list for
    * several, plus the domain-directory pruning predicate.
    */
  private def keysPredicate(keys: Seq[String]): Column =
    (if (keys.size == 1) col("key") === keys.head else col("key").isin(keys: _*)) &&
      domainPredicate(keys)

  /** domainSplit routing (fork CFMetaData.domainSplit): keyed reads derive
    * the 2-char domain of each requested key, so a domain-partitioned
    * store prunes directories via PartitionFilters.
    */
  private def domainPredicate(keys: Seq[String]): Column =
    // the domain column is a raw-scan pruning aid only: the cached live
    // view (row cache) does not carry it, and needs no directory pruning
    if (cachedLive.isEmpty && meta.domainSplit && cells.columns.contains("domain"))
      col("domain").isin(keys.map(_.takeRight(2)).distinct: _*)
    else lit(true)

  private def withToken(df: DataFrame): DataFrame =
    df.withColumn("token", Tokens.token(meta.partitioner, col("key")))

  // ---- validation (thrift/ThriftValidation.java) ----

  private def validateRange(r: SliceRange, cmp: ComparatorType.Value): Unit = {
    require(r.count >= 0, "get_slice requires non-negative count")
    if (r.start.nonEmpty && r.finish.nonEmpty) {
      val ord = JComparators.ordering(cmp)
      val (lo, hi) = if (r.reversed) (r.finish, r.start) else (r.start, r.finish)
      require(ord.compare(lo, hi) <= 0,
        "range finish must come after start in the comparator order (ThriftValidation:230-258)")
    }
  }

  private def validateNames(names: Seq[Array[Byte]]): Unit = {
    require(names.nonEmpty, "slice by names requires at least one name")
    names.foreach(n => require(n != null && n.nonEmpty, "zero-length column name"))
  }

  private def validatePredicate(p: SlicePredicate, cmp: ComparatorType.Value): Unit = p match {
    case r: SliceRange => validateRange(r, cmp)
    case SliceByNames(ns) => validateNames(ns)
  }

  // ---- Q1/Q2/Q3/Q4: point + slice reads ----

  /** Q1 `get` (thrift:300-304): one column / subcolumn / supercolumn. */
  def get(key: String, superName: Option[Array[Byte]], colName: Array[Byte]): DataFrame = {
    require(key.nonEmpty, "zero-length key")
    liveOf(keysPredicate(Seq(key)),
      superName.fold(col("super_name").isNull)(sc => col("super_name") === lit(sc)) &&
        col("col_name") === lit(colName))
  }

  /** Q1 `get` with a ColumnPath naming only a SUPERCOLUMN (column unset):
    * returns the whole supercolumn — all live subcolumns
    * (CassandraServer.java:259-275 path for super_column-only ColumnPath).
    */
  def getSuperColumn(key: String, superName: Array[Byte]): DataFrame = {
    require(key.nonEmpty, "zero-length key")
    liveOf(keysPredicate(Seq(key)), col("super_name") === lit(superName))
  }

  /** Q2 `get_slice` (thrift:310-315) for one key = Q4 over a single key. */
  def getSlice(key: String, superName: Option[Array[Byte]], pred: SlicePredicate): DataFrame =
    multigetSlice(Seq(key), superName, pred)

  /** Q3/Q4 `multiget_slice` (thrift:332-337): one slice per key.
    * For a super CF with no supercolumn parent, the sliced entities are the
    * supercolumns; with a parent, its subcolumns (subcomparator order).
    */
  def multigetSlice(keys: Seq[String], superName: Option[Array[Byte]], pred: SlicePredicate): DataFrame = {
    keys.foreach(k => require(k.nonEmpty, "zero-length key"))
    sliceOver(liveOf(keysPredicate(keys), sliceNames(superName, pred)), superName, pred)
  }

  /** multiget_slice for a LARGE key set carried as a DataFrame: a broadcast
    * LEFT SEMI JOIN replaces the literal isin list (which stops scaling
    * past a few thousand keys), keeping the probe fully distributed.
    */
  def multigetSlice(keysDf: DataFrame, superName: Option[Array[Byte]], pred: SlicePredicate): DataFrame = {
    val keySet = org.apache.spark.sql.functions.broadcast(keysDf.select(col("key")).distinct())
    val restricted = cachedLive match {
      // row cache serves this path too: semi-join the cached live view
      case Some(c) => c.join(keySet, Seq("key"), "left_semi")
      case None => liveFrom(cells.join(keySet, Seq("key"), "left_semi"))
    }
    sliceOver(restricted, superName, pred)
  }

  /** What a slice reads under `superName`: the parent filter, the
    * comparator, the sliced name column and the per-key grouping.
    */
  private def sliceShape(superName: Option[Array[Byte]])
      : (Column, ComparatorType.Value, String, Seq[String]) = superName match {
    case Some(sc) => (col("super_name") === lit(sc), subCmp, "col_name", Seq("key", "super_name"))
    case None if meta.isSuper => (lit(true), topCmp, "super_name", Seq("key"))
    case None => (col("super_name").isNull, topCmp, "col_name", Seq("key"))
  }

  /** Slice machinery shared by point reads and range scans. */
  private def sliceOver(live: DataFrame, superName: Option[Array[Byte]], pred: SlicePredicate): DataFrame = {
    val (parent, cmp, nameCol, perKey) = sliceShape(superName)
    validatePredicate(pred, cmp)
    Slice(live.filter(parent), cmp, nameCol, pred, perKey)
  }

  /** The columns a slice can return, as a raw-byte predicate on
    * super_name/col_name (a superset: [[sliceOver]] applies the rest).
    */
  private def sliceNames(superName: Option[Array[Byte]], pred: SlicePredicate): Column = {
    val (parent, cmp, nameCol, _) = sliceShape(superName)
    parent && Slice.rawNameFilter(cmp, nameCol, pred)
  }

  /** Q5 `get_count` over every key (the hadoop-connector-style full scan
    * shape): live top-level-entity count per key. Counting never needs the
    * cell VALUES (liveness is decided by ts/tombstone/horizons alone), so
    * the uncached path counts over the value-free [[liveColumns]] frame —
    * the value column stays pruned out of the scan.
    */
  def getCountAll: DataFrame = cachedLive match {
    case Some(c) => Slice.count(c, meta.isSuper)
    case None => Slice.count(liveColumns(cells), meta.isSuper)
  }

  /** Q5 `get_count` (thrift:342-346): live column count per key —
    * value-free like [[getCountAll]] (over the keyed [[liveNamesKeyed]])
    * unless the row cache already holds the reconciled view.
    */
  def getCount(keys: Seq[String], superName: Option[Array[Byte]]): DataFrame = {
    val keyPred = keysPredicate(keys)
    val names = superName.fold(lit(true))(sc => col("super_name") === lit(sc))
    val base = cachedLive match {
      case Some(c) => c.filter(keyPred && names)
      case None => liveNamesKeyed(cutToNames(cells.filter(keyPred), names))
    }
    if (superName.isDefined) Slice.count(base, isSuper = false, perKey = Seq("key", "super_name"))
    else Slice.count(base, meta.isSuper)
  }

  // ---- Q6: range scans ----

  /** Q6 `get_range_slices` over key BOUNDS (start/end inclusive).
    * The key predicate is applied to the RAW cells (it commutes with
    * per-key reconciliation), so it pushes down into the parquet scan;
    * only the restricted range is reconciled. On a row-cached lens the
    * same predicate filters the cached reconciled view instead.
    */
  def rangeSliceByKeys(
      startKey: Option[String], endKey: Option[String],
      superName: Option[Array[Byte]], pred: SlicePredicate, maxKeys: Int): DataFrame = {
    require(maxKeys > 0, "get_range_slices requires a positive key count (thrift:240-246)")
    val bounds = RangeScan.keyBoundsPredicate(col("key"), startKey, endKey)
    sliceOver(livePage(cachedLive.getOrElse(cells).filter(bounds), None, maxKeys,
      sliceNames(superName, pred)), superName, pred)
  }

  /** Key-limited live view of a range `pre` — raw cells, or the row
    * cache's reconciled view. The first maxKeys LIVE keys in ring order
    * are picked ([[pickPage]]), then only the picked keys are reconciled:
    * the page restriction lands on the parquet scan, so the second pass
    * reads maxKeys keys, not the range, cut to the slice's `names`
    * ([[cutToNames]]) when that pass is keyed. The cached view is ALREADY
    * reconciled (every row live), so there the page is a distinct() over
    * it and the restriction a plain filter — the cache-hit path end to
    * end.
    */
  private def livePage(pre: DataFrame, startToken: Option[Column],
      maxKeys: Int, names: Column): DataFrame = withToken(
    if (cachedLive.isDefined) {
      if (maxKeys == Int.MaxValue) pre
      else restrictToPage(pre, pickPage(pre.select(col("key")).distinct(),
        startToken, maxKeys, "range.page_pick_cached"))
    } else if (maxKeys == Int.MaxValue) liveFrom(pre)
    else pickPage(liveKeySet(pre), startToken, maxKeys, "range.page_pick") match {
      case page @ Left(_) => liveFromKeyed(cutToNames(restrictToPage(pre, page), names))
      // above the page convention the restriction is not key-bounded
      case page => liveFrom(restrictToPage(pre, page))
    })

  /** The first maxKeys keys of the key-distinct frame `keys` in ring
    * order. For maxKeys <= 10000 the page is collected EAGERLY at call
    * time (one Spark job, timed as `timer`) — deliberately mirroring the
    * reference, whose coordinator materializes each get_range_slices page
    * before answering (StorageProxy.java:805-864); the returned frame then
    * embeds the page as an In filter instead of re-running the picking
    * plan in every branch. Consequence: the page is a SNAPSHOT —
    * re-executing the returned DataFrame after new runs land reuses the
    * frozen key list, as a served reference page never retro-updates.
    * Above 10000 keys the pick stays a lazy frame for a broadcast
    * semi-join.
    */
  private def pickPage(keys: DataFrame, startToken: Option[Column], maxKeys: Int,
      timer: String): Either[Seq[String], DataFrame] = {
    val picked = withToken(keys)
      .orderBy(RangeScan.ringOrder(col("token"), startToken), col("key"))
      .limit(maxKeys)
      .select(col("key"))
    if (maxKeys <= 10000)
      Left(graft.stat.StoreLatency.timed(timer) {
        picked.collect().map(_.getString(0)).toSeq
      })
    else Right(picked)
  }

  private def restrictToPage(df: DataFrame,
      page: Either[Seq[String], DataFrame]): DataFrame = page match {
    case Left(keys) if keys.isEmpty => df.filter(lit(false))
    case Left(keys) => df.filter(col("key").isin(keys: _*))
    case Right(picked) => df.join(broadcast(picked), Seq("key"), "left_semi")
  }

  /** The set of LIVE keys of a raw cell range — the page pick's input:
    * [[liveNamesKeyed]] reduced to distinct keys. The distinct aggregates
    * on `key` behind the pass's own key exchange, so the self-computing
    * pick reads the range once, value-free, through one shuffle. The
    * range is NOT key-bounded the way a multiget is: raw versions of the
    * whole range cross that shuffle (SCALE.md on the deep-store
    * crossover).
    */
  private[graft] def liveKeySet(pre: DataFrame): DataFrame =
    liveNamesKeyed(pre).select(col("key")).distinct()

  /** Value-free live names of a raw cell set read through the keyed pass
    * (Reconcile.liveNamesByKey); sidecar lenses join their precomputed
    * horizons instead ([[liveColumns]]).
    */
  private def liveNamesKeyed(pre: DataFrame): DataFrame = horizons match {
    case Some(_) => liveColumns(pre)
    case None => Reconcile.liveNamesByKey(pre)
  }

  /** The live (key, super_name, col_name) set of a raw cell range,
    * computed WITHOUT values — the metadata-only liveness frame of the
    * full-CF paths (get_count over every key, existence probes, splits)
    * and of the sidecar lens's keyed paths: a column is live iff its
    * best live ts strictly exceeds its best tombstone ts
    * (Reconcile.liveTsMaxima, aggregated map-side first) and the
    * container horizons joined in after the aggregate.
    */
  private[graft] def liveColumns(pre: DataFrame): DataFrame = {
    val win = Reconcile.liveTsMaxima(pre.filter(col("col_name").isNotNull))
    val (rowH, scH) = horizons match {
      case Some((r, s)) =>
        (r.select(col("key"), col("row_del_ts")),
          s.select(col("key"), col("super_name"), col("sc_del_ts")))
      case None =>
        (Reconcile.rowTombstones(pre).select(col("key"), col("row_del_ts")),
          Reconcile.superTombstones(pre)
            .select(col("key"), col("super_name"), col("sc_del_ts")))
    }
    win
      .join(rowH, Seq("key"), "left")
      .join(scH, Seq("key", "super_name"), "left")
      .filter(col("lmax") > coalesce(col("tmax"), lit(Long.MinValue)) &&
        col("lmax") > coalesce(
          greatest(col("row_del_ts"), col("sc_del_ts")), lit(Long.MinValue)))
      .select(col("key"), col("super_name"), col("col_name"))
  }

  /** Q6 `get_range_slices` over a TOKEN range (start-exclusive,
    * end-inclusive; wrap-around splits into two scans). Token predicates
    * also evaluate on the raw cells before any shuffle.
    */
  def rangeSliceByToken(
      startToken: Option[Column], endToken: Option[Column],
      superName: Option[Array[Byte]], pred: SlicePredicate, maxKeys: Int): DataFrame = {
    require(maxKeys > 0, "get_range_slices requires a positive key count (thrift:240-246)")
    def inRange(df: DataFrame): DataFrame = withToken(df)
      .filter(RangeScan.tokenRangePredicate(col("token"), startToken, endToken))
      .drop("token")
    sliceOver(livePage(inRange(cachedLive.getOrElse(cells)), startToken, maxKeys,
      sliceNames(superName, pred)), superName, pred)
  }

  // ---- Q7/Q8/Q9: mutations (return the new store view) ----

  /** Q7 insert/batch_insert: timestamped upsert cells. */
  def insert(mutations: DataFrame): CassandraLens =
    new CassandraLens(Mutations(cells, preApply(Mutations.asInserts(mutations))),
      meta, None, None, applyListeners)

  /** Q8 batch_mutate: pre-built cell mutations (inserts + deletions). */
  def batchMutate(mutations: DataFrame*): CassandraLens =
    new CassandraLens(Mutations(cells, mutations.map(preApply): _*),
      meta, None, None, applyListeners)

  /** Q9 remove at column granularity. */
  def removeColumns(df: DataFrame, localDeletionTimeSec: Int): CassandraLens =
    batchMutate(Mutations.asColumnDeletes(df, localDeletionTimeSec))

  /** Q9 remove at row granularity. */
  def removeRows(df: DataFrame, localDeletionTimeSec: Int): CassandraLens =
    batchMutate(Mutations.asRowDeletes(df, localDeletionTimeSec))

  /** Q9 remove at supercolumn granularity. */
  def removeSuperColumns(df: DataFrame, localDeletionTimeSec: Int): CassandraLens =
    batchMutate(Mutations.asSuperDeletes(df, localDeletionTimeSec))

  // ---- Q11 / maintenance ----

  /** The live (key, super, col) name set without values: existence and
    * split computations only need NAMES, and running them through the full
    * `live` reconcile would scan the value column just to drop it (the
    * reconcile aggregate consumes values internally, so projection pruning
    * cannot remove the read). The row cache, when present, is already
    * materialized — use it directly.
    */
  private def liveNames: DataFrame = cachedLive match {
    case Some(c) => c.select(col("key"), col("super_name"), col("col_name"))
    case None => liveColumns(cells)
  }

  /** The (token, key) frame both split computations rank — exposed
    * package-private so PlanQualitySpec can assert its value-free scan
    * contract directly (describeSplits executes its ranking eagerly
    * behind a checkpoint, so the contract is no longer visible in the
    * RESULT frame's plan).
    */
  private[graft] def splitsKeyFrame: DataFrame =
    // no distinct here — describeSplits distincts (token, key) itself
    withToken(liveNames.select(col("key")))

  /** describe_splits(n) (thrift:429-463, CassandraServer.java:644-655) —
    * value-free: splits depend on the live key population only.
    * EXECUTES EAGERLY: the pid-offset ranking pins its range bounds and
    * reads per-partition counts when the frame is CONSTRUCTED (round
    * 14), so calling this runs jobs even if the result is never acted
    * on — the reference's describe_splits is likewise a served call,
    * not a deferred plan.
    */
  def describeSplits(n: Int): DataFrame =
    RangeScan.describeSplits(splitsKeyFrame, n)

  /** describe_splits from a deterministic key SAMPLE (the reference's
    * IndexSummary path, io/IndexSummary.java:1-150) — the 100× variant of
    * `describeSplits`: no global window over the full key population.
    */
  def describeSplitsSampled(n: Int, interval: Int = 128): DataFrame =
    RangeScan.describeSplitsSampled(splitsKeyFrame, n, interval)

  /** ColumnsMayExistQueryFilter (fork, db/filter/ColumnsMayExistQueryFilter
    * .java:28-157): bulk existence probe for (key, col_name) pairs. The
    * reference answers probabilistically from memtable + column blooms;
    * the exact LEFT SEMI JOIN here is a correct refinement ("may exist" ⊇
    * exact), with parquet blooms doing the probabilistic pruning below —
    * and the refinement never reads cell values.
    */
  def columnsExist(probe: DataFrame): DataFrame =
    probe.join(liveNames,
      probe.columns.toSeq.intersect(Seq("key", "super_name", "col_name")),
      "left_semi")

  /** FastRowMayExistQueryFilter (fork, :27-107): row-existence probe. */
  def rowsExist(keys: DataFrame): DataFrame =
    keys.join(liveNames.select("key").distinct(), Seq("key"), "left_semi")

  /** Commit-log point-in-time replay (db/commitlog/CommitLog.java:168-173
    * `recover(maxReplayTimestamp)`, tools/ReplayLogs.java): the store as of
    * mutation timestamp <= maxTs — mutations are timestamped cells, so
    * recovery is a timestamp-bounded reconcile.
    */
  def replayAt(maxTs: Long): CassandraLens =
    new CassandraLens(cells.filter(col("ts") <= maxTs), meta)

  /** Cleanup / anti-compaction (db/CompactionManager.java:453-612): keep
    * only cells whose token falls in the given predicate's ranges (drop
    * keys no longer owned), as a partitioned rewrite source.
    */
  def cleanup(tokenPredicate: Column => Column): CassandraLens =
    new CassandraLens(
      withToken(cells).filter(tokenPredicate(col("token"))).drop("token"), meta)

  /** Anti-entropy digests (read-only validation compaction). */
  def digests(buckets: Int): DataFrame = Validation.cellDigests(cells, buckets)

  /** Major compaction (SURVEY §2.7). */
  def compact(gcBeforeSeconds: Int, processors: Seq[Compaction.RowProcessor] = Nil): CassandraLens =
    new CassandraLens(Compaction.compact(cells, gcBeforeSeconds, processors), meta)

  /** Compact AND refresh the row cache in one step (the reference
    * invalidates and rewarms its row cache as compaction replaces
    * sstables — db/ColumnFamilyStore.java row-cache invalidation on
    * sstable replacement): the old cache (if any) is unpersisted, the
    * compacted lens comes back cache-attached, and when `savedCachePath`
    * is given the fresh snapshot is re-saved so a reopen preheats from
    * post-compaction state instead of a stale one (the [[saveRowCache]]
    * "writers must re-save after compaction" contract, automated).
    */
  def compactWithCacheRefresh(gcBeforeSeconds: Int,
      savedCachePath: Option[String] = None,
      processors: Seq[Compaction.RowProcessor] = Nil): CassandraLens = {
    // unpersist the REAL cache (the hot frame on a partial cache — the
    // served union was never .cache()d), same rule as dropRowCache
    cachedFrame.orElse(cachedLive).foreach(_.unpersist())
    val refreshed = compact(gcBeforeSeconds, processors).withRowCache()
    savedCachePath.foreach(refreshed.saveRowCache)
    refreshed
  }
}

/** Driver-side comparators mirroring the reference byte orders — used for
  * request validation and for property-testing the Column sort keys against
  * the same vectors (db/NameSortTest, db/TimeSortTest, TypeCompareTest).
  */
object CassandraLens {
  /** Loud ceiling on a hot-key cache set ([[CassandraLens.withRowCache]]):
    * the set lives as a driver list, broadcasts to executors, and pins
    * its rows in memory — 1e6 keys is already ~10× the reference's
    * key-cache order and far past any sensible "hot" working set; a
    * larger ask is a corpus-sized mistake the require names instead of
    * an executor OOM hours later.
    */
  val MaxHotKeys = 1000000
}

object JComparators {
  private val unsignedLex: Ordering[Array[Byte]] = (a: Array[Byte], b: Array[Byte]) => {
    // FBUtilities.compareByteArrays semantics
    var i = 0
    val n = math.min(a.length, b.length)
    var r = 0
    while (i < n && r == 0) { r = (a(i) & 0xFF) - (b(i) & 0xFF); i += 1 }
    if (r != 0) r else a.length - b.length
  }

  def ordering(cmp: ComparatorType.Value): Ordering[Array[Byte]] = cmp match {
    case ComparatorType.Bytes | ComparatorType.Ascii | ComparatorType.Utf8 => unsignedLex
    case ComparatorType.Long_ => (a, b) =>
      if (a.isEmpty || b.isEmpty) a.length - b.length
      else java.lang.Long.compare(
        graft.functions.ExprHelpers.beLong(a), graft.functions.ExprHelpers.beLong(b))
    case ComparatorType.TimeUuid => (a, b) =>
      if (a.isEmpty || b.isEmpty) a.length - b.length
      else {
        val c = java.lang.Long.compare(
          graft.functions.ExprHelpers.timeUuidTimestamp(a),
          graft.functions.ExprHelpers.timeUuidTimestamp(b))
        if (c != 0) c else unsignedLex.compare(a, b)
      }
    case ComparatorType.LexicalUuid => (a, b) =>
      if (a.isEmpty || b.isEmpty) a.length - b.length
      else {
        val (am, al) = (java.nio.ByteBuffer.wrap(a).getLong(0), java.nio.ByteBuffer.wrap(a).getLong(8))
        val (bm, bl) = (java.nio.ByteBuffer.wrap(b).getLong(0), java.nio.ByteBuffer.wrap(b).getLong(8))
        val c = java.lang.Long.compare(am, bm)
        if (c != 0) c else java.lang.Long.compare(al, bl)
      }
    case ComparatorType.FreshTimestamp => (a, b) =>
      // descending, empty first (fork FreshTimestampType)
      if (a.isEmpty || b.isEmpty) a.length - b.length
      else -unsignedLex.compare(a, b)
    case ComparatorType.Collating => (a, b) =>
      graft.functions.CollatorHolder.collator.compare(
        new String(a, java.nio.charset.StandardCharsets.UTF_8),
        new String(b, java.nio.charset.StandardCharsets.UTF_8))
  }
}
