package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.api.CassandraLens
import graft.model.PartitionerType
import graft.operators.SliceRange
import graft.sources.{CellEncodings, CellStore}

/** Headline benchmark (driver-run per round; BASELINE.md protocol).
  *
  * stress.py's three workloads (contrib/py_stress/stress.py:168-260)
  * re-expressed as Spark jobs over the cell store:
  *  - insert:     bulk cell-store write (sorted, bloom-filtered parquet —
  *                the SSTable flush path);
  *  - read:       point slices (get_slice count=5) for a sampled key set
  *                over the reconciled live view;
  *  - rangeslice: token-ordered range scan, 1000-key batch, per-key slice.
  * Plus the heaviest pipeline operators (dedup joins, minhash, ANN) and
  * the reconciled full-table slice.
  *
  * Prints ONE JSON line: {"metric":...,"queries":{name:sec,...}}.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the latency registry is process-global: drop anything an earlier
    // caller in this JVM recorded so the sidecar reports ONLY this run
    graft.stat.StoreLatency.clear()
    val spark = GraftSession.create(taskSideCommit = true)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val ios = scala.collection.mutable.LinkedHashMap[String, Map[String, Long]]()

    // ---- per-leg SQL metrics (VERDICT r7 task 1): read straight off the
    // executed plan AFTER the action returns — SQL metrics are driver-side
    // accumulators merged at task completion, so this is synchronous (no
    // listener-bus race). AQE hides the final plan inside
    // AdaptiveSparkPlanExec/QueryStageExec wrappers — unwrap both.
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      // subqueries hang off expressions, not children — a scalar-subquery
      // scan would otherwise vanish from the io block
      p +: (kids ++ p.subqueries).flatMap(allNodes)
    }
    def harvest(df: DataFrame): Map[String, Long] = {
      val nodes = allNodes(df.queryExecution.executedPlan)
      def sumMetric(key: String, onlyScans: Boolean = false): Long =
        nodes.iterator
          .filter(n => !onlyScans || n.getClass.getSimpleName.contains("Scan"))
          .flatMap(_.metrics.get(key)).map(_.value)
          .filter(_ >= 0L) // never-executed branches leave -1 sentinels
          .sum
      Map(
        "files" -> sumMetric("numFiles"),       // parquet files actually opened
        "scanBytes" -> sumMetric("filesSize"),  // bytes of those files (post-pruning)
        "scanRows" -> sumMetric("numOutputRows", onlyScans = true), // rows out of the scan
        "scanMs" -> sumMetric("scanTime"),      // summed columnar scan wall (ms)
        "shuffleBytes" -> sumMetric("shuffleBytesWritten"),
        "shuffleWriteMs" -> sumMetric("shuffleWriteTime") / 1000000L)
    }

    // median-of-3 with min/max recorded per leg: the driver container's
    // noisy neighbors have swung join-heavy legs 2.5-3.8x round-over-round
    // with ZERO code change (BENCH_r05 vs r06). The median is the reported
    // cost; the printed spread makes a wide run self-identify as noise so
    // a regression is attributable to code, not the container.
    // SPARK_GRAFT_BENCH_SKIP (comma-separated leg names) drops legs from
    // the run — the sf1 scaling probe uses it to step past the
    // deliberately-unguarded oracle twins that (by design) do not
    // survive a 10× corpus; the driver never sets it.
    val skipLegs: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

    // ---- per-leg contention window + bounded retry (round 20, VERDICT
    // r19 task 1). The suite-grain sentinels (below) catch a contended RUN
    // but let nothing be discounted: BENCH_r19's 8362 ms mid-suite
    // sentinel made the whole round unadjudicatable while only a roving
    // window of legs was actually affected. Every leg now times a FIXED
    // cpu+scheduler probe (2M-row hash count, quiet ~60-200 ms on this
    // box) immediately before and after its timed runs. After the suite,
    // any leg whose window was out of band (either probe > 3x the run's
    // own probe floor + 50 ms slack) is re-measured ONCE — the windows
    // rove, so the retry usually lands quiet. A clean-window retry
    // REPLACES the first measurement; if both windows are dirty the
    // smaller median is kept and the leg is listed in "contended_legs" on
    // the bare JSON line, so the driver can discount exactly the affected
    // legs instead of the round. Probes and retries run OUTSIDE the timed
    // regions: per-leg methodology (median-of-3, same actions) and the
    // JSON contract are unchanged — contended_legs is additive.
    val legProbes = scala.collection.mutable.ArrayBuffer[Long]()
    def contentionProbe(): Long = {
      val t0 = System.nanoTime()
      val c = spark.range(0L, 1L << 21, 1L, 8)
        .select((col("id") % 9973L).as("m"))
        .groupBy(col("m")).count().where(col("count") > 0L).count()
      require(c == 9973L, s"contention probe wrong: $c groups")
      val dt = (System.nanoTime() - t0) / 1000000L
      legProbes += dt
      dt
    }
    case class LegRun(med: Double, rows: Long, lo: Double, hi: Double,
        io: Option[Map[String, Long]], pBefore: Long, pAfter: Long)
    val thunks = scala.collection.mutable.LinkedHashMap[String, () => LegRun]()
    val acceptedRuns = scala.collection.mutable.LinkedHashMap[String, LegRun]()
    // cleanups that must wait until after the retry pass (dropping a
    // table/cache a retried leg still reads would break the retry)
    val postRetryCleanups = scala.collection.mutable.ArrayBuffer[() => Unit]()
    // a skipped run must SELF-IDENTIFY: without this, a bench JSON with
    // missing legs (stray env var) is indistinguishable from a build that
    // never had them — stderr line here, "skipped" list in the sidecar
    if (skipLegs.nonEmpty)
      System.err.println(
        s"[bench] SPARK_GRAFT_BENCH_SKIP active — skipping legs: ${skipLegs.toSeq.sorted.mkString(",")}")
    // the sidecar records what was ACTUALLY skipped (leg-name literals —
    // JSON-safe by construction) separately from skip entries that
    // matched nothing (a typo'd name that silently skips nothing would
    // otherwise defeat the self-identification this exists for)
    val hitSkips = scala.collection.mutable.TreeSet.empty[String]
    val seenLegs = scala.collection.mutable.TreeSet.empty[String]
    // accept a measurement: LinkedHashMap update of an existing key keeps
    // its position, so a retry overwrite preserves leg order in the JSON
    def accept(name: String, r: LegRun): Unit = {
      acceptedRuns += name -> r
      results += name -> r.med
      // rows from the MEDIAN-time run, matching the reported time (a leg
      // whose row count varied between runs would otherwise mis-attribute)
      rows += name -> r.rows
      spreads += name -> ((r.lo, r.hi))
      r.io.foreach(m => ios += name -> m)
    }
    // legs that rewrite a store other legs read (see the retry pass)
    val mutatingLegs = scala.collection.mutable.Set[String]()
    def leg(name: String, mutates: Boolean = false)(f: => Long): Unit = {
      seenLegs += name; if (mutates) mutatingLegs += name; if (!skipLegs.contains(name)) {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = f
        val dtNanos = System.nanoTime() - t0
        // every timed run feeds the per-op latency registry (the fork's
        // StoreLatencyTrackerAspect surface) — the sidecar reports
        // p50/p95/p99 per op over all runs, exact max beside them
        graft.stat.StoreLatency.record(name, dtNanos / 1000L)
        (dtNanos / 1e9, n)
      }
      val thunk = () => {
        val pb = contentionProbe()
        val runs = Seq(once(), once(), once())
        val pa = contentionProbe()
        val ts = runs.map(_._1).sorted
        LegRun(ts(1), runs.sortBy(_._1).apply(1)._2, ts.head, ts.last, None, pb, pa)
      }
      thunks += name -> thunk
      accept(name, thunk())
    } else hitSkips += name }

    // Like `leg`, but the workload is a DataFrame whose OWN plan is executed
    // (queryExecution.toRdd.count() — same distributed row count as
    // .count(), minus the final 1-row agg), so per-leg scan/shuffle metrics
    // can be harvested from the executed plan of the LAST run.
    def legDf(name: String)(mk: => DataFrame): Unit = { seenLegs += name; if (!skipLegs.contains(name)) {
      val thunk = () => {
        var last: DataFrame = null
        def once(): (Double, Long) = {
          val t0 = System.nanoTime()
          val df = mk
          val n = df.queryExecution.toRdd.count()
          last = df
          val dtNanos = System.nanoTime() - t0
          graft.stat.StoreLatency.record(name, dtNanos / 1000L)
          (dtNanos / 1e9, n)
        }
        val pb = contentionProbe()
        val runs = Seq(once(), once(), once())
        val pa = contentionProbe()
        val ts = runs.map(_._1).sorted
        LegRun(ts(1), runs.sortBy(_._1).apply(1)._2, ts.head, ts.last,
          Some(harvest(last)), pb, pa)
      }
      thunks += name -> thunk
      accept(name, thunk())
    } else hitSkips += name }

    // Untimed warmup over reduced inputs: first execution of each operator
    // shape pays classloading + whole-stage-codegen compilation + parquet
    // reader init (up to 4× per BASELINE.md) — run every workload's shape
    // small and cold ONCE so the timed median-of-3 below measures the
    // engine. ~3s total, not counted.
    locally {
      val wtmp = Files.createTempDirectory("graft_warm").toString
      val some = CellEncodings.ordersCells(spark, sfDir).limit(20000)
      CellStore.write(some, CellEncodings.ordersMeta, s"$wtmp/w", numPartitions = 4)
      val wl = new CassandraLens(spark.read.parquet(s"$wtmp/w"), CellEncodings.ordersMeta)
      wl.multigetSlice((0L until 100L).map(i => f"$i%010d"), None, SliceRange(count = 5)).count()
      wl.rangeSliceByKeys(Some("0000000000"), None, None, SliceRange(count = 5), 100).count()
      wl.compact(gcBeforeSeconds = 1000000000).cells.count()
      spark.sql("DROP TABLE IF EXISTS graft_warm_bucketed")
      // in-memory catalog: a killed prior run leaves the managed location
      // behind with no catalog entry — clear the directory explicitly,
      // derived from the session's warehouse config (not a hardcoded path)
      val warmLoc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "graft_warm_bucketed")
      if (warmLoc.exists()) new scala.reflect.io.Directory(warmLoc).deleteRecursively()
      CellStore.writeBucketed(some, CellEncodings.ordersMeta, "graft_warm_bucketed", 4)
      spark.table("graft_warm_bucketed").count()
      spark.sql("DROP TABLE IF EXISTS graft_warm_bucketed")
      CellStore.writeDomainSplit(some, CellEncodings.ordersMeta.copy(domainSplit = true),
        s"$wtmp/wd")
      new CassandraLens(CellStore.readDomainSplit(spark, s"$wtmp/wd"),
        CellEncodings.ordersMeta.copy(domainSplit = true))
        .multigetSlice((0L until 100L).map(i => f"$i%010d"), None, SliceRange(count = 5)).count()
      CellStore.writeWithHorizons(some, CellEncodings.ordersMeta, s"$wtmp/ws",
        numPartitions = 4)
      CellStore.openWithHorizons(spark, s"$wtmp/ws", CellEncodings.ordersMeta)
        .multigetSlice((0L until 100L).map(i => f"$i%010d"), None, SliceRange(count = 5)).count()
      val wsup = CellEncodings.lineitemSuperCells(spark, sfDir).limit(20000)
      CellStore.write(wsup, CellEncodings.lineitemSuperMeta, s"$wtmp/wsup", numPartitions = 4)
      new CassandraLens(spark.read.parquet(s"$wtmp/wsup"), CellEncodings.lineitemSuperMeta)
        .multigetSlice((1L until 100L).map(i => f"$i%010d"), None, SliceRange(count = 5)).count()
      val wdocs = CellEncodings.table(spark, sfDir, "documents").limit(400)
      graft.pipeline.Dedup.nearDuplicates(wdocs, "doc_id", "text", 3, 4, 5,
        hashShingles = true, maxDocFreq = None)
        .count() // warm the SAME path the timed run measures
      graft.pipeline.Dedup.minhashNearDuplicates(wdocs, "doc_id", "text", 3, 32, 8, 4, 5,
        maxBucket = None).count() // warms the uncapped minhash_lsh leg
      SparkEntry.queries("q22_sessionize")(spark, sfDir).limit(10).count()
      try new scala.reflect.io.Directory(new java.io.File(wtmp)).deleteRecursively()
      catch { case _: Throwable => () }
    }

    // ---- contention sentinel (VERDICT r17 task 1a): FIXED work — open
    // all 64 footers of a tiny store written once here — timed at suite
    // start / middle / end. The driver box has repeatedly printed 3-17×
    // on small-file legs with byte-identical io blocks while quiet local
    // minima sat at reference level; "sentinel_ms" in BENCH_SIDECAR puts
    // the box's own small-file IO latency INSIDE the artifact, so a
    // contended run self-identifies without cross-round archaeology
    // (quiet local prints ~10-40 ms per sample; a contended/slow-storage
    // box scales all three together, independent of any leg's code).
    val sentinelDir = Files.createTempDirectory("graft_sentinel").toString
    spark.range(6400).repartition(64).write.mode("overwrite")
      .parquet(s"$sentinelDir/s")
    val sentinelFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$sentinelDir/s")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    }
    val sentinels = scala.collection.mutable.ArrayBuffer[Long]()
    val jobSentinels = scala.collection.mutable.ArrayBuffer[Long]()
    def sentinel(): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val t0 = System.nanoTime()
      var n = 0L
      sentinelFiles.foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try n += rd.getRecordCount finally rd.close()
      }
      val dt = (System.nanoTime() - t0) / 1000000L
      require(n == 6400L, s"sentinel store corrupt: $n rows")
      sentinels += dt
      // second component: the SAME fixed work as a Spark job (64-file
      // scan + tiny shuffle) — CPU/scheduler contention shows here
      // where the driver-side footer loop only sees storage latency
      // (the contended-vs-quiet local cross-check moved the footer loop
      // barely 1.2× while legs swung 3×+). refreshByPath defeats the
      // session FileStatusCache so listing is paid every sample.
      spark.catalog.refreshByPath(s"$sentinelDir/s")
      val t1 = System.nanoTime()
      val c = spark.read.parquet(s"$sentinelDir/s")
        .groupBy(col("id") % 7).count().count()
      require(c == 7L, s"sentinel job wrong: $c groups")
      jobSentinels += (System.nanoTime() - t1) / 1000000L
    }
    sentinel() // suite start

    val ordersLens = new CassandraLens(
      CellEncodings.ordersCells(spark, sfDir)
        .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
      CellEncodings.ordersMeta)

    // 1. insert: cell-store write path (SSTable-flush analog)
    val tmp = Files.createTempDirectory("graft_bench").toString
    leg("insert", mutates = true) {
      val cells = CellEncodings.ordersCells(spark, sfDir)
      CellStore.write(cells, CellEncodings.ordersMeta, s"$tmp/orders_cells",
        numPartitions = GraftSession.cpus.toInt)
      spark.read.parquet(s"$tmp/orders_cells").count()
    }

    // reads run against the store written in step 1 — sorted runs + blooms
    // + pushdown actually exercised (stress.py inserts then reads)
    val storedLens = new CassandraLens(
      spark.read.parquet(s"$tmp/orders_cells")
        .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
      CellEncodings.ordersMeta)

    // 2. read: point-slice batch (uniform sample: every 20th key)
    legDf("read") {
      val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
      storedLens.multigetSlice(keys, None, SliceRange(count = 5))
    }

    // 2b. read_gaussian: stress.py reads keys gaussian-distributed around
    // the keyspace midpoint (contrib/py_stress/stress.py:74-78 — mean N/2,
    // stdev 0.1*N). Hot keys cluster on a narrow token band, which is
    // exactly what blooms / sorted runs / row-group pruning get graded on.
    // Fixed seed so every round reads the identical key set.
    def gaussianKeys(): Seq[String] = {
      val rnd = new java.util.Random(42)
      Seq.fill(600)(
        math.max(0L, math.min(2999L, math.round(1500.0 + rnd.nextGaussian() * 300.0))))
        .distinct.map(i => f"$i%010d")
    }
    legDf("read_gaussian") {
      storedLens.multigetSlice(gaussianKeys(), None, SliceRange(count = 5))
    }

    // 2c. the same hot keys served from the row cache (InstrumentedCache
    // analog): the reconciled live view pinned in executor memory — the
    // workload a row cache exists for. Cache build untimed (the reference
    // warms its row cache before stress reads too).
    locally {
      val cached = storedLens.withRowCache()
      cached.live.count() // materialize the cache outside the timer
      legDf("read_gaussian_cached") {
        cached.multigetSlice(gaussianKeys(), None, SliceRange(count = 5))
      }
      // keep the cache alive until after the retry pass (a retried run
      // against an unpersisted cache would time the rebuild, not the hit)
      postRetryCleanups += (() => { cached.dropRowCache(); () })
    }

    // 2d. the same hot reads against a DEEP store — 64 versions per cell,
    // the shape un-compacted ingest produces (ScaleProbe's depth probe as
    // a driver-visible leg): the uncached read pays a real 64-way LWW
    // reconcile per key; the cached leg shows what the row cache actually
    // buys when the store is deep, not just plan overhead.
    locally {
      val deep = spark.read.parquet(s"$tmp/orders_cells")
        .crossJoin(spark.range(64).select(col("id").as("__v")))
        .withColumn("ts", col("ts") + col("__v")).drop("__v")
      val deepLens = new CassandraLens(deep, CellEncodings.ordersMeta)
      legDf("read_gaussian_deep") {
        deepLens.multigetSlice(gaussianKeys(), None, SliceRange(count = 5))
      }
      val cachedDeep = deepLens.withRowCache()
      cachedDeep.live.count() // cache build untimed (reference warms too)
      legDf("read_gaussian_deep_cached") {
        cachedDeep.multigetSlice(gaussianKeys(), None, SliceRange(count = 5))
      }
      postRetryCleanups += (() => { cachedDeep.dropRowCache(); () })
    }

    // 3. rangeslice: token-ordered scan, 1000-key batch, count=5 slices
    legDf("rangeslice") {
      storedLens.rangeSliceByKeys(Some("0000000000"), None, None,
        SliceRange(count = 5), 1000)
    }

    // 4. reconcile_scan: full LWW reconcile + shadow + slice over every key
    legDf("reconcile_scan") {
      storedLens.rangeSliceByKeys(None, None, None, SliceRange(count = 3), Int.MaxValue)
    }

    // 3b. bucketed layout: write once co-located by key, then the same
    // point-slice batch runs with a SHUFFLE-FREE reconcile
    spark.sql("DROP TABLE IF EXISTS graft_bench_bucketed")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_bench_bucketed")
    if (wh.exists()) new scala.reflect.io.Directory(wh).deleteRecursively()
    leg("insert_bucketed", mutates = true) {
      CellStore.writeBucketed(
        CellEncodings.ordersCells(spark, sfDir)
          .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
        CellEncodings.ordersMeta, "graft_bench_bucketed", GraftSession.cpus.toInt)
      spark.table("graft_bench_bucketed").count()
    }

    val bucketLens = new CassandraLens(
      spark.table("graft_bench_bucketed"), CellEncodings.ordersMeta)
    legDf("read_bucketed") {
      val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
      bucketLens.multigetSlice(keys, None, SliceRange(count = 5))
    }
    postRetryCleanups +=
      (() => { spark.sql("DROP TABLE IF EXISTS graft_bench_bucketed"); () })

    // 3c. domainSplit layout (fork CFMetaData.domainSplit): the 2-char key
    // domain is a parquet partition column; keyed reads derive domains from
    // the requested keys and prune whole directories (PartitionFilters)
    val domainMeta = CellEncodings.ordersMeta.copy(domainSplit = true)
    leg("insert_domain", mutates = true) {
      CellStore.writeDomainSplit(
        CellEncodings.ordersCells(spark, sfDir)
          .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
        domainMeta, s"$tmp/orders_domain")
      spark.read.parquet(s"$tmp/orders_domain").count()
    }
    val domainLens = new CassandraLens(
      CellStore.readDomainSplit(spark, s"$tmp/orders_domain"), domainMeta)
    legDf("read_domain") {
      val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
      domainLens.multigetSlice(keys, None, SliceRange(count = 5))
    }

    // 3e. composed domainSplit ∘ bucketed catalog layout (the 100 TB
    // layout: directory pruning AND shuffle-free reconcile in one table;
    // write is insert_domain plus the bucket spec — setup untimed, the
    // READ is what the composition changes)
    CellStore.dropManaged(spark, "graft_bench_domain_bucketed")
    val dbMeta = CellEncodings.ordersMeta.copy(domainSplit = true)
    CellStore.writeDomainBucketed(
      CellEncodings.ordersCells(spark, sfDir)
        .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
      dbMeta, "graft_bench_domain_bucketed", GraftSession.cpus.toInt)
    val dbLens = new CassandraLens(
      spark.table("graft_bench_domain_bucketed"), dbMeta)
    legDf("read_domain_bucketed") {
      val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
      dbLens.multigetSlice(keys, None, SliceRange(count = 5))
    }
    postRetryCleanups +=
      (() => { spark.sql("DROP TABLE IF EXISTS graft_bench_domain_bucketed"); () })

    // 3d. horizon-sidecar store: runs + precomputed deletion horizons;
    // reads join two tiny tables instead of re-aggregating marker cells
    // out of the store (setup untimed — the write path is `insert` plus
    // two small aggregates; the READ is what the sidecar changes)
    CellStore.writeWithHorizons(
      CellEncodings.ordersCells(spark, sfDir)
        .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
      CellEncodings.ordersMeta, s"$tmp/orders_sidecar",
      numPartitions = GraftSession.cpus.toInt)
    val sideLens = CellStore.openWithHorizons(spark, s"$tmp/orders_sidecar",
      CellEncodings.ordersMeta)
    legDf("read_sidecar") {
      val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
      sideLens.multigetSlice(keys, None, SliceRange(count = 5))
    }

    // 3f. super-CF path (stress.py --supercolumns mode,
    // contrib/py_stress/stress.py:87-88): insert writes the two-level
    // (key, super_name, sub) cell layout; read runs the two-level slice
    // assembly (the q10/q11 machinery) — supercolumn-limited slices over
    // a sampled key batch against the store written here.
    leg("insert_super", mutates = true) {
      CellStore.write(CellEncodings.lineitemSuperCells(spark, sfDir),
        CellEncodings.lineitemSuperMeta, s"$tmp/li_super",
        numPartitions = GraftSession.cpus.toInt)
      spark.read.parquet(s"$tmp/li_super").count()
    }
    val superLens = new CassandraLens(
      spark.read.parquet(s"$tmp/li_super"), CellEncodings.lineitemSuperMeta)
    legDf("read_super") {
      // lineitem orderkeys are sparse (TPC-H keeps 8 of every 32): step 4
      // lands on a present/absent mix like stress.py's uniform reads
      val keys = (1L until 12000L by 4L).map(i => f"$i%010d")
      superLens.multigetSlice(keys, None, SliceRange(count = 5))
    }
    legDf("rangeslice_super") {
      // stress.py's third super-mode workload (stress.py:235-260): a
      // token-ordered PAGED range scan addressed INTO one supercolumn
      // (ColumnParent('Super1', 'S<j>')) — the 1000-key page runs the
      // range pick + per-key two-level slice assembly with the
      // sub-column predicate applied under supercolumn linenumber 1
      val sup = java.nio.ByteBuffer.allocate(8).putLong(1L).array()
      superLens.rangeSliceByKeys(Some("0000000001"), None, Some(sup),
        SliceRange(count = 5), 1000)
    }

    // 4b. sessionize: gap-based session windows over 100k events
    leg("sessionize") {
      SparkEntry.queries("q22_sessionize")(spark, sfDir).count()
    }

    // 5. compaction: table-wide merge + GC (major compaction analog)
    leg("compaction") {
      ordersLens.compact(gcBeforeSeconds = 1000000000).cells.count()
    }

    sentinel() // suite middle (after the write-heavy cell-store legs)

    // pipeline headliners
    val docs = CellEncodings.table(spark, sfDir, "documents")
    legDf("jaccard_neardup") {
      // scale path: 8-byte hashed shingle shuffle keys (oracle queries
      // keep exact strings; spec asserts equal results). maxDocFreq=None
      // OPTS OUT of the default-on skew guard so this leg keeps
      // measuring the unguarded shape next to jaccard_guarded below.
      graft.pipeline.Dedup.nearDuplicates(docs, "doc_id", "text", 3, 4, 5,
        hashShingles = true, maxDocFreq = None)
    }

    // same leg WITH the maxDocFreq skew guard (the library DEFAULT —
    // Dedup.DefaultMaxDocFreq) — the SCALE.md production
    // contract: drop shingles shared by >10% of docs before pair
    // emission (Σ C(df,2) is the superlinear term; the guard bounds it).
    // Side-by-side with the bare leg so the guard's cost/benefit is a
    // measured number instead of an argument.
    legDf("jaccard_guarded") {
      graft.pipeline.Dedup.nearDuplicates(docs, "doc_id", "text", 3, 4, 5,
        hashShingles = true, maxDocFreq = Some(500))
    }

    // uncapped twin (the oracle/DuckDB-parity path, maxBucket = None —
    // production default is the guarded path benched next) so the
    // BASELINE series stays like-for-like across the default flip
    legDf("minhash_lsh") {
      graft.pipeline.Dedup.minhashNearDuplicates(docs, "doc_id", "text", 3, 32, 8, 4, 5,
        maxBucket = None)
    }

    // bucket-capped twin — THE DEFAULT path since round 16 (maxBucket =
    // Some(DefaultMaxBucket)): degenerate band buckets are dropped whole
    // before the candidate self-join — measured next to the uncapped leg
    legDf("minhash_guarded") {
      graft.pipeline.Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        3, 32, 8, 4, 5)
    }

    // directed containment (sub ⊆ sup) on the production path: default
    // maxDocFreq guard + 8-byte hashed shingle keys — one
    // setOverlapPairsWithSizes pass, two directed emissions from it
    legDf("containment") {
      graft.pipeline.Dedup.containmentNearDuplicates(docs, "doc_id", "text",
        3, 4, 5, hashShingles = true)
    }

    // WordPiece greedy apply over the corpus vocabulary — the
    // vocabulary-sized tokenizer claim measured: vocab count pass +
    // distinct-word greedy walk, never per-token-occurrence work
    legDf("wordpiece_segment") {
      val words = graft.pipeline.TextAnalysis
        .unigramWords(docs, "text", maxWordLen = 12)
        .localCheckpoint(eager = false) // feeds the vocab AND the walk
      graft.pipeline.TextAnalysis.wordpieceSegment(words,
        graft.pipeline.TextAnalysis.wordpieceVocab(words,
          maxPieceLen = 4, minCount = 30L),
        maxPieceLen = 4)
    }

    // the full corpus→ids encode: the segment work above plus the
    // token-grain fan join — the pretraining-artifact write path; ONE
    // shared words frame feeds vocab AND segmentation
    legDf("wordpiece_encode") {
      val words = graft.pipeline.TextAnalysis
        .unigramWords(docs, "text", maxWordLen = 12)
        .localCheckpoint(eager = false)
      graft.pipeline.TextAnalysis.wordpieceEncode(docs, "doc_id", "text",
        graft.pipeline.TextAnalysis.wordpieceVocab(words,
          maxPieceLen = 4, minCount = 30L),
        maxPieceLen = 4, words = Some(words))
    }

    // byte-level BPE train→apply: learn 6 merges on a 10% content-hash
    // sample (each merge = one pair-stats pass over the sampled byte
    // symbolization — the driver-loop cost), then count every doc's
    // subwords under them (the corpus-pass apply: one regex fuse per
    // merge over every token occurrence). The family's one recorded
    // number: trainer passes are sample-sized, apply is the inherent
    // merges × corpus pass.
    legDf("bytebpe_tokcount") {
      val merges = graft.pipeline.TextAnalysis
        .trainByteBpeMerges(docs, "text", merges = 6, samplePermille = 100)
        .map { case (l, r, _) => (l, r) }
      graft.pipeline.TextAnalysis.byteBpeTokenCount(docs, "doc_id", "text",
        merges)
    }

    // retrieval: the ad-hoc BM25 pass (tokenize the corpus per query)
    // next to the standing inverted index's term-keyed probe over the
    // SAME query — the p225 maintenance story's payoff measured side by
    // side; the index build itself is untimed (the once-per-corpus
    // artifact, maintained by pure appends thereafter).
    locally {
      val bmQ = docs.filter(col("doc_id") === 0).select(col("text")).head()
        .getString(0).toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).take(8).mkString(" ")
      val bmCorpus = docs.filter(col("doc_id") =!= 0)
      legDf("bm25_adhoc") {
        graft.pipeline.TextAnalysis.bm25TopK(bmCorpus, "doc_id", "text", bmQ, 10)
      }
      val postings = graft.pipeline.TextAnalysis
        .bm25Postings(bmCorpus, "doc_id", "text").localCheckpoint()
      val doclens = graft.pipeline.TextAnalysis
        .bm25DocLens(bmCorpus, "doc_id", "text").localCheckpoint()
      legDf("bm25_indexed") {
        graft.pipeline.TextAnalysis.bm25TopKIndexed(postings, doclens, bmQ, 10)
      }
      // phrase probe over the PERSISTED positional index (p257's
      // layout, range-laid by term so a 3-term probe reads 3 terms'
      // row groups — phrasePruneProbe measured 10.6% of unpushed scan
      // volume); the store build is untimed like bm25's index (the
      // once-per-corpus artifact, maintained by appends thereafter)
      // doc 0 guards the probe: <6 tokens falls back to its first 3 so
      // the phrase is never empty (an empty phrase would abort the run);
      // a truly token-free doc 0 skips the leg LOUDLY instead
      val bmToks = bmQ.split(" ").filter(_.nonEmpty)
      val phrase = (if (bmToks.length >= 6) bmToks.slice(3, 6)
        else bmToks.take(3)).mkString(" ")
      if (phrase.nonEmpty) {
        graft.pipeline.TextAnalysis.positionalPostings(docs, "doc_id", "text")
          .repartitionByRange(col("term")).sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$tmp/postings")
        legDf("phrase_indexed") {
          graft.pipeline.TextAnalysis.phraseMatchesIndexed(
            spark.read.parquet(s"$tmp/postings"), phrase)
        }
      } else System.err.println(
        "[bench] phrase_indexed skipped: doc 0 has no tokens")
    }

    val emb = CellEncodings.table(spark, sfDir, "embeddings")
    leg("ann_topk") {
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
      graft.pipeline.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10).count()
    }

    leg("events_window") {
      CellEncodings.table(spark, sfDir, "events")
        .groupBy(expr("ts div 3600000000000"), col("event_type"))
        .agg(count(lit(1)), sum(col("value"))).count()
    }

    legDf("kmeans_step") {
      graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id", "embedding", k = 8)
    }

    // all-nearest-neighbors over the standing IVF index (codebook +
    // index + in-cell self-join + per-id rank) — the batch substrate
    // of semantic dedup / diversity sampling; the knnMaintProbe slope
    // rows pin its Σ|cell|² cost model
    legDf("knn_graph") {
      val codebook = graft.pipeline.Similarity.refinedCentroids(
        graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id",
          "embedding", k = 16)).localCheckpoint()
      graft.pipeline.Similarity.knnGraphIvf(
        graft.pipeline.Similarity.ivfIndexTable(emb, "vec_id",
          "embedding", codebook, 16), kNbrs = 10)
    }

    // the PRODUCTION kNN-graph claim is maintenance, not rebuild: fold
    // a localized delta (the 5% arrivals landing in cells 0-1 under
    // the frozen codebook) into a standing graph — only the touched
    // cells re-derive; the collision probe + cells collect are part of
    // the honest fold cost. Standing artifacts build once, untimed.
    {
      // lazy: a skipped leg must not pay the standing-artifact builds
      // (eager checkpoints incl. a full knnGraphTable pass)
      lazy val kdCodebook = graft.pipeline.Similarity.refinedCentroids(
        graft.pipeline.Similarity.kmeansStepExact(
          emb.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
          k = 16)).localCheckpoint()
      lazy val kdIdx = graft.pipeline.Similarity.ivfIndexTable(
        emb.filter(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
        kdCodebook, 16).localCheckpoint()
      lazy val kdG0 = graft.pipeline.Similarity.knnGraphTable(kdIdx, 10)
        .localCheckpoint()
      lazy val kdDelta = graft.pipeline.Similarity.ivfIndexTable(
        emb.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
        kdCodebook, 16).filter(col("cell") < 2).localCheckpoint()
      // ADVICE r17: force the standing artifacts UNTIMED (the lazy vals
      // are eager localCheckpoints — left unforced, the leg's first
      // timed run paid the one-time codebook/index/full-graph builds and
      // the spread max reported build cost, not fold cost); same skip
      // guard so a skipped leg still pays nothing
      if (!skipLegs.contains("knn_delta")) { kdG0; kdDelta; () }
      legDf("knn_delta") {
        graft.pipeline.Similarity.knnGraphDelta(kdG0, kdIdx, kdDelta,
          kNbrs = 10)
      }
      // online ANN query against a standing ON-DISK kNN store (the p303
      // path — VERDICT r17 task 6: the online read path had a plan pin
      // but no recorded number). Store = the kd index published as one
      // run (untimed — the standing artifact the store protocol
      // maintains); the leg measures the full online path: query-batch
      // assign to nProbe cells under the frozen codebook → cell-pruned
      // candidate join against the live index read → exact cosine
      // re-rank top-k. ~1/30 of the corpus as the query batch.
      if (!skipLegs.contains("knn_query"))
        kdIdx.write.mode("overwrite").parquet(s"$tmp/knnstore/index/run=0")
      legDf("knn_query") {
        graft.streaming.PipelineStream.knnStoreQuery(spark, s"$tmp/knnstore",
          emb.filter(col("vec_id") % 30 === 0)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", kdCodebook, 16, nProbe = 2, topK = 10)
      }
    }

    // sketch observability: both corpus sketches in one leg (HLL register
    // max-agg + CMS cell sum-agg — the per-shard census cost)
    legDf("sketches") {
      graft.pipeline.Sketches.hllRegisters(
        docs.select(col("lang"),
          graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp")),
        "fp", "lang", b = 6)
        .unionByName(
          graft.pipeline.Sketches.countMinSketch(docs, "text", d = 4, w = 512)
            .select(lit("cms").as("grp"), col("bucket").as("register"),
              col("cnt").as("rho")))
    }

    // event analytics rollups: funnel + retention + transition matrix
    // over the full event table in one leg — the per-user aggregate
    // family's cost (co-partitioned min chains, bounded outputs)
    legDf("event_analytics") {
      val ev = CellEncodings.table(spark, sfDir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_type"))
      graft.operators.EventOps.funnel(ev, "user_id", "tus", "event_type",
          Seq("signup", "view", "click", "purchase"))
        .select(col("stage_idx").as("a"), col("n_users").as("b"))
        .unionByName(graft.operators.EventOps.retentionCohorts(
          ev.select(col("user_id"), col("tus")), "user_id", "tus",
          bucketSize = 86400000000L)
          .select(col("cohort").as("a"), col("n_users").as("b")))
        .unionByName(graft.operators.EventOps.eventTransitions(
          ev, "user_id", "tus", "event_type")
          .select(hash(col("from_type"), col("to_type")).cast("long").as("a"),
            col("n").as("b")))
    }

    // event analytics: as-of attribution over the full event table
    // (union + per-key running last — the one-shuffle path)
    legDf("asof_join") {
      val (purchases, clicks) = SparkEntry.attributionFrames(spark, sfDir)
      graft.operators.EventOps.asOfJoin(purchases, clicks, Seq("user_id"), "tus")
    }

    // unkeyed time-window join: purchases × errors within ±6 h via bin
    // decomposition (3× probe fanout, one hash exchange on the bin) —
    // the no-equality-key join family's cost
    legDf("window_join") {
      val ev = CellEncodings.table(spark, sfDir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tus"),
          col("event_type"))
      graft.operators.EventOps.nearbyCount(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "error"),
        "event_id", "tus", window = 21600000000L)
    }

    // the density-proof ECDF/rank twin next to the bin path — the sf1
    // slope table's fix measured side by side (bin pairs are quadratic
    // in event density; ranks stay ~linear)
    legDf("window_join_rank") {
      val ev = CellEncodings.table(spark, sfDir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tus"),
          col("event_type"))
      graft.operators.EventOps.nearbyCountRank(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "error"),
        "event_id", "tus", window = 21600000000L)
    }

    // KEYED ±1 h per-user neighbor counts (p244): the engine-native
    // rangeBetween window — ONE exchange on the key, per-key sort, no
    // bins, no pair join; the one-exchange claim gets a recorded number
    // next to the unkeyed bin/rank legs
    legDf("window_join_keyed") {
      graft.operators.EventOps.windowCountByKey(
        CellEncodings.table(spark, sfDir, "events")
          .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus")),
        "user_id", "event_id", "tus", window = 3600000000L)
    }

    // drift monitors: per-day CMS L1 drift series + per-type winsorized
    // stats in one leg — the corpus-observability family (histogram
    // aggregates + metrics-space windows, bounded outputs)
    legDf("drift_monitors") {
      val ev = CellEncodings.table(spark, sfDir, "events")
      graft.pipeline.Sketches.cmsDriftSeries(
        ev.select(expr("ts div 1000 div 86400000000").as("day"), col("props")),
        "props", "day", d = 4, w = 128)
        .select(col("bucket").as("a"), col("l1").as("b"))
        .unionByName(graft.pipeline.Sketches.winsorizedStats(
          ev.select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents")),
          "cents", "event_type")
          .select(col("lo").as("a"), col("wsum").as("b")))
    }

    // event-graph analytics: degree-oriented triangle counting on the
    // item co-transition graph + multi-touch linear attribution in one
    // leg — the round-11 event additions (wedge joins + the per-purchase
    // touch-window split)
    legDf("event_graph") {
      val ev = CellEncodings.table(spark, sfDir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_type"), col("event_id"), col("value"),
          expr("CAST(nullif(regexp_extract(props, '[0-9]+', 0), '') AS BIGINT)")
            .as("item"))
        .localCheckpoint(false) // graph AND attribution read it
      val tri = graft.operators.EventOps.triangleCounts(
        graft.operators.EventOps.eventTransitions(
          ev.select(col("user_id"), col("tus"), col("item")),
          "user_id", "tus", "item"),
        "from_type", "to_type")
        .select(col("node").as("a"), col("n_triangles").as("b"))
      val attrib = graft.operators.EventOps.linearAttribution(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus"), col("event_id"),
            round(col("value") * 1e6).cast("long").as("rev_micro")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tus"), col("event_id").as("cid")),
        "user_id", "tus", "event_id", "rev_micro", "tus", "cid",
        lookback = 604800000000L)
        .select(col("click_day").as("a"), col("attributed_micro").as("b"))
      tri.unionByName(attrib)
    }

    // Z-order seek: axis-aligned rectangle read over the Morton-clustered
    // event layout (the p210/p214 machinery) — OR-of-BETWEENs pushed on
    // the persisted zkey + codegen'd decode residual. Store written once
    // untimed (the write path is covered by the insert legs); the leg
    // measures the 2-D seek end-to-end.
    locally {
      val e = CellEncodings.table(spark, sfDir, "events")
        .select(col("event_id"), (col("user_id") % 65536L).as("a"),
          (expr("ts div 1000 div 3600000000") % 65536L).as("b"))
      graft.sources.ZOrder.writeZOrdered(e, s"$tmp/zstore", col("a"), col("b"), 16)
    }
    legDf("zorder_seek") {
      graft.sources.ZOrder.zRangeScan(spark, s"$tmp/zstore",
        3L, 80L, 14650L, 15100L).select(col("event_id"))
    }

    sentinel() // suite end

    // ---- bounded retry of contended legs (see the probe scaladoc at the
    // top). The floor comes from the MAIN pass's own probes — even in a
    // contaminated run most probes are quiet because the windows rove, so
    // min() is a robust quiet-box reference; the 20 ms clamp guards a
    // freak fast sample. A leg retries at most ONCE. When every leg was
    // skipped no probe ran and nothing is accepted, so the pass is empty.
    val probeFloor = math.max(20L, legProbes.reduceOption(_ min _).getOrElse(20L))
    def inBand(ms: Long): Boolean = ms <= probeFloor * 3 + 50
    val contendedLegs = scala.collection.mutable.ArrayBuffer[String]()
    val retriedLegs = scala.collection.mutable.ArrayBuffer[String]()
    // read legs retry BEFORE mutating legs: a retried insert overwrites
    // its store, and a reader lens built over the old file set would fail
    // on the stale listing (FileNotFound — bit the first c8 run). A retry
    // that still throws keeps the first measurement and flags the leg.
    acceptedRuns.keys.toSeq.sortBy(mutatingLegs.contains).foreach { name =>
      val first = acceptedRuns(name)
      if (!inBand(first.pBefore) || !inBand(first.pAfter)) {
        retriedLegs += name
        scala.util.Try(thunks(name)()) match {
          case scala.util.Success(second) =>
            if (inBand(second.pBefore) && inBand(second.pAfter)) accept(name, second)
            else {
              // both windows dirty: keep the better evidence, flag the leg
              if (second.med < first.med) accept(name, second)
              contendedLegs += name
            }
          case scala.util.Failure(e) =>
            System.err.println(s"[bench] retry of $name failed (${e.getClass.getSimpleName}); keeping first measurement")
            contendedLegs += name
        }
      }
    }
    postRetryCleanups.foreach(c => try c() catch { case _: Throwable => () })

    // cleanup
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
      new Directory(new java.io.File(sentinelDir)).deleteRecursively()
    } catch { case _: Throwable => () }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val rs = rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val sp = spreads.map { case (k, (lo, hi)) =>
      "\"" + k + "\":[" + f"$lo%.3f" + "," + f"$hi%.3f" + "]"
    }.mkString("{", ",", "}")
    val total = results.values.sum
    val io = ios.map { case (k, m) =>
      "\"" + k + "\":" + m.toSeq.map { case (f, v) => "\"" + f + "\":" + v }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // The driver captures only a TAIL of stdout and its parser needs the
    // "metric" key intact: round 8's single fat line (queries+rows+spread
    // +io) overflowed the ~2 KB capture and parsed:null; round 9 moved io
    // out but rows+spread still tipped r10 over as legs grew. The bare
    // final line now carries ONLY metric/value/unit/queries/sf (~0.7 KB at
    // 29 legs); rows, spread, and io all live in BENCH_SIDECAR.json (plus
    // a preceding stdout line) that the end-of-round commit picks up.
    // per-op latency registry (leg runs + the lens's per-page coordinator
    // samples recorded during them): count + p50/p95/p99/mean (bucket
    // resolution) + exact max, all µs — the stat/ exporter's table shape
    val lat = graft.stat.StoreLatency.report().map { case (op, s) =>
      "\"" + op + "\":{\"count\":" + s.count + ",\"p50us\":" + s.p50Micros +
        ",\"p95us\":" + s.p95Micros + ",\"p99us\":" + s.p99Micros +
        ",\"meanUs\":" + s.meanMicros + ",\"maxUs\":" + s.maxMicros + "}"
    }.mkString("{", ",", "}")
    // only names that actually matched a leg (code literals, JSON-safe);
    // entries that matched nothing are reported sanitized so a typo or a
    // quote-mangled env value can neither hide nor break the JSON
    val skipped = hitSkips.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skipUnmatched = (skipLegs -- seenLegs).toSeq.sorted
      .map(s => "\"" + s.replaceAll("[^A-Za-z0-9_]", "?") + "\"")
      .mkString("[", ",", "]")
    // start/middle/end fixed-work IO probe (ms) — the contention
    // adjudication datum (see the sentinel scaladoc above)
    val sentStr = sentinels.map(_.toString).mkString("[", ",", "]")
    val sentJobStr = jobSentinels.map(_.toString).mkString("[", ",", "]")
    // per-leg probe windows of the ACCEPTED measurement + retry audit —
    // the contended_legs adjudication data, sidecar-only (the bare line
    // stays small)
    val windowsStr = acceptedRuns.map { case (k, r) =>
      "\"" + k + "\":[" + r.pBefore + "," + r.pAfter + "]"
    }.mkString("{", ",", "}")
    val retriedStr = retriedLegs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contendedStr = contendedLegs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail =
      s"""{"detail":{"rows":$rs,"spread":$sp,"io":$io,"latency":$lat,"skipped":$skipped,"skip_unmatched":$skipUnmatched,"sentinel_ms":$sentStr,"sentinel_job_ms":$sentJobStr,"leg_probe_ms":$windowsStr,"probe_floor_ms":$probeFloor,"retried":$retriedStr,"contended":$contendedStr},"sf":"$sfDir"}"""
    try Files.write(java.nio.file.Paths.get("BENCH_SIDECAR.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(detail)
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"contended_legs":$contendedStr,"sf":"$sfDir"}""")
    spark.stop()
  }
}
