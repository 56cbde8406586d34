package graft

import graft.api.CassandraLens
import graft.model.CfMeta
import graft.operators.{Reconcile, SliceRange}

/** Plan-shape assertions for the properties SCALE.md's arguments rest on:
  * these fail if a refactor silently degrades the physical plan even
  * while results stay correct.
  */
class PlanQualitySpec extends SparkSpec {

  private val cells = (0 until 50).flatMap { i =>
    Seq(ins(f"k$i%03d", "c1", "a", 1), ins(f"k$i%03d", "c2", "b", 1),
      ins(f"k$i%03d", "c3", "c", 2))
  }
  private def lens = new CassandraLens(cellsDf(cells), CfMeta("t"))

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("reconcile is a hash aggregate (ObjectHashAggregate), never sort-based") {
    val plan = planOf(Reconcile.liveView(cellsDf(cells)))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
    assert(!plan.contains("SortAggregate"), plan.take(1200))
  }

  test("per-key slice limit applies WindowGroupLimit before the shuffle") {
    val plan = planOf(
      lens.rangeSliceByKeys(None, None, None, SliceRange(count = 2), Int.MaxValue))
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    // the PARTIAL-mode node is the map-side pre-shuffle candidate pruning —
    // assert it on the WindowGroupLimit line itself, not anywhere in the plan
    assert(plan.linesIterator.exists(l => l.contains("WindowGroupLimit") && l.contains("Partial")),
      plan.linesIterator.filter(_.contains("WindowGroupLimit")).mkString("\n"))
  }

  test("range-pick live-key set never reads the value column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_pick").toString
    graft.sources.CellStore.write(cellsDf(cells), CfMeta("t"), dir, numPartitions = 2)
    val stored = new CassandraLens(spark.read.parquet(dir), CfMeta("t"))
    val formatted = stored.liveKeySet(spark.read.parquet(dir)).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = formatted.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty, formatted.take(1500))
    // the pick aggregates live/tombstone ts maxima and horizon markers —
    // the value column (the bulk of the bytes at scale) must be pruned
    // from every scan the pick performs
    assert(schemas.forall(!_.contains("value")), schemas.mkString("\n"))
    // get_count, existence probes, and describe_splits ride the same
    // value-free frame (describe_splits ranks eagerly behind a
    // checkpoint, so its CONTRACT frame — the (token, key) population
    // both split paths rank — is what carries the scan to assert)
    import spark.implicits._
    val probes = Seq(
      stored.getCount(Seq("k001", "k002"), None),
      stored.rowsExist(Seq("k001").toDF("key")),
      stored.splitsKeyFrame)
    probes.foreach { df =>
      val ss = df.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(ss.nonEmpty && ss.forall(!_.contains("value")), ss.mkString("\n"))
    }
  }

  test("describe_splits: no single-partition exchange; exact ntile fill reproduced") {
    val splits = lens.describeSplits(3)
    val plan = planOf(splits)
    // the old implementation funneled ALL distinct keys through one task
    // (ntile over a global ORDER BY); the pid-offset machinery must keep
    // every stage partitioned
    assert(!plan.contains("SinglePartition"), plan.take(3000))
    // and the rank window is pid-local, never global
    assert(plan.linesIterator.exists(l => l.contains("Window") && l.contains("__pid")),
      plan.take(3000))
    // 50 keys into 3 splits: NTILE's exact fill rule = 17/17/16
    val got = splits.orderBy("split_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 17L), (2L, 17L), (3L, 16L)), got.mkString(","))
  }

  test("value-free liveness equals the full reconcile on random cell soups") {
    import spark.implicits._
    // collision-heavy generator: few keys/cols/supers, ts drawn from a
    // small set INCLUDING Long.MaxValue, mixed inserts / column & SC & row
    // tombstones — everything the liveness-equivalence argument covers
    val rnd = new scala.util.Random(2026)
    val tsChoices = Seq(1L, 2L, 3L, 5L, 100L, Long.MaxValue)
    def t() = tsChoices(rnd.nextInt(tsChoices.size))
    for (_ <- 1 to 6) {
      val cells = (1 to 150).map { _ =>
        val key = s"k${rnd.nextInt(4)}"
        rnd.nextInt(12) match {
          case 0 => delRow(key, t())
          case 1 => delSuper(key, s"s${rnd.nextInt(2)}", t())
          case n =>
            val sup = if (n % 3 == 0) s"s${rnd.nextInt(2)}" else null
            val c = s"c${rnd.nextInt(3)}"
            if (n < 5) del(key, c, t(), sup = sup)
            else ins(key, c, s"v$n", t(), sup = sup)
        }
      }
      // the same soup as a plain frame and as a 4-bucket table: the
      // keyed pass plans one key exchange on the first and none on the
      // second, and both must obey the same laws
      spark.sql("DROP TABLE IF EXISTS graft_pq_soup")
      val loc = new java.io.File("spark-warehouse/graft_pq_soup")
      if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
      graft.sources.CellStore.writeBucketed(cellsDf(cells), CfMeta("t"),
        "graft_pq_soup", buckets = 4)
      try {
        for (df <- Seq(cellsDf(cells), spark.table("graft_pq_soup"))) {
          val lens = new CassandraLens(df, CfMeta("t"))
          def str(b: Array[Byte]) = new String(b, "UTF-8")
          def names(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
            (r.getString(0), Option(r.getAs[Array[Byte]](1)).map(str),
              str(r.getAs[Array[Byte]](2)))
          }.toSet
          def liveRows(live: org.apache.spark.sql.DataFrame) =
            live.select("key", "super_name", "col_name", "value", "ts").collect()
              .map(r => (r.getString(0), Option(r.getAs[Array[Byte]](1)).map(str),
                str(r.getAs[Array[Byte]](2)), str(r.getAs[Array[Byte]](3)), r.getLong(4)))
              .toSeq.sorted
          val expectedRows = liveRows(Reconcile.liveView(df))
          val keyedRows = liveRows(Reconcile.liveByKey(df))
          assert(keyedRows == expectedRows,
            s"keyed reconcile diverged: extra=${keyedRows.diff(expectedRows)} " +
              s"missing=${expectedRows.diff(keyedRows)}")
          val expected = expectedRows.map(r => (r._1, r._2, r._3)).toSet
          val got = names(lens.liveColumns(df).collect())
          assert(got == expected,
            s"value-free diverged: extra=${got.diff(expected)} missing=${expected.diff(got)}")
          val keyedNames = names(Reconcile.liveNamesByKey(df).collect())
          assert(keyedNames == expected, s"keyed value-free diverged: " +
            s"extra=${keyedNames.diff(expected)} missing=${expected.diff(keyedNames)}")
          // the page pick's input: the keyed value-free pass at KEY grain
          val expectedKeys = expected.map(_._1)
          val liveKeys = lens.liveKeySet(df).collect().map(_.getString(0)).toSet
          assert(liveKeys == expectedKeys,
            s"live key set diverged: extra=${liveKeys.diff(expectedKeys)} " +
              s"missing=${expectedKeys.diff(liveKeys)}")
          // keyed slices cut the raw cells to the slice's names before the
          // reconcile; the marker cells must survive that cut
          val keys = (0 until 4).map(i => s"k$i")
          val live = Reconcile.liveView(df)
          def sliced(sup: Option[String], pred: graft.operators.SlicePredicate) =
            sup match {
              case Some(sc) => graft.operators.Slice(
                live.filter(org.apache.spark.sql.functions.col("super_name") === b(sc)),
                CfMeta("t").comparator, "col_name", pred, perKey = Seq("key", "super_name"))
              case None => graft.operators.Slice(
                live.filter(org.apache.spark.sql.functions.col("super_name").isNull),
                CfMeta("t").comparator, "col_name", pred)
            }
          for ((sup, pred) <- Seq(
              None -> graft.operators.SliceByNames(Seq(b("c0"), b("c2"))),
              Some("s1") -> SliceRange(start = b("c1"), finish = b("c2")))) {
            val got = liveRows(lens.multigetSlice(keys, sup.map(b), pred))
            assert(got == liveRows(sliced(sup, pred)), s"keyed slice $sup $pred diverged")
          }
        }
      } finally spark.sql("DROP TABLE IF EXISTS graft_pq_soup")
    }
  }

  test("keyed reads: one key exchange per reconcile pass, no broadcast, no sort aggregate") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_keyed").toString
    // 3000 keys with live, overwritten and column-deleted cells plus row
    // and supercolumn markers, so every horizon branch has input
    val many = (0 until 3000).flatMap { i =>
      val k = f"$i%010d"
      Seq(ins(k, "c1", "a", 1), ins(k, "c1", "b", 2), ins(k, "c2", "c", 1),
        del(k, "c3", 2), ins(k, "c4", "d", 3, sup = "s1")) ++
        (if (i % 7 == 0) Seq(delRow(k, 2)) else Nil) ++
        (if (i % 11 == 0) Seq(delSuper(k, "s1", 4)) else Nil)
    }
    graft.sources.CellStore.write(cellsDf(many), CfMeta("t"), dir, numPartitions = 4)
    val stored = new CassandraLens(spark.read.parquet(dir), CfMeta("t"))
    def assertOnePass(what: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = planOf(df)
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("Exchange hashpartitioning(key"),
        s"$what: expected one key exchange:\n$plan")
      assert(!plan.contains("BroadcastExchange") && !plan.contains("SortAggregate"),
        s"$what:\n$plan")
    }
    val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
    val multiget = stored.multigetSlice(keys, None, SliceRange(count = 5))
    assertOnePass("150-key multiget", multiget)
    // the page pick runs eagerly inside rangeSliceByKeys; its pass is the
    // live key set over the range restriction
    val range = graft.operators.RangeScan.keyBoundsPredicate(
      col("key"), Some("0000000000"), None)
    assertOnePass("page pick", stored.liveKeySet(spark.read.parquet(dir).filter(range)))
    val page = stored.rangeSliceByKeys(Some("0000000000"), None, None,
      SliceRange(count = 5), 1000)
    assertOnePass("1000-key page read", page)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "col_name", "value").collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"),
          new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
    val reference = graft.operators.Slice(
      Reconcile.liveView(spark.read.parquet(dir).filter(col("key").isin(keys: _*)))
        .filter(col("super_name").isNull),
      CfMeta("t").comparator, "col_name", SliceRange(count = 5))
    assert(rows(multiget) == rows(reference))
    assert(!rows(multiget).exists(_._1 == "0000000000")) // row-deleted at ts 2
    assert(page.count() > 0)
  }

  test("value-free liveness survives sentinel-huge timestamps") {
    import spark.implicits._
    // ts = Long.MaxValue is the 'pin forever' sentinel; a ts<<1 bit-pack
    // would overflow negative and invert these verdicts
    val sentinel = new CassandraLens(cellsDf(Seq(
      ins("kDead", "c1", "v", 5), del("kDead", "c1", Long.MaxValue),
      ins("kPinned", "c1", "v", Long.MaxValue), del("kPinned", "c1", 7))),
      CfMeta("t"))
    val counts = sentinel.getCount(Seq("kDead", "kPinned"), None)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("kPinned" -> 1L), counts)
    val exist = sentinel.rowsExist(Seq("kDead", "kPinned").toDF("key"))
      .collect().map(_.getString(0)).toSet
    assert(exist == Set("kPinned"), exist)
  }

  test("bucketed store: the range-scan reconcile runs without an Exchange") {
    val loc = new java.io.File("spark-warehouse/graft_pq_bucketed")
    if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
    spark.sql("DROP TABLE IF EXISTS graft_pq_bucketed")
    graft.sources.CellStore.writeBucketed(cellsDf(cells), CfMeta("t"),
      "graft_pq_bucketed", buckets = 4)
    try {
      val lens = new CassandraLens(spark.table("graft_pq_bucketed"), CfMeta("t"))
      // bucketBy(key) satisfies ClusteredDistribution for the unbounded
      // read's reconcile groupBy(key, super, col), its horizon aggregates
      // and the per-key window, and for the keyed pass's horizon windows
      // under a 10-key page: neither re-shuffles by key
      for (maxKeys <- Seq(Int.MaxValue, 10)) {
        val scan = lens.rangeSliceByKeys(None, None, None, SliceRange(count = 2), maxKeys)
        val aggExchanges = planOf(scan).linesIterator
          .filter(l => l.contains("Exchange hashpartitioning"))
          .filter(_.contains("key")).toSeq
        assert(aggExchanges.isEmpty, s"bucketed reconcile (maxKeys $maxKeys) should " +
          s"not re-shuffle by key:\n${aggExchanges.mkString("\n")}")
        assert(liveValues(scan).nonEmpty)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_pq_bucketed")
  }

  test("bucketed store: compaction reconcile reads and aggregates without an Exchange") {
    val loc = new java.io.File("spark-warehouse/graft_pq_compact")
    if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
    spark.sql("DROP TABLE IF EXISTS graft_pq_compact")
    graft.sources.CellStore.writeBucketed(cellsDf(cells), CfMeta("t"),
      "graft_pq_compact", buckets = 4)
    try {
      val plan = planOf(graft.operators.Compaction.compact(
        spark.table("graft_pq_compact"), gcBeforeSeconds = 0))
      // compaction over the bucketed layout = scan + in-place hash agg; the
      // only joins are the tiny tombstone-horizon broadcasts
      val keyExchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("key")).toSeq
      assert(keyExchanges.isEmpty,
        s"bucketed compaction should not shuffle by key:\n${keyExchanges.mkString("\n")}")
      assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    } finally spark.sql("DROP TABLE IF EXISTS graft_pq_compact")
  }

  test("domain-bucketed store: keyed reads prune directories AND skip the Exchange") {
    val loc = new java.io.File("spark-warehouse/graft_pq_domb")
    if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
    spark.sql("DROP TABLE IF EXISTS graft_pq_domb")
    graft.sources.CellStore.writeDomainBucketed(cellsDf(cells),
      CfMeta("t", domainSplit = true), "graft_pq_domb", buckets = 4)
    try {
      val lens = new CassandraLens(spark.table("graft_pq_domb"),
        CfMeta("t", domainSplit = true))
      val read = lens.multigetSlice(Seq("k003", "k017"), None, SliceRange(count = 2))
      val plan = read.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the derived 2-char domains reach PartitionFilters (directory prune)
      assert(plan.contains("PartitionFilters") && plan.contains("domain"),
        plan.take(2500))
      // and the bucketing still hands the reconcile its distribution
      val exec = read.queryExecution.executedPlan.toString
      val keyEx = exec.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("key")).toSeq
      assert(keyEx.isEmpty, s"domain-bucketed read should not shuffle:\n${keyEx.mkString("\n")}")
      assert(liveValues(read) == Map("c1" -> "a", "c2" -> "b"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_pq_domb")
  }

  test("hot-key partial cache: hot reads hit the cache; cold reads still push the key to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_hotkey").toString
    graft.sources.CellStore.write(cellsDf(cells), CfMeta("t"), s"$dir/store",
      numPartitions = 4)
    val plens = new CassandraLens(spark.read.parquet(s"$dir/store"), CfMeta("t"))
    val warm = plens.withRowCache(Seq("k001", "k002"))
    try {
      // hot key: served from the cached branch
      val hot = warm.multigetSlice(Seq("k001"), None, SliceRange(count = 3))
      assert(planOf(hot).contains("InMemoryTableScan"), planOf(hot).take(2000))
      assert(liveValues(hot) == Map("c1" -> "a", "c2" -> "b", "c3" -> "c"))
      // cold key: the union's cold branch must still reach the parquet
      // scan with the KEY predicate pushed — a partial cache that
      // defeated pushdown would re-reconcile the corpus per cold read
      val cold = warm.multigetSlice(Seq("k010"), None, SliceRange(count = 3))
      val fplan = cold.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fplan.contains("PushedFilters") && fplan.contains("k010"),
        fplan.take(2500))
      assert(liveValues(cold) == Map("c1" -> "a", "c2" -> "b", "c3" -> "c"))
    } finally warm.dropRowCache()
  }

  test("bucketed adjacency: triangleDelta probes never exchange the standing edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dense-ish standing graph + a delta that fires both the new-wedge
    // and new-closing branches (writeAdjacencyBucketed clears any stale
    // managed location itself)
    val base = (for { a <- 1L to 40L; b <- (a + 1) to 40L
      if (a * 31 + b) % 5 == 0 } yield (a, b)).toDF("s", "d")
    val delta = (for { a <- 1L to 40L; b <- (a + 1) to 40L
      if (a * 17 + b) % 7 == 0 } yield (a, b)).toDF("s", "d")
    graft.operators.EventOps.writeAdjacencyBucketed(base, "s", "d",
      "graft_pq_adj", buckets = 4)
    val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the at-scale join shape (SMJ against the bucketed table) —
    // with broadcasts on, toy-sized sides all go BHJ and bucketed
    // reading is planner-disabled, proving nothing about 100 TB
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the operator REQUIRES the session opt-in (it reads at execution
    // time); restore after the actions complete
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val inc = graft.operators.EventOps.triangleDeltaBucketed(
        spark, "graft_pq_adj", delta, "s", "d")
      // ≡ the plain (shuffle) variant on identical inputs
      val got = inc.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = graft.operators.EventOps.triangleDelta(base, delta, "s", "d")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"bucketed ≠ plain: ${got.toSeq.sorted} vs ${want.toSeq.sorted}")
      assert(got.values.map(_._2).sum > 0, "planted graph produced no new triangles")
      // the standing columns au/av keep their names through every probe,
      // so an Exchange repartitioning standing data would name au# — none may
      val plan = planOf(inc)
      val standingEx = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("au#")).toSeq
      assert(standingEx.isEmpty,
        s"standing adjacency must never shuffle:\n${standingEx.mkString("\n")}")
      // and the adjacency scans really plan bucketed (the subset-key
      // co-partition admission is live, not silently fallen back)
      assert(plan.contains("SelectedBucketsCount"),
        plan.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      spark.sql("DROP TABLE IF EXISTS graft_pq_adj")
    }
    // without the session opt-in the operator refuses loudly instead of
    // silently planning the both-sides reshuffle
    val e = intercept[IllegalArgumentException] {
      graft.operators.EventOps.triangleDeltaBucketed(
        spark, "graft_pq_adj", delta, "s", "d")
    }
    assert(e.getMessage.contains("requireAllClusterKeysForCoPartition"))
  }

  test("unlimited slices skip the rank window entirely") {
    val plan = planOf(
      lens.rangeSliceByKeys(None, None, None, SliceRange(count = Int.MaxValue), Int.MaxValue))
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window "), plan.take(1500))
  }

  test("sketch family plans: one exchange each, map-side combined, no sort-agg") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 40L).map(i => (i, s"tok${i % 5} alpha beta", s"g${i % 3}"))
      .toDF("doc_id", "text", "lang")
    // HLL registers: projection + one partial/final hash aggregate pair
    val hll = planOf(graft.pipeline.Sketches.hllRegisters(
      docs.select(col("lang"), col("doc_id").as("k")), "k", "lang", 6))
    assert("Exchange hashpartitioning".r.findAllIn(hll).size == 1, hll.take(1500))
    assert(!hll.contains("SortAggregate"), hll.take(1500))
    // CMS: explode + one aggregate pair — still a single exchange
    val cms = planOf(graft.pipeline.Sketches.countMinSketch(docs, "text", 4, 64))
    assert("Exchange hashpartitioning".r.findAllIn(cms).size == 1, cms.take(1500))
    // event transitions: one window shuffle + one aggregate on different
    // keys — two exchanges and nothing else, no join anywhere
    val tr = planOf(graft.operators.EventOps.eventTransitions(
      (0L until 40L).map(i => (i % 5, i, s"t${i % 3}")).toDF("u", "t", "et"),
      "u", "t", "et"))
    assert("Exchange hashpartitioning".r.findAllIn(tr).size == 2, tr.take(1500))
    assert(!tr.contains("Join"), tr.take(1500))
  }

  test("margin mining plan: equi-joins only, never cartesian or nested-loop") {
    import spark.implicits._
    val vecs = (0L until 30L).map(i =>
      (i, i % 3, Array.fill(4)((i % 7).toFloat))).toDF("vec_id", "label", "embedding")
    // checkpointShared=false: the shared-frame checkpoint rewrites the
    // lineage to Scan ExistingRDD and would HIDE the candidate cell join
    // from these assertions (the vacuous-test trap)
    val plan = planOf(graft.pipeline.Similarity.marginMine(
      vecs.filter($"vec_id" % 2 === 0), vecs.filter($"vec_id" % 2 === 1),
      "vec_id", "embedding", "label", kMargin = 2, tauPermille = 1000,
      checkpointShared = false))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
    // the candidate join must actually be visible for the assertion to
    // mean anything
    assert(plan.contains("Join"), plan.take(2000))
  }

  test("span dedup: hash aggregates and equi-joins only — no cartesian, no sort-agg") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"tok$i alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val plan = planOf(graft.pipeline.Dedup.removeRepeatedSpans(docs, "doc_id", "text", 5))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(1500))
    assert(!plan.contains("SortAggregate"), plan.take(1500))
  }

  test("wordpiece + containment plans: hash aggregates, equi-joins, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 40L).map(i =>
      (i, s"tok$i alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // the greedy walk is a per-row expression over the vocabulary-sized
    // words frame: aggregates are hash-based, joins equi, no cartesian,
    // and nothing collapses to a single partition
    val words = graft.pipeline.TextAnalysis.unigramWords(docs, "text", 12)
    val wp = planOf(graft.pipeline.TextAnalysis.wordpieceSegment(words,
      graft.pipeline.TextAnalysis.wordpieceVocab(words, 4, 2L), 4))
    assert(!wp.contains("CartesianProduct") && !wp.contains("BroadcastNestedLoop"),
      wp.take(1500))
    assert(!wp.contains("SinglePartition"), wp.take(1500))
    // directed containment rides the shared set-overlap core: pair
    // emission via per-shingle combinations, never a doc self-join
    val cp = planOf(graft.pipeline.Dedup.containmentNearDuplicates(
      docs, "doc_id", "text", 3, 4, 5, maxDocFreq = None))
    assert(!cp.contains("CartesianProduct") && !cp.contains("BroadcastNestedLoop"),
      cp.take(1500))
    assert(!cp.contains("SortAggregate"), cp.take(1500))
  }

  test("kNN graph + edit verify plans: equi-joins only, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the in-cell self-join must be an equi-join on cell — never a
    // corpus cartesian — and the per-id rank must not single-partition
    val vecs = (0 until 24).map(i =>
      (i.toLong, Array.fill(4)((i % 5).toFloat + 0.1f))).toDF("vec_id", "embedding")
    val codebook = graft.pipeline.Similarity.refinedCentroids(
      graft.pipeline.Similarity.kmeansStepExact(vecs, "vec_id", "embedding", 3))
    val index = graft.pipeline.Similarity.ivfIndexTable(
      vecs, "vec_id", "embedding", codebook, 3)
    val kp = planOf(graft.pipeline.Similarity.knnGraphIvf(index, 2))
    assert(!kp.contains("CartesianProduct") && !kp.contains("BroadcastNestedLoop"),
      kp.take(1500))
    assert(!kp.contains("SinglePartition"), kp.take(1500))
    // edit verify: two keyed text joins at pair grain, no cartesian
    val docs = (0L until 20L).map(i => (i, s"alpha beta gamma d$i"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("ia", "ib")
    val ep = planOf(graft.pipeline.Dedup.editVerifiedPairs(
      pairs, docs, "doc_id", "text", 10))
    assert(!ep.contains("CartesianProduct") && !ep.contains("BroadcastNestedLoop"),
      ep.take(1500))
    // delta fold: the carried side is a STATIC NOT-IN filter and the
    // recompute joins only on cell — no cartesian, no single partition
    val delta = graft.pipeline.Similarity.ivfIndexTable(
      Seq((100L, Array(0.1f, 0.1f, 0.1f, 0.1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", codebook, 3)
    val dp = planOf(graft.pipeline.Similarity.knnGraphDelta(
      graft.pipeline.Similarity.knnGraphTable(index, 2), index, delta, 2))
    assert(!dp.contains("CartesianProduct") && !dp.contains("BroadcastNestedLoop"),
      dp.take(1500))
    assert(!dp.contains("SinglePartition"), dp.take(1500))
    // mutual edges: a self equi-join on (id, nbr), never nested-loop
    val mp = planOf(graft.pipeline.Similarity.mutualKnnEdges(
      graft.pipeline.Similarity.knnGraphIvf(index, 2)))
    assert(!mp.contains("CartesianProduct") && !mp.contains("BroadcastNestedLoop"),
      mp.take(1500))
    // online store query: probe side joins candidates on cell only —
    // no cartesian, and the per-query rank never single-partitions
    val store = java.nio.file.Files.createTempDirectory("knnqplan").toString
    graft.streaming.PipelineStream.knnGraphBatchFold(vecs, "vec_id",
      "embedding", codebook, k = 3, kNbrs = 2,
      basePath = s"$store/s", runId = 0L)
    val qp = planOf(graft.streaming.PipelineStream.knnStoreQuery(spark,
      s"$store/s", vecs, "vec_id", "embedding", codebook, k = 3,
      nProbe = 2, topK = 2))
    assert(!qp.contains("CartesianProduct") && !qp.contains("BroadcastNestedLoop"),
      qp.take(1500))
    assert(!qp.contains("SinglePartition"), qp.take(1500))
  }

  test("phrase probe pushes term equality into the postings scan") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"alpha beta gamma d$i"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("phrplan").toString
    graft.pipeline.TextAnalysis.positionalPostings(docs, "doc_id", "text")
      .repartitionByRange(org.apache.spark.sql.functions.col("term"))
      .sortWithinPartitions("term")
      .write.parquet(s"$tmp/postings")
    val plan = planOf(graft.pipeline.TextAnalysis.phraseMatchesIndexed(
      spark.read.parquet(s"$tmp/postings"), "alpha beta"))
    // each per-term filter must reach the parquet scan: k tiny pruned
    // reads, never a full-postings scan per term
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(term,alpha)"), plan.take(2000))
    assert(plan.contains("EqualTo(term,beta)"), plan.take(2000))
  }

  test("normalizeText and audioWindows stay shuffle-free; lexicalTopK ends in TakeOrdered") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"alpha beta doc$i gamma")).toDF("doc_id", "text")
    // normalization is a pure projection: no Exchange, no aggregate
    import org.apache.spark.sql.functions.col
    val np = planOf(docs.select(col("doc_id"),
      graft.pipeline.TextAnalysis.normalizeText(col("text")).as("n")))
    assert(!np.contains("Exchange") && !np.contains("Aggregate"), np.take(1200))
    // window framing is a 1→N flatMap over media rows: no Exchange
    val wav = graft.pipeline.Multimodal.encodePcmWav(8000, Array.tabulate[Short](64)(_.toShort))
    val ap = planOf(graft.pipeline.Multimodal.audioWindows(
      Seq(graft.pipeline.Multimodal.MediaItem(1L, "wav", wav)).toDS(), 16, 8))
    assert(!ap.contains("Exchange"), ap.take(1200))
    // lexical retrieval's final k rows come from a distributed TakeOrdered,
    // never a global Sort of the scored corpus
    val lp = planOf(graft.pipeline.TextAnalysis.lexicalTopK(
      docs, "doc_id", "text", "alpha gamma", 5))
    assert(lp.contains("TakeOrderedAndProject"), lp.take(2000))
  }

  test("cell-size guard: only oversized-cell counts join; unguarded plan join-free pre-pairs") {
    import spark.implicits._
    val vecs = (0L until 30L).map(i => (i, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    // guard ON: the subcell assignment joins a BROADCAST of the (tiny)
    // oversized-cell count table — never a shuffle of the vector side
    val guarded = graft.pipeline.Similarity.semanticPairs(
      vecs, "vec_id", "embedding", org.apache.spark.sql.functions.lit(0),
      tauPermille = 999, maxCellSize = 8)
    val gp = planOf(guarded)
    assert(gp.contains("BroadcastHashJoin"), gp.take(2000))
    assert(!gp.contains("CartesianProduct"), gp.take(2000))
    // guard OFF (maxCellSize=0): no count subtree at all
    val plain = graft.pipeline.Similarity.semanticPairs(
      vecs, "vec_id", "embedding", org.apache.spark.sql.functions.lit(0),
      tauPermille = 999, maxCellSize = 0)
    assert(planOf(plain).linesIterator.count(_.contains("HashAggregate")) <
      gp.linesIterator.count(_.contains("HashAggregate")))
  }

  test("EventStore: day-range read prunes directories (PartitionFilters) and round-trips") {
    import spark.implicits._
    val ev = (0L until 200L).map(i =>
      (i, i % 7L, s"t${i % 3}", i * 43210987654L)) // ~0.5 day per step
      .toDF("event_id", "user_id", "event_type", "tus")
    val path = java.nio.file.Files.createTempDirectory("graft_evstore").toString
    graft.sources.EventStore.writeTimePartitioned(ev, path, "tus", "user_id",
      bucketSize = 86400000000L, filesPerDay = 2)
    val read = graft.sources.EventStore.readDays(spark, path, 10L, 19L)
    val plan = planOf(read)
    // the day predicate lands in PartitionFilters — directory pruning,
    // not a post-scan filter
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      plan.take(2500))
    // round trip: the windowed read equals the in-memory filter
    val want = ev.filter(org.apache.spark.sql.functions
        .expr("tus div 86400000000L between 10 and 19"))
      .select($"event_id").collect().map(_.getLong(0)).toSet
    val got = read.select($"event_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // files per day bounded by the shard count
    val day10 = new java.io.File(s"$path/day=10")
    assert(day10.listFiles().count(_.getName.endsWith(".parquet")) <= 2)
  }

  test("EventStore.expireDays: partitions behind the horizon vanish, survivors read intact") {
    import spark.implicits._
    val ev = (0L until 100L).map(i => (i, i % 5L, "t", i * 86400000000L))
      .toDF("event_id", "user_id", "event_type", "tus") // one event per day
    val path = java.nio.file.Files.createTempDirectory("graft_evexp").toString
    graft.sources.EventStore.writeTimePartitioned(ev, path, "tus", "user_id")
    val removed = graft.sources.EventStore.expireDays(spark, path, keepFromDay = 90L)
    assert(removed == 90L)
    val live = graft.sources.EventStore.open(spark, path)
    val left = live.select($"event_id").collect().map(_.getLong(0)).toSet
    assert(left == (90L until 100L).toSet)
    // idempotent: nothing more to expire at the same horizon
    assert(graft.sources.EventStore.expireDays(spark, path, 90L) == 0L)
    // full expiry: a horizon beyond the newest day empties the store,
    // and open still works — empty frame with the write-time schema
    // (NOT an unable-to-infer-schema failure)
    assert(graft.sources.EventStore.expireDays(spark, path, 1000L) == 10L)
    val empty = graft.sources.EventStore.open(spark, path)
    assert(empty.count() == 0L)
    assert(empty.columns.toSet ==
      Set("event_id", "user_id", "event_type", "tus", "day"))
    // the day column's TYPE must not drift across the retention flip:
    // live reads apply the sidecar schema too (partition inference would
    // type small day values as INT while the sidecar says BIGINT)
    assert(empty.schema("day").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(live.schema("day").dataType == empty.schema("day").dataType)
    // and the windowed read composes on the empty frame too
    assert(graft.sources.EventStore.readDays(spark, path, 0L, 99L).count() == 0L)
  }

  test("ZOrder: bijective roundtrip; aligned quadrants are contiguous key ranges") {
    import spark.implicits._
    // roundtrip on adversarial bit patterns + a random sweep
    val vals = spark.range(2000L).select(
      (org.apache.spark.sql.functions.abs(org.apache.spark.sql.functions.xxhash64($"id")) % 65536L).as("a"),
      (org.apache.spark.sql.functions.abs(org.apache.spark.sql.functions.xxhash64($"id" + 7L)) % 65536L).as("b"))
      .union(Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L),
        (21845L, 43690L)).toDF("a", "b"))
    val (da, db) = graft.sources.ZOrder.zorderDecode(
      graft.sources.ZOrder.zorderKey($"a", $"b"))
    assert(vals.filter(!(da === $"a" && db === $"b")).count() == 0L)
    // every power-of-2-aligned 16×16 quadrant maps to one CONTIGUOUS
    // zkey range (the property that makes per-file min/max stats prune
    // rectangles): 256 distinct keys, max − min + 1 == 256
    val quad = spark.range(256L).select(
      (org.apache.spark.sql.functions.lit(37L * 16L) + $"id" % 16L).as("a"),
      (org.apache.spark.sql.functions.lit(95L * 16L) + $"id" / 16L).as("b"))
      .select(graft.sources.ZOrder.zorderKey($"a", $"b").as("z"))
    val r = quad.agg(org.apache.spark.sql.functions.min($"z"),
      org.apache.spark.sql.functions.max($"z"),
      org.apache.spark.sql.functions.countDistinct($"z")).head()
    assert(r.getLong(2) == 256L && r.getLong(1) - r.getLong(0) + 1L == 256L)
  }

  test("ZOrder.zRanges: exact coverage (area law), sorted disjoint, far fewer ranges than cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (_ <- 1 to 25) {
      val (a0, b0) = (rnd.nextInt(65520).toLong, rnd.nextInt(65520).toLong)
      val (a1, b1) = (a0 + rnd.nextInt(40), b0 + rnd.nextInt(40))
      val ranges = graft.sources.ZOrder.zRanges(a0, a1, b0, b1)
      // sorted, disjoint, non-adjacent (merged)
      ranges.sliding(2).foreach {
        case Seq((_, h), (l2, _)) => assert(h + 1 < l2, s"$h, $l2")
        case _ => ()
      }
      ranges.foreach { case (l, h) => assert(l <= h) }
      // area law: Σ range sizes == rectangle area (full coverage AND
      // zero overcoverage in one equation)
      assert(ranges.map { case (l, h) => h - l + 1 }.sum ==
        (a1 - a0 + 1) * (b1 - b0 + 1))
      // every cell's key falls in some range (spot the coverage side)
      val inRange = (z: Long) => ranges.exists { case (l, h) => l <= z && z <= h }
      for (a <- a0 to a1; b <- b0 to b1 if rnd.nextInt(10) == 0) {
        val z = spark.range(1).select(graft.sources.ZOrder
          .zorderKey(org.apache.spark.sql.functions.lit(a),
            org.apache.spark.sql.functions.lit(b)))
          .head().getLong(0)
        assert(inRange(z), s"cell ($a,$b) key $z uncovered")
      }
    }
    // planner efficiency: a big aligned-ish rectangle needs FAR fewer
    // range scans than cells (the point of the decomposition)
    val big = graft.sources.ZOrder.zRanges(256L, 767L, 512L, 1023L)
    assert(big.map { case (l, h) => h - l + 1 }.sum == 512L * 512L)
    assert(big.length < 64, s"${big.length} ranges for 262144 cells")
  }

  test("ZOrder layout: 2-D rectangle touches far fewer files than a 1-D-sorted layout") {
    import spark.implicits._
    // 100k rows uniform over a 1024×1024 (u, t) grid
    val data = spark.range(100000L).select(
      (org.apache.spark.sql.functions.abs(org.apache.spark.sql.functions.xxhash64($"id")) % 1024L).as("u"),
      (org.apache.spark.sql.functions.abs(org.apache.spark.sql.functions.xxhash64($"id" + 13L)) % 1024L).as("t"),
      $"id")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    graft.sources.ZOrder.writeZOrdered(data, s"$base/z", $"u", $"t", 64)
    data.repartitionByRange(64, $"u").sortWithinPartitions($"u", $"t")
      .write.parquet(s"$base/lin")
    // per-FILE min/max boxes — exactly the stats parquet footer pruning
    // uses; a file is "touched" iff its box intersects the rectangle
    def touched(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
        .agg(org.apache.spark.sql.functions.min($"u").as("ul"),
          org.apache.spark.sql.functions.max($"u").as("uh"),
          org.apache.spark.sql.functions.min($"t").as("tl"),
          org.apache.spark.sql.functions.max($"t").as("th"))
      (boxes.filter($"uh" >= 256L && $"ul" <= 511L &&
        $"th" >= 256L && $"tl" <= 511L).count(), boxes.count())
    }
    val (zTouch, zTotal) = touched(s"$base/z")
    val (lTouch, lTotal) = touched(s"$base/lin")
    assert(zTotal >= 32L && lTotal >= 32L) // both layouts really split
    // the rectangle is 1/16 of the area: the u-sorted layout can prune
    // only the u axis (~1/4 of files survive); z-order prunes both
    assert(zTouch * 2 <= lTouch,
      s"z-order touched $zTouch/$zTotal vs linear $lTouch/$lTotal")
    // and both layouts return the identical rectangle
    def rect(path: String): Long = spark.read.parquet(path)
      .filter($"u".between(256L, 511L) && $"t".between(256L, 511L)).count()
    assert(rect(s"$base/z") == rect(s"$base/lin"))
  }

  test("ZOrder.zRangeScan: key seek ≡ plain 2-D filter; touches no more files than box pruning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val data = spark.range(100000L).select(
      (abs(xxhash64($"id")) % 1024L).as("u"),
      (abs(xxhash64($"id" + 13L)) % 1024L).as("t"),
      $"id")
    val base = java.nio.file.Files.createTempDirectory("graft_zscan").toString
    graft.sources.ZOrder.writeZOrdered(data, base, $"u", $"t", 64)
    val (aLo, aHi, bLo, bHi) = (256L, 511L, 256L, 511L)
    val scanned = graft.sources.ZOrder.zRangeScan(spark, base, aLo, aHi, bLo, bHi)
    val plain = spark.read.parquet(base)
      .filter($"u".between(aLo, aHi) && $"t".between(bLo, bHi))
    // exactness both ways (merging overcoverage may never leak a row)
    assert(scanned.select($"id").exceptAll(plain.select($"id")).count() == 0L)
    assert(plain.select($"id").exceptAll(scanned.select($"id")).count() == 0L)
    // the key ranges are PUSHED to the scan (footer-only skipping)
    val plan = planOf(scanned)
    assert(plan.contains("PushedFilters") && plan.contains("zkey"),
      plan.take(2500))
    // seek bound: files whose zkey min/max intersect the planner's
    // (merged) ranges are a SUBSET of files whose (u, t) box intersects
    // the rectangle — the key seek is at least as selective as the p200
    // layout's per-file box pruning, because every kept key decodes
    // INTO the rectangle while a box can straddle it with no row inside
    val ranges = graft.sources.ZOrder.mergeRanges(
      graft.sources.ZOrder.zRanges(aLo, aHi, bLo, bHi), 64)
    val boxes = spark.read.parquet(base)
      .groupBy(input_file_name().as("f"))
      .agg(min($"zkey").as("zl"), max($"zkey").as("zh"),
        min($"u").as("ul"), max($"u").as("uh"),
        min($"t").as("tl"), max($"t").as("th"))
      .collect()
    val zTouched = boxes.count(r => ranges.exists { case (l, h) =>
      r.getAs[Long]("zl") <= h && r.getAs[Long]("zh") >= l })
    val boxTouched = boxes.count(r =>
      r.getAs[Long]("uh") >= aLo && r.getAs[Long]("ul") <= aHi &&
        r.getAs[Long]("th") >= bLo && r.getAs[Long]("tl") <= bHi)
    assert(zTouched <= boxTouched,
      s"zkey seek touched $zTouched files vs box pruning $boxTouched of ${boxes.length}")
    assert(zTouched < boxes.length / 2,
      s"zkey seek touched $zTouched of ${boxes.length} — no skipping happened")
  }

  test("z-ordered cell store: key×column rectangle prunes files the 1-D layout cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{beBytes, beLong}
    graft.functions.GraftFunctions.register(spark)
    // wide store: 128 keys × 256 Long-comparator columns — the reference's
    // (row key × column) plane
    def be(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(v).array()
    val wide = spark.range(256L * 256L).select(
      format_string("k%04d", (col("id") / 256L).cast("int")).as("key"),
      lit(null).cast("binary").as("super_name"),
      beBytes(col("id") % 256L).as("col_name"),
      encode(lit("v"), "UTF-8").as("value"),
      lit(1L).as("ts"), lit(false).as("tombstone"), lit(0).as("local_del_time"))
    val meta = CfMeta("wide", comparator = graft.model.ComparatorType.Long_)
    val d1 = java.nio.file.Files.createTempDirectory("graft_zcell_1d").toString
    val dz = java.nio.file.Files.createTempDirectory("graft_zcell_z").toString
    graft.sources.CellStore.write(wide, meta, d1, numPartitions = 128)
    graft.sources.CellStore.writeZOrdered(wide, dz,
      substring($"key", 2, 4).cast("long"), beLong($"col_name"), numFiles = 128)
    // eighth × eighth rectangle: keys 32..63, columns 64..95 — the
    // narrow-in-both-dims shape where 1-D sorting loses hardest
    val (kLo, kHi, cLo, cHi) = (32L, 63L, 64L, 95L)
    def touched(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(substring($"key", 2, 4).cast("long")).as("kl"),
          max(substring($"key", 2, 4).cast("long")).as("kh"),
          min(beLong($"col_name")).as("cl"), max(beLong($"col_name")).as("ch"))
        .collect()
      (boxes.count(r => r.getAs[Long]("kh") >= kLo && r.getAs[Long]("kl") <= kHi &&
        r.getAs[Long]("ch") >= cLo && r.getAs[Long]("cl") <= cHi).toLong,
        boxes.length.toLong)
    }
    val (t1, n1) = touched(d1)
    val (tz, nz) = touched(dz)
    // the 1-D layout sorts (key, col): every file holding an in-range key
    // spans the full column range, so the column bounds prune ~nothing;
    // the z layout's quarter×quarter rectangle touches ~1/16 + perimeter
    assert(tz * 2 <= t1,
      s"z layout touched $tz of $nz files vs 1-D $t1 of $n1 — no 2-D win")
    // and the answers are identical: same slice over both layouts
    val pred = graft.operators.SliceRange(start = be(cLo), finish = be(cHi), count = 1000)
    val from1d = liveValuesOf(new CassandraLens(
      spark.read.parquet(d1), meta)
      .rangeSliceByKeys(Some(f"k$kLo%04d"), Some(f"k$kHi%04d"), None, pred, 1000))
    val fromZ = liveValuesOf(new CassandraLens(
      graft.sources.CellStore.zRectangle(spark, dz, kLo, kHi, cLo, cHi), meta)
      .rangeSliceByKeys(Some(f"k$kLo%04d"), Some(f"k$kHi%04d"), None, pred, 1000))
    assert(from1d.nonEmpty && from1d == fromZ,
      s"layouts disagree: ${from1d.size} vs ${fromZ.size} rows")
  }

  private def liveValuesOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.beLong
    df.select(col("key"), beLong(col("col_name")).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
  }

  test("ZOrder.compactZRuns: fewer files probed, data identical, rerun+heal idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_zcompact").toString
    // 5 similar-size runs — the accumulating-micro-batch shape
    (0 until 5).foreach { r =>
      val part = spark.range(r * 20000L, (r + 1) * 20000L).select(
        (abs(xxhash64($"id")) % 1024L).as("u"),
        (abs(xxhash64($"id" + 13L)) % 1024L).as("t"),
        $"id")
      graft.sources.ZOrder.writeZOrdered(part, s"$base/run=$r", $"u", $"t", 8)
    }
    val (aLo, aHi, bLo, bHi) = (256L, 511L, 256L, 511L)
    val ranges = graft.sources.ZOrder.mergeRanges(
      graft.sources.ZOrder.zRanges(aLo, aHi, bLo, bHi), 64)
    def zTouched(): (Long, Long) = {
      val boxes = spark.read.parquet(base)
        .groupBy(input_file_name().as("f"))
        .agg(min($"zkey").as("zl"), max($"zkey").as("zh")).collect()
      (boxes.count(r => ranges.exists { case (l, h) =>
        r.getAs[Long]("zl") <= h && r.getAs[Long]("zh") >= l }).toLong,
        boxes.length.toLong)
    }
    def scanIds(): Set[Long] = graft.sources.ZOrder
      .zRangeScan(spark, base, aLo, aHi, bLo, bHi)
      .select($"id").collect().map(_.getLong(0)).toSet
    val plainIds = spark.read.parquet(base)
      .filter($"u".between(aLo, aHi) && $"t".between(bLo, bHi))
      .select($"id").collect().map(_.getLong(0)).toSet
    val preIds = scanIds()
    val (preTouched, preFiles) = zTouched()
    assert(preIds == plainIds)
    // keep a source run aside to later simulate an interrupted delete
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val saved = new org.apache.hadoop.fs.Path(s"$base/.saved-run-2")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$base/run=2"), fs, saved, false,
      spark.sparkContext.hadoopConfiguration)
    // compact: similar sizes → ONE bucket of 5 → one merged run
    val merged = graft.sources.ZOrder.compactZRuns(spark, base,
      targetFileBytes = 256L << 10)
    assert(merged.length == 1 && merged.head._2.toSet == Set(0L, 1L, 2L, 3L, 4L),
      merged.toString)
    assert(merged.head._1 < 0L, s"compacted run id must be negative: $merged")
    val (postTouched, postFiles) = zTouched()
    assert(scanIds() == plainIds, "compaction changed the scan result")
    // the degradation the compactor exists to stop: per-run probing means
    // the SAME rectangle touched ~5× the files before the merge
    assert(postFiles < preFiles, s"file count did not drop: $preFiles -> $postFiles")
    assert(postTouched < preTouched,
      s"files probed did not drop: $preTouched -> $postTouched")
    // idempotent fixed point: a single surviving run can't bucket again
    assert(graft.sources.ZOrder.compactZRuns(spark, base,
      targetFileBytes = 256L << 10).isEmpty)
    assert(scanIds() == plainIds)
    // heal: resurrect a merged source (crash between publish and delete)
    // — the next call must finish the delete instead of double-counting
    org.apache.hadoop.fs.FileUtil.copy(fs, saved, fs,
      new org.apache.hadoop.fs.Path(s"$base/run=2"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(base).count() > 100000L, "resurrection no-op?")
    assert(graft.sources.ZOrder.compactZRuns(spark, base,
      targetFileBytes = 256L << 10).isEmpty)
    assert(spark.read.parquet(base).count() == 100000L, "heal did not delete")
    assert(scanIds() == plainIds, "heal left the store inconsistent")
  }

  test("heavyHittersByBucket: WindowGroupLimit bounds the rank window (top-k per group)") {
    import spark.implicits._
    val ev = (0L until 1000L).map(i => (i % 5L, i % 13L)).toDF("b", "item")
    val df = graft.operators.EventOps.heavyHittersByBucket(ev, "item", "b", 3)
    val plan = planOf(df)
    assert(plan.contains("WindowGroupLimit"), plan.take(2500))
  }
}
