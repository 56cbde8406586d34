package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{CellEncodings, CellStore}

/** Round-19 optimization probe: per-stage wall-clock attribution for the
  * expensive bench legs (guide §1 "measure first"). Each piece is timed
  * with the noop sink so the computation — not the sink — is measured;
  * every piece runs twice and the SECOND (warm) time is reported so
  * codegen/classload noise doesn't masquerade as compute. Output lines
  * are `[probe] <name> <sec>` — grep-friendly, never parsed by the
  * driver.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(taskSideCommit = true)
    val only: Set[String] = args.toSet

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def probe(name: String)(f: => Unit): Unit =
      if (only.isEmpty || only.exists(name.startsWith)) {
        spark.sparkContext.setJobDescription(name)
        f // warm (codegen + classload)
        val t0 = System.nanoTime()
        f
        println(f"[probe] $name ${(System.nanoTime() - t0) / 1e9}%.3f")
        spark.sparkContext.setJobDescription(null)
      }

    val tmp = Files.createTempDirectory("graft_probe").toString

    // ---- insert_super decomposition ----
    val superMeta = CellEncodings.lineitemSuperMeta
    probe("insert_super/src_noop") {
      noop(CellEncodings.lineitemSuperCells(spark, sfDir))
    }
    probe("insert_super/full") {
      CellStore.write(CellEncodings.lineitemSuperCells(spark, sfDir),
        superMeta, s"$tmp/li_super", numPartitions = GraftSession.cpus.toInt)
      spark.read.parquet(s"$tmp/li_super").count()
    }
    probe("insert_super/write_only") {
      CellStore.write(CellEncodings.lineitemSuperCells(spark, sfDir),
        superMeta, s"$tmp/li_super2", numPartitions = GraftSession.cpus.toInt)
    }
    probe("insert_super/write_nobloom") {
      val sk = graft.model.Comparators.sortKey(superMeta.comparator, col("col_name"))
      CellEncodings.lineitemSuperCells(spark, sfDir)
        .withColumn("token", graft.model.Tokens.token(superMeta.partitioner, col("key")))
        .repartitionByRange(GraftSession.cpus.toInt, col("token"), col("key"))
        .sortWithinPartitions(col("token"), col("key"), col("super_name"), sk)
        .drop("token")
        .write.mode("overwrite").parquet(s"$tmp/li_super3")
    }
    probe("insert_super/write_bloom_ndv") {
      // explicit expected-NDV bloom sizing vs parquet's adaptive default:
      // key ~75k distinct per output file, col_name 4 distinct (ordinals)
      val sk = graft.model.Comparators.sortKey(superMeta.comparator, col("col_name"))
      CellEncodings.lineitemSuperCells(spark, sfDir)
        .withColumn("token", graft.model.Tokens.token(superMeta.partitioner, col("key")))
        .repartitionByRange(GraftSession.cpus.toInt, col("token"), col("key"))
        .sortWithinPartitions(col("token"), col("key"), col("super_name"), sk)
        .drop("token")
        .write
        .option("parquet.bloom.filter.enabled#key", "true")
        .option("parquet.bloom.filter.enabled#col_name", "true")
        .option("parquet.bloom.filter.expected.ndv#key", "131072")
        .option("parquet.bloom.filter.expected.ndv#col_name", "1024")
        .mode("overwrite").parquet(s"$tmp/li_super5")
    }
    probe("insert_super/write_nosort_hash") {
      CellEncodings.lineitemSuperCells(spark, sfDir)
        .repartition(GraftSession.cpus.toInt, col("key"))
        .write.mode("overwrite").parquet(s"$tmp/li_super4")
    }
    probe("insert_super/readback_count") {
      spark.read.parquet(s"$tmp/li_super").count()
    }

    // ---- insert (orders) ----
    probe("insert/full") {
      CellStore.write(CellEncodings.ordersCells(spark, sfDir),
        CellEncodings.ordersMeta, s"$tmp/orders_cells",
        numPartitions = GraftSession.cpus.toInt)
      spark.read.parquet(s"$tmp/orders_cells").count()
    }

    // ---- insert_domain decomposition ----
    val domainMeta = CellEncodings.ordersMeta.copy(domainSplit = true)
    val domainSrc = CellEncodings.ordersCells(spark, sfDir)
      .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir))
    probe("insert_domain/src_noop") { noop(domainSrc) }
    probe("insert_domain/full") {
      CellStore.writeDomainSplit(domainSrc, domainMeta, s"$tmp/orders_domain")
      spark.read.parquet(s"$tmp/orders_domain").count()
    }
    probe("insert_domain/write_only") {
      CellStore.writeDomainSplit(domainSrc, domainMeta, s"$tmp/orders_domain2")
    }
    probe("insert_domain/readback_count") {
      spark.read.parquet(s"$tmp/orders_domain").count()
    }

    // ---- jaccard decomposition (unguarded twin) ----
    val docs = CellEncodings.table(spark, sfDir, "documents")
    probe("jaccard/tokens_noop") {
      noop(docs.select(graft.pipeline.TextAnalysis.tokens(col("text")).as("t")))
    }
    probe("jaccard/shingles_hashed_noop") {
      val raw = docs.select(col("doc_id").as("id"),
        explode(graft.pipeline.TextAnalysis.wordNgrams(col("text"), 3)).as("sh"))
        .withColumn("sh", xxhash64(col("sh")))
      noop(raw)
    }
    probe("jaccard/grouped_noop") {
      val raw = docs.select(col("doc_id").as("id"),
        explode(graft.pipeline.TextAnalysis.wordNgrams(col("text"), 3)).as("sh"))
        .withColumn("sh", xxhash64(col("sh")))
      noop(raw.groupBy("sh").agg(sort_array(collect_set(col("id"))).as("ids")))
    }
    probe("jaccard/pairs_inter_noop") {
      val raw = docs.select(col("doc_id").as("id"),
        explode(graft.pipeline.TextAnalysis.wordNgrams(col("text"), 3)).as("sh"))
        .withColumn("sh", xxhash64(col("sh")))
      val grouped = raw.groupBy("sh").agg(sort_array(collect_set(col("id"))).as("ids"))
      val pairs = grouped.select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS ia, y AS ib))))"
      )).as("p")).select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      noop(pairs.groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter")))
    }
    probe("jaccard/pairs_inter_gen2") {
      // codegen candidate: two GenerateExec passes (posexplode + explode of
      // a slice) instead of the interpreted flatten(transform(transform))
      val raw = docs.select(col("doc_id").as("id"),
        explode(graft.pipeline.TextAnalysis.wordNgrams(col("text"), 3)).as("sh"))
        .withColumn("sh", xxhash64(col("sh")))
      val grouped = raw.groupBy("sh").agg(sort_array(collect_set(col("id"))).as("ids"))
      val pairs = grouped
        .select(posexplode(col("ids")).as(Seq("i", "ia")), col("ids"))
        .select(col("ia"), explode(expr("slice(ids, i + 2, size(ids))")).as("ib"))
      noop(pairs.groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter")))
    }
    probe("jaccard/full") {
      noop(graft.pipeline.Dedup.nearDuplicates(docs, "doc_id", "text", 3, 4, 5,
        hashShingles = true, maxDocFreq = None))
    }
    probe("jaccard/full_guarded") {
      noop(graft.pipeline.Dedup.nearDuplicates(docs, "doc_id", "text", 3, 4, 5,
        hashShingles = true, maxDocFreq = Some(500)))
    }
    probe("containment/full") {
      noop(graft.pipeline.Dedup.containmentNearDuplicates(docs, "doc_id", "text",
        3, 4, 5, hashShingles = true))
    }

    // ---- minhash decomposition ----
    probe("minhash/shingles_noop") {
      noop(graft.pipeline.Dedup.shingles(docs, "doc_id", "text", 3))
    }
    probe("minhash/signatures_noop") {
      val sh = graft.pipeline.Dedup.shingles(docs, "doc_id", "text", 3)
      noop(graft.pipeline.Dedup.minhashSignatures(sh, 32))
    }
    probe("minhash/full_uncapped") {
      noop(graft.pipeline.Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        3, 32, 8, 4, 5, maxBucket = None))
    }
    probe("minhash/full_guarded") {
      noop(graft.pipeline.Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        3, 32, 8, 4, 5))
    }

    // ---- bytebpe decomposition ----
    probe("bytebpe/sample_noop") {
      noop(docs.filter(
        graft.pipeline.TextAnalysis.hash60(col("text")) % 1000 < 100))
    }
    probe("bytebpe/initrepr_noop") {
      noop(graft.pipeline.TextAnalysis.byteBpeInitRepr(
        docs.filter(graft.pipeline.TextAnalysis.hash60(col("text")) % 1000 < 100),
        "text"))
    }
    probe("bytebpe/pairstats_once") {
      graft.pipeline.TextAnalysis.bpePairStats(
        graft.pipeline.TextAnalysis.byteBpeInitRepr(
          docs.filter(graft.pipeline.TextAnalysis.hash60(col("text")) % 1000 < 100),
          "text"),
        "repr", 1).collect()
    }
    probe("bytebpe/train_only") {
      graft.pipeline.TextAnalysis.trainByteBpeMerges(docs, "text",
        merges = 6, samplePermille = 100)
    }
    probe("bytebpe/train_ckpt1") {
      // eager checkpoint after EVERY merge (the pre-round-19 cadence,
      // keeping the TakeOrdered collect) — in-session A/B vs train_only
      sys.props.update("graft.train.ckptEvery", "1")
      try graft.pipeline.TextAnalysis.trainByteBpeMerges(docs, "text",
        merges = 6, samplePermille = 100)
      finally sys.props.remove("graft.train.ckptEvery")
    }
    probe("bytebpe/train_narrow") {
      // coalesce(1) defeats isNarrowScan -> the pre-widening single-core
      // trainer shape, for an in-session A/B against train_only
      graft.pipeline.TextAnalysis.trainByteBpeMerges(docs.coalesce(1), "text",
        merges = 6, samplePermille = 100)
    }
    probe("bytebpe/apply_narrow") {
      val merges = graft.pipeline.TextAnalysis.trainByteBpeMerges(
        docs.coalesce(1), "text", merges = 6, samplePermille = 100)
        .map { case (l, r, _) => (l, r) }
      noop(graft.pipeline.TextAnalysis.byteBpeTokenCount(
        docs.coalesce(1), "doc_id", "text", merges))
    }
    locally {
      val merges = graft.pipeline.TextAnalysis.trainByteBpeMerges(docs, "text",
        merges = 6, samplePermille = 100).map { case (l, r, _) => (l, r) }
      probe("bytebpe/occ_noop") {
        noop(docs.select(col("doc_id").as("id"),
          explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok")))
      }
      probe("bytebpe/apply_only") {
        noop(graft.pipeline.TextAnalysis.byteBpeTokenCount(docs, "doc_id", "text", merges))
      }
    }

    // ---- wordpiece ----
    probe("wordpiece/segment_full") {
      val words = graft.pipeline.TextAnalysis
        .unigramWords(docs, "text", maxWordLen = 12)
        .localCheckpoint(eager = false)
      noop(graft.pipeline.TextAnalysis.wordpieceSegment(words,
        graft.pipeline.TextAnalysis.wordpieceVocab(words, maxPieceLen = 4, minCount = 30L),
        maxPieceLen = 4))
    }

    // ---- sketches decomposition ----
    probe("sketches/hll_noop") {
      noop(graft.pipeline.Sketches.hllRegisters(
        docs.select(col("lang"),
          graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp")),
        "fp", "lang", b = 6))
    }
    probe("sketches/cms_noop") {
      noop(graft.pipeline.Sketches.countMinSketch(docs, "text", d = 4, w = 512))
    }

    // ---- drift_monitors decomposition ----
    val ev = CellEncodings.table(spark, sfDir, "events")
    probe("drift/cms_series_noop") {
      noop(graft.pipeline.Sketches.cmsDriftSeries(
        ev.select(expr("ts div 1000 div 86400000000").as("day"), col("props")),
        "props", "day", d = 4, w = 128))
    }
    probe("drift/winsorized_noop") {
      noop(graft.pipeline.Sketches.winsorizedStats(
        ev.select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")),
        "cents", "event_type"))
    }

    // ---- knn_graph decomposition ----
    val emb = CellEncodings.table(spark, sfDir, "embeddings")
    probe("knn/kmeans_step_noop") {
      noop(graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id", "embedding", k = 16))
    }
    locally {
      lazy val codebook = graft.pipeline.Similarity.refinedCentroids(
        graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id",
          "embedding", k = 16)).localCheckpoint()
      probe("knn/ivf_index_noop") {
        noop(graft.pipeline.Similarity.ivfIndexTable(emb, "vec_id",
          "embedding", codebook, 16))
      }
      probe("knn/graph_from_index") {
        noop(graft.pipeline.Similarity.knnGraphIvf(
          graft.pipeline.Similarity.ivfIndexTable(emb, "vec_id",
            "embedding", codebook, 16), kNbrs = 10))
      }
    }
    probe("knn/graph_full") {
      val codebook = graft.pipeline.Similarity.refinedCentroids(
        graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id",
          "embedding", k = 16)).localCheckpoint()
      noop(graft.pipeline.Similarity.knnGraphIvf(
        graft.pipeline.Similarity.ivfIndexTable(emb, "vec_id",
          "embedding", codebook, 16), kNbrs = 10))
    }

    // ---- event_graph decomposition ----
    probe("event_graph/transitions_noop") {
      val e = ev.select(col("user_id"), expr("ts div 1000").as("tus"),
        expr("CAST(nullif(regexp_extract(props, '[0-9]+', 0), '') AS BIGINT)").as("item"))
      noop(graft.operators.EventOps.eventTransitions(e, "user_id", "tus", "item"))
    }
    probe("event_graph/triangles_noop") {
      val e = ev.select(col("user_id"), expr("ts div 1000").as("tus"),
        expr("CAST(nullif(regexp_extract(props, '[0-9]+', 0), '') AS BIGINT)").as("item"))
      noop(graft.operators.EventOps.triangleCounts(
        graft.operators.EventOps.eventTransitions(e, "user_id", "tus", "item"),
        "from_type", "to_type"))
    }

    // ---- compaction / reconcile ----
    val ordersLens = new graft.api.CassandraLens(
      CellEncodings.ordersCells(spark, sfDir)
        .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
      CellEncodings.ordersMeta)
    probe("compaction/full") {
      noop(ordersLens.compact(gcBeforeSeconds = 1000000000).cells)
    }

    // ---- round-20 probes ----
    // cost of a key-pruned approx_count_distinct pass per writer source
    // (the bloom expected-NDV derivation candidate, VERDICT r19 task 2)
    probe("ndv/orders_keys") {
      CellEncodings.ordersCells(spark, sfDir)
        .agg(approx_count_distinct(col("key")),
          approx_count_distinct(col("col_name"))).head()
    }
    probe("ndv/super_keys") {
      CellEncodings.lineitemSuperCells(spark, sfDir)
        .agg(approx_count_distinct(col("key")),
          approx_count_distinct(col("col_name"))).head()
    }
    // full writes with the derived bloom sizing (NDV pass + right-sized
    // bitsets)
    probe("ndv/write_orders_derived") {
      CellStore.write(CellEncodings.ordersCells(spark, sfDir),
        CellEncodings.ordersMeta, s"$tmp/ndv_o2",
        numPartitions = GraftSession.cpus.toInt)
    }
    probe("ndv/write_super_derived") {
      CellStore.write(CellEncodings.lineitemSuperCells(spark, sfDir),
        CellEncodings.lineitemSuperMeta, s"$tmp/ndv_s2",
        numPartitions = GraftSession.cpus.toInt)
    }

    // reconcile_scan decomposition (VERDICT r19 task 3): where does the
    // time go — the reconcile aggregate, the horizon joins, or the
    // slice window?
    locally {
      import graft.operators.{Reconcile, Slice, SliceRange}
      val tmpStore = s"$tmp/orders_cells_rs"
      CellStore.write(CellEncodings.ordersCells(spark, sfDir),
        CellEncodings.ordersMeta, tmpStore, numPartitions = GraftSession.cpus.toInt)
      val stored = spark.read.parquet(tmpStore)
        .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir))
      probe("reconcile_scan/latest_noop") {
        noop(Reconcile.latestCells(stored))
      }
      probe("reconcile_scan/live_noop") {
        noop(Reconcile.liveView(stored))
      }
      probe("reconcile_scan/full_slice") {
        noop(Slice(Reconcile.liveView(stored),
          CellEncodings.ordersMeta.comparator, "col_name",
          SliceRange(count = 3)))
      }
      val lens = new graft.api.CassandraLens(stored, CellEncodings.ordersMeta)
      probe("reconcile_scan/lens_full") {
        noop(lens.rangeSliceByKeys(None, None, None, SliceRange(count = 3),
          Int.MaxValue))
      }
      // keyed multiget A/B: the one-pass keyed reconcile (liveByKey, what
      // multigetSlice plans) vs the r19 liveView shape, same session,
      // same store
      locally {
        import graft.operators.{Reconcile, Slice, SliceRange}
        val keys = (0L until 3000L by 20L).map(i => f"$i%010d")
        val keyPred = col("key").isin(keys: _*)
        probe("read/multiget_keyed_r20") {
          noop(Slice(
            Reconcile.liveByKey(stored.filter(keyPred))
              .filter(col("super_name").isNull),
            CellEncodings.ordersMeta.comparator, "col_name",
            SliceRange(count = 5)))
        }
        probe("read/multiget_old_r19") {
          noop(Slice(
            Reconcile.liveView(stored.filter(keyPred))
              .filter(col("super_name").isNull),
            CellEncodings.ordersMeta.comparator, "col_name",
            SliceRange(count = 5)))
        }
      }

      // rangeslice decomposition (VERDICT r19 task 5): the eager page
      // pick vs the restricted slice pass
      probe("rangeslice/page_pick_only") {
        lens.rangeSliceByKeys(Some("0000000000"), None, None,
          SliceRange(count = 5), 1000) // builds the frame: pick runs eagerly
      }
      probe("rangeslice/lens_full") {
        noop(lens.rangeSliceByKeys(Some("0000000000"), None, None,
          SliceRange(count = 5), 1000))
      }
      // the page pick's own job: the keyed value-free liveness pass
      // (liveKeySet) + ring order top-K + collect
      probe("rangeslice/pick_keyed_1pass") {
        import graft.operators.RangeScan
        val pre = stored.filter(
          RangeScan.keyBoundsPredicate(col("key"), Some("0000000000"), None))
        val tok = (df: org.apache.spark.sql.DataFrame) =>
          df.withColumn("token", graft.model.Tokens.token(
            CellEncodings.ordersMeta.partitioner, col("key")))
        tok(lens.liveKeySet(pre))
          .orderBy(RangeScan.ringOrder(col("token"), None), col("key"))
          .limit(1000)
          .select(col("key")).collect()
      }
    }

    // cached-read probe (VERDICT r19 task 7): is the cache-hit multiget
    // an InMemoryTableScan, and does its plan rebuild the cache or flip a
    // build side between executions?
    locally {
      import graft.operators.SliceRange
      val tmpStore = s"$tmp/orders_cells_cache"
      if (only.isEmpty || only.exists("cached".startsWith)) {
        CellStore.write(CellEncodings.ordersCells(spark, sfDir),
          CellEncodings.ordersMeta, tmpStore, numPartitions = GraftSession.cpus.toInt)
        val storedLens = new graft.api.CassandraLens(
          spark.read.parquet(tmpStore)
            .unionByName(CellEncodings.ordersStatusFTombstones(spark, sfDir)),
          CellEncodings.ordersMeta)
        val cached = storedLens.withRowCache()
        cached.live.count() // build untimed, same as the bench
        def gaussianKeys(): Seq[String] = {
          val rnd = new java.util.Random(42)
          Seq.fill(600)(
            math.max(0L, math.min(2999L, math.round(1500.0 + rnd.nextGaussian() * 300.0))))
            .distinct.map(i => f"$i%010d")
        }
        probe("cached/multiget_hit") {
          noop(cached.multigetSlice(gaussianKeys(), None, SliceRange(count = 5)))
        }
        val plan = cached.multigetSlice(gaussianKeys(), None, SliceRange(count = 5))
          .queryExecution.executedPlan.toString
        println(s"[probe] cached/plan_has_imts ${plan.contains("InMemoryTableScan")}")
        println(s"[probe] cached/plan_has_filescan ${plan.contains("Scan parquet")}")
        cached.dropRowCache()
      }
    }

    // knn_graph job-count floor (VERDICT r19 task 4): count actual jobs
    // per leg execution via the status tracker
    locally {
      def jobsDuring(name: String)(f: => Unit): Unit =
        if (only.isEmpty || only.exists(name.startsWith)) {
          spark.sparkContext.setJobDescription(name)
          f // warm
          val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
          val t0 = System.nanoTime()
          f
          val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
          println(f"[probe] $name ${(System.nanoTime() - t0) / 1e9}%.3f jobs=${after - before}")
          spark.sparkContext.setJobDescription(null)
        }
      jobsDuring("knn/graph_leg_jobs") {
        val codebook = graft.pipeline.Similarity.refinedCentroids(
          graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id",
            "embedding", k = 16)).localCheckpoint()
        graft.pipeline.Similarity.knnGraphIvf(
          graft.pipeline.Similarity.ivfIndexTable(emb, "vec_id",
            "embedding", codebook, 16), kNbrs = 10)
          .queryExecution.toRdd.count()
      }
      // in-session A/B of the assignment exchange shapes (round 20): the
      // r19 two-aggregate-exchange form vs the round-20 repartition(id)
      // single-exchange form, replicated inline (assignComp is private)
      locally {
        val comp = emb.select(col("vec_id").as("id"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("id"), col("pos").cast("long").as("pos"),
            round(col("x").cast("double") * lit(1e6)).cast("long").as("m"))
        val seed = emb.orderBy(col("vec_id")).limit(16)
          .withColumn("cluster", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("vec_id")))
            .cast("long") - 1L)
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("cluster"), col("pos").cast("long").as("pos"),
            round(col("x").cast("double") * lit(1e6)).cast("long").as("cm"))
        def agg(c: org.apache.spark.sql.DataFrame) = c
          .join(broadcast(seed), Seq("pos"))
          .groupBy(col("id"), col("cluster"))
          .agg(sum((col("m") - col("cm")) * (col("m") - col("cm"))).as("d2"))
          .groupBy(col("id"))
          .agg(min(struct(col("d2"), col("cluster"))).as("km"))
        probe("knn/assign_2exchange_r19") { noop(agg(comp)) }
        probe("knn/assign_1exchange_r20") { noop(agg(comp.repartition(col("id")))) }
      }
      jobsDuring("knn/kmeans_jobs") {
        graft.pipeline.Similarity.kmeansStepExact(emb, "vec_id", "embedding",
          k = 16).queryExecution.toRdd.count()
      }
      jobsDuring("knn/query_jobs") {
        graft.pipeline.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0).select(col("embedding").as("q")),
          10).queryExecution.toRdd.count()
      }
    }

    try new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
