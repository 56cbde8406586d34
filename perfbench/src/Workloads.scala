package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.CassandraLens
import graft.model.{Cell, CfMeta}
import graft.operators.SliceRange
import graft.pipeline.{Dedup, Similarity}
import graft.sources.CellStore

/** Helpers shared by the store workloads. */
object Store {
  val meta: CfMeta = CfMeta("bench")
  val SliceCount = 5
  val slice = SliceRange(count = SliceCount)

  def toCell(g: GenCell): Cell = Cell(g.key, null, g.col, g.value, g.ts, g.tombstone, g.ldt)

  /** (key, name, value, ts) of each returned column, as model rows. */
  def rows(rs: Array[Row]): Seq[String] =
    if (rs.isEmpty) Nil
    else {
      val s = rs.head.schema
      val (k, c, v, t) = (s.fieldIndex("key"), s.fieldIndex("col_name"), s.fieldIndex("value"),
        s.fieldIndex("ts"))
      rs.toSeq.map(r => Model.row(r.getString(k), r.getAs[Array[Byte]](c), r.getAs[Array[Byte]](v),
        r.getLong(t)))
    }

  /** None when `got` and `want` hold the same rows, else a short diff. */
  def diff(got: Seq[String], want: Seq[String]): Option[String] = {
    val (g, w) = (got.sorted, want.sorted)
    if (g == w) None
    else Some(s"${g.size} rows, expected ${w.size}; unexpected ${g.diff(w).take(3)}, " +
      s"missing ${w.diff(g).take(3)}")
  }

  def keysOf(rs: Array[Row]): Seq[String] =
    if (rs.isEmpty) Nil else { val k = rs.head.schema.fieldIndex("key"); rs.toSeq.map(_.getString(k)) }

  def runDirs(store: Path): Seq[Path] =
    Option(store.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("run=")).map(_.toPath)
}

/** point_read: keyed slice reads on one immutable sorted run, half through
  * the plain lens (uniform keys; the working set is the whole store) and
  * half through a hot-key row cache (Zipf keys; the hot set fits).
  */
object PointRead extends Workload {
  val mainOp = "multiget_slice of 100 uniform keys, uncached lens"
  val sideOp = "multiget_slice of 100 Zipf(1.0) draws, hot-key row-cache lens"

  val Keys = 10000
  val HotKeys = Keys / 40
  val BatchKeys = 100
  val StoreFiles = 8
  /** Uncached + cached read pairs run as warm-up before sampling: the
    * first few dozen queries of a JVM run at about twice the steady
    * latency while the JIT compiles the planner and scheduler.
    */
  val WarmPairs = 12

  final case class State(lens: CassandraLens, cached: CassandraLens)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val seed = ctx.seed
    import spark.implicits._
    val hash = new InputHash
    (0 until Keys).foreach(i => Gen.pointCells(seed, i).foreach(c =>
      hash.add(c.key, c.col, c.value, c.ts, c.tombstone, c.ldt)))
    val zipf = new Gen.Zipf(Keys, 1.0, seed)
    val hot = (0 until HotKeys).map(r => zipf.rankToKey(r)).toSet
    hot.toSeq.sorted.foreach(hash.add(_))

    def expected(i: Int): Seq[String] =
      Model.slice(Model.live(Gen.pointCells(seed, i).map(Model.fromGen)), Store.SliceCount)
        .map(Model.row)

    def read(kind: String, lens: CassandraLens, keys: Seq[Int]): Option[Double] = {
      val names = keys.map(i => Gen.key(i))
      ctx.attempt(kind)(ctx.timed(tr.op("op:read." + kind) {
        val df = tr.span("api.multiget_slice")(lens.multigetSlice(names, None, Store.slice))
        val rs = tr.span("action.collect")(df.collect())
        tr.count("keys", keys.size)
        tr.count("result.rows", rs.length)
        if (tr.active) tr.count("hot.rows", Store.keysOf(rs).count(k => hot.contains(k.drop(1).toInt)))
        rs
      })) { case (rs, _) => Store.diff(Store.rows(rs), keys.flatMap(expected)) }.map(_._2)
    }

    def uniformKeys(r: Rng): Seq[Int] = Iterator.continually(r.nextInt(Keys)).distinct.take(BatchKeys).toSeq
    def zipfKeys(r: Rng): Seq[Int] = Seq.fill(BatchKeys)(zipf.draw(r)).distinct

    val (st, reps) = ctx.repeatSetup(3)((s: State) => s.cached.dropRowCache()) { d =>
      tr.op("setup") {
        val path = d.resolve("store").toString
        val cells = spark.range(0, Keys, 1, StoreFiles).as[Long]
          .flatMap(i => Gen.pointCells(seed, i).map(Store.toCell)).toDF()
        tr.span("write")(CellStore.write(cells, Store.meta, path, StoreFiles))
        val lens = new CassandraLens(CellStore.read(spark, path), Store.meta)
        val cached = lens.withRowCache(hot.toSeq.sorted.map(i => Gen.key(i)))
        // the first cached read fills the row cache
        read("cached", cached, zipfKeys(Rng.of(seed, 9)))
        State(lens, cached)
      }
    }
    val warm = ctx.warmup {
      val r = Rng.of(seed, 9)
      (0 until WarmPairs).foreach { _ =>
        read("uncached", st.lens, uniformKeys(r))
        read("cached", st.cached, zipfKeys(r))
      }
    }

    val r = Rng.of(seed, 10)
    ctx.loop(_ => false) { i =>
      if (i % 2 == 0) read("uncached", st.lens, uniformKeys(r)).foreach(ctx.sample(isMain = true, _))
      else read("cached", st.cached, zipfKeys(r)).foreach(ctx.sample(isMain = false, _))
    }
    st.cached.dropRowCache()
    Outcome(Stats.median(reps), reps, warm, hash.hex, Map(
      "keys" -> Keys, "hot_keys" -> HotKeys, "hot_draw_share" -> zipf.mass(HotKeys),
      "store_bytes" -> Fs.parquetBytes(ctx.dir)))
  }
}

/** ingest_compact: flushes, reads and compactions on a growing multi-run
  * store, checked against an incremental model of every mutation.
  */
object IngestCompact extends Workload {
  val mainOp = "get_range_slices page of 1000 keys over all runs"
  val sideOp = "flush of one batch_mutate batch as a new run"

  val BaseKeys = 6000
  val BatchCells = 2500
  val FlushesPerStep = 4
  val PageKeys = 1000
  val PagesPerStep = 2
  val CompactEvery = 2
  /** Steps run as warm-up before sampling: one compaction cycle. */
  val WarmSteps = 2
  /** Sampled steps at least: two more cycles, three in all. */
  val MinSteps = 4
  val BaseFiles = 4
  val FlushFiles = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val seed = ctx.seed
    import spark.implicits._
    val hash = new InputHash
    var userBytes = 0L
    val model = new Model.Table
    (0 until BaseKeys).foreach(i => Gen.baseCells(seed, i).foreach { c =>
      hash.add(c.key, c.col, c.value, c.ts); model(Model.fromGen(c)); userBytes += c.userBytes
    })

    def open(store: String): CassandraLens =
      tr.span("api.open")(new CassandraLens(CellStore.readRuns(spark, store), Store.meta))

    def storeStats(store: Path): Unit = if (tr.active) {
      tr.count("store.reads", 1)
      tr.count("store.runs", Store.runDirs(store).size)
      tr.count("store.bytes", Fs.parquetBytes(store))
    }

    def rangePage(store: Path, start: String): Option[Double] =
      ctx.attempt("range")(ctx.timed(tr.op("op:read.range") {
        storeStats(store)
        val lens = open(store.toString)
        val df = tr.span("api.get_range_slices")(
          lens.rangeSliceByKeys(Some(start), None, None, Store.slice, PageKeys))
        val rs = tr.span("action.collect")(df.collect())
        tr.count("result.rows", rs.length)
        rs
      })) { case (rs, _) =>
        Store.diff(Store.rows(rs), model.rangePage(start, PageKeys, Store.SliceCount).map(Model.row))
      }.map(_._2)

    def multiget(store: Path, keys: Seq[String]): Option[Double] =
      ctx.attempt("multiget")(ctx.timed(tr.op("op:read.multiget") {
        storeStats(store)
        val lens = open(store.toString)
        val df = tr.span("api.multiget_slice")(lens.multigetSlice(keys, None, Store.slice))
        val rs = tr.span("action.collect")(df.collect())
        tr.count("keys", keys.size)
        tr.count("result.rows", rs.length)
        rs
      })) { case (rs, _) =>
        Store.diff(Store.rows(rs), keys.flatMap(k => model.liveRow(k).take(Store.SliceCount)).map(Model.row))
      }.map(_._2)

    def keysUpTo(r: Rng, n: Int): Seq[String] =
      Iterator.continually(r.nextInt(n)).distinct.take(100).map(i => Gen.key(i)).toSeq

    val (store, reps) = ctx.repeatSetup(3)((_: Path) => ()) { d =>
      tr.op("setup") {
        val store = d.resolve("store")
        val base = spark.range(0, BaseKeys, 1, BaseFiles).as[Long]
          .flatMap(i => Gen.baseCells(seed, i).map(Store.toCell)).toDF()
        tr.span("write")(CellStore.write(base, Store.meta, store.resolve("run=1").toString, BaseFiles))
        store
      }
    }
    val baseBytes = Fs.parquetBytes(store)
    var flushBytes = 0L
    var compactBytes = 0L
    var cellsWritten = 0L
    var flushMs = 0.0
    val compactMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val multigetMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastGcBefore = Int.MinValue
    val r = Rng.of(seed, 12)
    val phase = r.nextDouble()

    /** Step `step` (from 1): flush a batch, read, compact every
      * [[CompactEvery]] steps. Latencies are sampled only when `sampled`.
      */
    def runStep(step: Int, sampled: Boolean): Unit = {
      (1 to FlushesPerStep).foreach { f =>
        val batchId = (step - 1) * FlushesPerStep + f
        val batch = Gen.batch(seed, batchId, BaseKeys, BatchCells)
        batch.foreach(c => hash.add(c.key, c.col, c.value, c.ts, c.tombstone, c.ldt))
        val df = batch.map(Store.toCell).toDF()
        val runDir = store.resolve(s"run=${batchId + 1}")
        ctx.attempt("flush")(ctx.timed(tr.op("op:flush") {
          tr.span("write")(CellStore.write(df, Store.meta, runDir.toString, FlushFiles))
        }))(_ => None).foreach { case (_, ms) =>
          if (sampled) {
            ctx.sample(isMain = false, ms)
            flushMs += ms
            cellsWritten += batch.size
          }
        }
        batch.foreach { c => model(Model.fromGen(c)); userBytes += c.userBytes }
        flushBytes += Fs.parquetBytes(runDir)
      }

      val known = Gen.keysBefore(step * FlushesPerStep + 1, BaseKeys, BatchCells)
      // a page's cost grows with the keys after its start, so starts
      // follow a low-discrepancy sequence over the key space: every run
      // samples short and long ranges alike
      (0 until PagesPerStep).foreach { j =>
        val at = (phase + (step * PagesPerStep + j) * 0.6180339887498949) % 1.0
        rangePage(store, Gen.key((at * known).toLong)).foreach(ms => if (sampled) ctx.sample(isMain = true, ms))
      }
      multiget(store, keysUpTo(r, known)).foreach(ms => if (sampled) multigetMs += ms)

      if (step % CompactEvery == 0) {
        // tombstones of the batches before the last cycle are collectable
        val gcBefore = Gen.ldtOf((step - CompactEvery) * FlushesPerStep) + 1
        lastGcBefore = gcBefore
        val before = Store.runDirs(store).map(p => p.getFileName.toString -> Fs.parquetBytes(p)).toMap
        ctx.attempt("compact")(ctx.timed(tr.op("op:compact") {
          val merged = tr.span("compact")(CellStore.compactCellRuns(spark, store.toString, gcBefore))
          val out = merged.map { case (id, _) => Fs.parquetBytes(store.resolve(s"run=$id")) }.sum
          val srcs = merged.flatMap(_._2)
          tr.count("compact.runs_in", srcs.size)
          tr.count("compact.bytes_in", srcs.map(id => before.getOrElse(s"run=$id", 0L)).sum)
          tr.count("compact.bytes_out", out)
          out
        }))(_ => None).foreach { case (out, ms) =>
          compactBytes += out
          if (sampled) compactMs += ms
        }
      }
    }

    // the first cycles warm the JVM on the real store: every operation is
    // checked, none is sampled
    val warm = ctx.warmup((1 to WarmSteps).foreach(runStep(_, sampled = false)))
    ctx.loop(i => i < MinSteps || i % CompactEvery != 0)(i => runStep(WarmSteps + i + 1, sampled = true))

    // the final state, read through a lens opened from the listing alone
    ctx.attempt("final_state") {
      new CassandraLens(CellStore.readRuns(spark, store.toString), Store.meta)
        .rangeSliceByKeys(None, None, None, SliceRange(count = Int.MaxValue), Int.MaxValue).collect()
    }(rs => Store.diff(Store.rows(rs), model.allLive.map(Model.row)))
    // the loop ends on a compaction; when it folded every run into one, the
    // raw cells must be exactly what LWW, shadowing and gcGrace leave
    if (Store.runDirs(store).size == 1)
      ctx.attempt("final_compaction")(CellStore.readRuns(spark, store.toString).collect()) { rs =>
        def raw(key: String, col: Array[Byte], value: Array[Byte], ts: Long, tomb: Boolean) =
          s"${Model.row(key, col, value, ts)}|$tomb"
        Store.diff(rs.toSeq.map(r => raw(r.getAs[String]("key"), r.getAs[Array[Byte]]("col_name"),
            r.getAs[Array[Byte]]("value"), r.getAs[Long]("ts"), r.getAs[Boolean]("tombstone"))),
          model.compacted(lastGcBefore).map(c => raw(c.key, c.col, c.value, c.ts, c.tomb)))
      }

    val liveBytes = model.allLive.map(c => c.key.length + c.col.length + c.value.length + 13L).sum
    val mg = Stats.summary(multigetMs.toSeq)
    Outcome(Stats.median(reps), reps, warm, hash.hex, Map(
      "sampled_flushes" -> (cellsWritten / BatchCells), "sampled_compactions" -> compactMs.size,
      "flush_cells_per_s" -> cellsWritten / (flushMs / 1000.0),
      "compact_s_p50" -> (if (compactMs.isEmpty) 0.0 else Stats.median(compactMs.toSeq) / 1000.0),
      "multiget_p50_ms" -> mg.p50, "multiget_tail_ms" -> mg.tail.getOrElse(mg.p50),
      "write_amp" -> (baseBytes + flushBytes + compactBytes).toDouble / userBytes,
      "space_amp" -> Fs.parquetBytes(store).toDouble / liveBytes,
      "store_runs_end" -> Store.runDirs(store).size))
  }
}

/** similarity: the dedup and kNN-graph pipelines over a corpus and an
  * embedding table read from parquet; the cell store is not involved.
  */
object SimilarityWorkload extends Workload {
  val mainOp = "dedup pass: nearDuplicates, minhashNearDuplicates, containmentNearDuplicates"
  val sideOp = "kNN graph build: kmeansStepExact, refinedCentroids, ivfIndexTable, knnGraphIvf"

  val Docs = 800
  val DocLen = 40
  val Vocab = 200000
  val Clusters = Docs / 30
  val Shingle = 3
  val Vectors = 800
  val Dim = 64
  val Centers = 16
  val Cells = 16
  val Neighbors = 10
  val RecallSample = 200
  /** Passes of each kind a run makes at least, whatever the time. */
  val MinSamples = 4
  /** Full checked iterations (dedup pass + kNN build) run as warm-up. */
  val WarmIterations = 1

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val seed = ctx.seed
    import spark.implicits._
    val hash = new InputHash
    val docs = Gen.corpus(seed, Docs, DocLen, Vocab, Clusters)
    val vecs = Gen.embeddings(seed, Vectors, Dim, Centers)
    docs.foreach(d => hash.add(d.id, d.text))
    vecs.foreach { case (id, v) => hash.add(id, v.mkString(",")) }

    // the expected answers, from the model alone
    val sets = docs.map(d => d.id -> Model.shingles(d.text, Shingle)).toMap
    val ov = Model.overlaps(sets)
    val wantJaccard = ov.collect { case (a, b, i, sa, sb) if 2 * i >= sa + sb - i => s"$a|$b|$i|${sa + sb - i}" }
    val wantJaccardSet = wantJaccard.toSet
    val wantContain = ov.flatMap { case (a, b, i, sa, sb) =>
      (if (5 * i >= 4 * sa) Seq(s"$a|$b|$i|$sa") else Nil) ++ (if (5 * i >= 4 * sb) Seq(s"$b|$a|$i|$sb") else Nil)
    }
    val cellOf = Model.ivfCells(vecs, Cells)
    val vecById = vecs.toMap
    val byCell = vecs.groupBy { case (id, _) => cellOf(id) }
    def topIn(pool: Seq[(Long, Array[Float])], id: Long): Seq[(Long, Double)] = {
      val v = vecById(id)
      pool.collect { case (o, w) if o != id => o -> Model.cosine(v, w) }
        .sortBy { case (o, s) => (-s, o) }.take(Neighbors)
    }
    val wantGraph = vecs.map { case (id, _) => id -> topIn(byCell(cellOf(id)), id) }.toMap
    val sampled = {
      val r = Rng.of(seed, 13)
      Iterator.continually(r.nextInt(Vectors).toLong).distinct.take(RecallSample).toSeq
    }
    val exactNbrs = sampled.map(id => id -> topIn(vecs, id).map(_._1).toSet).toMap

    def pairs(rs: Array[Row], cols: String*): Seq[String] =
      rs.toSeq.map(r => cols.map(c => r.get(r.fieldIndex(c)).toString).mkString("|"))

    val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minhashRecall = scala.collection.mutable.ArrayBuffer.empty[Double]

    def dedupCalls(docDf: DataFrame): (Array[Row], Array[Row], Array[Row]) = {
      def call(name: String)(f: => DataFrame): Array[Row] = tr.span("dedup." + name) {
        val df = tr.span("api." + name)(f)
        tr.span("action.collect")(df.collect())
      }
      val j = call("jaccard")(Dedup.nearDuplicates(docDf, "id", "text", Shingle, 1, 2))
      val m = call("minhash")(Dedup.minhashNearDuplicates(docDf, "id", "text", Shingle, 64, 16, 1, 2))
      val c = call("containment")(Dedup.containmentNearDuplicates(docDf, "id", "text", Shingle, 4, 5))
      tr.count("pairs", j.length + m.length + c.length)
      (j, m, c)
    }

    def knnCalls(emb: DataFrame): Array[Row] = {
      val cb = tr.span("knn.codebook") {
        val stats = Similarity.kmeansStepExact(emb, "id", "vec", Cells)
        val c = Similarity.refinedCentroids(stats)
        spark.createDataFrame(java.util.Arrays.asList(c.collect(): _*), c.schema)
      }
      val idx = tr.span("knn.index") {
        tr.span("api.ivfIndexTable")(Similarity.ivfIndexTable(emb, "id", "vec", cb, Cells)).localCheckpoint()
      }
      tr.span("knn.graph") {
        val g = tr.span("api.knnGraphIvf")(Similarity.knnGraphIvf(idx, Neighbors))
        tr.span("action.collect")(g.collect())
      }
    }

    def dedupPass(docDf: DataFrame): Option[Double] =
      ctx.attempt("dedup")(ctx.timed(tr.op("op:dedup")(dedupCalls(docDf)))) { case ((j, m, c), _) =>
        val mh = pairs(m, "ia", "ib", "inter", "uni")
        minhashRecall += mh.size.toDouble / math.max(1, wantJaccard.size)
        Store.diff(pairs(j, "ia", "ib", "inter", "uni"), wantJaccard).map("jaccard: " + _)
          .orElse(mh.find(p => !wantJaccardSet.contains(p)).map(p => s"minhash reported $p"))
          .orElse(Store.diff(pairs(c, "sub_id", "sup_id", "inter", "sub_sz"), wantContain)
            .map("containment: " + _))
      }.map(_._2)

    def knnBuild(emb: DataFrame): Option[Double] =
      ctx.attempt("knn")(ctx.timed(tr.op("op:knn")(knnCalls(emb)))) { case (g, _) =>
        val got = g.toSeq.map(r => (r.getLong(r.fieldIndex("id")), r.getLong(r.fieldIndex("rank")),
          r.getLong(r.fieldIndex("nbr")))).groupBy(_._1)
        recalls += exactNbrs.map { case (id, ex) =>
          got.getOrElse(id, Nil).count(x => ex.contains(x._3)).toDouble / Neighbors
        }.sum / exactNbrs.size
        wantGraph.iterator.map { case (id, want) =>
          val mine = got.getOrElse(id, Nil).sortBy(_._2).map(x => x._3)
          val sims = mine.map(n => Model.cosine(vecById(id), vecById(n)))
          val ok = mine.size == want.size && mine.forall(n => cellOf(n) == cellOf(id)) &&
            sims.zip(want.map(_._2)).forall { case (a, b) => math.abs(a - b) <= 1e-9 }
          if (ok) None else Some(s"id $id neighbours $mine, expected ${want.map(_._1)}")
        }.collectFirst { case Some(m) => m }
      }.map(_._2)

    val (dfs, reps) = ctx.repeatSetup(3)((_: (DataFrame, DataFrame)) => ()) { d =>
      tr.op("setup") {
        val docPath = d.resolve("docs").toString
        val embPath = d.resolve("emb").toString
        tr.span("write")(docs.map(x => (x.id, x.text)).toDF("id", "text").repartition(4)
          .write.parquet(docPath))
        tr.span("write")(vecs.toDF("id", "vec").repartition(4).write.parquet(embPath))
        (spark.read.parquet(docPath), spark.read.parquet(embPath))
      }
    }
    val warm = ctx.warmup((1 to WarmIterations).foreach { _ => dedupPass(dfs._1); knnBuild(dfs._2) })

    ctx.loop(_ < 2 * MinSamples) { i =>
      if (i % 2 == 0) dedupPass(dfs._1).foreach(ctx.sample(isMain = true, _))
      else knnBuild(dfs._2).foreach(ctx.sample(isMain = false, _))
    }
    Outcome(Stats.median(reps), reps, warm, hash.hex, Map(
      "docs" -> Docs, "vectors" -> Vectors,
      "jaccard_pairs" -> wantJaccard.size, "containment_pairs" -> wantContain.size,
      "minhash_recall" -> (if (minhashRecall.isEmpty) 0.0 else Stats.median(minhashRecall.toSeq)),
      "knn_recall" -> (if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq))))
  }
}
