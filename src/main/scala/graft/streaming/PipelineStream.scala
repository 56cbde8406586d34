package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.pipeline.TextAnalysis

/** Streaming faces of the training-data pipeline operators: the same
  * semantics as the batch ops in graft.pipeline, expressed on unbounded
  * inputs with Structured Streaming's state machinery. Used when the
  * corpus arrives as a feed (crawl output, log tail) and dedup/quality
  * must gate ingestion, not run as a later batch pass.
  */
object PipelineStream {

  /** Streaming exact dedup, first-seen-wins: fingerprint each document
    * (md5 of the whitespace/lowercase-normalized text — identical to the
    * batch `Dedup.exact` grouping key) and keep only the first arrival of
    * each fingerprint. `dropDuplicates` carries the seen-fingerprint set
    * in the state store — at scale the state is one small row per
    * DISTINCT document, hash-partitioned like any aggregation.
    */
  def dedupExact(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicates("fp")

  /** Bounded-state variant: dedup only within the event-time watermark
    * (dropDuplicatesWithinWatermark) — the gcGrace analog for dedup
    * state. Use when the feed is unbounded and exact global dedup would
    * grow state forever; duplicates farther apart than the delay are
    * passed through (and caught by the periodic batch dedup pass).
    */
  def dedupExactWithinWatermark(docs: DataFrame, textCol: String,
      eventTimeCol: String, delay: String): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming BM25 index maintenance — the p225 append-only fold law
    * as an ingestion pipeline: each micro-batch of documents flushes
    * its postings and doc-lens rows as ONE run under
    * `base/postings/run=<id>` and `base/doclens/run=<id>`, computed
    * through the batch [[graft.pipeline.TextAnalysis.bm25Postings]] /
    * bm25DocLens lineage (the ONE index definition). Doc ids are
    * disjoint across arrivals, so maintenance is pure append — no
    * standing run ever rewrites — and overwrite-by-batch-id makes
    * redelivery idempotent (at-least-once safe), exactly the
    * zorderedIngest flush contract. Readout:
    * `bm25TopKIndexed(read(base/postings), read(base/doclens), q, k)`
    * over the unioned runs is bit-identical to the ad-hoc batch scorer
    * over every ingested document (p226 gates under p120's oracle).
    */
  def bm25IndexIngest(docs: DataFrame, idCol: String, textCol: String,
      basePath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) {
        val b = batch.localCheckpoint() // tokenized twice below
        val s = b.sparkSession
        val sfx = genSuffix(
          new org.apache.hadoop.fs.Path(basePath).getFileSystem(
            s.sparkContext.hadoopConfiguration),
          new org.apache.hadoop.fs.Path(basePath))
        TextAnalysis.bm25Postings(b, idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$basePath/postings$sfx/run=$id")
        TextAnalysis.bm25DocLens(b, idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$basePath/doclens$sfx/run=$id")
      }
    }

  /** TOMBSTONE a set of document ids in a [[bm25IndexIngest]] store —
    * the engine's delete concept at retrieval-artifact grain: standing
    * postings/doc-lens runs never rewrite (they are immutable, exactly
    * like SSTables); a delete is one more append-only run under
    * `base/deletes/run=<runId>`, and the READ side shadows — deleted
    * ids drop out of postings AND doc-lens, so N, total length, df and
    * idf all reflect the post-delete corpus with no index rebuild
    * ([[readBm25Postings]]/[[readBm25DocLens]]).
    * [[compactBm25Store]] is the tombstone GC. Caller runIds are
    * monotone per store (the knnGraphBatchFold contract).
    */
  def bm25DeleteDocs(ids: DataFrame, basePath: String, runId: Long): Unit =
    ids.select(col("id"))
      .write.mode("overwrite")
      .parquet(
        s"${resolveSubPath(ids.sparkSession, basePath, "deletes")}/run=$runId")

  /** The ATOMIC store-publish protocol every multi-substore maintenance
    * op (compactKnnStore / compactBm25Store / reindexKnnStore) commits
    * through — VERDICT r17 task 4, replacing the three sequential
    * live→`__old`→publish renames whose crash windows could leave the
    * substores mutually inconsistent (or one with no live dir at all).
    *
    * A maintenance op writes every consolidated substore under
    * GENERATION-suffixed directories (`index.g<gen>`, `graph.g<gen>`,
    * …) and then commits ONE pointer file `CURRENT.<gen>` (written to a
    * hidden tmp name, published by a single atomic rename). Every
    * reader and ingest writer resolves a substore's live directory
    * through the newest pointer ([[subDirName]]); a store that has
    * never compacted has no pointer and resolves to the plain legacy
    * dirs, so pre-pointer stores read unchanged.
    *
    * CRASH RECOVERY is re-read-the-pointer, never hand-renames: a
    * crash anywhere BEFORE the pointer rename leaves the new
    * generation's dirs unreferenced (readers still see the old store
    * whole; the garbage is removed by the next maintenance run's
    * [[gcGenerations]]); a crash AFTER the rename leaves the old
    * generation's dirs unreferenced (readers see the new store whole).
    * There is NO intermediate state in which a reader sees a mix —
    * the spec plants every boundary state and proves it.
    *
    * Tombstone GC falls out of the same commit: a new generation
    * simply has no `deletes.g<gen>` directory, so the delete runs
    * vanish from the resolved view at the instant the pointer lands.
    */
  private val PointerPrefix = "CURRENT."

  private def pointerGen(name: String): Option[Long] =
    if (!name.startsWith(PointerPrefix)) None
    else scala.util.Try(name.stripPrefix(PointerPrefix).toLong).toOption

  /** Newest committed generation under `base` (0 = no pointer: the
    * legacy plain-dir layout is live).
    */
  private[graft] def currentGen(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(base)) 0L
    else fs.listStatus(base).iterator.filter(_.isFile)
      .flatMap(st => pointerGen(st.getPath.getName)).foldLeft(0L)(math.max)

  /** "" at generation 0, ".g<gen>" under a committed pointer. Resolve
    * ONCE per fold/maintenance invocation (one base listing) and derive
    * every substore path from it — the generation cannot change
    * mid-batch under the single-writer contract, and per-path
    * resolution would cost one listing RPC per substore per batch on
    * an object store.
    */
  private def genSuffix(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): String = {
    val g = currentGen(fs, base)
    if (g == 0L) "" else s".g$g"
  }

  /** A substore's live directory NAME under the pointer protocol. */
  private def subDirName(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, sub: String): String =
    sub + genSuffix(fs, base)

  /** A substore's live directory PATH (string form every read/write
    * path builds on). PUBLIC: tools (snapshot, integrity, specs)
    * resolve a store's physical layout through this, never by
    * hard-coding the plain dir names. NOT for multi-substore reads:
    * each call re-lists the pointer, so a plan touching two substores
    * must resolve ONCE ([[genSuffixOf]]) and derive both paths from
    * that single suffix — otherwise a pointer commit landing between
    * the two listings mixes generations.
    */
  def resolveSubPath(spark: org.apache.spark.sql.SparkSession,
      basePath: String, sub: String): String = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    s"$basePath/${subDirName(fs, base, sub)}"
  }

  /** Commit generation `gen`: ONE atomic rename publishes the pointer.
    * The file's JSON body (generation + substore names) is for humans
    * and tools; resolution needs only the file NAME.
    */
  private def commitGen(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, gen: Long, subs: Seq[String],
      op: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(base, s".$PointerPrefix$gen.tmp")
    val out = fs.create(tmp, true)
    out.write((s"""{"gen":$gen,"subs":[""" +
      subs.map("\"" + _ + "\"").mkString(",") + "]}").getBytes("UTF-8"))
    out.close()
    require(fs.rename(tmp,
      new org.apache.hadoop.fs.Path(base, PointerPrefix + gen)),
      s"$op: pointer commit failed for generation $gen")
  }

  /** Clear a generation's dirs BEFORE writing it — a crashed earlier
    * attempt at the same (deterministic) generation number may have
    * left partial run dirs that a rerun's overwrite-by-run-id would
    * not replace if its run ids differ (e.g. a fold landed between the
    * crash and the rerun); the new generation must hold exactly the
    * rerun's output.
    */
  private def clearGen(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, gen: Long,
      subs: Seq[String]): Unit =
    subs.foreach(sub => fs.delete(
      new org.apache.hadoop.fs.Path(base, s"$sub.g$gen"), true))

  /** Best-effort garbage collection AFTER a pointer commit: drop
    * superseded pointer files, superseded generations' dirs, and the
    * legacy plain dirs. A failure here leaves garbage (reported by
    * RunIntegrity as superseded-generation residue), never an
    * inconsistent store — the pointer is already live.
    */
  private def gcGenerations(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, keepGen: Long,
      subs: Seq[String]): Unit =
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      val stale =
        pointerGen(n).exists(_ < keepGen) ||
          // a commit crashed between create and rename leaves the
          // hidden tmp pointer — collect it here (readers never parse
          // it, but the protocol reports or removes ALL residue)
          (st.isFile && n.startsWith("." + PointerPrefix) &&
            n.endsWith(".tmp")) ||
          (st.isDirectory && subs.exists(s =>
            n == s || scala.util.Try(
              n.stripPrefix(s + ".g").toLong).toOption.exists(g =>
              n.startsWith(s + ".g") && g != keepGen)))
      if (stale)
        try fs.delete(st.getPath, true)
        catch { case _: java.io.IOException => () }
    }

  /** The (id, cell, embedding) schema-only frame every kNN-store read
    * seeds an empty standing index with — one definition.
    */
  private def emptyKnnIndex(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id"),
      col("id").cast("int").as("cell"),
      array().cast("array<float>").as("embedding"))

  /** One row per tombstoned id: its NEWEST delete run — the
    * run-order-aware shadow key (the readKnnIndex rule at retrieval
    * grain). Takes the caller's already-resolved generation suffix so
    * postings and deletes are read from ONE generation (resolving here
    * would re-list the pointer — a commit landing between the two
    * listings would join old-gen postings against new-gen deletes).
    */
  private def bm25Deletes(spark: org.apache.spark.sql.SparkSession,
      basePath: String, sfx: String): Option[DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delDir = "deletes" + sfx
    if (graft.operators.EventOps.listIdDirs(fs, base, delDir, "run=")
        .isEmpty) None
    else Some(spark.read.parquet(s"$basePath/$delDir")
      .groupBy(col("id")).agg(max(col("run")).as("del_run")))
  }

  /** Resolve a store's generation suffix ONCE for a whole read/plan —
    * every substore path in that plan must derive from this single
    * listing, never from per-substore [[resolveSubPath]] calls: a
    * pointer commit landing between two listings would otherwise build
    * a cross-generation plan (old-gen manifests joined against new-gen
    * rows silently drops rows).
    */
  private def genSuffixOf(spark: org.apache.spark.sql.SparkSession,
      basePath: String): String = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    genSuffix(base.getFileSystem(spark.sparkContext.hadoopConfiguration), base)
  }

  /** Run-order-aware tombstone shadow: a delete at run r kills same-id
    * rows from runs ≤ r and NOTHING later, so a re-inserted document
    * survives its old tombstone (LWW at run grain — the
    * [[knnStoreIngest]] rule; a delete-era global anti-join would
    * silently shadow re-inserts forever).
    */
  private def shadowByRun(rows: DataFrame, dels: Option[DataFrame]): DataFrame =
    dels.fold(rows.drop("run"))(d =>
      rows.join(d, Seq("id"), "left_outer")
        .filter(col("del_run").isNull || col("del_run") < col("run"))
        .drop("run", "del_run"))

  /** The live postings of a [[bm25IndexIngest]] store: unioned runs
    * with tombstoned ids shadowed out run-order-aware (absent deletes
    * cost nothing).
    */
  def readBm25Postings(spark: org.apache.spark.sql.SparkSession,
      basePath: String): DataFrame = {
    val sfx = genSuffixOf(spark, basePath) // ONE resolution for the plan
    readBm25PostingsAt(spark, basePath, sfx)
  }

  private def readBm25PostingsAt(spark: org.apache.spark.sql.SparkSession,
      basePath: String, sfx: String): DataFrame =
    shadowByRun(
      spark.read.parquet(s"$basePath/postings$sfx")
        .select(col("term"), col("id"), col("tf"), col("len"), col("run")),
      bm25Deletes(spark, basePath, sfx))

  /** BOTH live views of a BM25 store — (postings, doclens) — resolved
    * from ONE pointer listing. A scorer needs the pair, and two
    * independent [[readBm25Postings]]/[[readBm25DocLens]] calls each
    * re-resolve the pointer, so a compaction commit landing between
    * them would join old-generation postings against new-generation
    * corpus stats (silently dropped docs / skewed idf). This is the
    * read entry point for any plan that touches both.
    */
  def readBm25Store(spark: org.apache.spark.sql.SparkSession,
      basePath: String): (DataFrame, DataFrame) = {
    val sfx = genSuffixOf(spark, basePath)
    (readBm25PostingsAt(spark, basePath, sfx),
      readBm25DocLensAt(spark, basePath, sfx))
  }

  /** The live doc-lens of a [[bm25IndexIngest]] store — deletes shadow
    * here too, so the corpus stats (N, total length) are post-delete.
    */
  def readBm25DocLens(spark: org.apache.spark.sql.SparkSession,
      basePath: String): DataFrame = {
    val sfx = genSuffixOf(spark, basePath) // ONE resolution for the plan
    readBm25DocLensAt(spark, basePath, sfx)
  }

  private def readBm25DocLensAt(spark: org.apache.spark.sql.SparkSession,
      basePath: String, sfx: String): DataFrame =
    shadowByRun(
      spark.read.parquet(s"$basePath/doclens$sfx")
        .select(col("id"), col("len"), col("run")),
      bm25Deletes(spark, basePath, sfx))

  /** TWO-SOURCE streaming BM25 maintenance — the [[knnStoreIngest]]
    * protocol at retrieval grain: a document feed and a delete-id feed
    * drive one store through ONE query (one writer, one monotone
    * run-id space). Each micro-batch lands its deletes FIRST as a
    * tombstone run at `2·batchId` and its documents as postings +
    * doc-lens runs at `2·batchId + 1`, so a same-batch delete+re-add
    * of one doc id resolves as delete-then-insert and a re-inserted id
    * survives its old tombstone (run-order-aware shadow,
    * [[shadowByRun]]). Every run write is a pure function of the batch
    * and overwrites by run id — redelivery idempotent. LIVE ids must
    * stay unique (re-adding a never-deleted id would double-count it
    * in df/N; the feed contract, as in [[bm25IndexIngest]]).
    */
  def bm25StoreIngest(docs: DataFrame, idCol: String, textCol: String,
      deletes: DataFrame, delIdCol: String, basePath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val events = docs.select(col(idCol).as("id"),
        col(textCol).as("text"), lit("add").as("op"))
      .unionByName(deletes.select(col(delIdCol).as("id"),
        lit(null).cast("string").as("text"), lit("del").as("op")))
    events.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) {
        val b = batch.localCheckpoint() // split + tokenize below
        val dels = b.filter(col("op") === "del").select(col("id"))
        val adds = b.filter(col("op") === "add").select(col("id"), col("text"))
        if (!dels.isEmpty)
          bm25DeleteDocs(dels, basePath, 2 * id)
        if (!adds.isEmpty) {
          val s = b.sparkSession
          val sfx = genSuffix(
            new org.apache.hadoop.fs.Path(basePath).getFileSystem(
              s.sparkContext.hadoopConfiguration),
            new org.apache.hadoop.fs.Path(basePath))
          TextAnalysis.bm25Postings(adds, "id", "text")
            .write.mode("overwrite")
            .parquet(s"$basePath/postings$sfx/run=${2 * id + 1}")
          TextAnalysis.bm25DocLens(adds, "id", "text")
            .write.mode("overwrite")
            .parquet(s"$basePath/doclens$sfx/run=${2 * id + 1}")
        }
      }
    }
  }

  /** Compact a [[bm25IndexIngest]] store — consolidate the live rows
    * (tombstones APPLIED) into one postings run range-laid by term
    * (the term-probe prune layout) and one doc-lens run, then drop the
    * delete runs: single-writer tombstone GC is safe immediately —
    * there is no replica that could resurrect a deleted doc, so no
    * gcGrace wait (the contrast with the cell-store's grace-period
    * contract is deliberate and documented here). Publishes through
    * the ATOMIC pointer protocol under the store's max numeric run id
    * (see [[commitGen]] — one rename, no hand-recovery crash windows),
    * so the prefix rule and the lifecycle continue unchanged. Offline
    * maintenance, stop the writer first.
    */
  def compactBm25Store(spark: org.apache.spark.sql.SparkSession,
      basePath: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pRuns = graft.operators.EventOps.listIdDirs(fs, base,
      subDirName(fs, base, "postings"), "run=")
    val lRuns = graft.operators.EventOps.listIdDirs(fs, base,
      subDirName(fs, base, "doclens"), "run=")
    require(pRuns.nonEmpty && lRuns.nonEmpty,
      "compactBm25Store: nothing to compact")
    val gen = currentGen(fs, base) + 1
    clearGen(fs, base, gen, Seq("postings", "doclens", "deletes"))
    // consolidated substores fully written BEFORE the one-rename commit;
    // tombstones APPLIED here, and the new generation simply has no
    // deletes dir — delete-run GC is part of the same atomic publish.
    // Paired read: one pointer resolution (also the single-writer case,
    // but the pair API costs nothing and saves a listing)
    val (postings, doclens) = readBm25Store(spark, basePath)
    postings
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite")
      .parquet(s"$basePath/postings.g$gen/run=${pRuns.max}")
    doclens
      .write.mode("overwrite")
      .parquet(s"$basePath/doclens.g$gen/run=${lRuns.max}")
    commitGen(fs, base, gen, Seq("postings", "doclens", "deletes"),
      "compactBm25Store")
    gcGenerations(fs, base, gen, Seq("postings", "doclens", "deletes"))
  }

  /** Streaming n-gram census maintenance — the p234 additive-fold law
    * as an ingestion pipeline (the bm25IndexIngest shape at gram
    * grain): each micro-batch flushes its own
    * [[graft.pipeline.TextAnalysis.ngramStatsTable]] as one run under
    * `base/census/run=<id>`; both counters are ADDITIVE across
    * disjoint-document batches, so the standing census is just the
    * per-gram SUM over runs ([[readNgramCensus]]) and
    * overwrite-by-batch-id keeps redelivery idempotent. Readout top-k
    * over the summed runs ≡ ngramStats over everything ingested (p235
    * gates under p31's oracle).
    */
  def ngramCensusIngest(docs: DataFrame, idCol: String, textCol: String,
      n: Int, basePath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        TextAnalysis.ngramStatsTable(batch, idCol, textCol, n)
          .write.mode("overwrite").parquet(s"$basePath/census/run=$id")
    }

  /** Streaming containment screening — each arriving micro-batch probes
    * the standing [[graft.pipeline.Dedup.saveShinglePostings]] corpus
    * independently: the probe is per-doc, so a batch's directed pairs
    * depend only on its own docs vs the artifact and the op is
    * STATELESS — no state store, no watermark; the union over runs ≡
    * one batch probe over everything ingested (p252 gates under p251's
    * oracle). Results flush as overwrite-by-batch-id runs (redelivery
    * idempotent — the bm25IndexIngest contract). Guarded mode inherits
    * the probe's combined-df contract PER BATCH: the shard side of
    * each shingle's df count is the batch's own occurrences, so a
    * phrase spread thinly across batches sees a smaller combined count
    * than one big batch would — the honest per-ingest view (guards
    * bound the work each ingest does, not a global property).
    */
  def containmentIngest(docs: DataFrame, idCol: String, textCol: String,
      snapshotPath: String, n: Int, num: Int, den: Int, basePath: String,
      maxDocFreq: Option[Int] =
        Some(graft.pipeline.Dedup.DefaultMaxDocFreq)):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        graft.pipeline.Dedup.containmentAgainstSnapshot(batch, idCol,
          textCol, snapshotPath, n, num, den, maxDocFreq)
          .write.mode("overwrite").parquet(s"$basePath/pairs/run=$id")
    }

  /** The standing census of a [[ngramCensusIngest]] store: per-gram sum
    * over the runs (the additive fold, evaluated at read).
    */
  def readNgramCensus(spark: org.apache.spark.sql.SparkSession,
      basePath: String): DataFrame =
    spark.read.parquet(s"$basePath/census")
      .groupBy(col("gram"))
      .agg(sum(col("occurrences")).cast("long").as("occurrences"),
        sum(col("doc_freq")).cast("long").as("doc_freq"))

  /** Streaming category-census maintenance — the p263 additive-fold law
    * as an ingestion pipeline (the [[ngramCensusIngest]] shape at
    * category grain): each micro-batch flushes its own
    * [[graft.pipeline.Sketches.categoryCensusTable]] as one run under
    * `base/census/run=<id>`; the (g, cat, c) counter is ADDITIVE across
    * disjoint row batches, so the standing census is the per-(g, cat)
    * SUM over runs ([[readCategoryCensus]]) and overwrite-by-batch-id
    * keeps redelivery idempotent. Drift scores (PSI/TV) are READOUTS
    * over the summed table — `psiDriftFromCensus(readCategoryCensus(…))`
    * over everything ingested ≡ one-shot `psiDriftMatrix` over the full
    * corpus (gated under p254's oracle), so a drift monitor never
    * re-scans the corpus per report.
    */
  def categoryCensusIngest(rows: DataFrame, catCol: String,
      groupCol: String, basePath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        graft.pipeline.Sketches.categoryCensusTable(batch, catCol, groupCol)
          .write.mode("overwrite").parquet(s"$basePath/census/run=$id")
    }

  /** Streaming decontamination screening — each arriving micro-batch
    * scores its docs' n-gram novelty against the standing census
    * artifact (an [[graft.pipeline.TextAnalysis.ngramStatsTable]] /
    * [[graft.pipeline.TextAnalysis.foldNgramStats]] parquet): per-doc
    * novelty depends only on the doc and the census, so the op is
    * STATELESS — no state store, no watermark; the union over runs ≡
    * one batch [[graft.pipeline.TextAnalysis.ngramNovelty]] over
    * everything ingested (p273 gates under p271's oracle). Results
    * flush as overwrite-by-batch-id runs (redelivery idempotent — the
    * bm25IndexIngest contract). The census reads fresh per batch, so
    * a concurrently-folded artifact is picked up at the next batch —
    * each batch scores against ONE consistent census version.
    */
  def noveltyIngest(docs: DataFrame, idCol: String, textCol: String,
      censusPath: String, n: Int, basePath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        TextAnalysis.ngramNovelty(batch, idCol, textCol,
          batch.sparkSession.read.parquet(censusPath), n)
          .write.mode("overwrite").parquet(s"$basePath/novelty/run=$id")
    }

  /** Streaming stupid-backoff LM scoring — each arriving micro-batch
    * scores its docs' trigram transitions against the STANDING model
    * artifact (a persisted [[graft.pipeline.TextAnalysis
    * .trainBackoffLm]] table): per-doc scores depend only on the doc
    * and the model, so the op is STATELESS — no state store, no
    * watermark; the union over runs ≡ one batch
    * [[graft.pipeline.TextAnalysis.backoffLmScore]] over everything
    * ingested (p292 gates under p283's oracle). Results flush as
    * overwrite-by-batch-id runs (redelivery idempotent — the
    * bm25IndexIngest contract); the model reads fresh per batch, so a
    * re-trained artifact is picked up at the next batch.
    */
  def backoffLmIngest(docs: DataFrame, idCol: String, textCol: String,
      modelPath: String, basePath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        TextAnalysis.backoffLmScore(batch, idCol, textCol,
          batch.sparkSession.read.parquet(modelPath))
          .write.mode("overwrite").parquet(s"$basePath/scores/run=$id")
    }

  /** Streaming nominate+confirm dedup ingest — each arriving
    * micro-batch probes the standing
    * [[graft.pipeline.Dedup.saveSimhashCorpus]] artifact independently
    * (sketch-bucket nomination + banded-Levenshtein confirm, the
    * [[containmentIngest]] shape at sketch grain): per-doc pairs
    * depend only on the doc and the artifact, so the op is STATELESS
    * and the union over runs ≡ one batch probe over everything
    * ingested (p280 gates under p279's oracle). Overwrite-by-batch-id
    * runs keep redelivery idempotent.
    */
  def editVerifyIngest(docs: DataFrame, idCol: String, textCol: String,
      snapshotPath: String, maxHamming: Int, maxDist: Int, basePath: String,
      tokenHash: Column => Column = xxhash64(_)):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        graft.pipeline.Dedup.editVerifyAgainstSnapshot(batch, idCol,
          textCol, snapshotPath, maxHamming, maxDist, tokenHash)
          .write.mode("overwrite").parquet(s"$basePath/pairs/run=$id")
    }

  /** The standing census of a [[categoryCensusIngest]] store: per-(g,
    * cat) sum over the runs (the additive fold, evaluated at read).
    */
  def readCategoryCensus(spark: org.apache.spark.sql.SparkSession,
      basePath: String): DataFrame =
    spark.read.parquet(s"$basePath/census")
      .groupBy(col("g"), col("cat"))
      .agg(sum(col("c")).cast("long").as("c"))

  /** Streaming k-NN graph maintenance — an LSM-shaped twin of batch
    * [[graft.pipeline.Similarity.knnGraphDelta]] that NEVER rewrites
    * the carried graph: each micro-batch of vectors assigns under the
    * frozen codebook ([[graft.pipeline.Similarity.ivfIndexTable]]
    * lineage), appends its index rows as `index/run=<id>`, and writes
    * ONE graph run `graph/run=<id>` holding the re-derived
    * [[graft.pipeline.Similarity.knnGraphTouched]] rows for exactly
    * the cells this batch touched, computed against the standing index
    * (runs `< id` — a replayed batch sees the same prefix, so
    * overwrite-by-batch-id keeps redelivery idempotent; the graph run
    * is a pure function of the index prefix plus the batch, no
    * predecessor-graph read, so no version chain to protect). Readout
    * ([[readKnnGraph]]) takes each cell's LATEST run: a cell's
    * resident set only grows, so its newest recompute supersedes all
    * earlier ones — the append-only fold law at graph grain
    * (p282 gates the readout under p281's one-shot oracle).
    * Ids must be disjoint across arrivals and there is ONE writer per
    * store; disjointness is enforced LOUDLY per batch (the
    * knnGraphDelta broadcast probe — a doubled vector would silently
    * shift every rank in its cell).
    */
  def knnGraphIngest(vecs: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, k: Int, kNbrs: Int, basePath: String,
      maxTouchedRows: Long = 5000000L):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        knnGraphBatchFold(batch, idCol, vecCol, codebook, k, kNbrs,
          basePath, id, maxTouchedRows)
    }

  /** One [[knnGraphIngest]] fold as a BATCH call — assign the batch
    * under the frozen codebook, derive the touched cells' graph rows
    * against the standing index prefix (runs `< runId`), flush both
    * runs. The ingest's foreachBatch body IS this function (one
    * definition); callers doing scheduled bulk appends use it directly
    * with their own monotone `runId`s (later appends must use larger
    * ids — the prefix rule is what keeps replay deterministic).
    */
  def knnGraphBatchFold(batch: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, k: Int, kNbrs: Int, basePath: String,
      runId: Long, maxTouchedRows: Long = 5000000L): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val d = graft.pipeline.Similarity
      .ivfIndexTable(batch, idCol, vecCol, codebook, k)
      .localCheckpoint() // standing union + its own run flush
    val standing = readKnnIndex(s, basePath, d.limit(0), runId)
      .localCheckpoint(eager = false) // collision probe + touched recompute
    // loud disjointness — a redelivered id would sit in its cell TWICE
    // (its own sim-1.0 neighbor, every rank shifted) with no error;
    // same broadcast probe and wording as knnGraphDelta
    require(standing
        .join(broadcast(d.select(col("id"))), Seq("id"), "left_semi").isEmpty,
      "knnGraphBatchFold: batch ids collide with the standing index — " +
        "dedupe the feed or reindex")
    val cells = graft.pipeline.Similarity.deltaCells(d)
    // write order = derivation order: index run first (the graph is a
    // function of it), graph second, graphcells manifest LAST — a
    // reader between writes never sees graph edges for vectors absent
    // from the standing index, and the readout (manifest-resolved)
    // never sees a manifest without its graph run. Replay-safe: the
    // standing read filters runs < runId, so a crash mid-batch leaves
    // partial run=runId dirs that the rerun overwrites and no earlier
    // read ever includes. Full consistency is still only guaranteed at
    // batch boundaries (single-writer contract).
    val sfx = genSuffix(
      new org.apache.hadoop.fs.Path(basePath).getFileSystem(
        s.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(basePath))
    d.write.mode("overwrite")
      .parquet(s"$basePath/index$sfx/run=$runId")
    graft.pipeline.Similarity
      .knnGraphTouchedWithCells(standing, d, cells, kNbrs, maxTouchedRows)
      .write.mode("overwrite")
      .parquet(s"$basePath/graph$sfx/run=$runId")
    cells.map(_.asInstanceOf[Number].longValue).toDF("cell")
      .write.mode("overwrite")
      .parquet(s"$basePath/graphcells$sfx/run=$runId")
  }

  /** TWO-SOURCE streaming kNN-store maintenance — the production
    * protocol [[knnGraphIngest]] lacks: a vector feed AND a delete-id
    * feed driving ONE store through ONE query (one writer, one
    * checkpoint, one monotone run-id space — two concurrent queries
    * would collide batch ids and break the single-writer contract).
    * The two streams union into a typed event feed (`op` = add | del);
    * each micro-batch applies its DELETES FIRST at run `2·batchId`
    * ([[knnStoreDelete]]: tombstone run + touched-cells recompute over
    * survivors) and then folds its ADDS at run `2·batchId + 1`
    * ([[knnGraphBatchFold]] against the prefix that now includes this
    * batch's tombstones) — so within one batch a delete+re-add of the
    * same id lands as delete-then-insert, and across batches a
    * re-inserted id survives because the index read's tombstone shadow
    * is run-order-aware (a delete at run r kills runs ≤ r only; see
    * [[readKnnIndex]]). Both run writes are pure functions of the run
    * prefix plus the batch and overwrite by run id, so redelivery is
    * idempotent exactly as in the single-source ingest. Ids must be
    * unique among LIVE vectors; adding an id that is currently
    * standing (never deleted, or re-added without an intervening
    * delete) trips the fold's loud collision probe.
    * Gated by p299 under the p291 survivor-graph oracle; the
    * delete-then-insert-same-id lifecycle is spec-pinned in
    * StreamingSpec.
    */
  def knnStoreIngest(vecs: DataFrame, idCol: String, vecCol: String,
      deletes: DataFrame, delIdCol: String, codebook: DataFrame, k: Int,
      kNbrs: Int, basePath: String, maxTouchedRows: Long = 5000000L):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val vecType = vecs.schema(vecCol).dataType
    val events = vecs.select(col(idCol).as("id"),
        col(vecCol).as("embedding"), lit("add").as("op"))
      .unionByName(deletes.select(col(delIdCol).as("id"),
        lit(null).cast(vecType).as("embedding"), lit("del").as("op")))
    events.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) {
        val b = batch.localCheckpoint() // split into dels + adds below
        val dels = b.filter(col("op") === "del").select(col("id"))
        val adds = b.filter(col("op") === "add")
          .select(col("id"), col("embedding"))
        if (!dels.isEmpty)
          knnStoreDelete(b.sparkSession, basePath, dels, kNbrs,
            2 * id, maxTouchedRows)
        if (!adds.isEmpty)
          knnGraphBatchFold(adds, "id", "embedding", codebook, k, kNbrs,
            basePath, 2 * id + 1, maxTouchedRows)
      }
    }
  }

  /** The LIVE standing index of a [[knnGraphIngest]] store as of
    * `beforeRun`: index runs `< beforeRun` with tombstoned ids
    * ([[knnStoreDelete]] runs `< beforeRun`) shadowed out. The shadow
    * is RUN-ORDER-AWARE (the LWW rule at run grain, exactly the
    * reference's timestamped tombstones, db/RowMutation.java:202-216):
    * a delete at run r kills index rows of the same id from runs ≤ r
    * and NOTHING later, so a re-insert of a previously deleted id at a
    * larger run id survives — the delete-then-insert-same-id lifecycle
    * the two-source ingest ([[knnStoreIngest]]) needs. Both reads are
    * partition-discovered (`run=` dirs) with a static `run < beforeRun`
    * filter, so only prefix runs' files are touched. `empty` supplies
    * the schema when nothing is standing yet.
    */
  private def readKnnIndex(spark: org.apache.spark.sql.SparkSession,
      basePath: String, empty: DataFrame, beforeRun: Long): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE pointer resolution for the whole read: index and deletes must
    // come from the same generation (see genSuffixOf)
    val sfx = genSuffix(fs, base)
    val idxDir = "index" + sfx
    val delDir = "deletes" + sfx
    val runs = graft.operators.EventOps
      .listIdDirs(fs, base, idxDir, "run=").filter(_ < beforeRun)
    if (runs.isEmpty) return empty
    val standing = spark.read.parquet(s"$basePath/$idxDir")
      .filter(col("run") < beforeRun)
    val delRuns = graft.operators.EventOps
      .listIdDirs(fs, base, delDir, "run=").filter(_ < beforeRun)
    if (delRuns.isEmpty)
      standing.select(col("id"), col("cell"), col("embedding"))
    else {
      // one row per tombstoned id: its newest delete run — ≤ distinct
      // deleted ids, map-side-combined before the join
      val dels = spark.read.parquet(s"$basePath/$delDir")
        .filter(col("run") < beforeRun)
        .groupBy(col("id")).agg(max(col("run")).as("del_run"))
      standing.join(dels, Seq("id"), "left_outer")
        .filter(col("del_run").isNull || col("del_run") < col("run"))
        .select(col("id"), col("cell"), col("embedding"))
    }
  }

  /** DELETE vectors from a [[knnGraphIngest]] store — the tombstone
    * concept at ANN grain (compliance removals from a standing
    * embedding index): a deleted vector must vanish as a NODE and as a
    * NEIGHBOR (rank-(k+1) candidates promote into freed slots), so a
    * delete re-derives exactly the cells holding deleted vectors over
    * the post-delete residents and flushes them as one more graph run,
    * plus the tombstone run every future index read shadows. Deletion
    * BREAKS the append-era monotone-residents argument (a touched
    * cell's recompute can now be EMPTY while older runs have rows),
    * which is why every graph run carries a `graphcells` manifest and
    * [[readKnnGraph]] resolves latest-run-per-cell from MANIFESTS, not
    * from surviving rows. `runId` shares the store's monotone id space
    * (the knnGraphBatchFold contract).
    */
  def knnStoreDelete(spark: org.apache.spark.sql.SparkSession,
      basePath: String, ids: DataFrame, kNbrs: Int, runId: Long,
      maxTouchedRows: Long = 5000000L): Unit = {
    val sfx = genSuffix(
      new org.apache.hadoop.fs.Path(basePath).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(basePath))
    val del = ids.select(col("id")).localCheckpoint() // probe + flush
    val standing = readKnnIndex(spark, basePath, emptyKnnIndex(spark), runId)
      .localCheckpoint(eager = false) // touched probe + live recompute
    val touchedCells = standing.join(del, Seq("id"), "left_semi")
      .select(col("cell")).distinct().localCheckpoint()
    val cells = touchedCells.collect().map(_.get(0)).toSeq
    if (cells.nonEmpty) {
      val live = standing.join(del, Seq("id"), "left_anti")
        .filter(col("cell").isin(cells: _*))
        .localCheckpoint(eager = false) // counted + both join sides
      require(live.count() <= maxTouchedRows,
        s"knnStoreDelete: touched cells exceed maxTouchedRows = " +
          s"$maxTouchedRows — delete in slices")
      graft.pipeline.Similarity.knnGraphTable(live, kNbrs)
        .write.mode("overwrite")
        .parquet(s"$basePath/graph$sfx/run=$runId")
      touchedCells.select(col("cell").cast("long").as("cell"))
        .write.mode("overwrite")
        .parquet(s"$basePath/graphcells$sfx/run=$runId")
    }
    del.write.mode("overwrite")
      .parquet(s"$basePath/deletes$sfx/run=$runId")
  }

  /** Compact a [[knnGraphIngest]] store — the p262 publish-then-swap
    * fold at ANN grain: consolidate every index run into ONE run
    * (range-laid by cell, so a future fold's static `cell IN (…)`
    * filter prunes to touched row groups) and every graph run into ONE
    * run holding the latest-per-cell rows ([[readKnnGraph]]'s own
    * readout — compaction IS materializing the readout). Both
    * consolidated runs keep the NUMERIC id of the largest run they
    * absorb, so the prefix rule (`runs < runId`) and the
    * latest-run-per-cell readout hold unchanged and the lifecycle
    * continues: later appends just use larger ids. Offline
    * maintenance — stop the writer first (the swap window is not
    * concurrent-reader-safe, same as compactPositionalPostings).
    *
    * CRASH RECOVERY: every consolidated substore is fully written
    * under the next generation's dirs BEFORE the single pointer rename
    * publishes them ([[commitGen]]) — a crash before the rename leaves
    * readers on the old store whole, a crash after leaves them on the
    * new store whole; there is no state in which the three substores
    * mix. Recovery is re-read-the-pointer (i.e. nothing): rerun
    * compaction and the orphaned generation dirs are collected by
    * [[gcGenerations]].
    */
  def compactKnnStore(spark: org.apache.spark.sql.SparkSession,
      basePath: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxRuns = graft.operators.EventOps.listIdDirs(fs, base,
      subDirName(fs, base, "index"), "run=")
    val gRuns = graft.operators.EventOps.listIdDirs(fs, base,
      subDirName(fs, base, "graphcells"), "run=")
    require(idxRuns.nonEmpty && gRuns.nonEmpty,
      "compactKnnStore: nothing to compact")
    val gen = currentGen(fs, base) + 1
    clearGen(fs, base, gen, Seq("index", "graph", "graphcells", "deletes"))
    // write every consolidated substore BEFORE the one-rename commit;
    // tombstones are APPLIED here, and the new generation has no
    // deletes dir (single writer — no grace wait, the compactBm25Store
    // argument at ANN grain)
    val live = readKnnIndex(spark, basePath, emptyKnnIndex(spark), Long.MaxValue)
      .localCheckpoint(eager = false) // index flush + manifest
    live.repartitionByRange(col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite")
      .parquet(s"$basePath/index.g$gen/run=${idxRuns.max}")
    readKnnGraph(spark, basePath)
      .repartitionByRange(col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite")
      .parquet(s"$basePath/graph.g$gen/run=${gRuns.max}")
    // manifest = the consolidated index's populated cells: any cell a
    // delete emptied has no residents, no surviving rows in any run
    // after the publish, and needs no manifest entry
    live.select(col("cell").cast("long").as("cell")).distinct()
      .write.mode("overwrite")
      .parquet(s"$basePath/graphcells.g$gen/run=${gRuns.max}")
    commitGen(fs, base, gen,
      Seq("index", "graph", "graphcells", "deletes"), "compactKnnStore")
    gcGenerations(fs, base, gen,
      Seq("index", "graph", "graphcells", "deletes"))
  }

  /** REINDEX a [[knnGraphIngest]] store under a NEW codebook — the
    * operation every fold/delete scaladoc defers to ("a re-trained
    * codebook is a REINDEX"): when [[graft.pipeline.Similarity.suggestK]]
    * says the frozen codebook is too coarse (or drift re-trained it),
    * the store cannot be folded forward — cells under different
    * codebooks are not comparable — so the whole live corpus
    * re-assigns ONCE. Reads the live index (tombstones applied),
    * assigns every vector to its nearest NEW centroid, rebuilds the
    * full graph over the new cells (one [[graft.pipeline.Similarity
    * .knnGraphTable]] pass — the occupancy guard prices it loudly
    * before it runs: reindexing INTO a still-too-coarse codebook fails
    * with the suggestK message, never a silent quadratic), and
    * publishes index + graph + graphcells via the [[compactKnnStore]]
    * swap protocol under the store's max run id — the prefix rule and
    * lifecycle continue, tombstones are applied and GC'd. Offline
    * maintenance: stop the writer first; same crash-recovery rule as
    * compactKnnStore. Later folds MUST assign against the new codebook
    * (the caller owns codebook versioning — persist it next to the
    * store).
    */
  def reindexKnnStore(spark: org.apache.spark.sql.SparkSession,
      basePath: String, codebook: DataFrame, k: Int, kNbrs: Int,
      maxPairs: Long = graft.pipeline.Similarity.DefaultMaxGraphPairs): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxRuns = graft.operators.EventOps.listIdDirs(fs, base,
      subDirName(fs, base, "index"), "run=")
    require(idxRuns.nonEmpty, "reindexKnnStore: nothing to reindex")
    val runId = math.max(idxRuns.max,
      graft.operators.EventOps.listIdDirs(fs, base,
        subDirName(fs, base, "graphcells"), "run=")
        .foldLeft(0L)(math.max))
    val gen = currentGen(fs, base) + 1
    clearGen(fs, base, gen, Seq("index", "graph", "graphcells", "deletes"))
    val live = readKnnIndex(spark, basePath, emptyKnnIndex(spark), Long.MaxValue)
      .select(col("id"), col("embedding"))
      .localCheckpoint(eager = false) // assignment + vector join
    val newIdx = graft.pipeline.Similarity
      .assignExact(live, "id", "embedding", codebook, k)
      .join(live, Seq("id"))
      .select(col("id"), col("cluster").as("cell"), col("embedding"))
      .localCheckpoint(eager = false) // index flush + graph build + manifest
    // build the graph frame FIRST: knnGraphTable's occupancy guard is
    // eager, so a too-coarse target codebook fails here before any
    // unpublished-generation residue is written
    val newGraph = graft.pipeline.Similarity
      .knnGraphTable(newIdx, kNbrs, maxPairs)
    newIdx.repartitionByRange(col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(s"$basePath/index.g$gen/run=$runId")
    newGraph
      .repartitionByRange(col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(s"$basePath/graph.g$gen/run=$runId")
    newIdx.select(col("cell").cast("long").as("cell")).distinct()
      .write.mode("overwrite")
      .parquet(s"$basePath/graphcells.g$gen/run=$runId")
    // one atomic publish — an index-only store (no graph yet) needs no
    // special case: the new generation defines all three substores
    commitGen(fs, base, gen,
      Seq("index", "graph", "graphcells", "deletes"), "reindexKnnStore")
    gcGenerations(fs, base, gen,
      Seq("index", "graph", "graphcells", "deletes"))
  }

  /** Ad-hoc ANN QUERY against a standing kNN store — the ONLINE read
    * path next to the precomputed graph artifact: each query vector
    * assigns to its `nProbe` nearest cells under the store's FROZEN
    * codebook ([[graft.pipeline.Similarity.assignExactTopCells]]),
    * candidates come from the LIVE standing index (tombstones applied,
    * re-inserts resolved — [[readKnnIndex]]'s shadow), and exact
    * cosine re-ranks top-k per query. Cost: the query batch fans
    * ×nProbe onto cell-pruned candidate sets — never a corpus scan;
    * the standing side is read once and joined on cell. `excludeSelf`
    * drops a candidate whose id equals the query's (probing the store
    * with its own residents). LAW (p303 + spec): querying with the
    * live residents at nProbe = 1 with excludeSelf ≡ the standing
    * graph readout [[readKnnGraph]] minus the cell column — the
    * online path and the artifact cannot drift.
    */
  def knnStoreQuery(spark: org.apache.spark.sql.SparkSession,
      basePath: String, queries: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, k: Int, nProbe: Int, topK: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(topK >= 1, "topK >= 1")
    graft.functions.GraftFunctions.register(spark)
    val live = readKnnIndex(spark, basePath, emptyKnnIndex(spark),
      Long.MaxValue)
    val q = queries.select(col(idCol).as("id"), col(vecCol).as("qv"))
      .localCheckpoint(eager = false) // probe assignment + vector join
    val probes = graft.pipeline.Similarity
      .assignExactTopCells(q, "id", "qv", codebook, k, nProbe)
      .select(col("id"), col("cluster").as("cell"))
    probes.join(q, Seq("id"))
      .join(live.select(col("cell"), col("id").as("nbr"),
        col("embedding")), Seq("cell"))
      .filter(if (excludeSelf) col("id") =!= col("nbr") else lit(true))
      .withColumn("sim", nanvl(
        call_function("graft_cosine", col("qv"), col("embedding")),
        lit(-2.0)))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("sim").desc, col("nbr"))))
      .filter(col("rank") <= topK)
      .select(col("id"), col("rank").cast("long").as("rank"), col("nbr"))
  }

  /** The current graph of a [[knnGraphIngest]] store: per cell, the
    * rows of the LATEST run that recomputed it — resolved from the
    * `graphcells` MANIFESTS, not from surviving rows, because a
    * [[knnStoreDelete]] recompute can legitimately leave a touched
    * cell EMPTY (every resident deleted, or one left) and the readout
    * must NOT fall back to that cell's stale older rows. The
    * manifest-max table is ≤ #cells rows and broadcasts.
    */
  def readKnnGraph(spark: org.apache.spark.sql.SparkSession,
      basePath: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE pointer resolution for the whole readout: manifests and graph
    // rows must come from the same generation (see genSuffixOf)
    val sfx = genSuffix(fs, base)
    val gcDir = "graphcells" + sfx
    if (graft.operators.EventOps
        .listIdDirs(fs, base, gcDir, "run=").isEmpty)
      return spark.range(0).select(col("id").as("cell"), col("id"),
        col("id").as("rank"), col("id").as("nbr"))
    val latest = spark.read.parquet(s"$basePath/$gcDir")
      .groupBy(col("cell")).agg(max(col("run")).as("run"))
    spark.read.parquet(s"$basePath/graph$sfx")
      .join(broadcast(latest), Seq("cell", "run"))
      .select(col("cell"), col("id"), col("rank"), col("nbr"))
  }

  // ---- run-store snapshot / restore (VERDICT r17 task 3): the q43
  // hard-link machinery extended to the standing pipeline artifacts
  // (kNN index/graph/manifests, BM25 postings, positional postings,
  // censuses — any store whose substores hold `run=<id>` children,
  // including single-dir stores whose base IS the run dir). Reference
  // analog: maint/ClusterSnapshotTask.java snapshots every CF;
  // db/ColumnFamilyStore.java:1283-1330 hard-links immutable SSTables.

  private val SnapshotsDir = "_snapshots"

  /** Adopt snapshots stranded in `<base>__old` by a whole-base-swap
    * compaction that crashed between its publish rename and its
    * snapshot carry (compactPositionalPostings' crash window): move
    * each stranded snapshot whose name the live store doesn't already
    * have into the live `_snapshots` tree. Without this,
    * [[restoreRunStore]] would fail its exists-require and
    * [[listRunStoreSnapshots]] would return empty at EXACTLY the
    * moment an operator reaches for the backup — recovery must not
    * require knowing to run a full compaction (a data rewrite) first.
    * Only the snapshots move; the rest of `__old` stays for the next
    * compaction's entry heal to collect.
    */
  private def adoptStrandedSnapshots(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Unit = {
    // normalized Path.toString — a trailing slash in the caller's base
    // string must not relocate the sibling
    val old = new org.apache.hadoop.fs.Path(base.toString + "__old")
    val oldSnaps = new org.apache.hadoop.fs.Path(old, SnapshotsDir)
    if (fs.exists(base) && fs.exists(oldSnaps)) {
      val liveSnaps = new org.apache.hadoop.fs.Path(base, SnapshotsDir)
      fs.mkdirs(liveSnaps)
      fs.listStatus(oldSnaps).foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(liveSnaps, st.getPath.getName)
        if (!fs.exists(dst))
          require(fs.rename(st.getPath, dst),
            s"adoptStrandedSnapshots: could not adopt ${st.getPath}")
      }
    }
  }

  /** The store's LIVE substore names (plain, generation-normalized) —
    * dirs the current pointer references (or the plain legacy dirs at
    * generation 0), hidden/residue dirs excluded.
    */
  private def liveSubs(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[(String, org.apache.hadoop.fs.Path)] = {
    val g = currentGen(fs, base)
    fs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
      .flatMap { d =>
        val n = d.getName
        val residue = n.startsWith("_") || n.startsWith(".") ||
          n.endsWith("__old") || n.endsWith("__compact") || n.endsWith("_next")
        if (residue) None
        else if (g == 0L) {
          // legacy layout: plain dirs are live; any .g dirs are residue
          if ("^(.+)\\.g([0-9]+)$".r.findFirstIn(n).isDefined) None
          else Some((n, d))
        } else if (n.endsWith(s".g$g")) Some((n.stripSuffix(s".g$g"), d))
        else None
      }
  }

  /** Snapshot a run store into `<base>/_snapshots/<name>/` by HARD
    * LINK ([[graft.util.FsTrees.linkTree]] — O(#files), no data IO;
    * immutable runs make a link a consistent full copy that survives
    * later compaction/GC). The snapshot is GENERATION-NORMALIZED: it
    * holds the live substores under their PLAIN names, so it reads
    * directly as a legacy-layout store (`readKnnGraph(spark,
    * snapshotPath)` just works) and restores onto any later
    * generation.
    *
    * CONSISTENCY — the entry-time run cut: every live substore's run
    * set is LISTED at entry, before any link, so an append landing
    * mid-snapshot (always a larger run id under the monotone
    * contract) is simply not in the listed set and can not leave a
    * torn suffix. Cross-substore atomicity within one batch is the
    * OFFLINE contract: stop the writer (the same single-writer rule
    * as compaction — a snapshot racing a delete batch could hold the
    * recomputed graph without its tombstone run). Non-numeric run
    * tags (the positional store's `run=compacted`) are included like
    * any other. Idempotent per name: an existing snapshot of the same
    * name is replaced. Returns the snapshot path.
    */
  def snapshotRunStore(spark: org.apache.spark.sql.SparkSession,
      basePath: String, name: String): String = {
    require(name.nonEmpty && !name.contains("/"),
      s"snapshotRunStore: bad snapshot name '$name'")
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(base), s"snapshotRunStore: no store at $basePath")
    val conf = spark.sparkContext.hadoopConfiguration
    val snapDir = new org.apache.hadoop.fs.Path(base, s"$SnapshotsDir/$name")
    fs.delete(snapDir, true)
    def runDirs(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).toSeq.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("run=")).map(_.getPath)
    // single-dir store: the base itself holds run= children
    val baseRuns = runDirs(base)
    val subs: Seq[(String, Seq[org.apache.hadoop.fs.Path])] =
      if (baseRuns.nonEmpty) Seq(("", baseRuns))
      else liveSubs(fs, base).map { case (plain, dir) => (plain, runDirs(dir)) }
    require(subs.exists(_._2.nonEmpty),
      s"snapshotRunStore: no run dirs under $basePath")
    // the cut IS the entry-time listing: every substore's run set was
    // materialized above before any link, so a run landing after entry
    // (always a larger id under the monotone contract) is simply not in
    // `subs`. Atomicity across substores within one batch is the
    // OFFLINE contract (stop the writer), same as compaction.
    subs.foreach { case (plain, runs) =>
      val dst = if (plain.isEmpty) snapDir
        else new org.apache.hadoop.fs.Path(snapDir, plain)
      runs.foreach(r =>
        graft.util.FsTrees.linkTree(r,
          new org.apache.hadoop.fs.Path(dst, r.getName), conf))
    }
    snapDir.toString
  }

  /** Restore a run store from a [[snapshotRunStore]] snapshot. For a
    * POINTER-AWARE store (the kNN/BM25 substore families, or any store
    * already generation-committed) the restore is ATOMIC: the
    * snapshot's runs are linked in as the NEXT generation and one
    * pointer commit publishes them ([[commitGen]] — a reader sees the
    * pre-restore store or the snapshot, never a mix; a crash
    * mid-restore leaves the store untouched). A PLAIN-READER store
    * (censuses, registries — their readers open plain dir names) and a
    * single-dir store (positional postings) restore by retire-and-link
    * under the stop-the-readers contract their own maintenance already
    * carries. Post-restore appends continue the lifecycle: run ids in
    * the snapshot keep their numbers, so the monotone-id contract
    * holds for ids above the snapshot's max.
    */
  def restoreRunStore(spark: org.apache.spark.sql.SparkSession,
      basePath: String, name: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    adoptStrandedSnapshots(fs, base)
    val snapDir = new org.apache.hadoop.fs.Path(base, s"$SnapshotsDir/$name")
    require(fs.exists(snapDir), s"restoreRunStore: no snapshot '$name' under $basePath")
    val snapRuns = fs.listStatus(snapDir).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("run=")).map(_.getPath)
    if (snapRuns.nonEmpty) {
      // single-dir store: retire the live run dirs, link the snapshot's.
      // The retire dir is HIDDEN and INSIDE the store (Path(parent,name),
      // never string concatenation — a trailing slash in basePath must
      // not change where it lands): readers' partition discovery skips
      // dot-dirs, and a crash between retire and link leaves residue
      // RunIntegrity's base listing can actually surface, unlike a
      // stringly-named sibling outside the store.
      val old = new org.apache.hadoop.fs.Path(base, "._restore_old")
      fs.delete(old, true)
      fs.mkdirs(old)
      fs.listStatus(base).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("run=")).foreach(st =>
        require(fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(old, st.getPath.getName)),
          s"restoreRunStore: could not retire ${st.getPath}"))
      snapRuns.foreach(r => graft.util.FsTrees.linkTree(r,
        new org.apache.hadoop.fs.Path(base, r.getName), conf))
      fs.delete(old, true)
    } else {
      val subs = fs.listStatus(snapDir).toSeq.filter(_.isDirectory)
        .map(_.getPath)
      require(subs.nonEmpty, s"restoreRunStore: empty snapshot '$name'")
      val subNames = subs.map(_.getName)
      // The ATOMIC pointer path is only correct for stores whose READERS
      // resolve the pointer (the kNN and BM25 families, plus any store
      // already generation-committed). A plain-reader store (census,
      // novelty, registries — their readers open the plain dir names)
      // restores by retire-and-link instead: same stop-the-readers
      // contract as the single-dir path above.
      val pointerAware = Set("index", "graph", "graphcells", "deletes",
        "postings", "doclens")
      if (currentGen(fs, base) > 0L || subNames.forall(pointerAware)) {
        val gen = currentGen(fs, base) + 1
        // clear the CONVENTIONAL substores too, not just the snapshot's:
        // a crashed earlier restore of a DIFFERENT snapshot at this same
        // generation number may have left a substore (e.g. deletes.g<gen>)
        // this snapshot doesn't carry — publishing would atomically
        // resurrect its tombstones over the restored view
        clearGen(fs, base, gen, (subNames ++ pointerAware.toSeq).distinct)
        subs.foreach(sd => graft.util.FsTrees.linkTree(sd,
          new org.apache.hadoop.fs.Path(base, s"${sd.getName}.g$gen"), conf))
        commitGen(fs, base, gen, subNames, "restoreRunStore")
        // collect the replaced generation — the snapshot's substores plus
        // the conventional names cover substores the snapshot lacks (a
        // pre-restore deletes dir must not linger; anything truly exotic
        // left behind is reported by RunIntegrity as superseded residue)
        gcGenerations(fs, base, gen, (subNames ++ pointerAware.toSeq).distinct)
      } else subs.foreach { sd =>
        val live = new org.apache.hadoop.fs.Path(base, sd.getName)
        val old = new org.apache.hadoop.fs.Path(base, sd.getName + "__old")
        fs.delete(old, true)
        if (fs.exists(live))
          require(fs.rename(live, old),
            s"restoreRunStore: could not retire $live")
        graft.util.FsTrees.linkTree(sd, live, conf)
        fs.delete(old, true)
      }
    }
  }

  /** List a store's [[snapshotRunStore]] snapshots by name (adopting
    * any crash-stranded in `__old` first — see
    * [[adoptStrandedSnapshots]]).
    */
  def listRunStoreSnapshots(spark: org.apache.spark.sql.SparkSession,
      basePath: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    adoptStrandedSnapshots(fs, base)
    val snaps = new org.apache.hadoop.fs.Path(base, SnapshotsDir)
    if (!fs.exists(snaps)) Seq.empty
    else fs.listStatus(snaps).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Streaming passage-fingerprint registry — the ingestion-state twin
    * of batch [[graft.pipeline.Dedup.dedupChunks]]: chunk each arriving
    * document (the same chunkByTokens lineage), fingerprint each chunk,
    * and admit first arrivals into the seen-passage registry
    * (`dropDuplicates` state keyed by fp — one state row per DISTINCT
    * passage, the [[dedupExact]] shape at passage grain). Emits the
    * registry contents as (fp, n_tokens): WHICH copy registered first
    * is arrival-order-dependent, but the distinct fingerprint set and
    * each passage's token count are not — so the batch chunk-census
    * oracle gates the stream exactly on ANY feed order, while
    * keep-first flag semantics are pinned by StreamingSpec on an
    * explicitly ordered feed. State is one small row per distinct
    * passage; for unbounded feeds compose with a watermark the same way
    * as [[dedupExactWithinWatermark]].
    */
  def chunkRegistry(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, stride: Int): DataFrame =
    TextAnalysis.chunkByTokens(docs, idCol, textCol, maxTokens, stride)
      .withColumn("fp", md5(col("chunk_text")))
      // chunk_text is space-joined tokens, so a single-space split
      // inverts it exactly — no need to re-run the tokenizer regex on
      // every chunk of the ingestion hot path
      .withColumn("n_tokens", size(split(col("chunk_text"), " ")).cast("long"))
      .dropDuplicates("fp")
      .select(col("fp"), col("n_tokens"))

  /** Streaming CDC-chunk registry — the [[chunkRegistry]] pattern at the
    * content-defined grain: arriving docs chunk through the batch
    * [[graft.pipeline.Dedup.cdcChunks]] lineage (the ONE boundary
    * definition) and first arrivals register per distinct chunk
    * fingerprint; `dropDuplicates(fp)` keeps one state row per DISTINCT
    * chunk, so re-crawled near-identical pages (the CDC insertion-robust
    * case) add only their perturbed chunks to state. Emits one (fp) row
    * per distinct chunk, arrival-order-insensitive by construction.
    */
  def cdcRegistry(docs: DataFrame, idCol: String, textCol: String,
      window: Int, mask: Int): DataFrame =
    graft.pipeline.Dedup.cdcChunks(docs, idCol, textCol, window, mask)
      .dropDuplicates("fp")
      .select(col("fp"))

  /** Streaming decontamination: emit the id of each arriving document
    * that shares a word n-gram with the (static) eval-set gram table —
    * once, on first discovery. Eval benchmarks are fixed while the crawl
    * streams, so this is a stream-STATIC left-semi equi-join (stateless,
    * broadcast below AQE's threshold) plus a `dropDuplicates(id)` state
    * row per CONTAMINATED doc only — contamination is rare by
    * construction, so state stays tiny on an unbounded feed.
    */
  def contaminatedIds(docs: DataFrame, evalGrams: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.wordNgrams(col(textCol), n))).as("gram"))
      .join(evalGrams.select(col("gram")), Seq("gram"), "left_semi")
      .select(col("id"))
      .dropDuplicates("id")

  /** Bounded-state decontamination: like [[contaminatedIds]] but the
    * per-contaminated-doc dedup row is dropped once the watermark passes —
    * the gcGrace analog for contamination state. For a feed where
    * contamination is NOT rare (an eval-overlapping crawl burst),
    * unwatermarked `dropDuplicates` would retain one state row per
    * contaminated doc forever; here state is bounded by the delay window.
    * A doc re-delivered farther apart than `delay` re-emits its id —
    * downstream sinks that need exactly-once over longer horizons dedup
    * idempotently on write (the id IS the key).
    */
  def contaminatedIdsWithinWatermark(docs: DataFrame, evalGrams: DataFrame,
      idCol: String, textCol: String, n: Int, eventTimeCol: String,
      delay: String): DataFrame =
    docs
      .withWatermark(eventTimeCol, delay)
      .select(col(idCol).as("id"), col(eventTimeCol),
        explode(array_distinct(TextAnalysis.wordNgrams(col(textCol), n))).as("gram"))
      .join(evalGrams.select(col("gram")), Seq("gram"), "left_semi")
      .dropDuplicatesWithinWatermark("id")
      .select(col("id"))

  /** One emitted near-dup pair, exact-verified (inter/uni over the hashed
    * shingle sets — exact modulo 64-bit collisions, like the batch
    * `hashShingles` path).
    */
  case class NearDupPair(ia: Long, ib: Long, inter: Long, uni: Long)

  /** Streaming MinHash-LSH near-duplicate detection: each arriving
    * document's signature is computed AS AN EXPRESSION (min of seeded
    * xxhash64 over its shingle set — no aggregation, unlike the batch
    * groupBy path), banded exactly like [[graft.pipeline.Dedup.lshCandidates]],
    * and matched against per-band-bucket state holding every prior
    * bucket member's hashed shingle set. Matches are exact-verified
    * against state before emission, so emitted pairs satisfy TRUE
    * Jaccard ≥ num/den — the same pairs the batch pipeline finds, as
    * they arrive.
    *
    * Semantics/scale notes:
    *  - a pair sharing several band buckets emits once PER BUCKET
    *    (buckets can't see each other); downstream `dropDuplicates` or a
    *    set-union sink collapses them,
    *  - re-delivered ids are ignored (exactly-once per bucket under
    *    at-least-once feeds),
    *  - state is the bucket's (id, shingle-hash set) list — bounded by
    *    bucket occupancy, and `maxBucket` (ON by default at
    *    [[graft.pipeline.Dedup.DefaultMaxBucket]], the batch
    *    lshCandidates guard) HARD-bounds it: the arrival that would push
    *    a bucket past the cap marks it overflowed — members are freed,
    *    the flag alone persists, and later arrivals to that bucket are
    *    ignored. Streaming can't retract, so pairs emitted among the
    *    first cap members before the overflow stand (the batch guard
    *    drops the bucket's pairs entirely); the recall contract is
    *    otherwise the batch one — only cap-sized duplication blobs stop
    *    nominating, which is exact-dedup's domain.
    */
  /** (id, band, bh, shh[, carried cols]) banded per-row signatures:
    * h_k = min over shingles of xxhash64(k, shingle) — identical values
    * to the batch minhashSignatures aggregate — banded into
    * numHashes/bands-hash band keys. Shared by the unbounded and
    * watermark-bounded near-dup paths so the banding can never diverge
    * between them; `carry` columns (the event-time attribute) pass
    * through un-renamed, which keeps their watermark tag.
    */
  private def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, carry: Seq[String] = Nil): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    val sh = array_distinct(TextAnalysis.wordNgrams(col(textCol), n))
    val sigCols = (0 until numHashes).map(k =>
      array_min(transform(col("_shs"), s => xxhash64(lit(k), s))).as(s"h$k"))
    val carryCols = carry.map(col)
    docs
      .select(Seq(col(idCol).as("id"), sh.as("_shs")) ++ carryCols: _*)
      .filter(size(col("_shs")) > 0)
      .select(Seq(col("id"),
        transform(col("_shs"), s => xxhash64(s)).as("shh")) ++ carryCols ++ sigCols: _*)
      .select(Seq(col("id"), col("shh"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(((b * r) until ((b + 1) * r)).map(k => col(s"h$k")): _*).as("bh"))
      }: _*)).as("bd")) ++ carryCols: _*)
      .select(Seq(col("id"), col("bd.band").as("band"), col("bd.bh").as("bh"),
        col("shh")) ++ carryCols: _*)
  }

  /** State-schema note (round 16): adding the overflow flag changed the
    * flatMapGroupsWithState state type from Seq[(Long, Seq[Long])] to
    * (Seq[(Long, Seq[Long])], Boolean) — HERE and in the watermarked
    * twin. A long-lived query restarted from a checkpoint written by a
    * pre-flag build fails to decode its state: discard the old
    * checkpoint (and accept re-seen pairs) on upgrade; there is no
    * in-place migration.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int, bands: Int, num: Int, den: Int,
      maxBucket: Option[Int] = Some(graft.pipeline.Dedup.DefaultMaxBucket)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    maxBucket.foreach(m => require(m >= 2,
      s"maxBucket $m must be >= 2 (a pair needs a bucket of 2)"))
    val cap = maxBucket.getOrElse(Int.MaxValue)
    val banded = bandedSignatures(docs, idCol, textCol, n, numHashes, bands)
      .as[(Long, Int, Long, Seq[Long])]
    banded
      .groupByKey { case (_, band, bh, _) => (band, bh) }
      .flatMapGroupsWithState[(Seq[(Long, Seq[Long])], Boolean), NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          var (seen, over) = state.getOption.getOrElse((Seq.empty[(Long, Seq[Long])], false))
          val out = Seq.newBuilder[NearDupPair]
          rows.foreach { case (id, _, _, shh) =>
            if (!over && !seen.exists(_._1 == id)) {
              // the arrival that would make occupancy cap+1 overflows the
              // bucket: free the members (the state cost), keep the flag
              if (seen.size >= cap) { over = true; seen = Seq.empty }
              else {
                val rs = shh.toSet
                seen.foreach { case (oid, oshh) =>
                  val inter = oshh.count(rs.contains)
                  val uni = rs.size + oshh.size - inter
                  if (inter.toLong * den >= uni.toLong * num) {
                    val (ia, ib) = if (oid < id) (oid, id) else (id, oid)
                    out += NearDupPair(ia, ib, inter.toLong, uni.toLong)
                  }
                }
                seen = seen :+ ((id, rs.toSeq))
              }
            }
          }
          state.update((seen, over))
          out.result().iterator
      }
      .toDF()
  }

  /** Bounded-state streaming near-dup: like [[nearDupPairs]] but each band
    * bucket's member list carries its event time and is evicted once the
    * watermark passes — the gcGrace analog for near-dup state, and the
    * answer to "what bounds this on an unbounded feed". Semantics traded
    * for the bound: pairs are found only between documents whose event
    * times are within the delay of each other (a near-dup arriving LATER
    * than the delay is missed here and caught by the periodic batch
    * pass), and a redelivery farther apart than the delay re-compares
    * like a new document. Empty/expired buckets remove their state row
    * entirely via the event-time timeout, so state size tracks the
    * in-window document count, not the corpus.
    *
    * `maxBucket` (ON by default) is [[nearDupPairs]]' overflow guard with
    * a watermark-scoped reset: an overflowed bucket keeps only its flag,
    * ignores further arrivals, and re-arms its timeout to each batch's
    * newest arrival — once the feed leaves it quiet for the delay, the
    * timeout reaps the flag and the bucket starts fresh (the gcGrace
    * analog for the guard itself).
    */
  def nearDupPairsWithinWatermark(docs: DataFrame, idCol: String,
      textCol: String, eventTimeCol: String, delay: String, n: Int,
      numHashes: Int, bands: Int, num: Int, den: Int,
      maxBucket: Option[Int] = Some(graft.pipeline.Dedup.DefaultMaxBucket)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    maxBucket.foreach(m => require(m >= 2,
      s"maxBucket $m must be >= 2 (a pair needs a bucket of 2)"))
    val cap = maxBucket.getOrElse(Int.MaxValue)
    val withWm = docs
      // cast BEFORE the watermark: a cast after it would produce a fresh
      // attribute without the event-time tag (EventTimeTimeout then fails
      // analysis); bandedSignatures carries the column un-renamed, which
      // keeps the tag through its selects
      .withColumn("__et", col(eventTimeCol).cast("timestamp"))
      .withWatermark("__et", delay)
    val banded = bandedSignatures(withWm, idCol, textCol, n, numHashes, bands,
      carry = Seq("__et"))
      .as[(Long, Int, Long, Seq[Long], java.sql.Timestamp)]
    banded
      .groupByKey { case (_, band, bh, _, _) => (band, bh) }
      .flatMapGroupsWithState[(Seq[(Long, Seq[Long], Long)], Boolean), NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var (seen0, over) = state.getOption
              .getOrElse((Seq.empty[(Long, Seq[Long], Long)], false))
            var seen = seen0.filter(_._3 >= wm)
            var lastEt = Long.MinValue
            val out = Seq.newBuilder[NearDupPair]
            rows.foreach { case (id, _, _, shh, et) =>
              lastEt = math.max(lastEt, et.getTime)
              if (!over && !seen.exists(_._1 == id)) {
                // overflow on the cap+1'th member: free members, keep flag
                if (seen.size >= cap) { over = true; seen = Seq.empty }
                else {
                  val rs = shh.toSet
                  seen.foreach { case (oid, oshh, _) =>
                    val inter = oshh.count(rs.contains)
                    val uni = rs.size + oshh.size - inter
                    if (inter.toLong * den >= uni.toLong * num) {
                      val (ia, ib) = if (oid < id) (oid, id) else (id, oid)
                      out += NearDupPair(ia, ib, inter.toLong, uni.toLong)
                    }
                  }
                  seen = seen :+ ((id, rs.toSeq, et.getTime))
                }
              }
            }
            if (seen.isEmpty && !over) state.remove()
            else {
              state.update((seen, over))
              // the whole bucket expires when the watermark passes its
              // NEWEST member (each member is individually filtered above
              // on earlier visits; the timeout reaps untouched buckets).
              // An overflowed bucket has no members — its flag expires
              // once the watermark passes the newest ARRIVAL it ignored.
              val newest =
                if (seen.nonEmpty) seen.map(_._3).max else lastEt
              state.setTimeoutTimestamp(math.max(newest, wm + 1))
            }
            out.result().iterator
          }
      }
      .toDF()
  }

  /** Streaming mixture sampling: the batch `mixtureSample` decision is a
    * deterministic per-document hash, so it needs NO state on a stream —
    * the same document admits or rejects identically whether it arrives
    * in a feed or sits in a batch table (replays and retries included),
    * which is exactly why the sampler hashes ids instead of using RNG.
    */
  def sampleGate(docs: DataFrame, idCol: String, textCol: String,
      ratesPermille: Seq[(String, Int)], defaultPermille: Int): DataFrame =
    docs.filter(TextAnalysis.hash60(col(idCol)) % 1000 <
      TextAnalysis.rateFor(TextAnalysis.langId(col(textCol)), ratesPermille,
        defaultPermille))

  /** Streaming temperature-mixture gate: `rates` is the BATCH-trained
    * [[graft.pipeline.TextAnalysis.temperatureRates]] artifact (grp, n,
    * rate_permille) — the production shape where α-rebalancing rates come
    * from the historical corpus census and the feed applies them. The
    * static side broadcasts into every micro-batch (stream-static
    * equi-join, stateless, Append-clean); the keep decision is the same
    * deterministic hash gate as the batch sampler, so a document admits
    * identically in feed or backfill. Groups unseen at training time
    * carry no rate and are DROPPED by the inner join — the conservative
    * default for a budgeted mixture (an unbudgeted group has no quota).
    */
  def temperatureGate(docs: DataFrame, idCol: String, groupCol: String,
      rates: DataFrame): DataFrame =
    TextAnalysis.applyTemperatureRates(docs, idCol, groupCol, rates)

  /** Streaming twin of the Efraimidis–Schwenk weighted sample: each
    * row's race key is a pure hash of (seed, id) — STATELESS — so a
    * feed gates against the standing top-k's threshold artifact
    * ([[graft.pipeline.TextAnalysis.weightedSampleThreshold]], a 1-row
    * broadcast): admitted iff (key, id) ≤ (t_key, t_id)
    * lexicographically, which is exactly membership in the batch winner
    * set — the p88/p130 broadcast-artifact pattern. No state, no
    * watermark: arrival order and batch slicing can't change the
    * admitted set. Readout assigns picks to the ≤ k admitted rows via
    * the SHARED [[graft.pipeline.TextAnalysis.assignSamplePicks]]
    * ordering. Returns (id, w, key).
    */
  def weightedSampleGate(docs: DataFrame, idCol: String, weightCol: String,
      threshold: DataFrame, seed: String = "wswr"): DataFrame =
    TextAnalysis.weightedSampleKeys(docs, idCol, weightCol, seed)
      .crossJoin(broadcast(threshold))
      .filter(col("key") < col("t_key") ||
        (col("key") === col("t_key") && col("id") <= col("t_id")))
      .select(col("id"), col("w"), col("key"))

  /** Grouped sibling of [[weightedSampleGate]]: the per-group k-th
    * winner artifact ([[graft.pipeline.TextAnalysis
    * .weightedSampleGroupThresholds]], ≤ one row per group) broadcasts
    * into a stream-static equi-join on the group, and the same
    * lexicographic (key, id) predicate admits exactly each group's
    * batch winners. Groups unseen at threshold time carry no row and
    * are DROPPED by the inner join — the temperatureGate convention (an
    * unbudgeted group has no quota). Returns (grp, id, w, key).
    */
  /** STREAMING cluster maintenance — near-dup (or any) PAIRS arrive in
    * micro-batches and fold into a standing (id, comp) labeling via
    * [[graft.pipeline.Dedup.connectedComponentsDelta]]. Unlike the
    * triangle loop, the labeling alone is a SUFFICIENT artifact — the
    * delta fold never re-reads past pairs — so the store is just
    * `labels/v=<batchId>`: versioned by batch (a replayed batch
    * recomputes from the same predecessor — the
    * [[graft.operators.EventOps.triangleMaintainIngest]] protocol),
    * published by temp+rename (the max version is always complete),
    * predecessor kept for the crash-replay window, older versions GC'd.
    * The first batch folds into an EMPTY labeling, which is exactly the
    * full closure of that batch. Caller contract: the checkpoint must
    * outlive the store (fresh checkpoint ⇒ batch ids restart ⇒ silent
    * divergence).
    */
  def clusterMaintainIngest(pairs: DataFrame, basePath: String,
      maxIter: Int = 25):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val base = new org.apache.hadoop.fs.Path(basePath)
        val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
        val prevV = graft.operators.EventOps
          .listIdDirs(fs, base, "labels", "v=").filter(_ < id) match {
            case Seq() => None
            case vs => Some(vs.max)
          }
        val prev = prevV match {
          case None => batch.select(col("ia").as("id"), col("ia").as("comp"))
            .limit(0)
          case Some(v) => s.read.parquet(s"$basePath/labels/v=$v")
        }
        val tmp = new org.apache.hadoop.fs.Path(base, s"labels/.publishing-v=$id")
        fs.delete(tmp, true)
        graft.pipeline.Dedup.connectedComponentsDelta(prev, batch, maxIter)
          .write.mode("overwrite").parquet(tmp.toString)
        val dst = new org.apache.hadoop.fs.Path(base, s"labels/v=$id")
        fs.delete(dst, true) // a replayed batch republishes its version
        require(fs.rename(tmp, dst),
          s"clusterMaintainIngest: publish rename failed for v=$id")
        graft.operators.EventOps.listIdDirs(fs, base, "labels", "v=")
          .filter(v => v != id && !prevV.contains(v))
          .foreach(v => fs.delete(
            new org.apache.hadoop.fs.Path(base, s"labels/v=$v"), true))
      }
    }

  /** The current labeling of a [[clusterMaintainIngest]] store (empty
    * (id, comp) frame if nothing ingested yet).
    */
  def readClusterLabels(spark: org.apache.spark.sql.SparkSession,
      basePath: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = graft.operators.EventOps.listIdDirs(fs, base, "labels", "v=")
    if (vs.isEmpty)
      spark.range(0).select(col("id"), col("id").as("comp"))
    else spark.read.parquet(s"$basePath/labels/v=${vs.max}")
  }

  /** Streaming per-group BUDGET gate — the stateless twin of
    * [[graft.pipeline.TextAnalysis.budgetSelectByGroup]]: arriving docs
    * admit iff their (hash60(id), id) is lexicographically ≤ their
    * group's standing threshold ([[graft.pipeline.TextAnalysis
    * .budgetGroupThresholds]], broadcast stream-static join), which is
    * exactly batch membership — the admitted set is a per-group prefix
    * of the hash order, so arrival order and batch slicing cannot
    * change it. NULL groups join null-safely (a group like any other);
    * groups with no threshold row carry no budget and drop. Returns
    * (grp, id, n_tokens); the readout re-derives cums via the SHARED
    * [[graft.pipeline.TextAnalysis.assignGroupBudgetCums]] ordering.
    */
  def budgetGateByGroup(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, thresholds: DataFrame): DataFrame =
    docs.select(col(idCol).as("id"), col(groupCol).as("__g"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"),
        TextAnalysis.hash60(col(idCol)).as("hk"))
      .join(broadcast(thresholds), col("__g") <=> col("grp"))
      .filter(col("hk") < col("t_hk") ||
        (col("hk") === col("t_hk") && col("id") <= col("t_id")))
      .select(col("grp"), col("id"), col("n_tokens"))

  def weightedSampleGateByGroup(docs: DataFrame, idCol: String,
      groupCol: String, weightCol: String, thresholds: DataFrame,
      seed: String = "wswr"): DataFrame =
    TextAnalysis.weightedSampleKeys(docs, idCol, weightCol, seed,
        carry = Seq(groupCol))
      .join(broadcast(thresholds), col(groupCol) === col("grp"))
      .filter(col("key") < col("t_key") ||
        (col("key") === col("t_key") && col("id") <= col("t_id")))
      .select(col("grp"), col("id"), col("w"), col("key"))

  /** Streaming nearest-centroid assignment — the ANN index serving a
    * vector FEED: new vectors assign against the persisted integer
    * codebook ([[graft.pipeline.Similarity.refinedCentroids]] output,
    * k·dim rows) without touching the standing corpus. The batch
    * [[graft.pipeline.Similarity.assignExact]] is two chained
    * aggregations (per-(id, cluster) distance sums, then the struct
    * argmin) — not expressible in Append-mode streaming — so the
    * stream collects the tiny codebook once, broadcasts it as plain
    * data, and runs a stateless per-row argmin. Bit-identical
    * semantics: micro quantization happens in the SAME engine
    * expression (round(x·1e6) via transform — no JVM-side rounding
    * reimplementation to drift), d2 is pure integer arithmetic over
    * the codebook's positions, ties break to the lowest cluster.
    * Returns (id, cluster, d2).
    */
  def assignStream(vectors: DataFrame, idCol: String, vecCol: String,
      centroidComp: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = centroidComp
      .select(col("cluster").cast("long"), col("pos").cast("long"),
        col("cm").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    require(rows.nonEmpty, "empty codebook")
    val dim = rows.map(_._2).max.toInt + 1
    val table: Array[(Long, Array[Long])] =
      rows.groupBy(_._1).toArray.sortBy(_._1).map { case (c, rs) =>
        val arr = new Array[Long](dim)
        rs.foreach { case (_, p, cm) => arr(p.toInt) = cm }
        (c, arr)
      }
    val bc = spark.sparkContext.broadcast(table)
    vectors
      .select(col(idCol).cast("long").as("id"),
        expr(s"transform(CAST(`$vecCol` AS ARRAY<DOUBLE>), " +
          "x -> CAST(round(x * 1000000) AS BIGINT))").as("mv"))
      .as[(Long, Array[Long])]
      .map { case (id, mv) =>
        val cb = bc.value
        var bestC = Long.MaxValue
        var bestD = Long.MaxValue
        var i = 0
        while (i < cb.length) {
          val (c, cm) = cb(i)
          val n = math.min(mv.length, cm.length)
          var d = 0L
          var j = 0
          while (j < n) { val diff = mv(j) - cm(j); d += diff * diff; j += 1 }
          if (d < bestD) { bestD = d; bestC = c }
          i += 1
        }
        (id, bestC, bestD)
      }
      .toDF("id", "cluster", "d2")
  }

  case class SketchPair(ia: Long, ib: Long)

  /** Streaming MASS-SAFE perceptual pairing over 64-bit sketches (image
    * dHash, audio dHash, SimHash) — the streaming face of the batch
    * [[graft.pipeline.Dedup.hammingClusters]] lineage (p58). Sketches
    * band into 4×16-bit keys (maxHamming ≤ 3 ⇒ one band survives by
    * pigeonhole, so recall is certain); per band bucket the state keeps
    * one entry per DISTINCT sketch — (sketch, representative id) — never
    * the member list, so a feed of blank pages / black frames grows state
    * and emissions LINEARLY (one rep-link pair per arrival), not C(N,2):
    *  - an arrival whose sketch is already in state emits one
    *    (rep, id) link (hamming 0) and stores nothing;
    *  - a new sketch compares against the bucket's distinct sketches
    *    only and emits rep-level pairs within `maxHamming`.
    * The emitted pair set depends on arrival order (which member becomes
    * rep), but its transitive closure does not: connected components over
    * the pairs equal the batch hammingClusters components for any order,
    * because identical-sketch members chain through their rep and each
    * nearby sketch pair shares a band where the later arrival always sees
    * the earlier one. Consumers distinct() the pairs (one emission per
    * shared band) and run the batch connectedComponents rollup.
    */
  def sketchPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming ($maxHamming) beyond 3 loses the 4-band pigeonhole recall guarantee")
    val spark = hashes.sparkSession
    import spark.implicits._
    val banded = hashes
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
      .select(col("id"), col("h"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            col("h").bitwiseAND(lit(0xFFFFL << (16 * b))).as("bh"))): _*)).as("bd"))
      .select(col("id"), col("h"), col("bd.band").as("band"), col("bd.bh").as("bh"))
      .as[(Long, Long, Int, Long)]
    banded
      .groupByKey { case (_, _, band, bh) => (band, bh) }
      .flatMapGroupsWithState[Seq[(Long, Long)], SketchPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          var seen = state.getOption.getOrElse(Seq.empty) // (sketch, rep id)
          val out = Seq.newBuilder[SketchPair]
          def ordered(a: Long, b: Long): SketchPair =
            if (a < b) SketchPair(a, b) else SketchPair(b, a)
          rows.foreach { case (id, h, _, _) =>
            seen.find(_._1 == h) match {
              case Some((_, rep)) =>
                if (rep != id) out += ordered(rep, id) // redelivery of rep: no-op
              case None =>
                seen.foreach { case (oh, orep) =>
                  if (java.lang.Long.bitCount(h ^ oh) <= maxHamming)
                    out += ordered(orep, id)
                }
                seen = seen :+ ((h, id))
            }
          }
          state.update(seen)
          out.result().iterator
      }
      .toDF()
  }

  case class HllReg(grp: String, register: Long, rho: Long)

  /** Streaming HyperLogLog register maintenance — the ingestion face of
    * [[graft.pipeline.Sketches.hllRegisters]]: each arrival folds its
    * per-row observable ([[graft.pipeline.Sketches.hllObservables]] —
    * the SAME expression as the batch path) into per-(group, register)
    * max state and emits a row ONLY when the register's max increases.
    * The appended output is therefore a monotone changelog — ≤ 55
    * emissions per register EVER, regardless of stream length — whose
    * per-register last (= max) value equals the batch register table for
    * ANY arrival order; state is one long per (group, register), bounded
    * by groups·2^b. Consumers compact with a max rollup (metrics-sized).
    *
    * Wire contract: the group rides as its CANONICAL STRING form (cast
    * below), so any group type the batch path accepts (lang strings,
    * epoch-day longs) streams without a caller-side pre-cast; the
    * register/rho values are group-type-independent, so the compacted
    * table equals the batch table after casting grp to string.
    */
  def hllStream(docs: DataFrame, keyCol: String, groupCol: String,
      b: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.pipeline.Sketches.hllObservables(docs, keyCol, groupCol, b)
      .withColumn("grp", col("grp").cast("string"))
      .as[(String, Long, Long)]
      .groupByKey { case (grp, register, _) => (grp, register) }
      .flatMapGroupsWithState[Long, HllReg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((grp, register), rows, state) =>
          val mx = rows.map(_._3).max
          if (mx > state.getOption.getOrElse(Long.MinValue)) {
            state.update(mx)
            Iterator(HllReg(grp, register, mx))
          } else Iterator.empty
      }
      .toDF()
  }

  case class CmsCell(row: Long, bucket: Long, cnt: Long)

  /** Streaming count-min maintenance — the ingestion face of
    * [[graft.pipeline.Sketches.countMinSketch]]: each micro-batch emits
    * its OWN batch-local cell counts (the per-row observable is the same
    * hash/bucket expression as the batch path), making the appended
    * output a stream of shard partials that compacts by SUM — exactly
    * the [[graft.pipeline.Sketches.cmsMerge]] law, so the rollup equals
    * the batch sketch for ANY arrival order or batch slicing. No state
    * at all (counters are additive; the state IS the downstream sum) —
    * group state exists only because append-mode streaming aggregation
    * requires the flatMapGroupsWithState operator shape, and stays
    * empty.
    *
    * Delivery contract differs from [[hllStream]] on purpose: max-fold
    * registers are idempotent (at-least-once feeds are safe), additive
    * counters are NOT — redelivered input double-counts, so cmsStream
    * belongs behind an exactly-once source/sink pair (which Structured
    * Streaming's checkpointed file source provides).
    */
  def cmsStream(docs: DataFrame, textCol: String, d: Int = 4,
      w: Int = 512): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.pipeline.Sketches.cmsObservables(docs, textCol, d, w)
      .as[(Long, Long)]
      .groupByKey(identity)
      .flatMapGroupsWithState[Byte, CmsCell](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((row, bucket), rows, _) =>
          Iterator(CmsCell(row, bucket, rows.size.toLong))
      }
      .toDF()
  }

  case class AsofMatch(k: Long, ts: Long, pid: Long,
      qts: Option[Long], qid: Option[Long])

  /** Streaming as-of attribution — the ingestion face of
    * [[graft.operators.EventOps.asOfJoin]] for a feed where quotes
    * (clicks) LEAD probes (purchases): rows arrive tagged (0 = quote,
    * 1 = probe) as (k, ts, tag, id); per key the state holds the quote
    * history sorted by (ts, id), and each probe resolves to the latest
    * quote at-or-before its ts (same-instant visible, greatest id on
    * ties — the batch rules exactly). Within a micro-batch rows process
    * in (ts, tag, id) order, so a quote and probe arriving together
    * still match.
    *
    * Delivery contract, stated honestly: output equals the batch as-of
    * join WHEN every quote is delivered no later than the probes it
    * should match (the mtime-ordered file feed the gate constructs; in
    * production, a watermark holdback on the probe side buys the same
    * guarantee). A probe arriving before its quote emits the
    * best-known match at arrival — attribution-at-arrival semantics,
    * never retracted.
    *
    * `maxQuotes` bounds per-key state to the NEWEST n quotes (by the
    * same (ts, id) order): matches stay exact for any probe whose true
    * match is within the last n quotes of its key — the attribution-
    * window analog of a watermark eviction, trading unbounded history
    * for a hard memory bound. Int.MaxValue (default) keeps everything.
    *
    * `maxLookback` is the EVENT-TIME attribution window, matching the
    * batch [[graft.operators.EventOps.asOfJoin]] parameter: matches
    * older than probe ts − maxLookback null out, and quotes that can no
    * longer match anything — older than the key's max seen event time
    * minus the window — EVICT after each batch (the watermark-eviction
    * contract: state stays bounded by the window's quote density, and
    * results equal the batch join whenever event-time disorder within a
    * key stays under the window).
    */
  def asofStream(tagged: DataFrame, maxQuotes: Int = Int.MaxValue,
      maxLookback: Long = Long.MaxValue): DataFrame = {
    require(maxQuotes >= 1, s"maxQuotes $maxQuotes < 1")
    require(maxLookback >= 0, s"maxLookback $maxLookback < 0")
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.select(col("k").cast("long"), col("ts").cast("long"),
        col("tag").cast("int"), col("id").cast("long"))
      .as[(Long, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Long, Long)], AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (k, rows, state) =>
          var quotes = state.getOption.getOrElse(Vector.empty) // (ts, id) sorted
          // binary searches keep per-event cost O(log n) in the quote
          // history (a linear indexWhere made a hot key's batch quadratic)
          def insertionPoint(ts: Long, id: Long): Int = {
            var lo = 0; var hi = quotes.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1; val q = quotes(mid)
              if (q._1 > ts || (q._1 == ts && q._2 > id)) hi = mid
              else lo = mid + 1
            }
            lo
          }
          def lastAtOrBefore(ts: Long): Int = {
            var lo = 0; var hi = quotes.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (quotes(mid)._1 <= ts) lo = mid + 1 else hi = mid
            }
            lo - 1
          }
          val out = Vector.newBuilder[AsofMatch]
          var maxSeen = Long.MinValue
          rows.toSeq.sortBy { case (_, ts, tag, id) => (ts, tag, id) }
            .foreach { case (_, ts, tag, id) =>
              maxSeen = math.max(maxSeen, ts)
              if (tag == 0) {
                val at = insertionPoint(ts, id)
                quotes = (quotes.take(at) :+ ((ts, id))) ++ quotes.drop(at)
                if (quotes.length > maxQuotes)
                  quotes = quotes.drop(quotes.length - maxQuotes)
              } else {
                val at = lastAtOrBefore(ts)
                if (at < 0) out += AsofMatch(k, ts, id, None, None)
                else {
                  val (qts, qid) = quotes(at)
                  if (ts - qts <= maxLookback)
                    out += AsofMatch(k, ts, id, Some(qts), Some(qid))
                  else out += AsofMatch(k, ts, id, None, None)
                }
              }
            }
          // watermark eviction: quotes beyond the window behind the
          // newest seen event time can never match again
          if (maxLookback != Long.MaxValue && maxSeen != Long.MinValue) {
            val horizon = maxSeen - maxLookback
            var cut = 0
            while (cut < quotes.length && quotes(cut)._1 < horizon) cut += 1
            if (cut > 0) quotes = quotes.drop(cut)
          }
          state.update(quotes)
          out.result().iterator
      }
      .toDF()
  }

  case class AsofHoldState(quotes: Vector[(Long, Long)],
      pending: Vector[(Long, Long)])

  /** Streaming as-of attribution with PROBE-SIDE WATERMARK HOLDBACK —
    * the production variant of [[asofStream]] for feeds with BOUNDED
    * EVENT-TIME DISORDER instead of quote-leads-probe delivery: probes
    * (purchases) buffer in state until the engine's event-time watermark
    * passes their timestamp, and only then resolve against the quote
    * history. The watermark delay is `disorderBoundUs`: once the
    * watermark passes t, every event with event time ≤ t has arrived
    * (that is exactly what a watermark of delay D guarantees for
    * disorder ≤ D), so a probe resolving at watermark ≥ its ts sees its
    * COMPLETE quote horizon — output equals the batch
    * [[graft.operators.EventOps.asOfJoin]] under ANY arrival order with
    * disorder within the bound, where [[asofStream]] is batch-equal only
    * when quotes lead probes.
    *
    * Mechanics: per key the state holds (quote history sorted by
    * (ts, id), pending probes sorted by (ts, id)). Each invocation
    * ingests the batch, resolves every pending probe at-or-below the
    * current watermark (same match rules as the batch join: latest
    * quote at-or-before, same-instant visible, greatest id on ties,
    * `maxLookback` event-time window), and re-arms an event-time
    * timeout just above the watermark so the key re-resolves as the
    * watermark advances even with no further input (the engine's
    * no-data batches drive the drain). A probe arriving with ts already
    * at-or-below the watermark (late beyond the bound — a contract
    * violation the engine may or may not have dropped) resolves at
    * arrival, deterministically.
    *
    * State eviction: with a finite `maxLookback`, quotes older than
    * watermark − maxLookback can never match a future probe (all still
    * resolve-able probes have ts > watermark) and evict each batch; an
    * eviction timeout keeps draining quote-only keys. Pending probes
    * always drain by watermark passage, so per-key state is bounded by
    * the window's quote density plus in-flight disorder — no unbounded
    * growth on either side. With maxLookback = ∞, quote history is the
    * key's full lifetime (exactly the batch join's requirement).
    *
    * `ts` is event-time MICROSECONDS (the feed convention here);
    * watermarks tick in engine milliseconds, so the registered delay is
    * CEILED to ms (+1 ms slack — the engine also floors the tracked max
    * event time): holdback is only ever LONGER than the bound, never
    * shorter, which preserves batch equality at the cost of up to ~2 ms
    * extra latency.
    */
  def asofStreamHoldback(tagged: DataFrame, disorderBoundUs: Long,
      maxLookback: Long = Long.MaxValue): DataFrame = {
    require(disorderBoundUs >= 0, s"disorderBoundUs $disorderBoundUs < 0")
    require(maxLookback >= 0, s"maxLookback $maxLookback < 0")
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.select(col("k").cast("long"), col("ts").cast("long"),
        col("tag").cast("int"), col("id").cast("long"),
        timestamp_micros(col("ts").cast("long")).as("__et"))
      // the engine floors BOTH the delay and the tracked max event time
      // to MILLISECONDS — registering the raw microsecond bound could
      // leave the effective holdback up to ~1 ms SHORT of it (probes
      // resolving before their horizon completes); ceil to ms + 1 ms
      // slack so holdback is only ever longer than the bound, never
      // shorter (resolution later than necessary preserves batch
      // equality; earlier breaks it)
      .withWatermark("__et", s"${disorderBoundUs / 1000L + 2L} milliseconds")
      .as[(Long, Long, Int, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofHoldState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (k, rows, state) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val st = state.getOption.getOrElse(
            AsofHoldState(Vector.empty, Vector.empty))
          var quotes = st.quotes
          var pending = st.pending
          def insertSorted(v: Vector[(Long, Long)], ts: Long, id: Long)
              : Vector[(Long, Long)] = {
            var lo = 0; var hi = v.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1; val q = v(mid)
              if (q._1 > ts || (q._1 == ts && q._2 > id)) hi = mid
              else lo = mid + 1
            }
            (v.take(lo) :+ ((ts, id))) ++ v.drop(lo)
          }
          rows.foreach { case (_, ts, tag, id, _) =>
            if (tag == 0) quotes = insertSorted(quotes, ts, id)
            else pending = insertSorted(pending, ts, id)
          }
          // resolve every probe whose event time the watermark passed:
          // its quote horizon is complete under the disorder bound
          val (ripe, hold) = pending.partition(_._1 <= wmUs)
          pending = hold
          def lastAtOrBefore(ts: Long): Int = {
            var lo = 0; var hi = quotes.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (quotes(mid)._1 <= ts) lo = mid + 1 else hi = mid
            }
            lo - 1
          }
          val out = ripe.map { case (ts, id) =>
            val at = lastAtOrBefore(ts)
            if (at < 0) AsofMatch(k, ts, id, None, None)
            else {
              val (qts, qid) = quotes(at)
              if (ts - qts <= maxLookback) AsofMatch(k, ts, id, Some(qts), Some(qid))
              else AsofMatch(k, ts, id, None, None)
            }
          }
          // quotes below watermark − lookback can never match again: all
          // unresolved probes (held or unarrived) have ts > watermark
          if (maxLookback != Long.MaxValue && wmUs != 0L) {
            val horizon = wmUs - maxLookback
            var cut = 0
            while (cut < quotes.length && quotes(cut)._1 < horizon) cut += 1
            if (cut > 0) quotes = quotes.drop(cut)
          }
          if (quotes.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(AsofHoldState(quotes, pending))
            if (pending.nonEmpty)
              // re-arm just above the watermark: any advance re-invokes
              // this key so held probes drain without further input
              state.setTimeoutTimestamp(
                math.max(pending.head._1 / 1000L, wmMs) + 1L)
            else if (maxLookback != Long.MaxValue)
              // quote-only key: wake when the earliest quote expires
              state.setTimeoutTimestamp(math.max(
                quotes.head._1 / 1000L + maxLookback / 1000L, wmMs) + 1L)
          }
          out.iterator
      }
      .toDF()
  }

  /** Streaming MAD outlier gate — the trained
    * [[graft.pipeline.Sketches.madThresholds]] artifact (groups-sized)
    * broadcasts against the feed, and each arrival flags statelessly
    * with the SAME comparison the batch [[graft.pipeline.Sketches.madOutliers]]
    * applies — arrival-order-insensitive by construction, no state at
    * all. Arrivals in groups absent from the artifact drop (inner
    * join): a new source has no trained median yet and belongs in the
    * next training pass, not silently unflagged.
    */
  def outlierStream(docs: DataFrame, idCol: String, valueCol: String,
      groupCol: String, thresholds: DataFrame, k: Int = 3): DataFrame =
    graft.pipeline.Sketches.applyMadThresholds(
      docs, idCol, valueCol, groupCol, thresholds, k)

  /** Streaming bigram-LM transition scoring: each arriving doc's
    * transitions join the STATIC trained model
    * ([[TextAnalysis.trainBigramLm]] artifact — a stream-static left
    * join, completely STATELESS) and emit their integer conditional
    * scores append-mode. The per-doc rollup (sum, count) happens
    * downstream wherever convenient — a doc's transitions all arrive in
    * its own row's batch, so any consumer-side aggregation sees them
    * together; the scoring itself needs no watermark and no state,
    * which is what lets the filter run at ingest line rate.
    */
  def scoreTransitions(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.wordNgrams(col(textCol), 2)).as("gram"))
      .join(model.select(col("gram"), col("w_permille")), Seq("gram"), "left")
      .select(col("id"), coalesce(col("w_permille"), lit(0L)).as("w"))

  /** Stateless streaming DSIR scoring (the [[scoreTransitions]] shape for
    * importance weights): bucket each token and look its micro-nat LLR up
    * in the static [[TextAnalysis.dsirModel]] via a broadcast
    * stream-static join — no state, no watermark; the model is TOTAL over
    * the bucket domain, so the inner join never drops a token. The bucket
    * count is DERIVED from the model (one tiny batch count at plan-build
    * time — a caller-supplied number that disagreed with training would
    * silently hash tokens into bucket ids the model lacks and drop them).
    * Emits one (id, llr_micro) row per token occurrence; the batch-side
    * rollup sums per doc.
    */
  def scoreBuckets(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val buckets = model.count().toInt
    require(buckets >= 2, s"model has $buckets rows — not a dsirModel")
    docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("id"), (TextAnalysis.hash60(col("tok")) % buckets).as("b"))
      .join(broadcast(model), Seq("b"))
      .select(col("id"), col("llr_micro"))
  }

  case class FunnelAdvance(user: Long, stage_idx: Long, t: Long)

  case class ScdChange(key: Long, value: String, version: Long,
    valid_from: Long)

  /** Streaming SCD2 change detector — the per-key state-machine twin of
    * [[graft.operators.EventOps.scdIntervals]]: state is (last value,
    * version counter) per key; an arriving observation emits a new
    * version row iff its value differs null-safely from the last. On
    * the time-ordered feed (the p179 contract) change-on-arrival ≡ the
    * batch lag-based change detection, including the (t, value
    * nulls-last) intra-batch tie repair — so the batch oracle gates the
    * stream, with `valid_to` derived from the emitted rows by a
    * version-ordered lead at readout (version-grain, not event-grain).
    * State is two fields per key — bounded by key population.
    */
  def scdStream(changes: DataFrame): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.select(col("k").cast("long"), col("ts").cast("long"),
        col("v").cast("string"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, String, Long), ScdChange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (k, rows, state) =>
          var (has, last, ver) = state.getOption
            .getOrElse((false, null: String, 0L))
          val out = Vector.newBuilder[ScdChange]
          // Intra-batch tie key must order ties the way the batch twin
          // and the DuckDB oracle do — UTF-8 BYTE order, not JVM
          // String (UTF-16 code unit) order; they diverge on
          // supplementary-plane characters.
          val utf8NullsLast = new Ordering[String] {
            def compare(a: String, b: String): Int =
              if (a == null && b == null) 0
              else if (a == null) 1
              else if (b == null) -1
              else java.util.Arrays.compareUnsigned(
                a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          rows.toSeq
            .sortBy { case (_, t, v) => (t, v) }(
              Ordering.Tuple2(Ordering.Long, utf8NullsLast))
            .foreach { case (_, t, v) =>
              if (!has || !java.util.Objects.equals(v, last)) {
                ver += 1; has = true; last = v
                out += ScdChange(k, v, ver, t)
              }
            }
          state.update((has, last, ver))
          out.result().iterator
      }
      .toDF()
  }

  /** Streaming funnel — the per-user STAGE STATE MACHINE face of
    * [[graft.operators.EventOps.funnel]]: each user's state is (stages
    * completed, last stage time); an arriving event advances the state
    * iff it is the NEXT stage's type at a strictly later time, emitting
    * one (user, stage_idx, t) row per advance. Counting emissions per
    * stage_idx reproduces the batch funnel exactly ON A TIME-ORDERED
    * FEED (the p145 delivery contract): processed in global event-time
    * order, greedy advance ≡ sequential-min — the first qualifying
    * stage-k event after t_{k−1} IS the earliest one. Rows sort by
    * (t, et) inside each batch, so intra-batch disorder is repaired;
    * cross-batch disorder is the feed's contract, exactly as asofStream.
    * State is TWO numbers per user — bounded by the user population,
    * not the event volume.
    */
  def funnelStream(events: DataFrame, stages: Seq[String]): DataFrame =
    funnelStreamBranching(events, stages.map(Seq(_)))

  /** [[funnelStream]] generalized to BRANCHING stages (the state-machine
    * twin of [[graft.operators.EventOps.funnelBranching]]): stage k is a
    * SET of event types, any one of which advances the user. On the
    * time-ordered feed greedy advance-on-first-member ≡ earliest-of-any
    * sequential-min, so the batch branching funnel's oracle gates this
    * stream unchanged. Same two numbers of state per user.
    */
  def funnelStreamBranching(events: DataFrame,
      stages: Seq[Seq[String]]): DataFrame = {
    require(stages.nonEmpty, "funnelStream needs at least one stage")
    require(stages.forall(_.nonEmpty),
      "every funnel stage needs at least one admitted event type")
    val stageSets = stages.map(_.toSet)
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("k").cast("long"), col("ts").cast("long"),
        col("et").cast("string"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (u, rows, state) =>
          var (k, tk) = state.getOption.getOrElse((0, Long.MinValue))
          val out = Vector.newBuilder[FunnelAdvance]
          rows.toSeq.sortBy { case (_, t, et) => (t, et) }
            .foreach { case (_, t, et) =>
              if (k < stageSets.length && stageSets(k).contains(et) &&
                  (k == 0 || t > tk)) {
                k += 1; tk = t
                out += FunnelAdvance(u, k.toLong, t)
              }
            }
          state.update((k, tk))
          out.result().iterator
      }
      .toDF()
  }

  /** Streaming winsorize gate — the [[outlierStream]] shape for value
    * clamping: each arriving row joins the broadcast trained
    * (grp, lo, hi) artifact ([[graft.pipeline.Sketches.winsorBounds]])
    * and emits its clamped value; stateless, arrival-order-free, ONE
    * clamp definition ([[graft.pipeline.Sketches.applyWinsorBounds]])
    * shared with the batch readout so the paths cannot drift. Untrained
    * groups drop (inner join — next training pass picks them up).
    */
  def winsorStream(docs: DataFrame, idCol: String, valueCol: String,
      groupCol: String, bounds: DataFrame): DataFrame =
    graft.pipeline.Sketches.applyWinsorBounds(
      docs, idCol, valueCol, groupCol, bounds)

  /** Streaming twin of [[graft.operators.EventOps.dedupEventsWindowed]]:
    * the same keep-first-per-(key, tumbling-window) census as a
    * WATERMARKED WINDOW AGGREGATE — min(struct(t, id)) and copy count
    * per (keys, window), emitted append-mode when the watermark passes
    * the window end. Because the winner is the min-struct (not the
    * first ARRIVAL), the emitted rows are arrival-order-insensitive and
    * equal the batch operator exactly for every window the watermark
    * closes — the property that lets the batch oracle gate this stream
    * on any feed slicing. State is one aggregation row per open (key,
    * window), evicted at emission: bounded by key cardinality × the
    * watermark horizon, the dropDuplicatesWithinWatermark law at
    * aggregate grain. Timestamps are epoch µs in `tsCol`; windows are
    * epoch-aligned, so `wstart = t div window · window` agrees with the
    * batch convention.
    */
  /** Streaming windowed item counts — the count half of the heavy-hitter
    * readout ([[graft.operators.EventOps.heavyHittersByBucket]]) as a
    * WATERMARKED WINDOW AGGREGATE: (tumbling-window bucket, item) counts
    * emitted append-mode when the watermark closes the window. Counts
    * are arrival-order-insensitive, so the batch heavy-hitter oracle
    * gates the stream (rank the emitted counts through the ONE shared
    * [[graft.operators.EventOps.topKByBucket]] definition) on any feed
    * slicing once every window is flushed. State is one aggregation row
    * per open (window, item) — bucket-vocabulary-sized within the
    * watermark horizon, evicted at emission. Buckets are epoch-aligned
    * (`bucket = t div window`, the batch convention).
    */
  def bucketCountStream(events: DataFrame, itemCol: String, tsCol: String,
      windowMicros: Long, watermark: String): DataFrame = {
    require(windowMicros > 0, s"window $windowMicros must be positive")
    events.select(col(itemCol).as("item"),
        timestamp_micros(col(tsCol).cast("long")).as("__et"))
      .withWatermark("__et", watermark)
      .groupBy(window(col("__et"), s"$windowMicros microseconds").as("__w"),
        col("item"))
      .agg(count(lit(1)).as("n"))
      .select(expr(s"unix_micros(__w.start) div ${windowMicros}L")
        .as("bucket"), col("item"), col("n"))
  }

  /** Streaming UNKEYED interval × point join — the live face of
    * [[graft.operators.EventOps.intervalPointCount]]: intervals (e.g.
    * closed session windows) arrive on one stream, points (e.g. error
    * events, ANY key) on another, and each (interval, point) pair with
    * start ≤ t ≤ end emits one row. There is no equality key, so the
    * same time-bin decomposition as the batch operator MAKES one: the
    * interval side explodes into its covering bins, the point side
    * computes its single bin, and Spark's native stream-stream join
    * runs on bin equality — each pair meets exactly once (the point's
    * bin is unique), and the join is an ordinary symmetric hash join in
    * the state store, partitioned by bin.
    *
    * State cleanup is DECLARED to the engine, not hand-rolled: both
    * sides are watermarked and the join condition carries the
    * event-time range `pt ∈ [st, st + maxIntervalMicros]` — Spark
    * derives from it that a point is dead state once the interval-side
    * watermark passes its timestamp (no future interval may start
    * before it) and an interval is dead once the point-side watermark
    * passes start + maxIntervalMicros. Under the time-ordered feed
    * discipline (zero cross-batch event-time disorder, the p145
    * contract) eviction is provably lossless for any `watermark` ≥ the
    * intra-batch disorder bound. `maxIntervalMicros` is the bounded-
    * interval contract every streaming interval join needs (state for
    * an unbounded interval could never be evicted); intervals over the
    * bound fail loudly rather than silently fan out.
    *
    * Emits one APPEND row per match: (idCols*, start, end, t) — matches
    * emit as they happen, so the rollup to per-interval counts is the
    * caller's (a bounded post-pass or a downstream windowed aggregate);
    * zero-match intervals appear only in that rollup's left join, the
    * same LEFT-semantics split as the batch operator's.
    */
  def intervalJoinStream(intervals: DataFrame, points: DataFrame,
      idCols: Seq[String], startCol: String, endCol: String,
      tsCol: String, binSize: Long, maxIntervalMicros: Long,
      watermark: String): DataFrame = {
    require(binSize > 0, s"binSize $binSize must be positive")
    require(maxIntervalMicros > 0,
      s"maxIntervalMicros $maxIntervalMicros must be positive")
    require(idCols.nonEmpty, "intervalJoinStream needs interval id columns")
    val iv = intervals.select(idCols.map(col) ++ Seq(
        col(startCol).cast("long").as("start"),
        col(endCol).cast("long").as("end")): _*)
      .withColumn("__st", timestamp_micros(col("start")))
      .withWatermark("__st", watermark)
      .filter(expr(
        s"assert_true(`end` - start <= ${maxIntervalMicros}L, " +
          s"'intervalJoinStream: interval longer than $maxIntervalMicros " +
          "micros; raise maxIntervalMicros') IS NULL"))
      .withColumn("bin", explode(expr(
        s"sequence(start div ${binSize}L, `end` div ${binSize}L)")))
    val pt = points.select(col(tsCol).cast("long").as("t"))
      .withColumn("__pt", timestamp_micros(col("t")))
      .withWatermark("__pt", watermark)
      .withColumn("pbin", expr(s"t div ${binSize}L"))
    // ONLY the watermarked-timestamp range + the bin equality live in
    // the join condition: Spark's StreamingJoinHelper derives state
    // watermarks by symbolically solving the condition, and a raw
    // bigint predicate (t >= start) in the conjunction makes the whole
    // extraction fail with a logged warning — state then NEVER evicts
    // (measured: 96k retained rows on the sf0.1 bench leg before this
    // split; note __pt >= __st IS t >= start, both µs-exact). The
    // exact upper bound must stay OUT of the condition, and a plain
    // post-join filter gets pushed right back in by
    // PushPredicateThroughJoin — so the filter runs above a
    // single-element explode barrier: predicates on generator output
    // cannot be pushed below the Generate, and the explode itself is a
    // native no-op per row (no object serialization).
    iv.join(pt,
        col("bin") === col("pbin") &&
          col("__pt") >= col("__st") &&
          col("__pt") <= col("__st") +
            expr(s"INTERVAL $maxIntervalMicros MICROSECOND"))
      .select(explode(array(struct(
        idCols.map(col) ++ Seq(col("start"), col("end"), col("t")): _*)))
        .as("__m"))
      .filter(col("__m.t") >= col("__m.start") &&
        col("__m.t") <= col("__m.end"))
      .select(idCols.map(c => col(s"__m.$c").as(c)) ++
        Seq(col("__m.start").as("start"), col("__m.end").as("end"),
          col("__m.t").as("t")): _*)
  }

  def eventDedupStream(events: DataFrame, keyCols: Seq[String],
      idCol: String, tsCol: String, windowMicros: Long,
      watermark: String): DataFrame = {
    require(windowMicros > 0, s"window $windowMicros must be positive")
    require(keyCols.nonEmpty, "eventDedupStream needs key columns")
    events.select(keyCols.map(col) ++ Seq(col(idCol).as("id"),
        col(tsCol).cast("long").as("t"),
        timestamp_micros(col(tsCol).cast("long")).as("__et")): _*)
      .withWatermark("__et", watermark)
      .groupBy(keyCols.map(col) :+
        window(col("__et"), s"$windowMicros microseconds").as("__w"): _*)
      .agg(min(struct(col("t"), col("id"))).as("keep"),
        (count(lit(1)) - 1).as("n_dups"))
      .select(keyCols.map(col) ++ Seq(
        unix_micros(col("__w.start")).as("wstart"),
        col("keep.id").as("id"), col("keep.t").as("t"), col("n_dups")): _*)
  }
}
