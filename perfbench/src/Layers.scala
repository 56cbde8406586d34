package perfbench

/** The per-layer metrics of a traced run, in the names BENCHMARK.json
  * lists. Every workload reports all of them; a layer the workload never
  * enters reads 0. Counters are means per timed operation of the kind
  * named; `*_ms` of a span kind are its mean duration.
  */
object Layers {
  /** (name, unit) of every per-layer metric. */
  val all: Seq[(String, String)] = Seq(
    "api.call_ms" -> "ms", "api.jobs" -> "count",
    "plan.ms" -> "ms",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task.run_ms" -> "ms", "task.cpu_ms" -> "ms", "task.gc_ms" -> "ms",
    "task.sched_delay_ms" -> "ms", "task.failed" -> "count",
    "scan.files" -> "count", "scan.bytes" -> "bytes", "scan.rows" -> "count", "scan.ms" -> "ms",
    "scan.files_per_key" -> "ratio", "scan.rows_per_result" -> "ratio",
    "cache.rows" -> "count", "cache.hit_ratio" -> "ratio",
    "agg.ms" -> "ms", "agg.spill_bytes" -> "bytes", "sort.ms" -> "ms", "sort.spill_bytes" -> "bytes",
    "exchange.count" -> "count", "exchange.bytes" -> "bytes", "exchange.records" -> "count",
    "broadcast.count" -> "count", "shuffle.fetch_wait_ms" -> "ms",
    "write.ms" -> "ms", "write.jobs" -> "count", "write.files" -> "count",
    "write.bytes" -> "bytes", "write.rows" -> "count", "write.commit_ms" -> "ms",
    "compact.ms" -> "ms", "compact.runs_in" -> "count", "compact.bytes_in" -> "bytes",
    "compact.bytes_out" -> "bytes", "compact.cells_in" -> "count", "compact.cells_out" -> "count",
    "store.runs" -> "count", "store.bytes" -> "bytes",
    "dedup.jaccard_ms" -> "ms", "dedup.minhash_ms" -> "ms", "dedup.containment_ms" -> "ms",
    "dedup.candidate_rows" -> "count", "dedup.pairs_per_candidate" -> "ratio",
    "knn.codebook_ms" -> "ms", "knn.index_ms" -> "ms", "knn.graph_ms" -> "ms",
    "knn.exchange.count" -> "count", "knn.candidate_rows" -> "count",
    "trace.overhead_ms" -> "ms")

  private val units = all.toMap
  def unit(name: String): String = units(name)

  /** Per-layer values from a traced run. `overheadMs` is the median main
    * operation latency traced minus untraced.
    */
  def compute(tr: Tracer, overheadMs: Double): Map[String, Double] = {
    val roots = tr.roots
    def nRoots(name: String): Int = roots.count(_.name == name)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def meanMs(name: String): Double = {
      val ss = tr.spans.filter(_.name == name)
      ratio(ss.map(_.ms).sum, ss.size)
    }
    val ops = roots.count(_.name.startsWith("op:"))
    val t = tr.sumUnder(_.startsWith("op:"))
    def perOp(k: String): Double = ratio(t.getOrElse(k, 0.0), ops)

    val api = tr.spans.filter(_.name.startsWith("api."))
    val self = tr.selfMsById
    val apiJobs = api.map(s => tr.counts.get(s.id).flatMap(_.get("jobs")).getOrElse(0.0)).sum

    val reads = tr.sumUnder(_.startsWith("op:read"))
    val cached = tr.sumUnder(_ == "op:read.cached")
    val writes = tr.sumUnder(_ == "write")
    val nWrites = tr.spans.count(_.name == "write")
    val comp = tr.sumUnder(_ == "op:compact")
    val nComp = nRoots("op:compact")
    val dedup = tr.sumUnder(_ == "op:dedup")
    val nDedup = nRoots("op:dedup")
    val knn = tr.sumUnder(_ == "op:knn")
    val nKnn = nRoots("op:knn")
    def g(m: Map[String, Double], k: String): Double = m.getOrElse(k, 0.0)

    val generic = Seq("plan.ms", "jobs", "stages", "tasks", "task.run_ms", "task.cpu_ms",
      "task.gc_ms", "task.sched_delay_ms", "task.failed", "scan.files", "scan.bytes", "scan.rows",
      "scan.ms", "agg.ms", "agg.spill_bytes", "sort.ms", "sort.spill_bytes", "exchange.count",
      "exchange.bytes", "exchange.records", "broadcast.count", "shuffle.fetch_wait_ms")
      .map(k => k -> perOp(k))

    val out = generic ++ Seq(
      "api.call_ms" -> ratio(api.map(s => self(s.id)).sum, api.size),
      "api.jobs" -> ratio(apiJobs, api.size),
      "scan.files_per_key" -> ratio(g(reads, "scan.files"), g(reads, "keys")),
      "scan.rows_per_result" -> ratio(g(reads, "scan.rows"), g(reads, "result.rows")),
      "cache.rows" -> ratio(g(cached, "cache.rows"), nRoots("op:read.cached")),
      "cache.hit_ratio" -> ratio(g(cached, "hot.rows"), g(cached, "result.rows")),
      "write.ms" -> meanMs("write"),
      "write.jobs" -> ratio(g(writes, "jobs"), nWrites),
      "write.files" -> ratio(g(writes, "write.files"), nWrites),
      "write.bytes" -> ratio(g(writes, "write.bytes"), nWrites),
      "write.rows" -> ratio(g(writes, "write.rows"), nWrites),
      "write.commit_ms" -> ratio(g(writes, "write.commit_ms"), nWrites),
      "compact.ms" -> meanMs("compact"),
      "compact.runs_in" -> ratio(g(comp, "compact.runs_in"), nComp),
      "compact.bytes_in" -> ratio(g(comp, "compact.bytes_in"), nComp),
      "compact.bytes_out" -> ratio(g(comp, "compact.bytes_out"), nComp),
      "compact.cells_in" -> ratio(g(comp, "scan.rows"), nComp),
      "compact.cells_out" -> ratio(g(comp, "write.rows"), nComp),
      "store.runs" -> ratio(g(t, "store.runs"), g(t, "store.reads")),
      "store.bytes" -> ratio(g(t, "store.bytes"), g(t, "store.reads")),
      "dedup.jaccard_ms" -> meanMs("dedup.jaccard"),
      "dedup.minhash_ms" -> meanMs("dedup.minhash"),
      "dedup.containment_ms" -> meanMs("dedup.containment"),
      "dedup.candidate_rows" -> ratio(g(dedup, "generate.rows"), nDedup),
      "dedup.pairs_per_candidate" -> ratio(g(dedup, "pairs"), g(dedup, "generate.rows")),
      "knn.codebook_ms" -> meanMs("knn.codebook"),
      "knn.index_ms" -> meanMs("knn.index"),
      "knn.graph_ms" -> meanMs("knn.graph"),
      "knn.exchange.count" -> ratio(g(knn, "exchange.count"), nKnn),
      "knn.candidate_rows" -> ratio(g(tr.sumUnder(_ == "knn.graph"), "join.rows"), nKnn),
      "trace.overhead_ms" -> overheadMs)
    val m = out.toMap
    require(m.keySet == all.map(_._1).toSet, s"layer names drifted: ${m.keySet.diff(all.map(_._1).toSet) ++ all.map(_._1).toSet.diff(m.keySet)}")
    m
  }
}
