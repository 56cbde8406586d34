package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one closed-loop client.
  *
  * Prints diagnostic lines, then as its LAST line one JSON object
  * {correct, attempted, failed, metrics}. With --trace 0 the metrics are
  * the end-to-end ones, with --trace 1 the per-layer ones. Exits 1 when a
  * check failed (the result line is still printed), 2 on bad arguments.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, selftest: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(m.getOrElse("--workload", ""), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "10").toInt, m.getOrElse("--trace", "0") == "1",
      m.getOrElse("--work", "work"), args.contains("--selftest"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.selftest) sys.exit(SelfTest.run())
    val workload: Workload = a.workload match {
      case "point_read" => PointRead
      case "ingest_compact" => IngestCompact
      case "similarity" => SimilarityWorkload
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val dir = work.resolve(s"${a.workload}-${ProcessHandle.current().pid()}")
    Fs.delete(dir)
    val probes = new Probes(spark, work.resolve("probe"))
    val before = probes.take()

    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, a.seed, a.seconds, tracer, dir)
    val out = try workload.run(ctx) finally Fs.delete(dir)
    tracer.close()
    if (a.trace) tracer.writeSpans(work.getParent.resolve("traces").resolve(s"${a.workload}-${a.seed}.jsonl"))
    val after = probes.take()

    val setupS = sessionS + out.setupS + out.warmupS
    val rss = Probes.peakRssMb()
    val main = Stats.summary(ctx.mainSamples)
    val side = Stats.summary(ctx.sideSamples)
    val diag = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "input_hash" -> out.inputHash,
      "session_start_s" -> sessionS, "setup_reps_s" -> out.setupReps, "warmup_s" -> out.warmupS,
      "main_op" -> workload.mainOp, "side_op" -> workload.sideOp,
      "main_samples" -> main.n, "main_tail_percentile" -> main.tailP, "main_tail_ms" -> main.tail,
      "side_samples" -> side.n, "side_tail_percentile" -> side.tailP, "side_tail_ms" -> side.tail,
      "main_ms" -> ctx.mainSamples.map(x => math.rint(x * 10) / 10),
      "side_ms" -> ctx.sideSamples.map(x => math.rint(x * 10) / 10),
      "probe_before" -> before, "probe_after" -> after,
      "errors" -> ctx.errors.toSeq) ++ out.diag ++
      (if (a.trace) Map("self_ms_by_span" -> tracer.selfMsByName) else Map.empty)
    println("diagnostics " + Json(diag))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", rss, "MB"),
        ("main_p50_ms", main.p50, "ms"),
        ("side_p50_ms", side.p50, "ms"))
      else Layers.compute(tracer, ctx.overheadMs).toSeq.sortBy(_._1)
        .map { case (k, v) => (k, v, Layers.unit(k)) }
    val failed = ctx.failed
    val correct = failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    Console.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** What a workload hands back besides its samples and error counts,
  * which it records on the [[Ctx]].
  */
final case class Outcome(setupS: Double, setupReps: Seq[Double], warmupS: Double,
    inputHash: String, diag: Map[String, Any])

trait Workload {
  def mainOp: String
  def sideOp: String
  def run(ctx: Ctx): Outcome
}

/** Per-run state shared by the workloads: session, seed, clock, tracer,
  * and the error ledger. Every operation goes through [[attempt]], so a
  * failing call or a wrong answer is counted, never fatal.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val dir: Path) {
  var attempted = 0
  var failed = 0
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Run one operation; count it; on an exception count a failure and
    * return None. `check` returns an error message or None.
    */
  def attempt[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try Some(body) catch {
      case NonFatal(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    r.foreach(v => check(v).foreach(msg => fail(s"$name: $msg")))
    r
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg.take(400)
    System.err.println(s"perfbench check failed: ${msg.take(400)}")
  }

  /** Wall time of `body` in ms, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e6)
  }

  /** Set-up run `reps` times; the median rep is the reported set-up time.
    * Each rep gets a fresh directory; the state of the last rep is kept.
    */
  def repeatSetup[S](reps: Int)(release: S => Unit)(setup: Path => S): (S, Seq[Double]) = {
    var last: Option[S] = None
    val times = (1 to reps).map { i =>
      last.foreach(release)
      val d = dir.resolve(s"setup-$i")
      val (s, ms) = timed(setup(d))
      last = Some(s)
      if (i > 1) Fs.delete(dir.resolve(s"setup-${i - 1}"))
      ms / 1000.0
    }
    (last.get, times)
  }

  /** One warm-up pass after the set-up reps, so the first samples do not
    * pay JIT and code generation; it runs once, untraced, and its wall
    * time is part of setup_s. Returns seconds.
    */
  def warmup(body: => Unit): Double = {
    tracer.paused = true
    val (_, ms) = timed(body)
    tracer.paused = false
    ms / 1000.0
  }

  private val main = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
  private val side = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]

  /** Record one latency sample of the main or the side operation. */
  def sample(isMain: Boolean, ms: Double): Unit =
    (if (isMain) main else side) += ((ms, tracer.active))

  def mainSamples: Seq[Double] = main.map(_._1).toSeq
  def sideSamples: Seq[Double] = side.map(_._1).toSeq

  /** Median main latency traced minus untraced (0 without both halves). */
  def overheadMs: Double = {
    val (traced, plain) = main.partition(_._2)
    if (traced.isEmpty || plain.isEmpty) 0.0
    else Stats.median(traced.map(_._1).toSeq) - Stats.median(plain.map(_._1).toSeq)
  }

  /** The closed loop: run `step(i)` for i = 0, 1, ... until the measuring
    * time is up and `more(i)` is false. In a traced run the first half of
    * the time runs with the tracer paused, for [[overheadMs]].
    */
  def loop(more: Int => Boolean)(step: Int => Unit): Unit = {
    val start = System.nanoTime()
    val end = start + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < end || more(i)) {
      tracer.paused = tracer.enabled && System.nanoTime() < start + seconds * 500000000L
      step(i)
      i += 1
    }
    tracer.paused = false
  }
}

object Fs {
  def delete(p: Path): Unit = {
    val f = p.toFile
    if (f.exists()) {
      Option(f.listFiles()).foreach(_.foreach(c => delete(c.toPath)))
      f.delete()
    }
  }

  /** Bytes of the parquet data files under `p`. */
  def parquetBytes(p: Path): Long = {
    val f = p.toFile
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(c => parquetBytes(c.toPath)).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length()
    else 0L
  }
}

/** The run's self-description: a fixed CPU probe and a fixed read of
  * about 32 MB of parquet, timed before and after the workload. They are
  * printed as diagnostics only; no measurement is ever discarded,
  * retried or replaced because of them.
  */
final class Probes(spark: SparkSession, dir: Path) {
  private val file = dir.resolve("probe-32mb.parquet").toString

  private def ensureFile(): Unit = if (!new File(file).exists()) {
    val tmp = dir.resolve("probe.tmp").toString
    Fs.delete(Paths.get(tmp))
    spark.range(0, 1L << 20, 1, 4)
      .selectExpr("id", "substr(sha2(cast(id as string), 256), 1, 20) as h")
      .write.option("compression", "none").option("parquet.enable.dictionary", "false")
      .parquet(tmp)
    new File(tmp).renameTo(new File(file))
  }

  def take(): Map[String, Double] = {
    ensureFile()
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x = Rng.fmix(x + i); i += 1 }
    val cpuMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val n = spark.read.parquet(file).selectExpr("sum(length(h)) + sum(id)").head().getLong(0)
    val ioMs = (System.nanoTime() - t1) / 1e6
    require(n > 0 && x != 1L, "probe")
    Map("cpu_ms" -> cpuMs, "parquet_32mb_ms" -> ioMs)
  }
}

object Probes {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(
      Runtime.getRuntime.totalMemory() / 1048576.0)
  }
}
