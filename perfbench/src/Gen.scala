package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** SplitMix64: a tiny, fully specified generator, so every input is a pure
  * function of the seed on any JVM (java.util.Random would do too, but its
  * stream is harder to re-derive per key without a shared instance).
  */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    Rng.fmix(state)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = nextDouble() < p
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
  }
  def bytes(n: Int): Array[Byte] = Array.fill(n)(nextLong().toByte)
}

object Rng {
  def fmix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** An independent stream per (seed, stream id, index). */
  def of(seed: Long, stream: Long, index: Long = 0L): Rng =
    new Rng(fmix(fmix(seed ^ fmix(stream)) + index))
}

/** One generated cell, in the engine's row shape (graft.model.Cell). A
  * marker (row tombstone) has a null column name.
  */
final case class GenCell(key: String, col: Array[Byte], value: Array[Byte],
    ts: Long, tombstone: Boolean, ldt: Int) {
  /** Bytes of user data this cell carries: key, name, value, ts, flag, ldt. */
  def userBytes: Long =
    key.length + (if (col == null) 0 else col.length) + value.length + 8 + 1 + 4
}

/** Order-insensitive 64-bit digest of a stream of generated items: the
  * reported input hash. Same seed, same inputs, same hash.
  */
final class InputHash {
  private var acc = 0L
  private var n = 0L
  def add(parts: Any*): Unit = {
    var h = 0x243F6A8885A308D3L
    parts.foreach { p =>
      val b = p match {
        case a: Array[Byte] => a
        case null => Array[Byte](-1)
        case other => other.toString.getBytes(UTF_8)
      }
      b.foreach(x => h = Rng.fmix(h ^ (x & 0xFF)))
      h = Rng.fmix(h + 0x5bd1e995L)
    }
    acc += h
    n += 1
  }
  def hex: String = f"${Rng.fmix(acc ^ n)}%016x"
}

/** The generators. Everything here is plain Scala and a pure function of
  * its arguments; no engine code is involved.
  */
object Gen {
  def key(i: Long): String = f"k$i%08d"
  def colName(c: Int): Array[Byte] = f"c$c%02d".getBytes(UTF_8)

  // ---- point_read store: cells of key i are a pure function of (seed, i)

  val PointCols = 10
  /** Timestamps are drawn from a narrow window so versions of one column
    * tie on ts now and then: the tie rules of the LWW order get exercised.
    */
  val PointTsWindow = 64

  def pointCells(seed: Long, i: Long): Seq[GenCell] = {
    val r = Rng.of(seed, 1, i)
    val k = key(i)
    val out = Vector.newBuilder[GenCell]
    if (r.chance(0.005))
      out += GenCell(k, null, Array.emptyByteArray,
        1000L + r.nextInt(PointTsWindow), tombstone = true, 5000 + r.nextInt(100))
    var c = 0
    while (c < PointCols) {
      val name = colName(c)
      val versions = 1 + r.nextInt(3)
      var v = 0
      while (v < versions) {
        val ts = 1000L + r.nextInt(PointTsWindow)
        if (r.chance(0.02))
          out += GenCell(k, name, Array.emptyByteArray, ts, tombstone = true, 5000 + r.nextInt(100))
        else
          out += GenCell(k, name, r.bytes(12), ts, tombstone = false, 0)
        v += 1
      }
      c += 1
    }
    out.result()
  }

  /** Zipf(s) over ranks 1..n as a cumulative table; rank r is mapped to a
    * key index through a seeded permutation so hot keys spread over the
    * key space instead of sitting in one range partition.
    */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1.0, s); a(r) = acc; r += 1 }
      a.map(_ / acc)
    }
    val rankToKey: Array[Int] = {
      val p = Array.tabulate(n)(identity)
      val r = Rng.of(seed, 2)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    def draw(r: Rng): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      rankToKey(lo)
    }
    /** Share of draws that land on the top `h` ranks. */
    def mass(h: Int): Double = cdf(math.min(h, n) - 1)
  }

  // ---- ingest_compact: a base run, then mutation batches

  val BaseCols = 8
  val ExtraCols = 8

  def baseCells(seed: Long, i: Long): Seq[GenCell] = {
    val r = Rng.of(seed, 3, i)
    (0 until BaseCols).map(c => GenCell(key(i), colName(c), r.bytes(12), 1000L + r.nextInt(1000),
      tombstone = false, 0))
  }

  /** Batch b (from 1). Keys known before it are 0 until
    * `keysBefore(b)`; new keys are minted in order after them.
    * Timestamps of batch b lie in [b·1e6, (b+1)·1e6), newer than every
    * earlier batch; deletes carry local deletion time [[ldtOf]](b).
    */
  def batch(seed: Long, b: Int, baseKeys: Int, cells: Int): Seq[GenCell] = {
    val r = Rng.of(seed, 4, b)
    val known = keysBefore(b, baseKeys, cells)
    var minted = known
    val tsBase = b.toLong * 1000000L
    def ts() = tsBase + r.nextInt(1000000)
    Vector.tabulate(cells) { _ =>
      val u = r.nextDouble()
      if (u < 0.70)
        GenCell(key(r.nextInt(known)), colName(r.nextInt(BaseCols)), r.bytes(12), ts(),
          tombstone = false, 0)
      else if (u < 0.80) {
        val k = minted; minted += 1
        GenCell(key(k), colName(r.nextInt(BaseCols)), r.bytes(12), ts(), tombstone = false, 0)
      } else if (u < 0.90)
        GenCell(key(r.nextInt(known)), colName(BaseCols + r.nextInt(ExtraCols)), r.bytes(12), ts(),
          tombstone = false, 0)
      else if (u < 0.98)
        GenCell(key(r.nextInt(known)), colName(r.nextInt(BaseCols + ExtraCols)),
          Array.emptyByteArray, ts(), tombstone = true, ldtOf(b))
      else
        GenCell(key(r.nextInt(known)), null, Array.emptyByteArray, ts(), tombstone = true, ldtOf(b))
    }
  }

  def keysBefore(b: Int, baseKeys: Int, cells: Int): Int = baseKeys + (b - 1) * newKeysPerBatch(cells)
  /** Room for the ~10% of a batch that mints keys: twice the expected
    * count, so the key ranges of different batches do not overlap.
    */
  def newKeysPerBatch(cells: Int): Int = cells / 5
  def ldtOf(b: Int): Int = 100000 + 10 * b

  // ---- similarity: text corpus with planted near-duplicates + embeddings

  final case class Doc(id: Long, text: String)

  private def word(r: Rng, vocab: Int): String = {
    var x = r.nextInt(vocab)
    val sb = new StringBuilder("w")
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  /** `docs` documents of ~`len` tokens over a `vocab`-word vocabulary.
    * Clusters are planted: a base document, near copies of it with a few
    * tokens replaced (high Jaccard), and a fragment (a contiguous run of
    * its tokens, contained in the base). Everything else is background.
    */
  def corpus(seed: Long, docs: Int, len: Int, vocab: Int, clusters: Int): Vector[Doc] = {
    val r = Rng.of(seed, 5)
    val texts = Array.fill(docs)((0 until len + r.nextInt(len / 2)).map(_ => word(r, vocab)).toVector)
    // cluster c owns docs [c·6, c·6 + 6): base, four near copies, one fragment
    var c = 0
    while (c < clusters && c * 6 + 5 < docs) {
      val base = texts(c * 6)
      (1 to 4).foreach { j =>
        val edits = j * 2
        val t = base.toArray
        (0 until edits).foreach(_ => t(r.nextInt(t.length)) = word(r, vocab))
        texts(c * 6 + j) = t.toVector
      }
      val flen = base.length / 3
      val from = r.nextInt(base.length - flen)
      texts(c * 6 + 5) = base.slice(from, from + flen)
      c += 1
    }
    // shuffle ids so planted clusters do not sit on adjacent ids
    val perm = Array.tabulate(docs)(identity)
    var i = docs - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    Vector.tabulate(docs)(d => Doc(perm(d).toLong, texts(d).mkString(" "))).sortBy(_.id)
  }

  /** `n` vectors of `dim` floats from a mixture of `centers` Gaussians of
    * equal weight; vector i is drawn around center i mod `centers`, so the
    * IVF cells (seeded from the smallest ids) come out balanced and a
    * graph build costs about the same on every seed.
    */
  def embeddings(seed: Long, n: Int, dim: Int, centers: Int): Vector[(Long, Array[Float])] = {
    val r = Rng.of(seed, 6)
    val mus = Array.fill(centers, dim)(r.gaussian() * 3.0)
    Vector.tabulate(n) { i =>
      val mu = mus(i % centers)
      (i.toLong, Array.tabulate(dim)(d => (mu(d) + r.gaussian()).toFloat))
    }
  }
}
