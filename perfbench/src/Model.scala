package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own model of the store, written from the reference
  * rules and not from the engine's code:
  *  - last write wins per column (db/Column.java:196-210 comparePriority):
  *    higher ts wins; on equal ts a tombstone wins; between live versions
  *    of equal ts the greater value (unsigned bytes) wins;
  *  - a row marker (no supercolumn, no column) and a supercolumn marker
  *    (no column) shadow every cell of their container whose ts is at or
  *    below the marker's (db/ColumnFamilyStore.java:663-717);
  *  - compaction purges a tombstone or marker whose local deletion time is
  *    before gcBefore (db/CompactionManager.java:636-643);
  *  - a slice returns the first `count` live columns in comparator order.
  */
object Model {
  /** A cell. `sup` null on standard CFs; `col` null on a marker. */
  final case class C(key: String, sup: Array[Byte], col: Array[Byte],
      value: Array[Byte], ts: Long, tomb: Boolean, ldt: Int)

  def fromGen(g: GenCell): C = C(g.key, null, g.col, g.value, g.ts, g.tombstone, g.ldt)

  /** Unsigned lexicographic byte order (the Bytes comparator). Null first. */
  def cmpBytes(a: Array[Byte], b: Array[Byte]): Int =
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }

  /** True when version `a` beats version `b` of the same column. */
  def beats(a: C, b: C): Boolean =
    if (a.ts != b.ts) a.ts > b.ts
    else if (a.tomb != b.tomb) a.tomb
    else cmpBytes(a.value, b.value) > 0

  /** Winner of each (key, sup, col) group; markers reduce the same way. */
  def winners(cells: Iterable[C]): Seq[C] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[(String, Bytes, Bytes), C]
    cells.foreach { c =>
      val k = (c.key, Bytes(c.sup), Bytes(c.col))
      m.get(k) match {
        case Some(w) if !beats(c, w) =>
        case _ => m(k) = c
      }
    }
    m.values.toSeq
  }

  /** Deletion horizon of a container: the newest marker ts, or MinValue. */
  private def horizons(ws: Seq[C]): (Map[String, Long], Map[(String, Bytes), Long]) = {
    val markers = ws.filter(c => c.col == null && c.tomb)
    (markers.filter(_.sup == null).groupBy(_.key).map { case (k, v) => k -> v.map(_.ts).max },
      markers.filter(_.sup != null).groupBy(c => (c.key, Bytes(c.sup)))
        .map { case (k, v) => k -> v.map(_.ts).max })
  }

  private def shadowed(c: C, row: Map[String, Long], sc: Map[(String, Bytes), Long]): Boolean = {
    val h = math.max(row.getOrElse(c.key, Long.MinValue),
      if (c.sup == null) Long.MinValue else sc.getOrElse((c.key, Bytes(c.sup)), Long.MinValue))
    c.ts <= h
  }

  /** Live columns: winners that are not tombstones and not shadowed by a
    * row or supercolumn marker, sorted by (key, sup, col).
    */
  def live(cells: Iterable[C]): Seq[C] = {
    val ws = winners(cells)
    val (row, sc) = horizons(ws)
    ws.filter(c => c.col != null && !c.tomb && !shadowed(c, row, sc)).sorted(order)
  }

  /** What a full compaction at `gcBefore` keeps: winning columns not
    * shadowed (tombstones only while young) plus young markers.
    */
  def compact(cells: Iterable[C], gcBefore: Int): Seq[C] = {
    val ws = winners(cells)
    val (row, sc) = horizons(ws)
    val cols = ws.filter(c => c.col != null && !shadowed(c, row, sc) && (!c.tomb || c.ldt >= gcBefore))
    val markers = ws.filter(c => c.col == null && c.ldt >= gcBefore)
    (cols ++ markers).sorted(order)
  }

  /** Slice of one standard row: its first `count` live columns. */
  def slice(liveRow: Seq[C], count: Int): Seq[C] = liveRow.sorted(order).take(count)

  val order: Ordering[C] = new Ordering[C] {
    def compare(a: C, b: C): Int = {
      val k = a.key.compareTo(b.key)
      if (k != 0) k else {
        val s = cmpBytes(a.sup, b.sup)
        if (s != 0) s else cmpBytes(a.col, b.col)
      }
    }
  }

  /** Byte-array key with value equality. */
  final case class Bytes(b: Array[Byte]) {
    override def hashCode: Int = if (b == null) 0 else java.util.Arrays.hashCode(b)
    override def equals(o: Any): Boolean = o match {
      case Bytes(x) => (x == null && b == null) || (x != null && b != null && java.util.Arrays.equals(x, b))
      case _ => false
    }
  }

  /** One returned column as compared against the engine: key, name, value, ts. */
  def row(key: String, col: Array[Byte], value: Array[Byte], ts: Long): String =
    s"$key|${if (col == null) "null" else new String(col, UTF_8)}|${hex(value)}|$ts"
  def row(c: C): String = row(c.key, c.col, c.value, c.ts)
  def hex(b: Array[Byte]): String =
    if (b == null) "null" else b.map(x => f"${x & 0xFF}%02x").mkString

  // ---- the ingest_compact store as a live table

  /** Incremental model of a growing store: per column the winning version,
    * per key the row horizon. `live` only ever depends on the winners and
    * horizons, so the table need not keep every version.
    */
  final class Table {
    private val cols = new java.util.TreeMap[String, java.util.TreeMap[Bytes, C]]()
    /** The winning row marker of each key: its ts is the row horizon. */
    private val markers = new java.util.TreeMap[String, C]()
    private val bytesOrder: java.util.Comparator[Bytes] = (a: Bytes, b: Bytes) => cmpBytes(a.b, b.b)

    def apply(c: C): Unit =
      if (c.col == null) {
        val w = markers.get(c.key)
        if (c.tomb && (w == null || beats(c, w))) markers.put(c.key, c)
      } else {
        var row = cols.get(c.key)
        if (row == null) { row = new java.util.TreeMap[Bytes, C](bytesOrder); cols.put(c.key, row) }
        val k = Bytes(c.col)
        val w = row.get(k)
        if (w == null || beats(c, w)) row.put(k, c)
      }

    private def horizon(key: String): Long =
      Option(markers.get(key)).map(_.ts).getOrElse(Long.MinValue)

    /** Winning columns of one key in name order that no row marker shadows. */
    private def unshadowed(key: String): Seq[C] = {
      val row = cols.get(key)
      if (row == null) Nil
      else {
        val h = horizon(key)
        val out = Vector.newBuilder[C]
        val it = row.values.iterator
        while (it.hasNext) { val c = it.next(); if (c.ts > h) out += c }
        out.result()
      }
    }

    /** Live columns of one key in name order. */
    def liveRow(key: String): Seq[C] = unshadowed(key).filter(!_.tomb)

    /** What a full compaction at `gcBefore` leaves: per key its unshadowed
      * winners (tombstones only while young) and its young row marker.
      */
    def compacted(gcBefore: Int): Seq[C] = {
      val keys = new java.util.TreeSet[String](cols.keySet)
      keys.addAll(markers.keySet)
      val out = Vector.newBuilder[C]
      keys.forEach { k =>
        out ++= unshadowed(k).filter(c => !c.tomb || c.ldt >= gcBefore)
        Option(markers.get(k)).filter(_.ldt >= gcBefore).foreach(out += _)
      }
      out.result()
    }

    /** The first `maxKeys` keys at or after `start` with a live column,
      * each sliced to `count` columns.
      */
    def rangePage(start: String, maxKeys: Int, count: Int): Seq[C] = {
      val out = Vector.newBuilder[C]
      var n = 0
      val it = cols.tailMap(start, true).keySet.iterator
      while (n < maxKeys && it.hasNext) {
        val r = liveRow(it.next())
        if (r.nonEmpty) { out ++= r.take(count); n += 1 }
      }
      out.result()
    }

    def allLive: Seq[C] = {
      val out = Vector.newBuilder[C]
      val it = cols.keySet.iterator
      while (it.hasNext) out ++= liveRow(it.next())
      out.result()
    }
  }

  // ---- similarity: shingles, exact set overlap, k-means and kNN

  /** Distinct word n-grams of lower-cased whitespace tokens. */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  /** (a, b, |A∩B|, |A|, |B|) for every pair a < b sharing a shingle. */
  def overlaps(sets: Map[Long, Set[String]]): Seq[(Long, Long, Int, Int, Int)] = {
    val post = scala.collection.mutable.HashMap.empty[String, List[Long]]
    sets.foreach { case (id, s) => s.foreach(x => post(x) = id :: post.getOrElse(x, Nil)) }
    val inter = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    post.valuesIterator.foreach { ids =>
      val a = ids.toArray.sorted
      var i = 0
      while (i < a.length) {
        var j = i + 1
        while (j < a.length) { val k = (a(i), a(j)); inter(k) = inter.getOrElse(k, 0) + 1; j += 1 }
        i += 1
      }
    }
    inter.toSeq.map { case ((a, b), n) => (a, b, n, sets(a).size, sets(b).size) }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Integer k-means as the pipeline defines it: components in micro
    * units (round(x·1e6)), seeds are the k smallest ids, nearest centroid
    * by squared L2 with the lower cluster winning ties, then one refine
    * step with floor-divided micro means. Returns each id's refined cell.
    */
  def ivfCells(vecs: IndexedSeq[(Long, Array[Float])], k: Int): Map[Long, Int] = {
    // Spark's round(): HALF_UP on the double's decimal value
    def micro1(x: Float): Long =
      BigDecimal(x.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val micro = vecs.map { case (id, v) => id -> v.map(micro1) }
    val seeds = micro.sortBy(_._1).take(k).map(_._2).toArray
    def assign(cent: Array[Array[Long]]): IndexedSeq[(Long, Int)] = micro.map { case (id, m) =>
      var best = -1
      var bestD = 0L
      var c = 0
      while (c < cent.length) {
        var d = 0L
        var i = 0
        while (i < m.length) { val x = m(i) - cent(c)(i); d += x * x; i += 1 }
        if (best < 0 || d < bestD) { best = c; bestD = d }
        c += 1
      }
      id -> best
    }
    val a0 = assign(seeds)
    val byId = micro.toMap
    val dim = seeds(0).length
    // an empty cluster has no statistics row and so no refined centroid
    val present = a0.map(_._2).distinct.sorted
    val cent = present.map { c =>
      val members = a0.filter(_._2 == c).map(p => byId(p._1))
      val n = members.size.toLong
      Array.tabulate(dim) { i =>
        val s = members.map(_(i)).sum
        Math.floorDiv(s, n)
      }
    }.toArray
    assign(cent).map { case (id, j) => id -> present(j) }.toMap
  }
}
