package graft

import org.apache.spark.sql.functions._

import graft.api.CassandraLens
import graft.model.{CfMeta, PartitionerType}
import graft.operators.SliceRange

/** Range-scan conformance: bounds inclusivity, token order, wrap-around
  * ranges (test_wrapped_range_slices, test_server.py:937), key limits,
  * describe_splits.
  */
class RangeScanSpec extends SparkSpec {

  private val cells = ('a' to 'j').map(c => ins(c.toString, "c1", s"v$c", 1))
  private def lens(p: PartitionerType.Value = PartitionerType.OrderPreserving) =
    new CassandraLens(cellsDf(cells), CfMeta("t", partitioner = p))

  private def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("key").distinct().collect().map(_.getString(0)).sorted.toSeq

  test("key bounds are start- and end-inclusive (Bounds semantics)") {
    val r = lens().rangeSliceByKeys(Some("c"), Some("f"), None, SliceRange(count = 5), 100)
    assert(keysOf(r) == Seq("c", "d", "e", "f"))
  }

  test("maxKeys limits keys in token order") {
    val r = lens().rangeSliceByKeys(Some("c"), None, None, SliceRange(count = 5), 3)
    assert(keysOf(r) == Seq("c", "d", "e"))
  }

  test("token range is start-EXCLUSIVE, end-inclusive (Range semantics)") {
    val r = lens().rangeSliceByToken(Some(lit("c")), Some(lit("f")), None, SliceRange(count = 5), 100)
    assert(keysOf(r) == Seq("d", "e", "f"))
  }

  test("wrap-around token range splits into (start,MAX] ∪ (MIN,end]") {
    val r = lens().rangeSliceByToken(Some(lit("h")), Some(lit("b")), None, SliceRange(count = 5), 100)
    assert(keysOf(r) == Seq("a", "b", "i", "j"))
  }

  test("wrap-around + maxKeys consumes the post-start arc FIRST (ring order)") {
    // scan (h, b] with maxKeys=2: reference walks i, j before wrapping to a, b
    val r = lens().rangeSliceByToken(Some(lit("h")), Some(lit("b")), None, SliceRange(count = 5), 2)
    assert(keysOf(r) == Seq("i", "j"))
    val r3 = lens().rangeSliceByToken(Some(lit("h")), Some(lit("b")), None, SliceRange(count = 5), 3)
    assert(keysOf(r3) == Seq("a", "i", "j"))
  }

  test("degenerate wrap (start == end) covers the full ring") {
    val r = lens().rangeSliceByToken(Some(lit("e")), Some(lit("e")), None, SliceRange(count = 5), 100)
    assert(keysOf(r) == ('a' to 'j').map(_.toString))
  }

  test("tombstoned keys disappear from range scans") {
    val l = new CassandraLens(
      cellsDf(cells ++ Seq(delRow("d", 9), delRow("e", 9))), CfMeta("t"))
    val r = l.rangeSliceByKeys(Some("c"), Some("f"), None, SliceRange(count = 5), 100)
    assert(keysOf(r) == Seq("c", "f"))
  }

  test("page pick: eager and lazy branches equal the unlimited scan's ring-order prefix") {
    // 11,600 keys, more than 10,001 of them live: maxKeys 3 and 10000 take
    // the eager key-list branch, 10001 the lazy broadcast semi-join. Two
    // fully dead key blocks (a row tombstone over every cell) open the key
    // scan and the wrap-around token scan; scattered keys die from a
    // column tombstone plus a row tombstone, others keep one column past
    // a column or row tombstone.
    def k(i: Int) = f"k$i%05d"
    val store = (0 until 11600).flatMap { i =>
      if (i < 200 || (i > 5000 && i <= 5200))
        Seq(ins(k(i), "c1", s"a$i", 1), ins(k(i), "c2", s"b$i", 9), delRow(k(i), 10))
      else if (i % 13 == 0)
        Seq(ins(k(i), "c1", s"a$i", 1), del(k(i), "c1", 3), ins(k(i), "c2", s"b$i", 4),
          delRow(k(i), 5))
      else if (i % 7 == 0)
        Seq(ins(k(i), "c1", s"a$i", 1), delRow(k(i), 5), ins(k(i), "c2", s"b$i", 9))
      else if (i % 5 == 0)
        Seq(ins(k(i), "c1", s"a$i", 1), del(k(i), "c1", 3), ins(k(i), "c2", s"b$i", 9))
      else
        Seq(ins(k(i), "c1", s"a$i", 1), ins(k(i), "c1", s"x$i", 2), ins(k(i), "c2", s"b$i", 9))
    }
    val plain = new CassandraLens(cellsDf(store), CfMeta("t"))
    val cached = plain.withRowCache()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, Long)] =
      df.select(col("key"), decode(col("col_name"), "UTF-8"), decode(col("value"), "UTF-8"),
        col("ts")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq.sorted
    val start = k(5000)
    val calls: Seq[(String, CassandraLens => Int => org.apache.spark.sql.DataFrame,
        String => (Int, String))] = Seq(
      ("rangeSliceByKeys", l => m => l.rangeSliceByKeys(None, None, None, SliceRange(count = 5), m),
        key => (0, key)),
      ("rangeSliceByToken", l => m => l.rangeSliceByToken(Some(lit(start)), Some(lit(k(4999))),
        None, SliceRange(count = 5), m), key => (if (key > start) 0 else 1, key)))
    try {
      for ((lensName, l) <- Seq("plain" -> plain, "row-cached" -> cached);
           (callName, call, ring) <- calls) {
        val full = rows(call(l)(Int.MaxValue))
        val ringKeys = full.map(_._1).distinct.sortBy(ring)
        assert(ringKeys.size > 10001, s"$lensName $callName: ${ringKeys.size} live keys")
        assert(!ringKeys.contains(k(0)) && !ringKeys.contains(k(5001)) && !ringKeys.contains(k(13)))
        for (m <- Seq(3, 10000, 10001)) {
          val page = ringKeys.take(m).toSet
          assert(rows(call(l)(m)) == full.filter(r => page.contains(r._1)),
            s"$lensName $callName maxKeys=$m")
        }
      }
    } finally cached.dropRowCache()
  }

  test("md5-hex token order differs from key order but is deterministic") {
    val r = lens(PartitionerType.Md5Hex).rangeSliceByKeys(None, None, None, SliceRange(count = 5), 4)
    // first 4 keys in md5 order
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = ('a' to 'j').map(_.toString).sortBy(hex).take(4).sorted
    assert(keysOf(r) == expected)
  }

  test("paged scan: exclusive continuation covers every key exactly once") {
    val pages = graft.operators.PagedScan.pages(lens(), SliceRange(count = 5), pageSize = 4).toSeq
    assert(pages.length == 3) // 4 + 4 + 2 keys
    val pageKeys = pages.map(keysOf)
    assert(pageKeys(0) == Seq("a", "b", "c", "d"))
    assert(pageKeys(1) == Seq("e", "f", "g", "h"))
    assert(pageKeys(2) == Seq("i", "j"))
  }

  test("paged scan over hash-token order pages in token space") {
    val all = graft.operators.PagedScan
      .pages(lens(PartitionerType.Md5Hex), SliceRange(count = 5), pageSize = 3)
      .flatMap(keysOf).toSeq
    assert(all.sorted == ('a' to 'j').map(_.toString))
    assert(all.length == 10) // no duplicates across pages
  }

  test("describe_splits partitions keys into contiguous ranges of ~equal count") {
    val splits = lens().describeSplits(3).orderBy("split_id").collect()
    assert(splits.length == 3)
    assert(splits.map(_.getAs[Long]("n_keys")).sum == 10)
    val ends = splits.map(r => (r.getAs[String]("start_key"), r.getAs[String]("end_key")))
    assert(ends.head._1 == "a" && ends.last._2 == "j")
    // contiguous, non-overlapping
    ends.sliding(2).foreach { case Array((_, e1), (s2, _)) => assert(e1 < s2) }
  }

  test("sampled describe_splits bounds key-count skew vs exact on the sf0.01 store") {
    val dir = "/root/testdata/sf0.01"
    val cells = graft.sources.CellEncodings.ordersCells(spark, dir)
    val l = new CassandraLens(cells, graft.sources.CellEncodings.ordersMeta)
    val n = 4
    val splits = l.describeSplitsSampled(n, interval = 16).orderBy("split_id").collect()
    assert(splits.length == n)
    // assign every REAL key to its sampled split: split i covers
    // (end_{i-1}, end_i], last split open above (OrderPreserving: token=key)
    val keys = cells.select("key").distinct().collect().map(_.getString(0)).sorted
    val ends = splits.map(_.getAs[String]("end_key"))
    assert(ends.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
    val counts = keys.groupBy { k =>
      val i = ends.indexWhere(k <= _); if (i < 0) n - 1 else i
    }.view.mapValues(_.length.toLong).toMap
    val ideal = keys.length.toDouble / n
    (0 until n).foreach { i =>
      val c = counts.getOrElse(i, 0L).toDouble
      assert(c > ideal / 3 && c < ideal * 3,
        s"split $i holds $c keys vs ideal $ideal — sampling skew out of bounds")
      // the reported estimate tracks the real population within the same bound
      val est = splits(i).getAs[Long]("est_keys").toDouble
      assert(est > c / 3 && est < c * 3, s"split $i est $est vs actual $c")
    }
  }
}
