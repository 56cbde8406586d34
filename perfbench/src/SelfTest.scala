package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own checks, run with `python3 perfbench/run.py
  * --selftest`: generator determinism, the model's LWW / tombstone /
  * gcGrace rules on hand-built cases (the cases of the engine's
  * ReconcileSpec, decided here by the model alone), the tail-percentile
  * rule, and that a failing operation is counted, not fatal.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!r) failures += 1
    println(s"${if (r) "ok  " else "FAIL"} $name")
  }

  private def b(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)
  private def ins(k: String, c: String, v: String, ts: Long, sup: String = null) =
    Model.C(k, b(sup), b(c), b(v), ts, tomb = false, 0)
  private def del(k: String, c: String, ts: Long, ldt: Int = 0, sup: String = null) =
    Model.C(k, b(sup), b(c), Array.emptyByteArray, ts, tomb = true, ldt)
  private def delRow(k: String, ts: Long, ldt: Int = 0) =
    Model.C(k, null, null, Array.emptyByteArray, ts, tomb = true, ldt)
  private def delSuper(k: String, sup: String, ts: Long) =
    Model.C(k, b(sup), null, Array.emptyByteArray, ts, tomb = true, 0)
  private def values(cs: Seq[Model.C]): Map[String, String] =
    cs.map(c => new String(c.col, UTF_8) -> new String(c.value, UTF_8)).toMap

  def run(): Int = {
    check("point cells are a pure function of (seed, key)") {
      val a = (0 until 200).flatMap(i => Gen.pointCells(7, i)).map(c => Model.row(Model.fromGen(c)))
      val b2 = (0 until 200).flatMap(i => Gen.pointCells(7, i)).map(c => Model.row(Model.fromGen(c)))
      val c = (0 until 200).flatMap(i => Gen.pointCells(8, i)).map(c => Model.row(Model.fromGen(c)))
      a == b2 && a != c
    }
    check("batches, corpus and embeddings repeat per seed") {
      def h(seed: Long): String = {
        val x = new InputHash
        Gen.batch(seed, 3, 1000, 500).foreach(c => x.add(c.key, c.col, c.value, c.ts, c.tombstone))
        Gen.corpus(seed, 120, 20, 5000, 4).foreach(d => x.add(d.id, d.text))
        Gen.embeddings(seed, 50, 8, 3).foreach { case (i, v) => x.add(i, v.mkString(",")) }
        x.hex
      }
      h(3) == h(3) && h(3) != h(4)
    }
    check("planted fragments are contained in their base document") {
      val docs = Gen.corpus(5, 60, 30, 100000, 10)
      val sets = docs.map(d => d.id -> Model.shingles(d.text, 3)).toMap
      Model.overlaps(sets).count { case (_, _, i, sa, sb) => i == math.min(sa, sb) } >= 10
    }

    check("higher timestamp wins") {
      values(Model.live(Seq(ins("k1", "c1", "old", 1), ins("k1", "c1", "new", 2)))) == Map("c1" -> "new")
    }
    check("tombstone wins timestamp ties") {
      Model.live(Seq(ins("k1", "c1", "v", 5), del("k1", "c1", 5))).isEmpty
    }
    check("equal-ts live versions tie-break on greater unsigned value bytes") {
      values(Model.live(Seq(ins("k1", "c1", "apple", 5), ins("k1", "c1", "zebra", 5)))) ==
        Map("c1" -> "zebra") &&
        Model.live(Seq(Model.C("k", null, b("c"), Array[Byte](0x7f), 5, tomb = false, 0),
          Model.C("k", null, b("c"), Array[Byte](-128), 5, tomb = false, 0))).head.value.head == -128
    }
    check("reconcile is order-insensitive") {
      val cells = Seq(ins("k1", "c1", "a", 1), del("k1", "c1", 2), ins("k1", "c1", "b", 3),
        ins("k1", "c2", "x", 7), del("k1", "c2", 7))
      val fwd = values(Model.live(cells))
      fwd == values(Model.live(cells.reverse)) && fwd == Map("c1" -> "b")
    }
    check("newer insert resurrects a deleted column") {
      values(Model.live(Seq(ins("k1", "c1", "v1", 1), del("k1", "c1", 2), ins("k1", "c1", "v2", 3)))) ==
        Map("c1" -> "v2")
    }
    check("row tombstone shadows older columns, newer survive") {
      Model.live(Seq(ins("k1", "c1", "old", 1), ins("k1", "c2", "old", 9), delRow("k1", 5),
        ins("k1", "c3", "new", 6))).map(c => new String(c.col, UTF_8)).toSet == Set("c2", "c3")
    }
    check("row tombstone shadows a column of equal timestamp") {
      Model.live(Seq(ins("k1", "c1", "v", 5), delRow("k1", 5))).isEmpty
    }
    check("supercolumn tombstone shadows only its subcolumns; resurrect works") {
      values(Model.live(Seq(ins("k1", "s1c1", "v", 1, sup = "sc1"), ins("k1", "s2c1", "v", 1, sup = "sc2"),
        delSuper("k1", "sc1", 2), ins("k1", "s1c1", "back", 3, sup = "sc1")))) ==
        Map("s1c1" -> "back", "s2c1" -> "v")
    }
    check("row tombstone also shadows subcolumns via max(row, sc) horizon") {
      Model.live(Seq(ins("k1", "c1", "v", 3, sup = "sc1"), delSuper("k1", "sc1", 1), delRow("k1", 4))).isEmpty
    }
    check("gcGrace: compaction keeps young tombstones, purges expired ones") {
      val kept = Model.compact(Seq(ins("k1", "c1", "v", 1), del("k1", "c1", 2, ldt = 100),
        ins("k1", "c2", "v", 1), del("k1", "c2", 2, ldt = 900)), gcBefore = 500)
      kept.size == 1 && kept.head.tomb && new String(kept.head.col, UTF_8) == "c2"
    }
    check("compacted markers survive until gcBefore passes") {
      val cells = Seq(ins("k1", "c1", "v", 1), delRow("k1", 5, ldt = 900))
      Model.compact(cells, 500).count(_.col == null) == 1 && Model.compact(cells, 1000).count(_.col == null) == 0
    }
    check("slice returns the first count live columns in name order") {
      Model.slice(Model.live((0 until 8).reverse.map(c => ins("k", f"c$c%02d", "v", 1))), 3)
        .map(c => new String(c.col, UTF_8)) == Seq("c00", "c01", "c02")
    }
    check("incremental table agrees with the batch model") {
      val r = Rng.of(1, 99)
      val cells = (0 until 3000).map { _ =>
        val k = s"k${r.nextInt(20)}"
        r.nextInt(10) match {
          case 0 => delRow(k, r.nextInt(50), ldt = r.nextInt(50))
          case 1 | 2 => del(k, s"c${r.nextInt(6)}", r.nextInt(50), ldt = r.nextInt(50))
          case _ => ins(k, s"c${r.nextInt(6)}", s"v${r.nextInt(9)}", r.nextInt(50))
        }
      }
      val t = new Model.Table
      cells.foreach(t(_))
      def raw(cs: Seq[Model.C]) = cs.map(c => s"${Model.row(c)}|${c.tomb}|${c.ldt}").sorted
      t.allLive.map(Model.row) == Model.live(cells).map(Model.row) &&
        Seq(0, 25, 60).forall(g => raw(t.compacted(g)) == raw(Model.compact(cells, g)))
    }

    check("tail percentile leaves at least 10 samples above it") {
      Stats.tailPercentile(30).contains(66) && Stats.tailPercentile(20).contains(50) &&
        Stats.tailPercentile(19).isEmpty && Stats.tailPercentile(1000).contains(99) &&
        (20 to 500).forall(n => Stats.tailPercentile(n).forall(p => Stats.above(n, p) >= 10 &&
          (p == 99 || Stats.above(n, p + 1) < 10)))
    }
    check("percentile and median on a known sample") {
      val xs = (1 to 40).map(_.toDouble)
      Stats.median(xs) == 20.5 && Stats.percentile(xs, 75) == 30.0 &&
        Stats.summary(xs).tail.contains(30.0)
    }

    check("a failing operation counts as failed and the run goes on") {
      val ctx = new Ctx(null, 1, 1, new Tracer(null, enabled = false), java.nio.file.Paths.get("."))
      val a = ctx.attempt[Int]("boom")(throw new IllegalStateException("injected"))(_ => None)
      val w = ctx.attempt("wrong")(1)(_ => Some("mismatch"))
      val ok = ctx.attempt("fine")(2)(_ => None)
      a.isEmpty && w.contains(1) && ok.contains(2) && ctx.attempted == 3 && ctx.failed == 2
    }

    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
