package graft

import graft.operators.{Graph, Relational}
import org.apache.spark.sql.functions._

/** Randomized checks against brute-force in-memory references — the
  * operators whose edge cases (cycles, ties, empty matches) are
  * easiest to get wrong. Fixed seeds keep every run reproducible; each
  * property runs a handful of small random instances.
  */
class PropertySpec extends GraftSuite {
  private val ss = SparkTestBase.spark
  import ss.implicits._

  private def refClosure(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
    var c = edges
    var grown = true
    while (grown) {
      val next = c ++ (for ((a, b) <- c; (b2, d) <- c if b == b2) yield (a, d))
      grown = next.size != c.size
      c = next
    }
    c
  }

  test("transitive closure matches brute-force on random graphs (cycles included)") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val edges = List.fill(rnd.nextInt(40) + 1) {
        val s = rnd.nextInt(13).toLong
        var d = rnd.nextInt(13).toLong
        if (d == s) d = (s + 1) % 13
        (s, d)
      }
      val want = refClosure(edges.toSet)
      val df = edges.toDF("src", "dst")
      val got = Graph.transitiveClosure(df).as[(Long, Long)].collect().toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("asofJoin matches brute-force latest-at-or-before on random series") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(100 + seed)
      def series(n: Int) = List.fill(n)(
        (rnd.nextInt(4).toLong, rnd.nextInt(30).toLong, rnd.nextInt(1000).toLong))
      val lefts = series(rnd.nextInt(30) + 1).distinctBy(r => (r._1, r._2, r._3))
      val rights = series(rnd.nextInt(30))
      val rightBest = rights.groupBy(r => (r._1, r._2))
        .view.mapValues(_.map(_._3).max).toMap
      val expected = lefts.map { case (k, t, id) =>
        val cand = rightBest.filter { case ((rk, rt), _) => rk == k && rt <= t }
        (k, t, id) -> (if (cand.isEmpty) None
                       else Some(cand.maxBy { case ((_, rt), rid) => (rt, rid) }._2))
      }.toMap
      val got = Relational.asofJoin(
          lefts.toDF("k", "ts", "lid"), rights.toDF("k", "rts", "rid"),
          "k", "ts", "rts", rightTiebreak = Seq("rid"))
        .select($"k", $"ts", $"lid", $"asof.rid")
        .as[(Long, Long, Long, Option[Long])].collect()
      assert(got.length == lefts.length, s"seed=$seed row preservation")
      got.foreach { case (k, t, id, m) =>
        assert(m == expected((k, t, id)),
          s"seed=$seed row ($k,$t,$id): got $m want ${expected((k, t, id))}")
      }
    }
  }

  test("diverseTopK equals the greedy capped scan on random rows") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(200 + seed)
      val rows = List.fill(rnd.nextInt(50) + 1)(
        (rnd.nextInt(3).toLong, Seq("a", "b", "c")(rnd.nextInt(3)),
          rnd.nextInt(50).toDouble, rnd.nextLong(10000)))
        .distinctBy(_._4)
      val got = Relational.diverseTopK(rows.toDF("g", "kind", "score", "id"),
          Seq($"g"), $"kind", Seq($"score".desc, $"id".asc), k = 4, perKind = 2)
        .select($"g", $"kind", $"id").as[(Long, String, Long)].collect()
      got.groupBy(_._1).foreach { case (_, rs) => assert(rs.length <= 4) }
      got.groupBy(r => (r._1, r._2)).foreach { case (_, rs) => assert(rs.length <= 2) }
      // Greedy reference: scan score-descending, take while kind cap
      // unmet, stop at k — equivalent to cap-then-top-k because the
      // global and within-kind orders agree.
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.sortBy(r => (-r._3, r._4))
        val taken = scala.collection.mutable.Map.empty[String, Int]
        sorted.iterator.filter { r =>
          val c = taken.getOrElse(r._2, 0)
          if (c < 2) { taken(r._2) = c + 1; true } else false
        }.take(4).map(r => (g, r._2, r._4)).toList
      }.toSet
      assert(got.toSet == expected, s"seed=$seed")
    }
  }

  test("chunkWindows equals the in-memory sliding cut on random docs") {
    import graft.operators.Corpus
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(300 + seed)
      val size = rnd.nextInt(6) + 2        // 2..7
      val stride = rnd.nextInt(size) + 1   // 1..size (overlap or tiling)
      val docs = (0 until rnd.nextInt(12) + 1).map { id =>
        val n = rnd.nextInt(20) // 0..19 tokens, 0 exercises the drop
        (id.toLong, List.fill(n)(s"w${rnd.nextInt(9)}").mkString(" "))
      }
      val expected = docs.flatMap { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toList
        if (toks.isEmpty) Nil
        else (0 until toks.length by stride).zipWithIndex.map { case (start, i) =>
          (id, i.toLong, toks.slice(start, start + size))
        }
      }.toSet
      val got = Corpus.chunkWindows(docs.toDF("doc_id", "text"),
          "doc_id", "text", size, stride)
        .select($"id", $"chunk_idx", $"chunk")
        .as[(Long, Long, Seq[String])].collect()
        .map { case (a, b, c) => (a, b, c.toList) }.toSet
      assert(got == expected, s"seed=$seed size=$size stride=$stride")
    }
  }

  test("pairsEval matches in-memory set arithmetic on random pair frames") {
    // Random frames with duplicates, both orientations, self-pairs
    // and NULL ids — the inputs an ad-hoc caller could feed the
    // public operator, where no DuckDB oracle guards it. Reference:
    // drop null AND reflexive rows, orient (min, max), dedup, then
    // plain set arithmetic with 4-dp HALF_UP ratios (0 when a side
    // is empty).
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(500 + seed)
      def frame(n: Int): List[(Option[Long], Option[Long])] =
        List.fill(n)((
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(9).toLong),
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(9).toLong)))
      def refSet(f: List[(Option[Long], Option[Long])]): Set[(Long, Long)] =
        f.collect { case (Some(a), Some(b)) if a != b =>
          (math.min(a, b), math.max(a, b)) }.toSet
      val cf = frame(rnd.nextInt(25))
      val tf = frame(rnd.nextInt(25) + 1)
      val (c, t) = (refSet(cf), refSet(tf))
      val m = (c & t).size.toLong
      val want = (t.size.toLong, c.size.toLong, m,
        if (c.isEmpty) 0.0 else round4(m.toDouble / c.size),
        if (t.isEmpty) 0.0 else round4(m.toDouble / t.size))
      val got = graft.operators.Dedup.pairsEval(
          cf.toDF("id_a", "id_b"), tf.toDF("id_a", "id_b"))
        .as[(Long, Long, Long, Double, Double)].head()
      assert(got == want, s"seed=$seed cand=$cf truth=$tf")
    }
  }

  test("rankCorrelationOf matches brute-force Spearman on random frames") {
    // a37's registered body on random (coll, member, s1, s2) frames
    // with deliberate score TIES (small value domains) — the case the
    // member-id tiebreak exists for — vs an in-memory reference that
    // ranks with the same total order and applies the closed form.
    // Value-level guard beside the DuckDB oracle: this one covers the
    // ad-hoc caller feeding the PUBLIC function frames the registered
    // lineitem collapse never produces (ties across both scores,
    // single-member collections, negative scores).
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def refRho(rows: Seq[(Long, Long, Double, Double)])
        : Map[Long, (Long, Double)] =
      rows.groupBy(_._1).collect { case (coll, g) if g.size >= 2 =>
        def ranks(score: ((Long, Long, Double, Double)) => Double) =
          g.sortBy(r => (-score(r), r._2)).zipWithIndex
            .map { case (r, i) => r._2 -> (i + 1L) }.toMap
        val (r1, r2) = (ranks(_._3), ranks(_._4))
        val n = g.size.toLong
        val sd2 = g.map(r => { val d = r1(r._2) - r2(r._2); d * d }).sum
        coll -> (n, round6(1.0 - 6.0 * sd2 / (n * (n * n - 1))))
      }
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(900 + seed)
      val rows = for {
        coll <- (0L until (rnd.nextInt(6) + 1)).toList
        member <- rnd.shuffle((0L to 20L).toList).take(rnd.nextInt(8) + 1)
      } yield (coll, member,
        (rnd.nextInt(5) - 2).toDouble,  // ties + negatives on purpose
        (rnd.nextInt(5) - 2).toDouble)
      val got = graft.queries.GroupA4.rankCorrelationOf(
          rows.toDF("coll", "member", "s1", "s2"))
        .as[(Long, Long, Double)].collect()
        .map { case (c, n, rho) => c -> (n, rho) }.toMap
      assert(got == refRho(rows), s"seed=$seed rows=$rows")
    }
    // Deterministic pins: identical orderings → rho 1; exactly
    // reversed → rho −1; a single-member collection is filtered.
    val pinned = Seq(
      (1L, 10L, 3.0, 30.0), (1L, 11L, 2.0, 20.0), (1L, 12L, 1.0, 10.0),
      (2L, 10L, 3.0, 10.0), (2L, 11L, 2.0, 20.0), (2L, 12L, 1.0, 30.0),
      (3L, 10L, 9.0, 9.0))
    val pins = graft.queries.GroupA4.rankCorrelationOf(
        pinned.toDF("coll", "member", "s1", "s2"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(pins == Map(1L -> 1.0, 2L -> -1.0))
  }

  test("rankDescribe matches a brute-force in-memory describe on random frames") {
    // a38's registered body on random (coll, r) / (coll, member, rank)
    // frames vs an in-memory reference that quantizes to cents,
    // interpolates (n−1)p quartiles on the sorted values, and applies
    // the same final double expressions in the same operation order.
    // Value-level guard for the sort-window quartile form: the DuckDB
    // oracle proves two fixed datasets; this covers the edges those
    // never hit — 1-value series (sample std is NaN by definition),
    // all-equal series (zero-width quartiles), heavy value ties across
    // a quartile boundary, and colls present on only one input side
    // (mean/max series keep them, collection_rank semi-joins them out).
    def round6(x: Double) = if (x.isNaN) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Sample std of a 1-value series is NULL (stddev_samp semantics —
    // the unguarded (n−1) division was an ANSI DIVIDE_BY_ZERO this
    // test caught); the sentinel stands in for NULL on both sides.
    val NullStd = -987654321.0
    def describe(vals: Seq[(String, Long)]) = {
      val cents = vals.map(_._2)
      val n = cents.size.toLong
      val sc = cents.sum.toDouble
      val sq = cents.map(c => c * c).sum.toDouble
      val sorted = cents.sorted
      def q(p: Double) = {
        val idx = (n - 1).toDouble * p
        val lo = sorted(math.floor(idx).toInt).toDouble
        val hi = sorted(math.ceil(idx).toInt).toDouble
        round6((lo + (idx - math.floor(idx)) * (hi - lo)) / 100)
      }
      val top = vals.sortBy { case (l, v) => (-v, l) }.take(10).map(_._1)
      (n, round6(sc / n / 100),
        if (n == 1) NullStd
        else round6(math.sqrt(math.max((sq - sc * sc / n) / (n - 1), 0.0)) / 100),
        round6(sorted.head / 100.0), q(0.25), q(0.5), q(0.75),
        round6(sorted.last / 100.0), top.mkString(","))
    }
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(3800 + seed)
      val colls = (0L until (rnd.nextInt(5) + 1)).toList
      // Cents with heavy ties (4 distinct values) so quartile
      // boundaries and the top-10 tiebreak both land on ties, plus
      // injected NULL ranks (1 in 6) — the body must drop them at
      // the door (pandas describe semantics; the review-found edge:
      // a null would rank FIRST in the quartile sort window where
      // percentile() skipped it, shifting every boundary ordinal).
      val memRaw = (for {
        c <- colls if rnd.nextInt(10) > 0
        m <- rnd.shuffle((0L to 15L).toList).take(rnd.nextInt(5) + 1)
      } yield (c, m,
        if (rnd.nextInt(6) == 0) None
        else Some((rnd.nextInt(4) * 25 + 50).toLong)))
      val collRanksRaw = (colls ++ List(99L))
        .filter(_ => rnd.nextInt(10) > 1)
        .map(c => (c,
          if (rnd.nextInt(6) == 0) None
          else Some((rnd.nextInt(5) * 10 + 10).toLong)))
      // Reference: null ranks dropped first, then per-coll moments in
      // exact integer cents, mean by the same (2·tc + n) div (2·n)
      // half-up, arg-max tie to the smallest member — then describe
      // each non-empty series.
      val mem = memRaw.collect { case (c, m, Some(v)) => (c, m, v) }
      val collRanks = collRanksRaw.collect { case (c, Some(v)) => (c, v) }
      val perColl = mem.groupBy(_._1).toSeq.map { case (c, g) =>
        val nm = g.size.toLong
        val tc = g.map(_._3).sum
        val (mr, mm) = g.map(r => (r._3, r._2))
          .max(Ordering.by((t: (Long, Long)) => (t._1, -t._2)))
        (c, nm, (2 * tc + nm) / (2 * nm), mr, mm)
      }
      val memColls = perColl.map(_._1).toSet
      val series = Map(
        "collection_rank" -> collRanks.filter(r => memColls(r._1))
          .map { case (c, rc) => (c.toString, rc) },
        "mean_member_rank" -> perColl.map(p => (p._1.toString, p._3)),
        "max_member_rank" -> perColl.map(p => (s"${p._1}/${p._5}", p._4)))
      val expected = series.collect {
        case (name, vals) if vals.nonEmpty => name -> describe(vals)
      }
      val got = graft.queries.GroupA4.rankDescribe(
          collRanksRaw.toDF("coll", "c")
            .select(col("coll"), (col("c").cast("decimal(38,10)") / 100)
              .cast("decimal(18,2)").as("r")),
          memRaw.toDF("coll", "member", "c")
            .select(col("coll"), col("member"),
              (col("c").cast("decimal(38,10)") / 100)
                .cast("decimal(18,2)").as("rank")))
        .collect().map { r =>
          r.getString(0) -> ((r.getLong(1), r.getDouble(2),
            if (r.isNullAt(3)) NullStd else r.getDouble(3),
            r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getString(9)))
        }.toMap
      assert(got == expected, s"seed=$seed mem=$mem collRanks=$collRanks")
    }
  }

  test("typesToValidateOf matches in-memory set arithmetic on random frames") {
    // b9's registered body on random memberships and type dims vs the
    // reference semantics (per collection type, the distinct sorted
    // union of member types). Edges the oracle data is too dense to
    // hit reliably: articles absent from the type dim (the null-t
    // left-join path), a ct whose EVERY member is typeless (must keep
    // its row with n=0 and an empty csv — the defaultdict semantics),
    // and duplicate (ct, t) arrivals through different articles.
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(4700 + seed)
      val mm = (for {
        ct <- (0L until (rnd.nextInt(4) + 1)).toList
        a <- rnd.shuffle((0L to 12L).toList).take(rnd.nextInt(6) + 1)
      } yield (ct, a)).distinct
      // Sparse dim: ~half the articles have 1-3 types from a tiny
      // domain (heavy cross-article duplication); article 7 NEVER has
      // types, so any ct whose members ⊆ {7} exercises the empty row.
      val mtd = (0L to 12L).filter(a => a != 7L && rnd.nextBoolean())
        .flatMap(a => List.fill(rnd.nextInt(3) + 1)((a, rnd.nextInt(5).toLong)))
        .distinct
      val byArt = mtd.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expected = mm.groupBy(_._1).map { case (ct, g) =>
        val ts = g.flatMap(r => byArt.getOrElse(r._2, Set.empty[Long])).toSet
        ct -> ((ts.size.toLong, ts.toSeq.sorted.mkString(",")))
      }
      val got = graft.queries.GroupB.typesToValidateOf(
          mm.toDF("ct", "article"), mtd.toDF("article", "t"))
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected, s"seed=$seed mm=$mm mtd=$mtd")
    }
  }
}
