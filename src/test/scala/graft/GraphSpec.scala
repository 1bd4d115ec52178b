package graft

import graft.operators.Graph
import graft.sources.NTriples
import org.apache.spark.sql.graft.SparkInternals

class GraphSpec extends GraftSuite {
  private val ss = SparkTestBase.spark
  import ss.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  /** Independent oracle: the closure of an edge list by in-memory BFS
    * from every source — paths of length ≥ 1, so (a, a) iff a lies on
    * a cycle. */
  private def bfsClosure(edgePairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val adj = edgePairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def reach(n: Long): Set[Long] = {
      var seen = Set.empty[Long]
      var frontier = adj.getOrElse(n, Set.empty)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
      }
      seen
    }
    adj.keys.flatMap(s => reach(s).map(d => (s, d))).toSet
  }

  /** The Spark jobs `body` starts, counted by a listener after the
    * listener bus drains. */
  private def jobs(body: => Unit): Int = {
    val sc = ss.sparkContext
    SparkInternals.drainListenerBus(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; SparkInternals.drainListenerBus(sc); n.get() }
    finally sc.removeSparkListener(l)
  }

  test("closure of a chain finds all ancestor pairs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(pairs(Graph.transitiveClosure(edges)) ===
      Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (2L, 4L), (1L, 4L)))
  }

  test("closure of a dag with diamond does not duplicate pairs") {
    // 1→2, 1→3, 2→4, 3→4 : (1,4) reachable two ways, must appear once
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val c = Graph.transitiveClosure(edges)
    assert(c.count() === c.distinct().count())
    assert(pairs(c) === Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (1L, 4L)))
  }

  test("closure terminates on a cycle") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(pairs(Graph.transitiveClosure(edges)) ===
      Set((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L)))
  }

  test("closure of a tree equals its literal ancestor pairs") {
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (7L, 3L))
      .toDF("src", "dst")
    assert(pairs(Graph.transitiveClosure(edges)) ===
      Set((2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (7L, 3L),
        (4L, 1L), (5L, 1L), (6L, 1L), (7L, 1L)))
  }

  /** The b2 shape: binary-tree edges k → k/2 over sf0.001 part keys. */
  private def partTree() = Tables(spark, sfDir, "part")
    .filter($"p_partkey" >= 2)
    .selectExpr("p_partkey AS src", "p_partkey DIV 2 AS dst")

  test("reachableTo equals the target-filtered full closure") {
    // Targets 2..31 — the exact shape b2 runs; the backward walk must
    // agree with the oracle's full closure restricted to those
    // destinations, and so must the forward walk filtered the same way.
    val edges = partTree()
    val targets = spark.range(2, 32).select($"id".as("dst"))
    val full = bfsClosure(edges.as[(Long, Long)].collect().toSeq)
      .filter(p => p._2 >= 2 && p._2 < 32)
    assert(pairs(Graph.reachableTo(edges, targets)) === full)
    assert(pairs(Graph.transitiveClosure(edges).join(targets, "dst")
      .select("src", "dst")) === full)
    assert(full.nonEmpty)
  }

  /** Rows with nulls kept: the null-endpoint cases compare these. */
  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSet

  test("closure equals literal pair sets on chains, diamonds and cycles") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val cycle = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val cases = Seq(
      chain -> (for (a <- 1L to 6L; b <- a + 1 to 6L) yield (a, b)).toSet,
      diamond -> Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
        (1L, 4L), (1L, 5L), (2L, 5L), (3L, 5L)),
      // (t, t) iff t lies on a cycle: 1 and 2 do, 3 does not.
      cycle -> Set((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (1L, 1L), (2L, 2L)))
    for ((edges, want) <- cases) {
      val got = Graph.transitiveClosure(edges).as[(Long, Long)].collect()
      assert(got.length === got.distinct.length, "the walk must emit a set")
      assert(got.toSet === want)
    }
  }

  test("reachableTo equals the closed-form ancestor pairs (b2 shape)") {
    // In the k → k/2 tree the ancestors of k are k/2, k/4, …, as long
    // as each step's source is itself an edge source.
    val edges = partTree()
    val targets = spark.range(2, 32).select($"id".as("dst"))
    val srcs = edges.select("src").as[Long].collect().toSet
    def ancestors(k: Long): List[Long] = if (!srcs(k)) Nil else (k / 2) :: ancestors(k / 2)
    val want = srcs.flatMap(k => ancestors(k).filter(t => t >= 2 && t < 32).map(t => (k, t)))
    assert(pairs(Graph.reachableTo(edges, targets)) === want)
    assert(want.nonEmpty)
  }

  test("reachableTo handles cycles and disconnected targets") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L)).toDF("src", "dst")
    val targets = Seq(Tuple1(1L), Tuple1(9L)).toDF("dst")
    assert(pairs(Graph.reachableTo(edges, targets)) === Set((2L, 1L), (1L, 1L)))
  }

  test("closures have no duplicate rows when a shortcut edge coexists with a longer path") {
    // (1,3) is connected at distance 1 (shortcut) AND distance 2
    // (1→2→3): each walk must report the pair once.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val c = Graph.transitiveClosure(edges)
    assert(c.count() === c.distinct().count(), "closure must be a set")
    val r = Graph.reachableTo(edges, Seq(Tuple1(3L)).toDF("dst"))
    assert(r.count() === r.distinct().count(), "reachableTo must be a set")
  }

  test("property: closures match an in-memory BFS oracle on random graphs, both walks") {
    // Both walks: the forward closure and the backward reachableTo.
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 8) {
      // Odd trials: random DAGs (edges only src > dst, multi-parent
      // allowed). Even trials: any direction, so cycles and
      // self-loops. Nodes 1..20, ~2 outgoing edges each.
      val edgePairs = (2 to 20).flatMap { s =>
        Seq.fill(rnd.nextInt(3)) {
          val d = if (trial % 2 == 1) rnd.nextInt(s - 1) + 1 else rnd.nextInt(20) + 1
          (s.toLong, d.toLong)
        }
      }.distinct
      if (edgePairs.nonEmpty) {
        val want = bfsClosure(edgePairs)
        val edges = edgePairs.toDF("src", "dst")
        val got = Graph.transitiveClosure(edges).as[(Long, Long)].collect()
        assert(got.length === got.distinct.length, s"trial $trial: closure emitted duplicates")
        assert(got.toSet === want, s"trial $trial")
        val targets = want.map(_._2).take(3) + 99L // 99: no such node
        val r = Graph.reachableTo(edges, targets.toSeq.toDF("dst")).as[(Long, Long)].collect()
        assert(r.length === r.distinct.length, s"trial $trial: reachableTo emitted duplicates")
        assert(r.toSet === want.filter(p => targets.contains(p._2)), s"trial $trial reachableTo")
      }
    }
  }

  test("broadcast walk: empty edge set, empty and disconnected target sets") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    assert(Graph.transitiveClosure(none).count() === 0L)
    assert(Graph.reachableTo(none, Seq(1L).toDF("dst")).count() === 0L)
    assert(Graph.reachableTo(edges, Seq.empty[Long].toDF("dst")).count() === 0L)
    // 1 is a source only, 9 no node at all, 8 a separate component.
    assert(pairs(Graph.reachableTo(edges, Seq(1L, 9L, 8L, 8L).toDF("dst"))) === Set((7L, 8L)))
  }

  test("broadcast walk: null endpoints give the join path's rows") {
    // The rows a join-based walk yields: a null id never matches as a
    // join key, so an edge into null ends there, an edge out of null
    // starts there, and null is never a target.
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(2L)),
      (None, Some(3L)), (Some(3L), Some(1L)), (None, None), (Some(4L), Some(5L)))
      .toDF("src", "dst")
    val targets = Seq(Some(1L), Some(2L), None).toDF("dst")
    val closure: Set[(Any, Any)] = Set((1L, 2L), (1L, null), (2L, null), (3L, 1L),
      (3L, 2L), (3L, null), (4L, 5L), (null, 2L), (null, 3L), (null, null), (null, 1L))
    assert(rows(Graph.transitiveClosure(edges)) === closure)
    assert(rows(Graph.reachableTo(edges, targets)) ===
      closure.filter(p => p._2 == 1L || p._2 == 2L))
  }

  test("broadcast walk keeps int src with long dst, and rejects non-integral ids") {
    val mixed = Seq((4, 2L), (2, 1L), (5, 2L)).toDF("src", "dst")
    val targets = Seq(1L).toDF("dst")
    for (df <- Seq(Graph.transitiveClosure(mixed), Graph.reachableTo(mixed, targets)))
      assert(df.schema.map(_.dataType) === Seq(
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType))
    assert(rows(Graph.transitiveClosure(mixed)) ===
      Set[(Any, Any)]((4, 2L), (2, 1L), (5, 2L), (4, 1L), (5, 1L)))
    assert(rows(Graph.reachableTo(mixed, targets)) ===
      Set[(Any, Any)]((2, 1L), (4, 1L), (5, 1L)))
    // An int target set against long ids matches by value too.
    assert(pairs(Graph.reachableTo(Seq((2L, 1L)).toDF("src", "dst"), Seq(1).toDF("dst"))) ===
      Set((2L, 1L)))
    val named = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.transitiveClosure(named))
    intercept[IllegalArgumentException](Graph.reachableTo(named, Seq("b").toDF("dst")))
    intercept[IllegalArgumentException](Graph.reachableTo(mixed, Seq("1").toDF("dst")))
    intercept[IllegalArgumentException](Graph.transitiveClosure(
      Seq((1.0, 2.0)).toDF("src", "dst")))
    // The deltas reject them too, and free their slice cuts first: a
    // catch-and-retry serving loop must not leak one set per attempt.
    val before = ss.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException](Graph.transitiveClosureDelta(named, named))
    intercept[IllegalArgumentException](
      Graph.reachableToDelta(Seq("b").toDF("dst"), named, named, named))
    val leaked = ss.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"a failing delta leaked its slice cuts: $leaked")
  }

  test("closures walk a 40-hop chain in at most 2 Spark jobs") {
    // One job collects the edges; the walks run inside the one job
    // that reads the result. A walk by rounds would run a job per hop.
    val chain = (1L to 40L).map(i => (i, i - 1)).toDF("src", "dst")
    val closureJobs = jobs(assert(Graph.transitiveClosure(chain).collect().length === 40 * 41 / 2))
    assert(closureJobs <= 2, s"transitiveClosure ran $closureJobs jobs")
    // The root as the one target: the whole chain reaches it.
    val reachJobs = jobs(assert(Graph.reachableTo(chain, Seq(0L).toDF("dst")).collect().length === 40))
    assert(reachJobs <= 2, s"reachableTo ran $reachJobs jobs")
  }

  test("redirect fallback rescues members whose redirect target reaches (b3 shape)") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // 4→2, 5→2, 2→1, 3→1: type 3 does NOT reach 2, but its same_as
    // redirect 3→5 does — the member must be rescued.
    val edges = Seq((4L, 2L), (5L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val closure = Graph.reachableTo(edges, Seq(Tuple1(2L)).toDF("dst"))
    val members = Seq((10L, 3L, 2L), (11L, 4L, 2L), (12L, 9L, 2L))
      .toDF("id", "typ", "target")
    val redirects = Seq((3L, 5L)).toDF("r_src", "r_dst")
    val withAlt = members.join(redirects, col("typ") === col("r_src"), "left")
    val v1 = Graph.validateReachable(withAlt, closure, "typ", "target")
      .withColumnRenamed("valid", "valid_orig")
    val got = Graph.validateReachable(v1, closure, "r_dst", "target")
      .withColumn("valid_any", col("valid_orig") || coalesce(col("valid"), lit(false)))
      .select("id", "valid_any").as[(Long, Boolean)].collect().toMap
    assert(got === Map(10L -> true, 11L -> true, 12L -> false))
  }

  test("connectedComponents labels chains, cliques and singleton pairs") {
    // Two components: a chain 1-2-3-4 (diameter 3, multiple rounds)
    // and the pair 10-11; self-loops and duplicate edges are noise.
    val p = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 10L), (5L, 5L))
      .toDF("id_a", "id_b")
    val got = Graph.connectedComponents(p)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents of an empty or self-pair-only set is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Graph.connectedComponents(empty).count() === 0)
    val selfOnly = Seq((3L, 3L)).toDF("id_a", "id_b")
    assert(Graph.connectedComponents(selfOnly).count() === 0)
  }

  test("reliable-checkpoint mode: identical results, files land under the dir") {
    // spark.graft.checkpointDir flips every operator lineage cut from
    // localCheckpoint (executor blocks — dies with any executor loss)
    // to reliable checkpoint() on the fault-tolerant FS. Results must
    // be identical and the files must actually land there: the closure
    // delta cuts its slice frames, connectedComponents its rounds.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    def files(): Long = java.nio.file.Files.walk(dir).filter(
      java.nio.file.Files.isRegularFile(_)).count()
    val closure = Graph.transitiveClosure(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val slice = Seq((3L, 4L), (0L, 1L)).toDF("src", "dst")
    val want = pairs(Graph.transitiveClosureDelta(closure, slice))
    assert(want === Set((3L, 4L), (2L, 4L), (1L, 4L), (0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    spark.conf.set(graft.operators.Checkpoints.confKey, dir.toString)
    try {
      assert(pairs(Graph.transitiveClosureDelta(closure, slice)) === want)
      assert(files() > 0, "reliable mode must write the delta's checkpoint files")
      val cc = Graph.connectedComponents(
        Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset(graft.operators.Checkpoints.confKey)
  }

  /** Union-find oracle: every endpoint of `edges` mapped to the min id
    * of its component. */
  private def minIdComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(v => v -> find(v)).toMap
  }

  test("property: connectedComponents matches an in-memory union-find") {
    val rnd = new scala.util.Random(17)
    val random = (1 to 4).map(_ => (1 to 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b })
    // A chain in shuffled id order: labels must travel both ways.
    val order = rnd.shuffle((0L until 60L).toList)
    val chain = order.zip(order.tail)
    // Hub-skewed: three hubs own most spokes, a few spoke-spoke edges
    // and one hub-hub bridge join two of the stars.
    val hubs = (1 to 45).map(i => (Seq(100L, 200L, 300L)(i % 3), 1000L + i)) ++
      (1 to 8).map(_ => (1000L + 1 + rnd.nextInt(45), 1000L + 1 + rnd.nextInt(45))) :+ (300L, 200L)
    val graphs = random.zipWithIndex.map { case (e, i) => s"random $i" -> e } ++
      Seq("shuffled chain" -> chain, "hub-skewed" -> hubs.filter(e => e._1 != e._2))
    for ((name, edges) <- graphs) {
      val got = Graph.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === minIdComponents(edges), name)
    }
  }

  test("connectedComponents labels 1000-id chains with the min id in few rounds") {
    def chain(order: Seq[Long]) = order.zip(order.tail).toDF("id_a", "id_b")
    def run(order: Seq[Long]): Int = jobs {
      val got = Graph.connectedComponents(chain(order)).as[(Long, Long)].collect()
      assert(got.length === order.length && got.forall(_._2 == order.min),
        s"${got.count(_._2 != order.min)} of ${order.length} ids keep a wrong label")
    }
    val small = run(1L to 20L)
    val inOrder = run(1L to 1000L)
    val shuffled = run(new scala.util.Random(5).shuffle((1L to 1000L).toList))
    assert(inOrder <= 2 * small && shuffled <= 2 * small,
      s"jobs: 20-id chain $small, 1000 ids in order $inOrder, shuffled $shuffled")
  }

  test("reachesCycle: empty on DAGs, finds exactly the cycle-reaching set") {
    // A DAG (diamond) peels to nothing.
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.reachesCycle(dag).count() === 0)
    // Tail → cycle → exit: 1 → 2 → 3 → 4 → 2 (cycle {2,3,4}), plus
    // 4 → 5 (an exit edge: 5 is REACHED FROM the cycle but reaches
    // nothing — must not be reported), plus a disconnected DAG edge.
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val got = Graph.reachesCycle(g).as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L, 4L))
  }

  test("property: reachesCycle matches an in-memory reachability oracle") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 4) {
      val n = 24
      val edges = (1 to 34).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // v reaches a cycle iff some node reachable from v (v included
      // via a non-empty walk) can reach itself.
      def reach(v: Long): Set[Long] = {
        var seen = Set.empty[Long]
        var frontier = adj.getOrElse(v, Set.empty)
        while (frontier.nonEmpty) {
          seen ++= frontier
          frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty)) -- seen
        }
        seen
      }
      val onCycle = edges.map(_._1).distinct.filter(v => reach(v).contains(v)).toSet
      val want = edges.map(_._1).distinct
        .filter(v => onCycle.contains(v) || reach(v).exists(onCycle.contains)).toSet
      val got = Graph.reachesCycle(edges.toDF("src", "dst"))
        .as[Long].collect().toSet
      assert(got === want, s"trial $trial")
    }
    // Null endpoints match nothing: an edge into null ends there (3 and
    // the null-only edge go), a null source that reaches the 1 ⇄ 2
    // cycle is reported once, as a null id.
    val withNulls = Seq[(Option[Long], Option[Long])]((None, Some(1L)), (Some(1L), Some(2L)),
      (Some(2L), Some(1L)), (Some(3L), None), (None, Some(5L)), (Some(5L), Some(6L)),
      (Some(4L), None), (Some(4L), Some(1L)), (None, None)).toDF("src", "dst")
    assert(Graph.reachesCycle(withNulls).as[Option[Long]].collect().sortBy(_.getOrElse(-1L)).toSeq ===
      Seq(None, Some(1L), Some(2L), Some(4L)))
  }

  test("reachesCycle peels a 120-node tail off a 3-cycle in the same jobs as a 10-node one") {
    // 0 → 1 → 2 → 3 → 1 leads into the cycle; 3 → 100 → … is a tail
    // that reaches nothing and must be peeled whole.
    def graph(depth: Int) = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 100L)) ++
      (100L until 100L + depth - 1).map(i => (i, i + 1))).toDF("src", "dst")
    val counts = for (depth <- Seq(10, 120)) yield jobs {
      assert(Graph.reachesCycle(graph(depth)).as[Long].collect().toSet === Set(0L, 1L, 2L, 3L),
        s"tail depth $depth")
    }
    assert(counts.distinct.length === 1, s"jobs at tail depths 10, 120: $counts")
  }

  test("property: componentsDelta upsert ≡ full recompute on random edge splits") {
    // The operator's whole contract: for any split of an edge set
    // into OLD (already folded into an assignment) and NEW (the
    // ingest slice), upsert(assignment, delta) equals a full
    // connectedComponents run over old ∪ new. Random graphs cover
    // the merge shapes: new-new pairs, new-old bridges, chains of
    // component merges through a slice, slices touching nothing.
    val rnd = new scala.util.Random(91)
    for (trial <- 1 to 6) {
      val n = 30
      val all = (1 to 45).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (oldE, newE) = all.partition(_ => rnd.nextInt(3) != 0)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val oldAssign = Graph.connectedComponents(oldE.toDF("id_a", "id_b"))
        val delta = Graph.componentsDelta(oldAssign, newE.toDF("id_a", "id_b"))
        val merged = oldAssign
          .join(delta, Seq("id"), "left_anti").unionByName(delta)
          .as[(Long, Long)].collect().toMap
        val want = Graph.connectedComponents(all.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(merged === want, s"trial $trial old=$oldE new=$newE")
        // Delta rows are genuine: none may repeat an unchanged label.
        val before = oldAssign.as[(Long, Long)].collect().toMap
        val d = delta.as[(Long, Long)].collect()
        assert(d.map(_._1).distinct.length === d.length,
          s"trial $trial: duplicate ids in delta")
        d.foreach { case (id, comp) =>
          assert(before.get(id) !== Some(comp),
            s"trial $trial: delta repeats unchanged ($id, $comp)") }
      }
    }
  }

  test("property: transitiveClosureDelta union ≡ full closure on random edge splits") {
    // For any split into OLD (already closed) and NEW edges:
    // closure(old) ∪ delta must equal closure(old ∪ new), delta rows
    // must all be genuinely new, and cycles (closure includes
    // self-pairs) must survive the fold. Random graphs cover new-new
    // chains, new edges bridging old cones, and no-op slices.
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 5) {
      val n = 14
      val all = (1 to 22).map(_ => (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }.distinct
      val (oldE, newE) = all.partition(_ => rnd.nextInt(3) != 0)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val c = Graph.transitiveClosure(oldE.toDF("src", "dst"))
        val delta = Graph.transitiveClosureDelta(c, newE.toDF("src", "dst"))
        val got = pairs(c) ++ pairs(delta)
        assert(got === bfsClosure(all), s"trial $trial old=$oldE new=$newE")
        assert((pairs(delta) & pairs(c)).isEmpty,
          s"trial $trial: delta repeats closure rows")
      }
    }
  }

  test("transitiveClosureDelta: empty slice yields empty delta") {
    val c = Graph.transitiveClosure(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    assert(Graph.transitiveClosureDelta(c,
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() === 0L)
  }

  test("componentsDelta merges a slice that chains 11 components") {
    // Pair up isolated two-node comps, then chain them with a slice —
    // rep-space diameter 11: every member but the first component's
    // moves onto the chain's min id, 50.
    val asg = Graph.connectedComponents(
      (0L until 12L).map(i => (2 * i + 50, 2 * i + 51)).toDF("id_a", "id_b"))
    val delta = Graph.componentsDelta(asg,
        (0L until 11L).map(i => (2 * i + 50, 2 * i + 52)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    assert(delta.toMap === (52L to 73L).map(_ -> 50L).toMap)
    assert(delta.length === 22)
  }

  test("componentsDelta labels a 31-document chain of new ids with its min id") {
    // None of the 31 ids is in the assignment; the slice chains them
    // from the top down, the worst order for a min-root union-find.
    val asg = Graph.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"))
    val slice = (29L to 0L by -1L).map(i => (1001L + i, 1000L + i)).toDF("id_a", "id_b")
    assert(Graph.componentsDelta(asg, slice).as[(Long, Long)].collect().toMap ===
      (1000L to 1030L).map(_ -> 1000L).toMap)
  }

  test("componentsDelta runs the same few jobs at any merge-chain length") {
    // 31 two-node components; a slice chaining d + 1 of them has
    // rep-space diameter d. A merge by label-propagation rounds runs
    // more jobs the longer the chain.
    val asg = Graph.connectedComponents(
      (0L until 31L).map(i => (2 * i + 50, 2 * i + 51)).toDF("id_a", "id_b"))
    val counts = for (d <- Seq(1, 8, 30)) yield {
      val slice = (0L until d.toLong).map(i => (2 * i + 50, 2 * i + 52)).toDF("id_a", "id_b")
      jobs(assert(Graph.componentsDelta(asg, slice).count() === 2L * d))
    }
    assert(counts.distinct.length === 1 && counts.head <= 5,
      s"componentsDelta jobs at diameters 1, 8, 30: $counts")
  }

  test("componentsDelta leaves no persisted RDD behind") {
    val asg = Graph.connectedComponents(Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"))
    val before = ss.sparkContext.getPersistentRDDs.keySet
    assert(Graph.componentsDelta(asg,
      Seq((2L, 5L), (9L, 5L)).toDF("id_a", "id_b")).count() === 3L)
    assert(ss.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("componentsDelta rejects a non-canonical assignment loudly") {
    // The merge's precondition is the min-id label convention; a
    // perturbed assignment must FAIL, never merge wrong.
    // (a) comp > id on a touched row:
    val badOrder = Seq((1L, 2L), (2L, 2L)).toDF("id", "comp")
    val e1 = intercept[IllegalArgumentException] {
      Graph.componentsDelta(badOrder,
        Seq((1L, 9L)).toDF("id_a", "id_b")).count()
    }
    assert(e1.getMessage.contains("min-id"))
    // (b) a touched label that is absent from the assignment (3's
    // component rep 0 was never assigned — a migrated/truncated map):
    val missingRep = Seq((3L, 0L)).toDF("id", "comp")
    val e2 = intercept[IllegalArgumentException] {
      Graph.componentsDelta(missingRep,
        Seq((3L, 9L)).toDF("id_a", "id_b")).count()
    }
    assert(e2.getMessage.contains("label itself"))
    // (c) a touched label that exists but does not label itself:
    val e3 = intercept[IllegalArgumentException] {
      Graph.componentsDelta(Seq((2L, 1L), (1L, 0L)).toDF("id", "comp"),
        Seq((2L, 9L)).toDF("id_a", "id_b")).count()
    }
    assert(e3.getMessage.contains("label itself"))
    // The canonical form of the same inputs still merges fine.
    val ok = Graph.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"))
    assert(Graph.componentsDelta(ok,
      Seq((1L, 9L)).toDF("id_a", "id_b")).count() === 1L)
  }

  test("componentsDelta: empty slice yields empty delta; untouched components stay put") {
    val oldAssign = Graph.connectedComponents(
      Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Graph.componentsDelta(oldAssign, empty).count() === 0L)
    // A new pair bridging the two components relabels only 5 and 6
    // (onto min 1); a brand-new doc 9 pairing with 5 joins too.
    val delta = Graph.componentsDelta(oldAssign,
        Seq((2L, 5L), (9L, 5L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(delta === Map(5L -> 1L, 6L -> 1L, 9L -> 1L))
  }

  test("property: reachableToDelta ≡ closure delta restricted to targets, from cones only") {
    // The cone form must agree with the full-closure form
    // (transitiveClosureDelta filtered to the target set) on any
    // random DAG split — without ever being handed the closure. Also
    // pins the superset tolerance: passing the FULL closure as either
    // cone must change nothing.
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(733)
    var ran = 0
    for (trial <- 1 to 5) {
      val n = 26
      val all = ((2 to n).map(k => (k.toLong, (k / 2).toLong)) ++
        (1 to 12).map { _ =>
          val a = rnd.nextInt(n - 1) + 2; (a.toLong, rnd.nextInt(a - 1).toLong + 1)
        }).distinct.filter { case (a, b) => a > b }
      val (oldE, newE) = all.partition(_ => rnd.nextInt(4) != 0)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val targets = (1 to 6).map(_ => rnd.nextInt(n).toLong + 1)
          .distinct.toDF("dst")
        val oldDf = oldE.toDF("src", "dst")
        val newDf = newE.toDF("src", "dst")
        // The closure delta from the oracle: new pairs of old ∪ new.
        val ts = targets.as[Long].collect().toSet
        val want = (bfsClosure(all) -- bfsClosure(oldE)).filter(p => ts(p._2))
        val coneT = Graph.reachableTo(oldDf, targets)
        val coneS = Graph.reachableTo(oldDf, newDf.select(col("src").as("dst")))
        val got = Graph.reachableToDelta(targets, coneT, coneS, newDf)
          .as[(Long, Long)].collect().toSet
        assert(got === want, s"trial $trial old=$oldE new=$newE")
        // Superset tolerance: the full closure works as either cone.
        val full = Graph.transitiveClosure(oldDf)
        val got2 = Graph.reachableToDelta(targets, full, full, newDf)
          .as[(Long, Long)].collect().toSet
        assert(got2 === want, s"trial $trial (full-closure cones)")
        ran += 1
      }
    }
    assert(ran > 0, "all randomized trials were skipped")
  }

  test("reachableToDelta edges: empty slice, already-known pairs, new-edge landing on a target") {
    import org.apache.spark.sql.functions.col
    val oldE = Seq((4L, 2L), (2L, 1L)).toDF("src", "dst")
    val targets = Seq(1L).toDF("dst")
    val coneT = Graph.reachableTo(oldE, targets)
    def coneS(n: org.apache.spark.sql.DataFrame) =
      Graph.reachableTo(oldE, n.select(col("src").as("dst")))
    // Empty slice → empty delta.
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.reachableToDelta(targets, coneT, coneS(none), none)
      .count() === 0L)
    // A new edge that only re-derives known reachability adds nothing.
    val redundant = Seq((4L, 1L)).toDF("src", "dst")
    assert(Graph.reachableToDelta(targets, coneT, coneS(redundant), redundant)
      .count() === 0L)
    // A new edge landing DIRECTLY on a target (no old suffix) and one
    // chained through the old graph both surface, restricted to T.
    val fresh = Seq((9L, 1L), (8L, 4L)).toDF("src", "dst")
    val got = Graph.reachableToDelta(targets, coneT, coneS(fresh), fresh)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((9L, 1L), (8L, 1L)))
  }

  test("property: revalidateDelta ≡ full revalidation on random edge splits") {
    // The b5 contract, randomized like componentsDelta's pin: for any
    // split of a DAG edge set into OLD (folded into a closure +
    // verdicts) and NEW (today's taxonomy growth), old verdicts
    // updated by the flips equal validateReachable against the full
    // closure. Random members cover the cases: already valid, flips
    // through a delta pair, stays invalid, valid by equality.
    val rnd = new scala.util.Random(417)
    var ran = 0
    for (trial <- 1 to 5) {
      val n = 24
      // k -> k/2-ish forest plus random shortcuts kept acyclic
      // (src > dst).
      val all = ((2 to n).map(k => (k.toLong, (k / 2).toLong)) ++
        (1 to 10).map { _ =>
          val a = rnd.nextInt(n - 1) + 2; (a.toLong, rnd.nextInt(a - 1).toLong + 1)
        }).distinct.filter { case (a, b) => a > b }
      val (oldE, newE) = all.partition(_ => rnd.nextInt(4) != 0)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val members = (1 to 40).map { i =>
          (i.toLong, rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
        }.toDF("id", "typ", "target")
        val oldC = Graph.transitiveClosure(oldE.toDF("src", "dst"))
        val v = Graph.validateReachable(members, oldC, "typ", "target")
        val delta = Graph.transitiveClosureDelta(oldC, newE.toDF("src", "dst"))
        val flips = Graph.revalidateDelta(v, delta, "typ", "target")
          .select("id", "valid").as[(Long, Boolean)].collect().toMap
        val updated = v.select("id", "valid").as[(Long, Boolean)]
          .collect().toMap ++ flips
        val full = Graph.validateReachable(members,
            Graph.transitiveClosure(all.toDF("src", "dst")), "typ", "target")
          .select("id", "valid").as[(Long, Boolean)].collect().toMap
        assert(updated === full, s"trial $trial old=$oldE new=$newE")
        // Flips are genuine: every one was invalid before.
        val before = v.select("id", "valid").as[(Long, Boolean)].collect().toMap
        flips.keys.foreach { id =>
          assert(!before(id), s"trial $trial: flip of already-valid $id") }
        ran += 1
      }
    }
    // The empty-split guard must not be able to skip EVERY trial — a
    // seed/count edit that vacuously greens this test fails here.
    assert(ran > 0, "all randomized trials were skipped")
  }

  test("revalidateDelta flips exactly the delta-covered invalid rows; upsert ≡ full revalidation") {
    val oldE = Seq((3L, 2L)).toDF("src", "dst")
    val newE = Seq((4L, 3L)).toDF("src", "dst")
    val oldC = Graph.transitiveClosure(oldE)
    val members = Seq((1L, 3L, 2L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 2L, 2L))
      .toDF("id", "typ", "target")
    val v = Graph.validateReachable(members, oldC, "typ", "target")
    val delta = Graph.transitiveClosureDelta(oldC, newE)
    val flips = Graph.revalidateDelta(v, delta, "typ", "target")
      .select("id", "valid").as[(Long, Boolean)].collect().toMap
    // Member 3 (type 4 now reaches 2 through the new edge) flips;
    // member 2 stays invalid (1 is still unreachable); members 1 and
    // 4 were already valid and must NOT reappear in the delta.
    assert(flips === Map(3L -> true))
    // Upsert(old verdicts, flips) ≡ validateReachable against the
    // full closure — the monotonicity the operator rests on.
    val updated = v.select("id", "valid").as[(Long, Boolean)].collect().toMap ++ flips
    val full = Graph.validateReachable(members,
        Graph.transitiveClosure(oldE.union(newE)), "typ", "target")
      .select("id", "valid").as[(Long, Boolean)].collect().toMap
    assert(updated === full)
  }

  test("validateReachable marks reachable, equal, and unreachable") {
    val closure = Graph.transitiveClosure(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    val members = Seq((10L, 1L, 3L), (11L, 1L, 1L), (12L, 3L, 1L))
      .toDF("id", "typ", "target")
    val got = Graph.validateReachable(members, closure, "typ", "target")
      .select("id", "valid").as[(Long, Boolean)].collect().toMap
    assert(got === Map(10L -> true, 11L -> true, 12L -> false))
  }

  test("validateReachable: null type/target is FALSE, never a null boolean") {
    // r12 review: false || null = NULL escaped both valid and !valid
    // filters downstream. Unvalidatable is invalid; the column is
    // total.
    val closure = Graph.transitiveClosure(Seq((1L, 2L)).toDF("src", "dst"))
    val members = Seq(
      (10L, java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long]),
      (11L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(2L)))
      .toDF("id", "typ", "target")
    val got = Graph.validateReachable(members, closure, "typ", "target")
    assert(got.filter($"valid".isNull).count() == 0, "valid must be total")
    assert(got.filter(!$"valid").count() == 2, "unvalidatable rows are invalid")
  }

  test("ntriples parse handles uri objects, literals, language tags, junk") {
    val lines = Seq(
      "<http://ex/e/Q1> <http://ex/p/instance_of> <http://ex/e/Q5> .",
      "<http://ex/e/Q2> <http://ex/p/label> \"Ada Lovelace\"@en .",
      "<http://ex/e/Q3> <http://ex/p/qrank> \"42\" .",
      "not a triple at all").toDF("value")
    val got = NTriples.parse(lines)
      .as[(String, String, String, Boolean)].collect().toSet
    assert(got.contains(("Q1", "instance_of", "Q5", true)))
    assert(got.contains(("Q2", "label", "Ada Lovelace", false)))
    assert(got.contains(("Q3", "qrank", "42", false)))
    assert(got.exists(_._1 == ""), "malformed line should yield empty subject")
  }
}
