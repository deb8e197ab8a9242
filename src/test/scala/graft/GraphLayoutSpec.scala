package graft

import graft.operators.{Graph, Layout}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 operator families: power-iteration PageRank, Z-order layout
  * clustering, the SCD2 interval build, and the salted/bucketed join
  * twins — invariants the DuckDB oracles can't express (probability mass
  * conservation, Morton tile geometry, file-layout disjointness).
  */
class GraphLayoutSpec extends SparkTestBase {

  import spark.implicits._

  // ---- PageRank ----

  private def ranksOf(edges: Seq[(String, String)]): Map[String, Double] = {
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    Graph.pageRank(sym.toDF("src", "dst"), iterations = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("pageRank: symmetric pair splits mass evenly; total mass conserved") {
    val r = ranksOf(Seq(("a", "b")))
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: 4-cycle is uniform; star center outranks leaves") {
    val cyc = ranksOf(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")))
    cyc.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
    val star = ranksOf(Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3")))
    assert(star("hub") > star("l1") * 2,
      s"hub should dominate: $star")
    Seq("l1", "l2", "l3").combinations(2).foreach { case Seq(x, y) =>
      assert(math.abs(star(x) - star(y)) < 1e-12) // leaf symmetry
    }
    assert(math.abs(star.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: driver fast path ≡ forced distributed loop") {
    val rnd = new scala.util.Random(7)
    val ids = Seq.fill(500)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val longSym = (ids ++ ids.map(_.swap)).toDF("src", "dst")
    val strSym = (ids ++ ids.map(_.swap))
      .map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
    def ranks(sym: DataFrame, localThreshold: Long): Map[Any, Double] =
      Graph.pageRank(sym, iterations = 5, localThreshold = localThreshold)
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    for (sym <- Seq(strSym, longSym)) {
      val fast = ranks(sym, 2000000L)
      val dist = ranks(sym, 0L)
      assert(fast.keySet == dist.keySet)
      fast.foreach { case (k, v) =>
        assert(math.abs(v - dist(k)) < 1e-12, s"$k: $v vs ${dist(k)}")
      }
    }
    // the id type picks the index (primitive Long vs hashed internal
    // value), never the arithmetic: same edge rows ⇒ same first-seen
    // indices ⇒ bit-identical ranks per node
    val byLong = ranks(longSym, 2000000L)
    val byStr = ranks(strSym, 2000000L)
    assert(byLong.size == byStr.size)
    byLong.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(byStr(s"n$k")), s"$k: $v vs ${byStr(s"n$k")}")
    }
  }

  test("distributed loops: shuffle-hash score side ≡ broadcast score side") {
    // maxBroadcastNodes = 0 sends pageRank, PPR, HITS and SSSP down
    // scoreSide's shuffle-hash branch (the > 1M-node path); the
    // forced-distributed run at the default bound broadcasts instead
    val rnd = new scala.util.Random(5)
    val ids = Seq.fill(300)((s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
    val sym = (ids ++ ids.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(("n1", 1.0), ("n9", 2.0)).toDF("node", "w")
    val weighted = (ids ++ ids.map(_.swap)).zipWithIndex
      .map { case ((a, b), i) => (a, b, (i % 3 + 1).toLong) }.toDF("src", "dst", "w")
    def rows(df: DataFrame): (Map[Seq[Any], Double], String) = {
      val out = df.collect().map { r =>
        r.toSeq.init -> r.toSeq.last.asInstanceOf[Number].doubleValue }.toMap
      (out, df.queryExecution.executedPlan.toString)
    }
    def sides(maxBroadcastNodes: Long): Seq[(Map[Seq[Any], Double], String)] = Seq(
      rows(Graph.pageRank(sym, iterations = 5,
        maxBroadcastNodes = maxBroadcastNodes, localThreshold = 0L)),
      rows(Graph.personalizedPageRank(sym, seeds, iterations = 5,
        maxBroadcastNodes = maxBroadcastNodes, localThreshold = 0L)),
      rows(Graph.hits(sym, iterations = 5,
        maxBroadcastNodes = maxBroadcastNodes, localThreshold = 0L)),
      rows(Graph.sssp(weighted, seeds.select(col("node")), rounds = 4,
        maxBroadcastNodes = maxBroadcastNodes, localThreshold = 0L)))
    val shuffled = sides(0L)
    val broadcasted = sides(1000000L)
    Seq("pageRank", "personalizedPageRank", "hits", "sssp").zipWithIndex.foreach {
      case (op, i) =>
        val ((s, sPlan), (b, bPlan)) = (shuffled(i), broadcasted(i))
        // pageRank's and PPR's rounds stay in the result's plan (HITS and
        // SSSP checkpoint theirs), so the branch taken shows there
        if (i < 2) assert(sPlan.contains("ShuffledHashJoin") &&
          !bPlan.contains("ShuffledHashJoin"), s"$op: score side not shuffle-hash")
        assert(s.nonEmpty && s.keySet == b.keySet, s"$op: node sets differ")
        s.foreach { case (k, v) =>
          assert(math.abs(v - b(k)) < 1e-12, s"$op $k: $v vs ${b(k)}") }
    }
  }

  test("personalizedPageRank: mass conserved, seed neighborhood outranks, junk seeds ignored, fast ≡ distributed") {
    val es = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val sym = (es ++ es.map(_.swap)).toDF("src", "dst")
    def ranks(seeds: Seq[(String, Double)], forceDist: Boolean = false) =
      Graph.personalizedPageRank(sym, seeds.toDF("node", "w"),
          iterations = 20,
          localThreshold = if (forceDist) 0L else 2000000L)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val fast = ranks(Seq(("a", 1.0)))
    assert(math.abs(fast.values.sum - 1.0) < 1e-9) // symmetric: no leak
    assert(fast("a") > fast("c") && fast("b") > fast("d"))
    assert(fast("e") > 0) // mass reaches the far end, monotonically less
    val dist = ranks(Seq(("a", 1.0)), forceDist = true)
    fast.foreach { case (k, v) =>
      assert(math.abs(v - dist(k)) < 1e-12, s"$k: $v vs ${dist(k)}") }
    // the same graph and seeds on Long ids ('a' → 97, …; junk 'z' → 122)
    val longSym = (es ++ es.map(_.swap))
      .map { case (a, b) => (a.head.toLong, b.head.toLong) }.toDF("src", "dst")
    val longSeeds = Seq(('a'.toLong, 1.0), ('z'.toLong, 9.0)).toDF("node", "w")
    def longRanks(forceDist: Boolean) =
      Graph.personalizedPageRank(longSym, longSeeds, iterations = 20,
          localThreshold = if (forceDist) 0L else 2000000L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (longFast, longDist) = (longRanks(false), longRanks(true))
    assert(longFast.keySet == fast.keySet.map(_.head.toLong))
    longFast.foreach { case (k, v) =>
      assert(math.abs(v - longDist(k)) < 1e-12, s"long $k: $v vs ${longDist(k)}")
      assert(math.abs(v - fast(k.toChar.toString)) < 1e-12, s"long $k vs string")
    }
    // a seed outside the graph is dropped BEFORE normalization
    val withJunk = ranks(Seq(("a", 1.0), ("zz", 9.0)))
    fast.foreach { case (k, v) => assert(math.abs(v - withJunk(k)) < 1e-12) }
    // duplicate (node, w) rows are SUMMED per node before either path —
    // ("a",0.5)+("a",0.5)+("b",1.0) ≡ ("a",1.0)+("b",1.0); without the
    // aggregation the distributed path would emit duplicate tele rows
    // (rank relation no longer one row per node — silently wrong ranks)
    val summed = ranks(Seq(("a", 1.0), ("b", 1.0)))
    for (force <- Seq(false, true)) {
      val dup = ranks(Seq(("a", 0.5), ("a", 0.5), ("b", 1.0)), force)
      summed.foreach { case (k, v) =>
        assert(math.abs(v - dup(k)) < 1e-12, s"dup seeds force=$force $k") }
    }
    // an all-out-of-graph seed set fails with the require message on
    // BOTH paths (the distributed path used to NPE on the null sum)
    for (force <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException] {
        ranks(Seq(("zz", 1.0)), force)
      }
      assert(e.getMessage.contains("in-graph seeds"), e.getMessage)
    }
  }

  test("q_pagerank: mass sums to 1 and both node namespaces surface") {
    val out = SparkEntry.queries("q_pagerank")(spark, sf).collect()
    val mass = out.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"mass=$mass") // 6dp-rounded ranks
    val kinds = out.map(_.getString(0).take(1)).toSet
    assert(kinds == Set("c", "s"))
  }

  // ---- SSSP (bounded-round Bellman-Ford) ----

  private def distsOf(edges: Seq[(String, String, Long)], seeds: Seq[String],
      rounds: Int = 4, forceDist: Boolean = false): Map[String, Long] = {
    val sym = edges ++ edges.map { case (a, b, w) => (b, a, w) }
    distsOfDf(sym.toDF("src", "dst", "w"), seeds.toDF("node"), rounds, forceDist)
      .map { case (k, v) => k.toString -> v }
  }

  private def distsOfDf(edges: DataFrame, seeds: DataFrame, rounds: Int,
      forceDist: Boolean): Map[Any, Long] =
    Graph.sssp(edges, seeds,
        rounds = rounds, localThreshold = if (forceDist) 0L else 2000000L)
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap

  test("sssp: later rounds improve an early expensive path (the Bellman-Ford min, not BFS)") {
    // a→z direct costs 9; a→b→c→z costs 1+1+1=3. A BFS keeps the hop-1
    // value; the relaxation must lower it at round 3.
    val es = Seq(("a", "z", 9L), ("a", "b", 1L), ("b", "c", 1L), ("c", "z", 1L))
    val d = distsOf(es, Seq("a"))
    assert(d("a") == 0L && d("b") == 1L && d("c") == 2L && d("z") == 3L, d)
    // with rounds=1 the expensive direct edge is all that's reachable
    val d1 = distsOf(es, Seq("a"), rounds = 1)
    assert(d1("z") == 9L && !d1.contains("c"), d1)
  }

  test("sssp: rounds bound reach; multi-seed takes the per-node min; junk seeds dropped") {
    val line = (0 until 6).map(i => (s"n$i", s"n${i + 1}", 2L))
    val d = distsOf(line, Seq("n0"))
    assert(d("n4") == 8L && !d.contains("n5"), s"4 rounds reach n4 only: $d")
    val two = distsOf(line, Seq("n0", "n6"))
    assert(two("n3") == 6L && two("n4") == 4L && two("n5") == 2L, two)
    val junk = distsOf(line, Seq("n0", "zz"))
    assert(junk == d, "an out-of-graph seed must change nothing")
    for (force <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException] {
        distsOf(Seq.empty, Seq("a"), forceDist = force)
      }
      assert(e.getMessage.contains("empty edge set"), e.getMessage)
    }
  }

  test("sssp: driver fast path ≡ forced distributed loop") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(400)((s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}",
      (rnd.nextInt(3) + 1).toLong))
    val seeds = Seq("n0", "n7", "n13")
    val fast = distsOf(es, seeds)
    val dist = distsOf(es, seeds, forceDist = true)
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast.values.exists(_ > 0) && fast(seeds.head) == 0L)
    // the same graph on Long ids ("n<i>" → i)
    def id(n: String) = n.stripPrefix("n").toLong
    val longEs = es.flatMap { case (a, b, w) => Seq((id(a), id(b), w), (id(b), id(a), w)) }
    for (force <- Seq(false, true)) {
      val longDists = distsOfDf(longEs.toDF("src", "dst", "w"),
        seeds.map(id).toDF("node"), rounds = 4, forceDist = force)
      assert(longDists == fast.map { case (k, v) => id(k) -> v },
        s"long ids force=$force: $longDists")
    }
  }

  // ---- k-core (fixed-round synchronous peel) ----

  private def peelOf(edges: Seq[(String, String)], k: Int, rounds: Int,
      forceDist: Boolean = false): Seq[(Long, Long, Long)] =
    peelOfDf(edges.toDF("u", "v"), k, rounds, forceDist)

  private def peelOfDf(edges: DataFrame, k: Int, rounds: Int,
      forceDist: Boolean): Seq[(Long, Long, Long)] =
    Graph.kcorePeel(edges, k, rounds,
        localThreshold = if (forceDist) 0L else 2000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq

  test("kcorePeel: a triangle with pendants peels to the 2-core triangle") {
    // triangle a-b-c plus pendant chain c-d-e: round 1 drops e (deg 1),
    // round 2 drops d (its neighbor e died), then the triangle is stable
    val es = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"))
    val curve = peelOf(es, k = 2, rounds = 3)
    assert(curve == Seq((0L, 5L, 5L), (1L, 4L, 4L), (2L, 3L, 3L),
      (3L, 3L, 3L)), curve)
  }

  test("kcorePeel: k above max degree empties; constant tail after empty") {
    val es = Seq(("a", "b"), ("b", "c"))
    val curve = peelOf(es, k = 3, rounds = 4)
    assert(curve.head == ((0L, 3L, 2L)) &&
      curve.tail.forall(c => c._2 == 0L && c._3 == 0L), curve)
  }

  test("kcorePeel: driver fast path ≡ forced distributed loop") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(300)((s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter { case (a, b) => a < b }.distinct
    val fast = peelOf(es, k = 3, rounds = 5)
    val dist = peelOf(es, k = 3, rounds = 5, forceDist = true)
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast.head._3 > 0 && fast.map(_._3).sliding(2)
      .forall(w => w.last <= w.head), "edge curve must be non-increasing")
    // the same graph on Long ids ("n<i>" → i): the curve counts nodes
    // and edges, so it must not depend on the id type
    val longEs = es.map { case (a, b) =>
      (a.stripPrefix("n").toLong, b.stripPrefix("n").toLong) }.toDF("u", "v")
    for (force <- Seq(false, true))
      assert(peelOfDf(longEs, k = 3, rounds = 5, forceDist = force) == fast,
        s"long ids force=$force")
  }

  // ---- label propagation (synchronous, min-label ties) ----

  private def lpaOf(edges: Seq[(Long, Long)], rounds: Int,
      forceDist: Boolean = false): Map[Long, Long] =
    Graph.lpaSteps(edges.toDF("u", "v"), rounds,
        localThreshold = if (forceDist) 0L else 2000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("lpaSteps: two bridged triangles localize; hand-traced 3 rounds") {
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L)
    assert(lpaOf(es, 3) == want)
    assert(lpaOf(es, 3, forceDist = true) == want,
      "driver fast path must equal the forced distributed loop")
  }

  test("lpaSteps: Int and non-ASCII String ids — driver fast path ≡ forced distributed loop") {
    def labels(df: DataFrame, forceDist: Boolean): Map[Any, Any] =
      Graph.lpaSteps(df, rounds = 1,
          localThreshold = if (forceDist) 0L else 2000000L)
        .collect().map(r => r.get(0) -> r.get(1)).toMap
    // Int ids stay Ints in the output rows
    val ints = Seq((5, 9), (5, 10)).toDF("u", "v")
    assert(labels(ints, forceDist = true) == Map(5 -> 9, 9 -> 5, 10 -> 5))
    assert(labels(ints, forceDist = false) == labels(ints, forceDist = true))
    // m ties between labels U+FF21 and U+1F600: Spark orders Strings by
    // UTF-8 bytes (EF BC A1 < F0 9F 98 80), so U+FF21 is the min label —
    // Java's UTF-16 compareTo would pick the surrogate pair instead
    val (fw, emoji) = ("\uFF21", "\uD83D\uDE00")
    val strs = Seq(("m", fw), ("m", emoji)).toDF("u", "v")
    val dist = labels(strs, forceDist = true)
    assert(dist("m") == fw, dist)
    assert(labels(strs, forceDist = false) == dist)
  }

  test("q_lpa_communities: members partition the node set") {
    val out = SparkEntry.queries("q_lpa_communities")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.nonEmpty && out.forall(_._2 >= 1))
    val nNodes = SparkEntry.queries("q_kcore")(spark, sf)
      .filter(col("round") === 0).head().getLong(1)
    assert(out.map(_._2).sum == nNodes,
      s"community sizes must sum to the node census ($nNodes)")
  }

  // ---- deterministic random walks ----

  test("randomWalks: every step follows an edge; walks are reproducible") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("u", "v")
    val nbrs = (es.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      es.collect().map(r => (r.getLong(1), r.getLong(0))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def runIt() = Graph.randomWalks(es, nStarts = 4, nWalks = 3, walkLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val a = runIt()
    assert(a == runIt(), "walks must be bit-reproducible across runs")
    assert(a.size == 4 * 3 * 6, s"4 starts x 3 walks x 6 steps: ${a.size}")
    // step-t node must be adjacent to step-(t-1) node within each walk
    a.groupBy(t => (t._1, t._2)).foreach { case (_, steps) =>
      val path = steps.sortBy(_._3).map(_._4)
      assert(path.head == steps.head._1, "step 0 is the start")
      path.sliding(2).foreach { w =>
        assert(nbrs(w.head).contains(w.last), s"non-edge hop in $path")
      }
    }
    // a different seed changes at least one walk
    val b = Graph.randomWalks(es, 4, 3, 5, seed = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(a != b, "seed must steer the walks")
  }

  test("q_walk_skipgrams: symmetric counts, exact pair mass, symmetric PMI") {
    val out = SparkEntry.queries("q_walk_skipgrams")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.nonEmpty)
    // the ±2 window emits both orientations: counts and PMI symmetric
    out.foreach { case ((a, b), (n, pmi)) =>
      val rev = out.get((b, a))
      assert(rev.contains((n, pmi)), s"asymmetric cell ($a,$b)")
    }
    // exact pair mass: 20 starts × 2 walks, 5 positions each → per walk
    // 8 ordered pairs at distance 1 + 6 at distance 2 = 14
    assert(out.values.map(_._1).sum == 20L * 2 * 14,
      s"total pair mass ${out.values.map(_._1).sum}")
  }

  test("q_kcore: non-trivial peel, monotone curve, census consistency") {
    val out = SparkEntry.queries("q_kcore")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.length == 7 && out.head._1 == 0L)
    assert(out.map(_._2).sliding(2).forall(w => w.last <= w.head) &&
      out.map(_._3).sliding(2).forall(w => w.last <= w.head),
      s"peel never grows: ${out.toSeq}")
    // sf0.001's co-purchase graph has min degree ≥ 3 (nothing peels);
    // sf0.01's peels 3445 → 2008 edges — both shapes are legitimate, so
    // the fixture assertion is consistency, and actual peeling is pinned
    // by the synthetic triangle/pendant tests above
    assert(out.head._3 > 0, "non-empty base graph")
    // every survivor row keeps n_nodes ≤ 2·n_edges (each edge carries ≤2)
    assert(out.forall(c => c._2 <= 2 * c._3), out.toSeq)
  }

  test("q_sssp: seeds at zero, suppliers at odd-tier positive distances") {
    val out = SparkEntry.queries("q_sssp")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    val (cs, ss) = out.partition(_._1.startsWith("c"))
    assert(cs.exists(_._2 == 0L), "seed customers must sit at dist 0")
    assert(ss.nonEmpty && ss.values.forall(_ > 0L),
      "suppliers are never seeds: all positive")
    assert(out.values.forall(v => v >= 0L && v <= 12L),
      "4 rounds of cost ≤3 edges bound every distance at 12")
  }

  // ---- Z-order ----

  test("zvalue matches a driver-side reference interleave") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(200)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zvalue(col("x"), col("y"), 10).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) == ref(x, y, 10)) }
  }

  test("q_zorder_cluster: every coarse z-range is a 128x128 Morton tile") {
    // a contiguous 2^14 z-range over 10+10 interleaved bits is an ALIGNED
    // 2^7 x 2^7 tile — the bbox bound that makes min/max pruning work on
    // either dimension
    SparkEntry.queries("q_zorder_cluster")(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 127, r.toString) // x span
      assert(r.getLong(5) - r.getLong(4) <= 127, r.toString) // y span
      assert(r.getLong(2) / 128 == r.getLong(3) / 128) // tile-aligned
      assert(r.getLong(4) / 128 == r.getLong(5) / 128)
    }
  }

  test("zorderWrite: files carry disjoint z-ranges and all rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zw").toString
    val src = Tables.load(spark, sf, "lineitem")
      .select(pmod(col("l_partkey"), lit(1024L)).cast("long").as("x"),
        pmod(col("l_suppkey"), lit(1024L)).cast("long").as("y"))
    Layout.zorderWrite(src, "x", "y", bits = 10, nFiles = 8, s"$dir/z")
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == src.count())
    val ranges = back
      .withColumn("z", Layout.zvalue(col("x"), col("y"), 10))
      .withColumn("f", input_file_name())
      .groupBy(col("f")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2,
        s"overlapping file z-ranges: $hi1 > $lo2")
      case _ => ()
    }
  }

  // ---- triangle census ----

  private def census(edges: Seq[(String, String)]) =
    Graph.triangleStats(edges.toDF("u", "v")).collect().head

  test("triangleStats: K4, path, and star+chord censuses are exact") {
    val k4 = census(Seq(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d")))
    assert((k4.getLong(0), k4.getLong(1), k4.getLong(2), k4.getLong(3))
      == ((4L, 6L, 12L, 4L)))
    assert(math.abs(k4.getDouble(4) - 1.0) < 1e-12)
    val path = census(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert((path.getLong(2), path.getLong(3)) == ((2L, 0L)))
    assert(path.getDouble(4) == 0.0)
    // hub a (deg 4) + chord (b,c): wedges 6+1+1, one triangle closed at
    // the ORIENTED min (b→a, b→c — the hub's edges point INTO it)
    val star = census(Seq(("a", "b"), ("a", "c"), ("a", "d"),
      ("a", "e"), ("b", "c")))
    assert((star.getLong(2), star.getLong(3)) == ((8L, 1L)))
    assert(math.abs(star.getDouble(4) - 3.0 / 8) < 1e-12)
  }

  test("triangleStats: broadcast path ≡ forced-shuffle path (the guarded-dispatch discipline)") {
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
      ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
    val bc = census(edges)
    val sh = Graph.triangleStats(edges.toDF("u", "v"),
      maxBroadcastEdges = 0L).collect().head
    assert(bc.toSeq == sh.toSeq,
      s"guard paths diverge: ${bc.toSeq} vs ${sh.toSeq}")
  }

  test("triangleStats equals an unoriented brute-force census on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300).flatMap { _ =>
      val x = rnd.nextInt(30); val y = rnd.nextInt(30)
      if (x == y) None
      else Some((f"n${math.min(x, y)}%02d", f"n${math.max(x, y)}%02d"))
    }.distinct
    val eset = edges.toSet
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    var tri = 0L
    nodes.combinations(3).foreach { case Seq(x, y, z) => // ascending triple
      if (eset((x, y)) && eset((y, z)) && eset((x, z))) tri += 1
    }
    val degs = edges.flatMap(t => Seq(t._1, t._2))
      .groupBy(identity).view.mapValues(_.size.toLong)
    val row = census(edges)
    assert(row.getLong(0) == nodes.size && row.getLong(1) == edges.size)
    assert(row.getLong(2) == degs.values.map(d => d * (d - 1) / 2).sum)
    assert(row.getLong(3) == tri)
  }

  // ---- SCD2 intervals ----

  test("q_scd2_intervals: versions tile each customer's history exactly") {
    val rows = SparkEntry.queries("q_scd2_intervals")(spark, sf).collect()
    val orders = Tables.load(spark, sf, "orders")
    assert(rows.map(_.getLong(5)).sum == orders.count()) // n_orders partitions
    rows.groupBy(_.getLong(0)).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      // exactly one open interval, and it is the last version
      assert(sorted.map(_.getLong(6)).sum == 1L && sorted.last.getLong(6) == 1L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(2) != b.getString(2)) // adjacent statuses differ
          assert(a.getDate(4) == b.getDate(3)) // valid_to chains to next from
        case _ => ()
      }
    }
  }

  test("q_scd2_lookup: every fact lands in exactly one bucket, from the dimension's statuses") {
    val rows = SparkEntry.queries("q_scd2_lookup")(spark, sf).collect()
    val nFacts = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(rows.map(_.getLong(1)).sum == nFacts,
      "as-of lookup must neither drop nor multiply facts")
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("(pre)", "F", "O", "P")))
  }

  // ---- salted / bucketed join twins ----

  test("q_join_salted equals the unsalted plain join") {
    val salted = SparkEntry.queries("q_join_salted")(spark, sf)
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("revenue_c"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("q_join_bucketed equals the raw-parquet join and plans exchange-free") {
    val bucketed = SparkEntry.queries("q_join_bucketed")(spark, sf)
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long")).as("revenue_c"))
    assert(bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty)

    // the plan story needs broadcast off — at test scale Catalyst would
    // broadcast the small side instead of exercising the bucketed SMJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (lt, ot) = graft.queries.RelationalQueries.bucketedTradeTables(spark, sf)
      val l = spark.table(lt)
      val o = spark.table(ot)
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---- HITS ----

  private def hitsOf(edges: Seq[(String, String)],
      forceDist: Boolean = false): Map[(String, String), Double] =
    hitsOfDf(edges.toDF("src", "dst"), forceDist)
      .map { case ((kind, n), v) => (kind, n.toString) -> v }

  private def hitsOfDf(edges: DataFrame,
      forceDist: Boolean): Map[(String, Any), Double] =
    Graph.hits(edges, iterations = 5,
        localThreshold = if (forceDist) 0L else 2000000L)
      .collect()
      .map(r => (r.getString(1), r.get(0)) -> r.getDouble(2)).toMap

  test("hits: star authority dominates; L1 mass conserved per side; fast ≡ distributed") {
    // three hubs all endorse s1; s2 gets one endorsement
    val es = Seq(("c1", "s1"), ("c2", "s1"), ("c3", "s1"), ("c3", "s2"))
    val fast = hitsOf(es)
    val auths = fast.collect { case (("auth", n), v) => n -> v }
    val hubs = fast.collect { case (("hub", n), v) => n -> v }
    assert(math.abs(auths.values.sum - 1.0) < 1e-12)
    assert(math.abs(hubs.values.sum - 1.0) < 1e-12)
    assert(auths("s1") > auths("s2"), "consensus supplier must dominate")
    // c3 endorses the consensus pick AND the fringe one — at least the
    // hub weight of a consensus-only endorser
    assert(hubs("c3") >= hubs("c1") - 1e-12)
    val dist = hitsOf(es, forceDist = true)
    assert(fast.keySet == dist.keySet)
    fast.foreach { case (k, v) =>
      assert(math.abs(v - dist(k)) < 1e-12, s"$k: $v vs ${dist(k)}")
    }
    // the same graph on Long ids (customers even, suppliers odd — the
    // trade-graph convention), fast and forced-distributed
    def id(n: String) = n.drop(1).toLong * 2 + (if (n.head == 's') 1 else 0)
    val longEs = es.map { case (a, b) => (id(a), id(b)) }.toDF("src", "dst")
    val want = fast.map { case ((kind, n), v) => (kind, id(n): Any) -> v }
    for (force <- Seq(false, true)) {
      val got = hitsOfDf(longEs, force)
      assert(got.keySet == want.keySet, s"long ids force=$force")
      got.foreach { case (k, v) =>
        assert(math.abs(v - want(k)) < 1e-12, s"long ids force=$force $k") }
    }
  }

  test("q_khop: frontier algebra — hops disjoint from prior same-side frontiers, reach monotone-bounded") {
    val out = SparkEntry.queries("q_khop")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // independent brute-force recomputation of the three frontiers
    val cs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val seeds = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val h1 = cs.filter(p => seeds(p._1)).map(_._2).toSet
    val h2 = cs.filter(p => h1(p._2)).map(_._1).toSet -- seeds
    val h3 = cs.filter(p => h2(p._1)).map(_._2).toSet -- h1
    assert(out(1L) == h1.size && out(2L) == h2.size && out(3L) == h3.size,
      s"got $out, expect ${(h1.size, h2.size, h3.size)}")
  }

  test("hits: disconnected components score independently of each other's size") {
    // bipartite complete K(2,1) plus an isolated edge: within each
    // component authorities split hub mass by in-degree share
    val es = Seq(("c1", "sA"), ("c2", "sA"), ("x", "sB"))
    val r = hitsOf(es)
    assert(r(("auth", "sA")) > r(("auth", "sB")))
    assert(math.abs(r(("auth", "sA")) + r(("auth", "sB")) - 1.0) < 1e-12)
  }
}
