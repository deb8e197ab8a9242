package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType,
  StructField, StructType}

/** Iterative graph analytics over edge relations (the power-iteration
  * family, complementing [[Dedup.connectedComponents]]' pointer-jumping).
  *
  * Scale shape: each iteration is ONE shuffle — `edges ⋈ ranks` on `src`
  * (the rank relation is |nodes| rows, joined on its key) followed by a
  * `groupBy(dst)` with map-side partial sums. Nothing unbounded is ever
  * collected to the driver (the fast path is gated on a measured edge
  * count); the rank relation never exceeds one row per node. A fixed
  * iteration count keeps the lineage bounded; a convergence-driven
  * variant at scale would persist + checkpoint every ~10 rounds exactly
  * like the CC loop (Dedup.scala).
  *
  * Determinism: ranks are pure arithmetic over the edge multiset; the
  * only partitioning-sensitive step is the double sum, whose last-ulp
  * addition-order wobble is absorbed by the caller rounding final ranks
  * (the repo-wide 6dp cross-engine contract; SCALING.md).
  */
object Graph {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** PageRank with `iterations` fixed power-iteration rounds at the
    * damping 0.85 and UNIFORM teleport. `edges` must be `(src, dst)`;
    * every node that should receive teleport mass must appear as a
    * `src` at least once (a symmetric edge set satisfies this trivially
    * and has no dangling nodes — callers with genuinely directed graphs
    * should pre-attach their dangling-mass convention). Contributions
    * to a `dst` that is never a `src` are dropped (that sink is outside
    * the node set). Returns `(node, rank)` un-rounded; callers own the
    * presentation rounding.
    *
    * SMALL-GRAPH FAST PATH (the [[Dedup.connectedComponents]] pattern):
    * below `localThreshold` edges the distributed loop's cost is pure
    * job-scheduling floor — iterations × (broadcast + join + agg + join)
    * stage launches on near-empty partitions (~0.8 s/round at sf0.1) —
    * so the identical recurrence runs as a driver array loop over the
    * collected edge list instead (the collect is bounded by the count
    * guard, read from already-checkpointed blocks). At real scale the
    * guard fails and the distributed loop runs unchanged — the 100 TB
    * path is untouched; GraphLayoutSpec asserts both paths agree on the
    * same graphs.
    */
  def pageRank(edges: DataFrame, iterations: Int = 5,
      maxBroadcastNodes: Long = 1000000L, localThreshold: Long = 2000000L): DataFrame =
    run(edges, None, iterations, maxBroadcastNodes, localThreshold)

  /** Personalized PageRank: teleport mass ∝ `seeds` `(node, w)` weights
    * instead of uniform — the graph-based related-entities recommender
    * (rank concentrates in the seed set's neighborhood). Seeds are
    * intersected with the node set FIRST and weights normalized over
    * the survivors (a seed outside the graph would silently leak
    * teleport mass otherwise); non-seed nodes get zero teleport, so
    * total mass is conserved on a symmetric edge set. Duplicate seed
    * rows are summed per node before use (both paths — the input need
    * not be distinct). Same fast-path / distributed split, same
    * rounding contract as [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 5, maxBroadcastNodes: Long = 1000000L,
      localThreshold: Long = 2000000L): DataFrame =
    run(edges, Some(seeds.select(col("node"), col("w").cast("double"))),
      iterations, maxBroadcastNodes, localThreshold)

  /** PageRank's damping factor, the reference value both the local and
    * the distributed recurrence use.
    */
  private final val Damping = 0.85

  private def run(edges: DataFrame, seeds: Option[DataFrame], iterations: Int,
      maxBroadcastNodes: Long, localThreshold: Long): DataFrame = {
    // Duplicate (node, w) seed rows would silently break the distributed
    // path's one-row-per-node rank relation (the left join would emit
    // duplicate tele rows) while the local path sums them — aggregate
    // ONCE here so both paths agree for ANY seed input.
    val aggSeeds = seeds.map(_.groupBy(col("node")).agg(sum(col("w")).as("w")))
    // Guarded dispatch (shared discipline — see [[Guarded.iterate]]):
    // eager checkpoint BEFORE the count so the guard reads materialized
    // blocks, the local collect is bounded, and the distributed build —
    // which reads the edges twice — never re-runs the caller's
    // edge-mining lineage; checkpointed leaves also keep the printed
    // round plans O(iterations) regardless of caller depth.
    Guarded.iterate(edges.select(col("src"), col("dst")), localThreshold) {
      (e, m) =>
        require(m > 0, "pageRank over an empty edge set")
        localRun(e, aggSeeds, iterations)
    } { (e, m) =>
      distributedRun(e, m, aggSeeds, iterations, maxBroadcastNodes)
    }
  }

  private def distributedRun(e: DataFrame, m: Long, seeds: Option[DataFrame],
      iterations: Int, maxBroadcastNodes: Long): DataFrame = {
    // guard here too: a forced-distributed call (negative threshold)
    // on an empty edge set must fail with the message, not silently
    // build a 1/0 teleport over zero nodes
    require(m > 0, "pageRank over an empty edge set")
    // Distributed path. Round-cost structure: the out-degree is FOLDED
    // into the edge relation once (no per-round degree join), and the
    // edge relation is pre-partitioned on `src` with the partitioning
    // PRESERVED through the checkpoint (LogicalRDD keeps
    // outputPartitioning — the CC loop's `repartition(nbr)` trick), so
    // each round moves only rank-sized relations, never the edges.
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val eDeg = e.join(outDeg, Seq("src"))
      .repartition(col("src")).localCheckpoint(true)
    val nodes = eDeg.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    // per-node teleport relation: uniform 1/n, or normalized seed
    // weights over seeds∩nodes (zero elsewhere); checkpointed — it is
    // read every round
    val tele = (seeds match {
      case None => nodes.withColumn("p", lit(1.0 / n))
      case Some(s) =>
        val sg = s.join(nodes, Seq("node"))
        // SUM over zero rows is SQL null — read as Option so an
        // all-out-of-graph seed set fails via the require's message
        // (matching the local path) instead of an NPE on getDouble
        val sumW = Option(sg.agg(sum(col("w"))).head()
          .getAs[java.lang.Double](0)).fold(0.0)(_.doubleValue)
        require(sumW > 0, "personalized teleport needs in-graph seeds")
        nodes.join(sg, Seq("node"), "left")
          .select(col("node"), (coalesce(col("w"), lit(0.0)) / lit(sumW)).as("p"))
    }).localCheckpoint(true)
    val side = scoreSide("pageRank", "rank", m, n, maxBroadcastNodes)
    var ranks = tele.select(col("node"), col("p").as("rank"))
    for (_ <- 1 to iterations) {
      val rankSide = side(ranks)
      val contribs = eDeg
        .join(rankSide, eDeg("src") === rankSide("node"))
        .select(col("dst").as("node"),
          (col("rank") / col("out_deg")).as("contrib"))
      val inSum = contribs.groupBy(col("node"))
        .agg(sum(col("contrib")).as("in_sum"))
      ranks = tele.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - Damping) * col("p") +
            lit(Damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** The count-guarded score side shared by the distributed loops of
    * [[pageRank]], [[hits]] and [[sssp]]: at or under `maxBroadcastNodes`
    * measured nodes the per-round score relation broadcasts, above it the
    * join runs shuffle-hash — the 100 TB path never builds an unbounded
    * broadcast. Logs the choice with the operator's edge and node counts.
    */
  private def scoreSide(op: String, join: String, m: Long, n: Long,
                        maxBroadcastNodes: Long): DataFrame => DataFrame = {
    val useBroadcast = n <= maxBroadcastNodes
    logger.info(s"$op: $m edges, $n nodes -> distributed, " +
      (if (useBroadcast) s"broadcast $join join"
       else s"shuffle-hash $join join (over maxBroadcastNodes=$maxBroadcastNodes)"))
    df => if (useBroadcast) broadcast(df) else df.hint("shuffle_hash")
  }

  /** HITS (Kleinberg's hubs & authorities) over a DIRECTED edge relation
    * `(src, dst)`: hub scores live on sources, authority scores on
    * destinations (on the customer→supplier interaction graph: which
    * customers are broad curators, which suppliers are consensus picks).
    * Each round is the textbook mutual recurrence with L1 normalization
    * per half-step (each score vector sums to 1) — the cross-engine-
    * deterministic variant: an L2 norm adds a sqrt whose operand is an
    * order-sensitive float sum, while L1 keeps every step a plain
    * sum-and-divide the oracle can mirror literally. Init: uniform
    * 1/|hubs| on the hub side.
    *
    * Scale shape (the [[pageRank]] conventions): edges checkpointed once
    * and pre-partitioned, each round two `edges ⋈ scores` equi-joins on
    * the score key + two map-side-partial `groupBy` sums; normalizers
    * attach as broadcast 1-row crossJoins (lazy — no per-round driver
    * action), score relations never exceed one row per node, measured
    * node count picks broadcast vs shuffle-hash for the score side, and
    * the same count-guarded driver fast path serves small graphs.
    * Returns `(node, kind['auth'|'hub'], score)` un-rounded; callers own
    * the 6dp presentation rounding.
    */
  def hits(edges: DataFrame, iterations: Int = 5,
           maxBroadcastNodes: Long = 1000000L,
           localThreshold: Long = 2000000L): DataFrame = {
    require(iterations >= 1, s"iterations $iterations")
    // both unions of (src, dst) values flow into ONE output node column.
    // Check types on the NAME-RESOLVED projection, not positional fields
    // of the raw caller frame — a frame with extra or reordered columns
    // would otherwise type-check the wrong pair (the same positional trap
    // Dedup.connectedComponents fixed).
    val proj = edges.select(col("src"), col("dst"))
    require(proj.schema.fields(0).dataType == proj.schema.fields(1).dataType,
      s"hits needs same-typed src/dst (got ${proj.schema.fields(0).dataType}" +
        s" vs ${proj.schema.fields(1).dataType})")
    Guarded.iterate(proj, localThreshold) {
      (e, m) =>
        require(m > 0, "hits over an empty edge set")
        hitsLocal(e, iterations)
    } { (e, m) =>
      require(m > 0, "hits over an empty edge set")
      hitsDistributed(e, m, iterations, maxBroadcastNodes)
    }
  }

  private def hitsDistributed(e0: DataFrame, m: Long, iterations: Int,
                              maxBroadcastNodes: Long): DataFrame = {
    val e = e0.repartition(col("src")).localCheckpoint(true)
    val hubNodes = e.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    val nh = hubNodes.count()
    // the guard must cover BOTH relations scoreSide broadcasts: the hub
    // side (|distinct src|) and the authority side (|distinct dst|) — a
    // few-sources/many-destinations graph would pass a hub-only guard
    // and then broadcast the huge authority relation every round
    val na = e.select(col("dst")).distinct().count()
    val side = scoreSide("hits", "score", m, math.max(nh, na),
      maxBroadcastNodes)
    // L1 normalizer: the sum attach references `raw` twice, so `raw` is
    // CHECKPOINTED first — against a materialized leaf the double
    // reference costs one cached-block re-read, while against the live
    // round lineage it would double the logical plan per half-step
    // (4^iterations growth — the exact blowup hitsOracle's scalar-
    // subquery form hit in DuckDB). The per-half-step action this costs
    // is the CC-loop persist discipline; it also truncates the printed
    // plan (the r5 explainString lesson).
    def l1(raw: DataFrame, c: String): DataFrame = {
      val df = raw.localCheckpoint(true)
      val s = df.agg(sum(col(c)).as("__s"))
      df.crossJoin(broadcast(s))
        .select(col("node"), (col(c) / col("__s")).as(c))
    }
    var hub = hubNodes.withColumn("h", lit(1.0 / nh))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      val hs = side(hub)
      auth = l1(e.join(hs, e("src") === hs("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
        .select(col("dst").as("node"), col("a")), "a")
      val as = side(auth)
      hub = l1(e.join(as, e("dst") === as("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
        .select(col("src").as("node"), col("h")), "h")
    }
    auth.select(col("node"), lit("auth").as("kind"), col("a").as("score"))
      .unionAll(hub.select(col("node"), lit("hub").as("kind"),
        col("h").as("score")))
  }

  /** The identical recurrence as a driver loop — the [[localRun]] twin
    * for HITS. Hubs (srcs) and authorities (dsts) take indices in two
    * separate [[NodeIndex]]es, each in first-seen edge order; pure
    * function of the collected edge list.
    */
  private def hitsLocal(e: DataFrame, iterations: Int): DataFrame = {
    val edges = new LocalEdges(e, 2)
    val (hubs, auths) = (new NodeIndex(edges), new NodeIndex(edges))
    val m = edges.m
    val srcIx = new Array[Int](m)
    val dstIx = new Array[Int](m)
    var i = 0
    while (i < m) { srcIx(i) = hubs.add(0, i); dstIx(i) = auths.add(1, i); i += 1 }
    val (nh, na) = (hubs.size, auths.size)
    var hub = Array.fill(nh)(1.0 / nh)
    var auth = new Array[Double](na)
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var k = 0
      while (k < v.length) { s += v(k); k += 1 }
      v.map(_ / s)
    }
    for (_ <- 1 to iterations) {
      val a = new Array[Double](na)
      var j = 0
      while (j < m) { a(dstIx(j)) += hub(srcIx(j)); j += 1 }
      auth = normalize(a)
      val h = new Array[Double](nh)
      j = 0
      while (j < m) { h(srcIx(j)) += auth(dstIx(j)); j += 1 }
      hub = normalize(h)
    }
    localFrame(e.sparkSession, StructType(Seq(
        e.schema.fields(0).copy(name = "node"),
        StructField("kind", StringType, nullable = false),
        StructField("score", DoubleType, nullable = false))),
      Seq.tabulate(na)(k => Row(auths.node(k), "auth", auth(k))) ++
        Seq.tabulate(nh)(k => Row(hubs.node(k), "hub", hub(k))))
  }

  /** Exact triangle census of an undirected simple graph given as
    * CANONICAL edges `(u, v)` with `u < v`, distinct. Returns ONE row
    * `(n_nodes, n_edges, n_wedges, n_triangles, gcc)` where `n_wedges`
    * is the path-2 count `Σ C(deg, 2)` (open + closed wedges) and
    * `gcc = 3·triangles / wedges` — the global clustering coefficient,
    * un-rounded (callers own the presentation rounding, the repo-wide
    * 6dp contract).
    *
    * Scale shape — the DEGREE-ORIENTED wedge join (the standard
    * distributed triangle-counting discipline): each edge is directed
    * from its (degree, id)-smaller endpoint to the larger. That order is
    * total and acyclic, so every triangle is counted exactly once — at
    * its order-minimum vertex, whose two out-edges form the wedge the
    * close join completes. The payoff is the out-degree bound: a node
    * with out-degree k has k neighbors of degree ≥ its own, so
    * k² ≤ Σdeg = 2m and k = O(√m). The wedge self-join on `src`
    * therefore fans out O(√m) per edge — NOT the raw degree, which is
    * what melts the naive shared-neighbor join on power-law graphs (a
    * degree-h hub contributes h² unoriented wedges; oriented, its edges
    * point INTO it and it contributes none). Three equi-join shuffles
    * total (degree attach, wedge self-join, close probe on the composite
    * `(u, v)` key); the census aggregates are all map-side partial;
    * nothing is collected to the driver. The edge relation is eagerly
    * checkpointed — it is read three times (degrees, orientation, close
    * probe) and the caller's mining lineage must evaluate once.
    *
    * GUARDED BROADCAST (the [[pageRank]] maxBroadcastNodes convention):
    * the wedge relation is the one quadratic-ish intermediate
    * (Σ C(out_deg, 2) rows), and the shuffle plan exchanges it twice
    * (self-join output + close-probe exchange). When the MEASURED edge
    * count fits a broadcast (`maxBroadcastEdges`), the degree attach,
    * the self-join's build side, and the close probe all broadcast
    * instead, so every wedge is generated, probed, and partially
    * counted INSIDE its map task — zero wedge exchanges. Above the
    * guard the shuffle plan stands unchanged — the 100 TB path never
    * builds an unbounded broadcast. (Note the broadcast removes
    * exchanges, not wedge work: a DENSE graph's census cost is the
    * wedge count itself — callers mining co-occurrence edges should
    * min-support-filter first, q_triangles' discipline.)
    */
  def triangleStats(edges: DataFrame,
                    maxBroadcastEdges: Long = 4000000L): DataFrame = {
    val e = edges.select(col("u"), col("v")).localCheckpoint(true)
    val m = e.count() // reads the checkpointed blocks — no lineage re-run
    val small = m <= maxBroadcastEdges
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    // Orient u→v iff (du, u) < (dv, v); the canonical u < v input breaks
    // equal-degree ties. Checkpointed: both sides of the wedge self-join
    // read it, and the orientation joins must not run twice.
    val oriented = e.join(side(du), Seq("u")).join(side(dv), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
      .localCheckpoint(true)
    // Wedge {x, y} at a shared oriented src, emitted once in canonical
    // value order (x < y) so the close probe hits the canonical edge set
    // directly — no per-row least/greatest normalization.
    val wedges = oriented.select(col("src"), col("dst").as("x"))
      .join(side(oriented.select(col("src"), col("dst").as("y"))), Seq("src"))
      .filter(col("x") < col("y"))
      .select(col("x").as("u"), col("y").as("v"))
    val tri = wedges.join(side(e), Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    // Σ C(deg,2) in exact integer arithmetic: deg·(deg−1) is even, so
    // DIV 2 is exact (a double `/` would wobble past 2^53 wedges).
    val base = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("deg * (deg - 1) DIV 2")), lit(0L))
        .cast("long").as("n_wedges"))
    val en = e.agg(count(lit(1)).as("n_edges"))
    base.crossJoin(broadcast(en)).crossJoin(broadcast(tri)) // 1-row attaches
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(0.0)).as("gcc"))
  }

  /** Bounded-round weighted shortest paths (Bellman-Ford relaxation)
    * from a seed set over a directed weighted edge relation
    * `(src, dst, w)` with NON-NEGATIVE integer weights. Returns
    * `(node, dist)` for every node reachable from a seed within
    * `rounds` edges, where `dist` is the minimum total weight over all
    * such paths — exact integer arithmetic end to end, so unlike the
    * power-iteration family there is NO float seam and no presentation
    * rounding: the oracle can match distances bit-for-bit.
    *
    * The node universe is `DISTINCT src` (the [[pageRank]] convention —
    * a symmetric edge set satisfies it trivially); seeds outside the
    * universe are dropped, and a `dst` that is never a `src` still
    * surfaces in the output when relaxed (it is a reachable sink).
    * A fixed round count is the scale contract: `rounds` bounds both
    * the lineage and the path length, exactly like the power-iteration
    * family's fixed iterations — the "run to convergence" variant at
    * scale is this loop with a convergence count check every ~10
    * checkpointed rounds (the CC-loop discipline).
    *
    * Scale shape (the [[pageRank]] conventions): edges are checkpointed
    * once and pre-partitioned on `src`; each round joins the frontier
    * relation (≤ one row per reached node) to the edges on `src`
    * (broadcast under the measured-node guard, shuffle-hash above),
    * then takes one map-side-combinable `min` per node. Only
    * dist-sized relations move per round; the per-round checkpoint
    * keeps the plan O(rounds) (the dist relation is referenced twice
    * per round — union + relax — the HITS double-reference lesson).
    * Same [[Guarded.iterate]] driver fast path below `localThreshold`
    * edges, with the identical relaxation as an array loop.
    */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int = 4,
           maxBroadcastNodes: Long = 1000000L,
           localThreshold: Long = 2000000L): DataFrame = {
    val seedNodes = seeds.select(col("node")).distinct()
    Guarded.iterate(
      edges.select(col("src"), col("dst"), col("w").cast("long")),
      localThreshold) { (e, m) =>
      require(m > 0, "sssp over an empty edge set")
      ssspLocal(e, seedNodes, rounds)
    } { (e, m) =>
      require(m > 0, "sssp over an empty edge set")
      val ePart = e.repartition(col("src")).localCheckpoint(true)
      val nodes = ePart.select(col("src").as("node")).distinct()
        .localCheckpoint(true)
      val side = scoreSide("sssp", "frontier", m, nodes.count(),
        maxBroadcastNodes)
      var dist = seedNodes.join(nodes, Seq("node"))
        .select(col("node"), lit(0L).as("dist")).localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val distSide = side(dist)
        val relaxed = ePart
          .join(distSide, ePart("src") === distSide("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist = dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
      }
      dist
    }
  }

  /** The identical relaxation as a driver array loop — the [[localRun]]
    * twin for [[sssp]]. Nodes take indices src then dst, interleaved
    * per row. Exact integer math; pure function of the
    * collected edge list + seed set. The guard bounds only EDGES, so
    * the seed relation is semi-joined to the edge srcs before its
    * collect — a huge seeds input with a tiny graph collects at most
    * |distinct src| rows, matching the distributed twin's join.
    */
  private def ssspLocal(e: DataFrame, seedNodes: DataFrame,
                        rounds: Int): DataFrame = {
    val edges = new LocalEdges(e, 3)
    val ix = new NodeIndex(edges)
    val m = edges.m
    val srcIx = new Array[Int](m); val dstIx = new Array[Int](m)
    val w = new Array[Long](m)
    val srcSeen = new java.util.BitSet()
    var i = 0
    while (i < m) {
      srcIx(i) = ix.add(0, i); srcSeen.set(srcIx(i))
      dstIx(i) = ix.add(1, i); w(i) = edges.long(2, i)
      i += 1
    }
    val n = ix.size
    val INF = Long.MaxValue
    val dist = Array.fill(n)(INF)
    // seeds∩universe only: universe = distinct src (the distributed
    // path's nodes relation) — a seed that is only ever a dst starts
    // unreached there, so it must here too. The intersection happens
    // BEFORE the collect (semi-join to the edge srcs) so the driver
    // never materializes more seed rows than the graph has nodes.
    val srcNodes = e.select(col(e.columns(0)).as("node")).distinct()
    Guarded.collectInternal(seedNodes.join(srcNodes, Seq("node"))).foreach { r =>
      val k = ix.find(r)
      if (k >= 0 && srcSeen.get(k)) dist(k) = 0L
    }
    for (_ <- 1 to rounds) {
      val prev = dist.clone()
      var j = 0
      while (j < m) {
        if (prev(srcIx(j)) != INF) {
          val cand = prev(srcIx(j)) + w(j)
          if (cand < dist(dstIx(j))) dist(dstIx(j)) = cand
        }
        j += 1
      }
    }
    localFrame(e.sparkSession, StructType(Seq(
        e.schema.fields(0).copy(name = "node"),
        StructField("dist", LongType, nullable = false))),
      (0 until n).filter(dist(_) != INF).map(k => Row(ix.node(k), dist(k))))
  }

  /** k-core peel curve: `rounds` synchronous peeling rounds over an
    * undirected graph given as canonical `(u, v)` edge rows (u < v,
    * distinct). Round r drops every node whose degree in the round-r−1
    * SURVIVING subgraph is below `k` (the standard synchronous peel —
    * after enough rounds the fixpoint is exactly the k-core), and
    * reports one row per round: `(round, n_nodes, n_edges)` with
    * `n_nodes` = distinct endpoints of the surviving edge set (an
    * alive node whose last neighbor died counts as gone — it has no
    * edge left to carry it into the core). Round 0 is the unpeeled
    * census. Exact integer counts — zero float seam, so the fixed-round
    * unrolled-CTE oracle (the q_sssp / q_kmeans_steps convention)
    * matches bit-for-bit.
    *
    * Scale shape (the [[sssp]] conventions): edges checkpointed per
    * round (each round references its edge set three times — degree
    * union, u-semi-join, v-semi-join — the HITS double-reference
    * lesson); per round ONE map-side-combinable degree aggregate and
    * TWO hash semi-joins against the ids-only `alive` relation; only
    * node-sized relations move besides the surviving edges themselves,
    * and the fixed round count bounds the plan. Same [[Guarded.iterate]]
    * driver fast path below `localThreshold` edges, with the identical
    * peel as an array loop.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int,
                localThreshold: Long = 2000000L): DataFrame = {
    require(k >= 1, s"k $k"); require(rounds >= 0, s"rounds $rounds")
    Guarded.iterate(edges.select(col("u"), col("v")), localThreshold) {
      (e, _) => kcoreLocal(e, k, rounds)
    } { (e0, m0) =>
      val spark = e0.sparkSession
      val curve = scala.collection.mutable.ArrayBuffer.empty[Row]
      var e = e0.repartition(col("u")).localCheckpoint(true)
      var m = m0
      def nNodes(df: DataFrame): Long =
        df.select(col("u").as("n")).unionAll(df.select(col("v").as("n")))
          .distinct().count()
      curve += Row(0L, nNodes(e), m)
      var r = 1
      while (r <= rounds) {
        // empty-set fast exit: every further round is (r, 0, 0) — emit
        // the constant tail without launching 3 jobs per dead round
        if (m == 0L) { curve += Row(r.toLong, 0L, 0L) }
        else {
          val alive = e.select(col("u").as("node"))
            .unionAll(e.select(col("v").as("node")))
            .groupBy(col("node")).agg(count(lit(1)).as("dg"))
            .filter(col("dg") >= k).select(col("node"))
          e = e
            .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
            .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
            // using-columns joins reorder the schema (the r7 trap) —
            // re-pin the canonical column order before the checkpoint
            .select(col("u"), col("v"))
            .localCheckpoint(true)
          m = e.count()
          curve += Row(r.toLong, if (m == 0L) 0L else nNodes(e), m)
        }
        r += 1
      }
      localFrame(spark, peelSchema, curve.toSeq)
    }
  }

  /** `(round, n_nodes, n_edges)` — both [[kcorePeel]] paths' curve. */
  private val peelSchema = StructType(
    Seq("round", "n_nodes", "n_edges").map(StructField(_, LongType, false)))

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * community-detection baseline; public algorithm), made fully
    * deterministic: every node starts labeled with its own id and each
    * of the fixed `rounds` updates EVERY node to its neighbors' MODE
    * label, ties broken by the smallest label (classic LPA breaks ties
    * randomly — the min tiebreak is what makes the result a pure
    * function of the edge set, SQL-mirrorable round by round).
    * Undirected input as canonical `(u, v)` rows; returns `(node,
    * label)` after the last round.
    *
    * Scale shape: per round ONE equi-join of the symmetric edge list to
    * the node-sized label relation, ONE map-side-combinable (node,
    * label) count, and ONE per-node window over that count (bounded by
    * the node's distinct neighbor labels ≤ degree); labels are
    * checkpointed per round (read by the next join + the final
    * output). [[Guarded.iterate]] driver fast path below
    * `localThreshold` edges, identical recurrence as an array loop.
    */
  def lpaSteps(edges: DataFrame, rounds: Int,
               localThreshold: Long = 2000000L): DataFrame = {
    require(rounds >= 1, s"rounds $rounds")
    Guarded.iterate(edges.select(col("u"), col("v")), localThreshold) {
      (e, m) =>
        require(m > 0, "lpa over an empty edge set")
        lpaLocal(e, rounds)
    } { (e, m) =>
      require(m > 0, "lpa over an empty edge set")
      val sym = e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
        .distinct()
        .repartition(col("nbr")).localCheckpoint(true) // joined per round on nbr
      var labels = sym.select(col("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint(true)
      val wMode = Window.partitionBy(col("node"))
        .orderBy(col("__n").desc, col("label"))
      for (_ <- 1 to rounds) {
        labels = sym
          .join(labels.select(col("node").as("nbr"), col("label")),
            Seq("nbr"))
          .groupBy(col("node"), col("label"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__r", row_number().over(wMode))
          .filter(col("__r") === 1)
          .select(col("node"), col("label"))
          .localCheckpoint(true)
      }
      labels
    }
  }

  /** The identical synchronous mode update as a driver loop — the
    * [[localRun]] twin for [[lpaSteps]]. Mode ties break on the LABEL
    * VALUE in the distributed path, so nodes are sorted once in Spark's
    * order for the id type ([[NodeIndex.compare]]) and labels ride
    * sorted positions internally.
    */
  private def lpaLocal(e: DataFrame, rounds: Int): DataFrame = {
    val edges = new LocalEdges(e, 2)
    val ix = new NodeIndex(edges)
    val m = edges.m
    val ua = new Array[Int](m); val va = new Array[Int](m)
    var i = 0
    while (i < m) { ua(i) = ix.add(0, i); va(i) = ix.add(1, i); i += 1 }
    val n = ix.size
    val sorted = Array.range(0, n).sortWith(ix.compare(_, _) < 0)
    val pos = new Array[Int](n)
    for (p <- 0 until n) pos(sorted(p)) = p
    val adj = Array.fill(n)(scala.collection.mutable.SortedSet.empty[Int])
    i = 0
    while (i < m) {
      val a = pos(ua(i)); val b = pos(va(i))
      if (a != b) { adj(a) += b; adj(b) += a }
      i += 1
    }
    var lab = Array.tabulate(n)(identity) // label = own sorted position
    for (_ <- 1 to rounds) {
      val next = new Array[Int](n)
      var v = 0
      while (v < n) {
        val cnt = scala.collection.mutable.Map.empty[Int, Int]
        adj(v).foreach { u => cnt(lab(u)) = cnt.getOrElse(lab(u), 0) + 1 }
        next(v) =
          if (cnt.isEmpty) lab(v)
          else cnt.toSeq.maxBy { case (l, c) => (c.toLong, -l.toLong) }._1
        v += 1
      }
      lab = next
    }
    localFrame(e.sparkSession, StructType(Seq(
        e.schema.fields(0).copy(name = "node"),
        e.schema.fields(0).copy(name = "label"))),
      (0 until n).map(p => Row(ix.node(sorted(p)), ix.node(sorted(lab(p))))))
  }

  /** Deterministic random walks (the node2vec/DeepWalk corpus builder —
    * Perozzi et al. 2014, Grover & Leskovec 2016; public algorithms,
    * uniform-transition special case): `nWalks` walks of `walkLen`
    * steps from each of the `nStarts` smallest node ids over the
    * symmetrized graph. "Random" is [[graft.functions.TextHashFunctions
    * .mix64]] of (current node, walk id, step) — a pure function of the
    * walk coordinates, so walks are reproducible under ANY partitioning
    * / re-run / engine (the SQL twin replays them bit-for-bit), which
    * is exactly what a training-corpus builder needs from its sampler.
    *
    * Returns the visit relation `(start, w, step, node)` (step 0 = the
    * start itself) — downstream skip-gram windows consume it ordered by
    * (start, w, step).
    *
    * Scale shape: the adjacency (node, nbr, rn, deg) is built once —
    * per-node windows, bounded by the max degree — and checkpointed
    * (every step joins it twice: deg attach + indexed-neighbor lookup;
    * both are equi-joins on node resp. (node, rn), so a pre-partitioned
    * adjacency serves all steps without re-shuffle). Each step moves
    * only walk-sized relations (nStarts·nWalks rows); the step count is
    * fixed, so the plan is O(walkLen) with no iterative blowup.
    */
  def randomWalks(edges: DataFrame, nStarts: Int, nWalks: Int,
                  walkLen: Int, seed: Int = 42): DataFrame = {
    require(nStarts >= 1 && nWalks >= 1 && walkLen >= 0,
      s"nStarts $nStarts nWalks $nWalks walkLen $walkLen")
    // Precondition (all callers: coPurchaseEdges and the spec fixtures):
    // `edges` carries NO DUPLICATE UNDIRECTED PAIRS — each {u,v} appears
    // as exactly one row, in either orientation (the fixtures include a
    // (4,1) row, so u < v is NOT required). That is what lets the
    // symmetrized relation skip distinct() — one more full |E| shuffle
    // per walk construction (removed r15; rn numbering is unchanged, so
    // walks are bit-identical). A caller passing both (u,v) AND (v,u)
    // would silently double that neighbor's adjacency rows and skew walk
    // probabilities — asserted in GraphLayoutSpec rather than here (a
    // distributed duplicate check would cost the very shuffle this
    // precondition removes).
    val sym = edges.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(edges.select(col("v").as("node"), col("u").as("nbr")))
    val wAdj = Window.partitionBy(col("node")).orderBy(col("nbr"))
    val adj = sym
      .withColumn("rn", row_number().over(wAdj).cast("long"))
      .withColumn("deg",
        count(lit(1)).over(Window.partitionBy(col("node"))).cast("long"))
      .localCheckpoint(true) // joined 2× per step
    // per-node relations via the rn=1 row of the CHECKPOINTED adjacency
    // (every node has one) — map-only, instead of a distinct() that
    // re-shuffled the full adjacency on EVERY step's lineage (measured:
    // the walk loop was paying |E|-sized shuffles for a ≤ nStarts·nWalks
    // frontier; r15 plan audit)
    val degs = adj.filter(col("rn") === 1L).select(col("node"), col("deg"))
    val starts = adj.filter(col("rn") === 1L).select(col("node"))
      .orderBy(col("node")).limit(nStarts) // TakeOrdered: bounded
      .select(col("node").as("start"))
    // each step relation is checkpointed: it is read TWICE (next step +
    // its own union branch), and without the cut every union branch
    // would re-derive the whole prefix chain — O(walkLen²) joins and a
    // BroadcastNestedLoopJoin per branch instead of one total. The
    // relations are walk-sized (nStarts·nWalks rows), so the cuts are
    // per-step metadata cost, not data cost.
    var cur = starts
      .crossJoin(broadcast(
        adj.sparkSession.range(nWalks).select(col("id").as("w"))))
      .select(col("start"), col("w"), col("start").as("node"))
      .localCheckpoint(true)
    val visits = scala.collection.mutable.ArrayBuffer(
      cur.select(col("start"), col("w"), lit(0L).as("step"), col("node")))
    for (t <- 1 to walkLen) {
      val choice = graft.functions.TextHashFunctions.mix64(
        col("node"), col("w"), lit(t.toLong), seed)
      // broadcast the FRONTIER side of both lookups explicitly: cur is
      // ≤ nStarts·nWalks rows but checkpoint-RDD-backed, so the size
      // estimator can't see it's tiny — without the hint the planner
      // shuffles the |E|-sized adjacency per step (the 100 TB killer:
      // a bounded probe must never move the big relation)
      val stepped = broadcast(cur)
        .join(degs, Seq("node"))
        .withColumn("rn", pmod(choice, col("deg")) + 1L)
        .select(col("start"), col("w"), col("node"), col("rn"))
      cur = broadcast(stepped)
        .join(adj.select(col("node"), col("rn"), col("nbr")),
          Seq("node", "rn"))
        .select(col("start"), col("w"), col("nbr").as("node"))
        .localCheckpoint(true)
      visits += cur.select(col("start"), col("w"),
        lit(t.toLong).as("step"), col("node"))
    }
    visits.reduce(_ unionAll _)
  }

  /** The identical synchronous peel as a driver array loop — the
    * [[localRun]] twin for [[kcorePeel]]. Nodes take indices u then v,
    * interleaved per row; counts are a pure function of the collected
    * edge list.
    */
  private def kcoreLocal(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val edges = new LocalEdges(e, 2)
    val ix = new NodeIndex(edges)
    val m = edges.m
    val ua = new Array[Int](m); val va = new Array[Int](m)
    var i = 0
    while (i < m) { ua(i) = ix.add(0, i); va(i) = ix.add(1, i); i += 1 }
    val n = ix.size
    var eAlive = Array.fill(m)(true)
    def census: (Long, Long) = {
      val seen = new Array[Boolean](n)
      var ne = 0L; var nn = 0L; var j = 0
      while (j < m) {
        if (eAlive(j)) {
          ne += 1
          if (!seen(ua(j))) { seen(ua(j)) = true; nn += 1 }
          if (!seen(va(j))) { seen(va(j)) = true; nn += 1 }
        }
        j += 1
      }
      (nn, ne)
    }
    val curve = scala.collection.mutable.ArrayBuffer.empty[Row]
    val c0 = census; curve += Row(0L, c0._1, c0._2)
    var r = 1
    while (r <= rounds) {
      val deg = new Array[Long](n)
      var j = 0
      while (j < m) {
        if (eAlive(j)) { deg(ua(j)) += 1; deg(va(j)) += 1 }
        j += 1
      }
      j = 0
      while (j < m) {
        if (eAlive(j) && (deg(ua(j)) < k || deg(va(j)) < k)) eAlive(j) = false
        j += 1
      }
      val c = census; curve += Row(r.toLong, c._1, c._2)
      r += 1
    }
    localFrame(e.sparkSession, peelSchema, curve.toSeq)
  }

  /** The identical recurrence as a driver array loop — see the fast-path
    * note on [[pageRank]]. Srcs take indices in first-seen row order; a
    * dst that is never a src finds −1 and its contribution drops. The
    * result is a pure function of the collected edge list.
    */
  private def localRun(e: DataFrame, seeds: Option[DataFrame],
      iterations: Int): DataFrame = {
    val edges = new LocalEdges(e, 2)
    val ix = new NodeIndex(edges)
    val m = edges.m
    val srcIx = new Array[Int](m)
    var i = 0
    while (i < m) { srcIx(i) = ix.add(0, i); i += 1 }
    val n = ix.size
    val dstIx = new Array[Int](m) // -1: dst never a src → contribution drops
    val outDeg = new Array[Long](n)
    i = 0
    while (i < m) { outDeg(srcIx(i)) += 1; dstIx(i) = ix.find(1, i); i += 1 }
    // teleport vector: uniform, or normalized over seeds∩nodes — the
    // seed collect is bounded by the same guard (seeds ⊆ nodes < edges)
    val p = seeds match {
      case None => Array.fill(n)(1.0 / n)
      case Some(s) =>
        val arr = new Array[Double](n)
        var sumW = 0.0
        Guarded.collectInternal(s).foreach { r =>
          val k = ix.find(r)
          if (k >= 0) { arr(k) += r.getDouble(1); sumW += r.getDouble(1) }
        }
        require(sumW > 0, "personalized teleport needs in-graph seeds")
        arr.map(_ / sumW)
    }
    var rank = p.clone()
    for (_ <- 1 to iterations) {
      val acc = new Array[Double](n)
      var j = 0
      while (j < m) {
        val t = dstIx(j)
        if (t >= 0) acc(t) += rank(srcIx(j)) / outDeg(srcIx(j))
        j += 1
      }
      rank = Array.tabulate(n)(k => (1.0 - Damping) * p(k) + Damping * acc(k))
    }
    localFrame(e.sparkSession, StructType(Seq(
        e.schema.fields(0).copy(name = "node"),
        StructField("rank", DoubleType, nullable = false))),
      Seq.tabulate(n)(k => Row(ix.node(k), rank(k))))
  }

  /** The one output step of the driver twins: `rows` as a one-partition
    * frame.
    */
  private def localFrame(spark: SparkSession, schema: StructType,
                         rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** A bounded edge relation collected once for a driver twin, read by
    * one or more [[NodeIndex]]es. The id type is read once from column 0
    * of the projection [[Guarded.iterate]] checkpointed:
    *   - `LongType` ids (every graph relation the engine builds) arrive
    *     as primitive long columns — k·8 bytes/row instead of copied
    *     UnsafeRows (measured r18: the pagerank edge collect was 377 ms
    *     wall for 148 ms of task time, the rest the 1.16M-row copy +
    *     object array ship). Every column must be a non-nullable long.
    *   - any other id type arrives as copied internal rows
    *     ([[Guarded.collectInternal]]).
    * Row order is IDENTICAL to `collect()` either way (same RDD,
    * partition-ordered concat), so first-seen index assignment and float
    * accumulation order do not depend on the id type.
    */
  private final class LocalEdges(df: DataFrame, nCols: Int) {
    val idType: DataType = df.schema.fields(0).dataType
    val longIds: Boolean = idType == LongType
    val longCols: Array[Array[Long]] =
      if (longIds) collectLongCols(df, nCols) else null
    val rows: Array[InternalRow] =
      if (longIds) null else Guarded.collectInternal(df)
    val m: Int = if (longIds) longCols(0).length else rows.length

    /** A non-id long column (SSSP's weight) at row `i`. */
    def long(c: Int, i: Int): Long =
      if (longIds) longCols(c)(i) else rows(i).getLong(c)
  }

  private def collectLongCols(df: DataFrame, nCols: Int): Array[Array[Long]] = {
    val parts = org.apache.spark.sql.graftbridge.Bridge.toInternalRdd(df)
      .mapPartitions { it =>
        val bs = Array.fill(nCols)(new scala.collection.mutable.ArrayBuilder.ofLong)
        it.foreach { r =>
          var c = 0
          while (c < nCols) { bs(c) += r.getLong(c); c += 1 }
        }
        Iterator.single(bs.map(_.result()))
      }.collect()
    Array.tabulate(nCols) { c =>
      val out = new Array[Long](parts.iterator.map(_(c).length).sum)
      var off = 0
      parts.foreach { p =>
        System.arraycopy(p(c), 0, out, off, p(c).length); off += p(c).length
      }
      out
    }
  }

  /** The one dense node index of the graph driver twins: ids of the
    * [[LocalEdges]] id columns map to 0, 1, 2, … in the order the twin
    * [[add]]s them. `LongType` ids index primitives in a `LongMap` (the
    * r18 fast path: the boxed-key index build was a ~280 ms driver gap
    * per pagerank-family query on a 1.16M-edge graph); any other type
    * hashes the internal value (`UTF8String` by bytes, boxed ints, …).
    */
  private final class NodeIndex(edges: LocalEdges) {
    private val dt = edges.idType
    private val longIds = edges.longIds
    private val longIdx =
      if (longIds) new scala.collection.mutable.LongMap[Int](math.max(16, edges.m / 2))
      else null
    private var longKeys = if (longIds) new Array[Long](16) else null
    private val anyIdx = if (longIds) null else new java.util.HashMap[Any, Integer]()
    private val anyKeys =
      if (longIds) null else scala.collection.mutable.ArrayBuffer.empty[Any]
    private var n = 0

    def size: Int = n

    /** The index of column `c`'s id at row `i`, assigning the next index
      * on first sight.
      */
    def add(c: Int, i: Int): Int =
      if (longIds) {
        val a = edges.longCols(c)(i)
        val k = longIdx.getOrElse(a, -1)
        if (k >= 0) k
        else {
          if (n == longKeys.length) longKeys = java.util.Arrays.copyOf(longKeys, 2 * n)
          longIdx.update(a, n); longKeys(n) = a; n += 1; n - 1
        }
      } else {
        val a = edges.rows(i).get(c, dt)
        val k = anyIdx.get(a)
        if (k != null) k.intValue
        else { anyIdx.put(a, n); anyKeys += a; n += 1; n - 1 }
      }

    /** The index of column `c`'s id at row `i`; −1 when absent. */
    def find(c: Int, i: Int): Int =
      if (longIds) longIdx.getOrElse(edges.longCols(c)(i), -1)
      else indexOf(edges.rows(i).get(c, dt))

    /** The index of a seed row's id (field 0); −1 when absent. */
    def find(seed: InternalRow): Int =
      if (longIds) longIdx.getOrElse(seed.getLong(0), -1)
      else indexOf(seed.get(0, dt))

    private def indexOf(a: Any): Int = {
      val k = anyIdx.get(a)
      if (k == null) -1 else k.intValue
    }

    /** Node `k`'s id as an external value, for output rows. */
    def node(k: Int): Any = if (longIds) longKeys(k) else toExternal(anyKeys(k))

    /** Spark's ordering of nodes `a` and `b` for the id type (`String`s
      * by UTF-8 bytes, not Java's UTF-16 `compareTo`).
      */
    def compare(a: Int, b: Int): Int =
      if (longIds) java.lang.Long.compare(longKeys(a), longKeys(b))
      else ordering.compare(anyKeys(a), anyKeys(b))

    private lazy val toExternal = CatalystTypeConverters.createToScalaConverter(dt)
    private lazy val ordering = TypeUtils.getInterpretedOrdering(dt)
  }
}
