package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed graph analytics over the co-purchase graph (parts
  * connected when >= `minSupport` orders contain both — the same edge
  * derivation as [[Analytics.marketBasket]], thresholded instead of
  * top-k). Complements the dedup-graph machinery (label propagation /
  * pointer jumping in Dedup.scala) with the two classic whole-graph
  * measures: triangle counting and PageRank.
  *
  * Scale shape: the only corpus-sized work is the distinct
  * (order, part) projection; everything downstream operates on the
  * thresholded edge list (8-byte key equi-joins, map-side partial
  * aggregation, no all-pairs anywhere). The support threshold is what
  * keeps the pair space sparse — the per-order self-join fan-out is
  * basket-size-squared, never #parts-squared.
  */
object Graphs {

  /** Undirected support-thresholded co-purchase edges (pa < pb).
    *
    * The (pa, pb) count is every consumer's dominant shuffle and its
    * partial aggregate reduces nothing (sf0.1: 1.20M pair rows, 99.7%
    * distinct; the support filter then keeps ~3.6k) — so, exactly as
    * in [[seqEdges]], pack both endpoints into ONE bigint key when the
    * part-key range provably allows it ([[pairKeyBase]]), unpacking
    * after the filter keeps the edge set bit-identical, and other ids
    * fall back to the original two-key aggregate (guide §2.3: shuffle
    * fewer bytes).
    */
  private[graft] def coEdges(spark: SparkSession, dir: String,
                             minSupport: Int): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val paired = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
    pairKeyBase(Tables.lineitem(spark, dir), "l_partkey") match {
      case Some(base) =>
        paired
          .groupBy((col("a.pk") * base + col("b.pk")).as("ek"))
          .agg(count(lit(1)).as("n_co"))
          .filter(col("n_co") >= minSupport)
          .select(expr(s"ek div $base").as("pa"),
                  pmod(col("ek"), lit(base)).as("pb"))
      case None =>
        paired
          .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
          .agg(count(lit(1)).as("n_co"))
          .filter(col("n_co") >= minSupport)
          .select("pa", "pb")
    }
  }

  /** The base `max + 1` that packs an id pair `(a, b)` of column `c`
    * onto the one BIGINT key `a * base + b`, or None when that packing
    * is unsound: no rows, a negative id (keys collide and `div`/`pmod`
    * unpack the wrong ids), or an id above 3037000498 (`base^2` would
    * pass 2^63). One min/max aggregate over `df`.
    */
  private[graft] def pairKeyBase(df: DataFrame, c: String): Option[Long] = {
    val r = df.agg(min(col(c)), max(col(c))).first()
    if (r.isNullAt(0) || r.getLong(0) < 0 || r.getLong(1) > 3037000498L) None
    else Some(r.getLong(1) + 1)
  }

  /** Exact triangle count via degree orientation (Chiba-Nishizeki /
    * the MapReduce formulation of Suri-Vassilvitskii 2011): orient
    * every edge from the (degree, id)-smaller endpoint to the larger,
    * so each triangle is counted exactly once at its lowest-rank
    * vertex and every wedge list is bounded by the oriented
    * out-degree (O(sqrt m)) — the skew rescue that makes the wedge
    * join feasible on a power-law graph. Output is the 1-row graph
    * summary: edges, wedges, triangles, global clustering coefficient.
    */
  def triangleCount(spark: SparkSession, dir: String,
                    minSupport: Int = 2): DataFrame = {
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    // symmetric degree
    val deg = e.select(col("pa").as("v")).unionAll(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = smaller endpoint under that rank
    val withDeg = e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("v").as("pb"), col("d").as("db")), "pb")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
        .otherwise(col("pb")).as("src"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
        .otherwise(col("pa")).as("dst"))
      .localCheckpoint()
    // wedges at the lowest-rank vertex; close each against an oriented
    // edge. The wedge list is the O(m^1.5) term of the whole algorithm,
    // so it is checkpointed and built exactly ONCE — the three
    // consumers below (wedge count + both closure orientations) read
    // the materialized partitions, never the join lineage.
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("w1"), col("e2.dst").as("w2"))
      .localCheckpoint()
    val nWedges = wedges.count()
    // the closing edge may be oriented either way between w1 and w2 —
    // two DISJOINT equi-joins (an OR'd condition would plan as a
    // nested loop), unioned and counted in ONE action
    val closures = wedges.join(oriented,
        col("w1") === col("src") && col("w2") === col("dst"))
      .select(lit(1).as("one"))
      .unionAll(wedges.join(oriented,
          col("w2") === col("src") && col("w1") === col("dst"))
        .select(lit(1).as("one")))
      .count()
    val nEdges = oriented.count()
    val spk = spark
    import spk.implicits._
    Seq((nEdges, nWedges, closures)).toDF("n_edges", "n_wedges", "n_triangles")
      .withColumn("clustering",
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(col("n_triangles").cast("double") / col("n_wedges"), 6)))
  }

  /** Fixed-round k-core peeling (Seidman 1983; the distributed
    * peel-per-round formulation): each round drops every node whose
    * CURRENT degree is below k, then every edge touching a dropped
    * node, and reports the shrinking graph — the density-screen that
    * separates a connected core from tendrils. Rounds are fixed (not
    * run-to-fixpoint) so the oracle unrolls them as CTEs; the
    * remaining-nodes curve converging flat is the fixpoint signal the
    * analyst reads off the output.
    *
    * Scale shape: per round one degree aggregate + two semi-joins on
    * 8-byte endpoints, localCheckpointed like every driver-paced loop
    * here.
    */
  def kCorePeel(spark: SparkSession, dir: String, k: Int = 3,
                rounds: Int = 5, minSupport: Int = 2): DataFrame = {
    val spk = spark
    import spk.implicits._
    var (edges, edgeIds) = graft.Caches.trackedCheckpoint(
      coEdges(spark, dir, minSupport)
        .select(col("pa").as("u"), col("pb").as("v")))
    val out = Seq.newBuilder[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = edges.select(col("u").as("x")).unionAll(edges.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val (keep, keepIds) = graft.Caches.trackedCheckpoint(
        deg.filter(col("d") >= k).select("x"))
      val (eNext, eNextIds) = graft.Caches.trackedCheckpoint(edges
        .join(keep.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("x", "v"), Seq("v"), "left_semi"))
      graft.Caches.release(spark, edgeIds)
      out += ((r.toLong, keep.count(), eNext.count()))
      // keep's last consumer is the count above — free it per round
      graft.Caches.release(spark, keepIds)
      edges = eNext; edgeIds = eNextIds
    }
    out.result().toDF("round", "n_nodes", "n_edges").orderBy("round")
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees
    * over the symmetrized edge list — one number saying whether hubs
    * link to hubs (positive) or to leaves (negative). One degree
    * aggregate + two endpoint joins + corr.
    */
  def assortativity(spark: SparkSession, dir: String,
                    minSupport: Int = 2): DataFrame = {
    val e0 = coEdges(spark, dir, minSupport)
    val adj = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint()
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
    adj
      .join(deg, "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .agg(count(lit(1)).as("n_directed_edges"),
           round(corr(col("d"), col("dv")), 6).as("assortativity"))
  }

  /** PageRank (Brin-Page 1998) on the symmetrized co-purchase graph:
    * `iters` driver-paced rounds of
    * r'(v) = (1-d)/N + d * sum over in-neighbors u of r(u)/deg(u),
    * top-k nodes by final rank. No dangling mass: symmetrization
    * gives every node out-degree >= 1.
    *
    * Scale shape: each round is one equi-join of the edge list with
    * the rank vector (both keyed by node) plus a node-keyed
    * aggregation — the canonical iterative-analytics pattern; the
    * degree table rides the same key. Rounds are localCheckpointed so
    * the lineage stays O(1) like kmeansCentroids / labelPropagation;
    * N is the single bounded driver value.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 5,
               damping: Double = 0.85, topK: Int = 20,
               minSupport: Int = 2): DataFrame = {
    val e0 = coEdges(spark, dir, minSupport)
    // symmetric adjacency (u -> v both ways)
    val adj = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint()
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint()
    val n = deg.count()
    val base = lit(1.0 - damping) / lit(n.toDouble)
    // per-round ranks quantize to 12 decimals (both engines): sum(r/d)
    // is an order-dependent double summation, and without the per-round
    // clamp the last-ulp drift between Spark's partial-agg order and
    // the oracle's compounds over the iterations
    val ranks = graft.Caches.iterate(
      deg.select(col("u").as("node"),
        (lit(1.0) / lit(n.toDouble)).as("r")), iters) { (st, _) =>
      adj.join(st.withColumnRenamed("node", "u"), "u")
        .join(deg, "u")
        .select(col("v").as("node"), (col("r") / col("d")).as("c"))
        .groupBy("node")
        .agg(round(base + lit(damping) * sum(col("c")), 12).as("r"))
    }
    // top-k via TakeOrdered (never a global single-partition window
    // over the corpus-growing node set); the k-row result re-ranks and
    // broadcasts into the degree join
    val top = ranks
      .select(col("node"), round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rank").desc, col("node"))).cast("bigint"))
      .join(deg.select(col("u").as("node"), col("d").as("degree")), "node")
      .select("rk", "node", "degree", "rank")
      .orderBy("rk")
  }

  /** Personalized PageRank from the top-degree seed set — the
    * "related items" random walk with restart: teleport mass lands
    * only on the seeds (1/|S| each), so rank measures proximity TO
    * the seeds rather than global importance. The state stays
    * SPARSE: a node enters the rank table only once the walk reaches
    * it (contrib groupBy emits only touched nodes; the seed teleport
    * re-enters through one full-outer join against the |S|-row seed
    * table per round) — at 100 TB a few rounds from a small seed set
    * touch a neighborhood, never the whole graph. Seeds are the
    * deterministic top-`nSeeds` by (degree desc, node), a TakeOrdered
    * cut broadcast into every round. Same per-round round-12
    * quantization, localCheckpointed state, and unrolled-CTE oracle
    * as [[pageRank]].
    */
  def personalizedPageRank(spark: SparkSession, dir: String, iters: Int = 5,
                           damping: Double = 0.85, topK: Int = 20,
                           nSeeds: Int = 3, minSupport: Int = 2): DataFrame = {
    val e0 = coEdges(spark, dir, minSupport)
    val adj = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint()
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint()
    val seeds = deg.orderBy(col("d").desc, col("u")).limit(nSeeds)
      .select(col("u").as("node"), lit(1.0 / nSeeds).as("e"))
      .localCheckpoint() // nSeeds rows, broadcast into every round
    val ranks = graft.Caches.iterate(
      seeds.select(col("node"), col("e").as("r")), iters) { (st, _) =>
      adj.join(st.withColumnRenamed("node", "u"), "u")
        .join(deg, "u")
        .select(col("v").as("node"), (col("r") / col("d")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
        .join(broadcast(seeds), Seq("node"), "full_outer")
        .select(col("node"),
          round(lit(damping) * coalesce(col("s"), lit(0.0)) +
                lit(1.0 - damping) * coalesce(col("e"), lit(0.0)), 12).as("r"))
    }
    val top = ranks
      .select(col("node"), round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rank").desc, col("node"))).cast("bigint"))
      .join(deg.select(col("u").as("node"), col("d").as("degree")), "node")
      .join(broadcast(seeds.select(col("node"), lit(true).as("is_seed"))),
        Seq("node"), "left_outer")
      .select(col("rk"), col("node"), col("degree"), col("rank"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .orderBy("rk")
  }

  /** Rich-club coefficient sweep: for each club size k, the density
    * φ(k) = 2·E_club / (k·(k−1)) among the top-k nodes by (degree
    * desc, node) — "do the hubs trade with each other?" (Colizza et
    * al. 2006, the UNNORMALIZED φ; the null-model normalization
    * needs degree-preserving rewiring, out of oracle scope and
    * documented as such). The club is a TakeOrdered cut broadcast
    * into two semi-joins on the edge list — k² never materializes;
    * counts and the density divide are exact integers → one IEEE
    * divide, round-6.
    */
  def richClub(spark: SparkSession, dir: String,
               clubSizes: Seq[Int] = Seq(10, 20, 40),
               minSupport: Int = 2): DataFrame = {
    val e0 = coEdges(spark, dir, minSupport).localCheckpoint()
    val adj = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
    val ranked = deg.orderBy(col("d").desc, col("u")).limit(clubSizes.max)
      .localCheckpoint() // clubSizes.max rows, broadcast everywhere below
    val rows = clubSizes.map { k =>
      val club = ranked.orderBy(col("d").desc, col("u")).limit(k)
        .select(col("u").as("member"))
      val eClub = e0
        .join(broadcast(club.withColumnRenamed("member", "pa")), Seq("pa"))
        .join(broadcast(club.withColumnRenamed("member", "pb")), Seq("pb"))
        .agg(count(lit(1)).as("e_club"))
        .select(lit(k.toLong).as("club_k"), col("e_club"))
      eClub
    }
    rows.reduce(_ unionAll _)
      .select(col("club_k"), col("e_club"),
        round(lit(2.0) * col("e_club") /
              (col("club_k") * (col("club_k") - 1)).cast("double"), 6)
          .as("phi"))
      .orderBy("club_k")
  }

  /** Power-iteration eigenvector centrality (Bonacich) over the
    * co-purchase graph — the influence measure PageRank approximates
    * with damping removed: r ← A·r, max-normalized per round, fixed
    * [[pageRank]]-style driver-paced rounds with an unrolled-CTE
    * oracle. Per-round quantization is TWO-stage: the neighbor sum
    * rounds at 12 (clamping summation-order ulps while values sit in
    * [0, max-degree]) and the max-normalized ratio rounds at 12 again
    * — both engines then iterate on identical doubles, the PageRank
    * discipline.
    *
    * Scale shape: identical to pageRank — 8-byte-key equi-joins per
    * round over localCheckpointed state, one 1-row max broadcast per
    * round, TakeOrdered final cut.
    */
  def eigenCentrality(spark: SparkSession, dir: String, iters: Int = 5,
                      topK: Int = 20, minSupport: Int = 2): DataFrame = {
    val e0 = coEdges(spark, dir, minSupport)
    val adj = e0.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e0.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint()
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint()
    val ranks = graft.Caches.iterate(
      deg.select(col("u").as("node"), lit(1.0).as("r")), iters) { (st, _) =>
      val s = adj
        .join(st.withColumnRenamed("node", "u"), "u")
        .groupBy(col("v").as("node"))
        .agg(round(sum(col("r")), 12).as("s"))
      val mx = s.agg(max(col("s")).as("mx"))
      s.crossJoin(broadcast(mx))
        .select(col("node"), round(col("s") / col("mx"), 12).as("r"))
    }
    val top = ranks
      .select(col("node"), round(col("r"), 6).as("centrality"))
      .orderBy(col("centrality").desc, col("node")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number().over(
        Window.orderBy(col("centrality").desc, col("node"))).cast("bigint"))
      .join(deg.select(col("u").as("node"), col("d").as("degree")), "node")
      .select("rk", "node", "degree", "centrality")
      .orderBy("rk")
  }

  /** Per-node local clustering coefficient (Watts-Strogatz): closed
    * wedges at each vertex over its (d choose 2) possible wedges —
    * the node-level refinement of [[triangleCount]]'s one global
    * ratio. Reuses the degree-orientation machinery: each triangle is
    * FOUND once at its lowest-rank vertex, then credited to all three
    * corners, so the per-node counts come from the same O(m^1.5)
    * wedge join, never from per-node neighborhood intersections.
    * Integer triangle/degree counts make the coefficient divide
    * engine-exact; round-6 for presentation.
    *
    * Scale shape: identical to triangleCount (checkpointed oriented
    * edges + wedge list, equi-joins only) plus one 8-byte-key
    * groupBy; output is one row per node with degree >= 2.
    */
  def localClustering(spark: SparkSession, dir: String,
                      minSupport: Int = 2): DataFrame = {
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    val deg = e.select(col("pa").as("v")).unionAll(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("v").as("pb"), col("d").as("db")), "pb")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
        .otherwise(col("pb")).as("src"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
        .otherwise(col("pa")).as("dst"))
      .localCheckpoint()
    // wedges KEEP the center vertex here: a closed wedge credits a
    // triangle to ctr, w1, AND w2
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("ctr"), col("e1.dst").as("w1"), col("e2.dst").as("w2"))
      .localCheckpoint()
    val closed = wedges.join(oriented,
        col("w1") === col("src") && col("w2") === col("dst"))
      .select("ctr", "w1", "w2")
      .unionAll(wedges.join(oriented,
          col("w2") === col("src") && col("w1") === col("dst"))
        .select("ctr", "w1", "w2"))
    val perNode = closed.select(col("ctr").as("v"))
      .unionAll(closed.select(col("w1").as("v")))
      .unionAll(closed.select(col("w2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("v"), "left")
      .filter(col("d") >= 2)
      .select(col("v").as("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L)) /
              (col("d") * (col("d") - 1)), 6).as("local_cc"))
      .orderBy("node")
  }

  /** Frozen Adamic-Adar weights round(1e12/ln(d)) for d in 2..200 as
    * BIGINT micro-units, computed ONCE here in Scala and embedded as
    * literals in BOTH dialects (the x_ndcg/x_rbo micro-unit move).
    * A BIGINT SUM is bit-identical in every engine version — unlike
    * the r11-r13 DECIMAL(18,12)→SUM→CAST(DECIMAL(20,12)) pipeline,
    * which passed the local bitwise gate at both SFs yet hash-failed
    * on the driver host three rounds running (its DuckDB decimal
    * SUM/CAST or decimal-hash path evidently differs).
    *
    * Memoized `val` + `StrictMath.log` (bit-reproducible by contract
    * on every JVM/host, unlike the `Math.log` JIT intrinsic), so
    * there is exactly one evaluation and both the oracle VALUES table
    * and the Spark-side broadcast table consume the same Longs. IEEE
    * double division and `Math.round` are deterministic given the
    * StrictMath input, so the Longs themselves are host-invariant.
    */
  private[graft] val aaWeightsE12All: Seq[(Long, Long)] =
    (2 to 200).map { d =>
      (d.toLong, Math.round(1e12 / StrictMath.log(d.toDouble)))
    }

  private[graft] def aaWeightsE12(degCap: Int): Seq[(Long, Long)] = {
    require(degCap <= 200, s"aaWeightsE12 frozen table caps at 200, got $degCap")
    aaWeightsE12All.takeWhile(_._1 <= degCap)
  }

  /** Adamic-Adar link prediction over the co-purchase graph: for each
    * non-adjacent pair sharing >= 1 neighbor, score = sum over common
    * neighbors z of 1/ln(deg z), top-k candidates — the classic
    * "parts bought together next" recommender signal.
    *
    * Determinism: each 1/ln(d) term is the frozen BIGINT micro-unit
    * round(1e12/ln d), so the per-pair score is an exact integer sum
    * regardless of join order or engine decimal semantics (the
    * x_ndcg/x_rbo discipline); deg >= 2 holds for every common
    * neighbor by construction, so ln(d) > 0.
    *
    * Scale shape: the pair generation is the wedge join keyed by the
    * CENTER vertex, with hub centers capped at `degCap` (the GramDFCap
    * move — a z with degree 10^5 would fan out 10^10 pairs while
    * contributing 1/ln(10^5) ~ 0.09 to each; the cap is the
    * analyst-facing recall/cost dial and the oracle mirrors it).
    * Existing edges leave via an 8-byte-key anti-join; the top-k cut
    * is TakeOrdered, never a global window.
    */
  def linkPrediction(spark: SparkSession, dir: String, minSupport: Int = 2,
                     degCap: Int = 200, topK: Int = 50): DataFrame = {
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    val adj = e.select(col("pa").as("z"), col("pb").as("x"))
      .unionAll(e.select(col("pb").as("z"), col("pa").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    // d >= 2: a degree-1 center can never be a COMMON neighbor, and
    // ln(1) = 0 would poison the weight projection under ANSI mode.
    // The weight comes from the FROZEN BIGINT micro-unit table
    // (aaWeightsE12), not a runtime log() call — both dialects consume
    // the same Longs and the score is an exact integer SUM, so no host
    // libm OR engine decimal path can perturb the tie-heavy top-k tail
    // (r11: 1-ulp ln; r12-r13: driver-host decimal SUM/CAST).
    import spark.implicits._
    val wtab = broadcast(aaWeightsE12(degCap).toDF("d", "w"))
    val centers = adj.join(deg.filter(col("d") >= 2 && col("d") <= degCap), "z")
      .join(wtab, "d")
    val pairs = centers.as("l").join(centers.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("a"), col("r.x").as("b"))
      .agg(count(lit(1)).as("n_common"),
           sum(col("l.w")).as("aa_score_e12"))
    val candidates = pairs.join(e,
        col("a") === col("pa") && col("b") === col("pb"), "left_anti")
    val top = candidates
      .orderBy(col("aa_score_e12").desc, col("a"), col("b")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number().over(
        Window.orderBy(col("aa_score_e12").desc, col("a"), col("b"))).cast("bigint"))
      .select(col("rk"), col("a").as("node_a"), col("b").as("node_b"),
        col("n_common"), col("aa_score_e12"))
      .orderBy("rk")
  }

  /** Jaccard-coefficient link prediction beside [[linkPrediction]]'s
    * Adamic-Adar: |N(a)∩N(b)| / |N(a)∪N(b)| = common/(dₐ+d_b−common)
    * — EXACT integer counts through one final round-6 divide (no
    * decimal weight projection needed at all). Same center-join
    * shape: pairs meet only through shared neighbors (degree-capped
    * centers, never all-pairs), existing edges anti-joined out,
    * TakeOrdered cut on the rounded score with (a, b) tie-breaks.
    */
  def jaccardLink(spark: SparkSession, dir: String, minSupport: Int = 2,
                  degCap: Int = 200, topK: Int = 50): DataFrame = {
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    val adj = e.select(col("pa").as("z"), col("pb").as("x"))
      .unionAll(e.select(col("pb").as("z"), col("pa").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    val centers = adj.join(deg.filter(col("d") >= 2 && col("d") <= degCap), "z")
      .select("z", "x")
    val degN = deg.select(col("z").as("x"), col("d"))
    val pairs = centers.as("l").join(centers.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("a"), col("r.x").as("b"))
      .agg(count(lit(1)).as("n_common"))
    val scored = pairs
      .join(degN.select(col("x").as("a"), col("d").as("da")), "a")
      .join(degN.select(col("x").as("b"), col("d").as("db")), "b")
      .join(e, col("a") === col("pa") && col("b") === col("pb"), "left_anti")
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
              (col("da") + col("db") - col("n_common")), 6))
    val top = scored.orderBy(col("jaccard").desc, col("a"), col("b")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number().over(
        Window.orderBy(col("jaccard").desc, col("a"), col("b"))).cast("bigint"))
      .select(col("rk"), col("a").as("node_a"), col("b").as("node_b"),
        col("n_common"), col("jaccard"))
      .orderBy("rk")
  }

  /** The directed sequential-purchase graph: part A → part B when the
    * same customer first bought A strictly before B (first-purchase
    * dates per (customer, part)), kept at `minSupport` distinct
    * customers. Customers with more than `partCap` distinct parts are
    * dropped BEFORE pairing (the documented fan-out bound — pairs per
    * customer are then ≤ partCap², never corpus-quadratic).
    */
  private[graft] def seqEdges(spark: SparkSession, dir: String,
                              minSupport: Int = 2,
                              partCap: Int = 100): DataFrame = {
    val fp = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey")
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("d")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(min(col("d")).as("d0"))
    // np >= 2: a single-part customer can produce no (a, b) pair (the
    // self-join needs two rows with the same c), so drop it before the
    // fan-out join — provably result-identical
    val sz = fp.groupBy("c").agg(count(lit(1)).as("np"))
      .filter(col("np") <= partCap && col("np") >= 2).select("c")
    val fpc = fp.join(sz, "c").localCheckpoint()
    val paired = fpc.as("a").join(fpc.as("b"),
        col("a.c") === col("b.c") && col("a.d0") < col("b.d0"))
    // The (src, dst) partial aggregate is this query's dominant
    // shuffle, and it reduces nothing: at sf0.1 the join emits 11.9M
    // pair rows of which 98.5% are DISTINCT pairs, so nearly every
    // pair row crosses the exchange (then `w >= minSupport` keeps only
    // ~170k). Shuffle fewer bytes (optimization guide §2.3): pack both
    // endpoints into ONE bigint key — (2 keys + count) 24 B/row down
    // to 16 B/row, one hash instead of two per probe — whenever the
    // part-key range provably allows it ([[pairKeyBase]]; the guard
    // reads one min/max off the already-materialized checkpoint).
    // Packing is injective inside the guard, so the unpacked
    // (src, dst, w) result is bit-identical; outside it (negative ids,
    // ids above ~3.03e9) the original two-key aggregate runs unchanged.
    pairKeyBase(fpc, "p") match {
      case Some(base) =>
        paired
          .groupBy((col("a.p") * base + col("b.p")).as("pk"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= minSupport)
          .select(expr(s"pk div $base").as("src"),
                  pmod(col("pk"), lit(base)).as("dst"))
      case None =>
        paired
          .groupBy(col("a.p").as("src"), col("b.p").as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= minSupport)
          .select("src", "dst")
    }
  }

  /** HITS hubs-and-authorities over the directed sequential-purchase
    * graph ([[seqEdges]] — a DIRECTED relation, unlike the symmetric
    * co-purchase graph where hubs ≡ authorities): a ← Aᵀh, h ← Aa,
    * max-normalized and round-12 quantized at BOTH stages of every
    * round (the [[eigenCentrality]] discipline), driver-paced with an
    * unrolled-CTE oracle. Reports the topK authorities ("what gets
    * bought downstream") with in-degrees.
    *
    * Scale shape: per round two 8-byte-key equi-joins over
    * localCheckpointed state and one 1-row max broadcast; TakeOrdered
    * final cut. Edge build is bounded by partCap² per customer.
    */
  def hits(spark: SparkSession, dir: String, iters: Int = 3,
           topK: Int = 20): DataFrame = {
    val e = seqEdges(spark, dir).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // alternating two-state loop: a_i is built from h_i, h_{i+1} from
    // a_i — each generation's blocks are freed the moment its sole
    // consumer has materialized (the Caches.iterate discipline,
    // hand-rolled for the two interleaved states)
    var (h, hIds) = graft.Caches.trackedCheckpoint(
      nodes.withColumn("h", lit(1.0)))
    var a: DataFrame = null
    var aIds = Set.empty[Int]
    for (i <- 1 to iters) {
      val ar = e.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(round(sum(col("h")), 12).as("s"))
      val amx = ar.agg(max(col("s")).as("mx")) // 1-row bound
      val (aNext, aNextIds) = graft.Caches.trackedCheckpoint(
        ar.crossJoin(broadcast(amx))
          .select(col("node"), round(col("s") / col("mx"), 12).as("a")))
      graft.Caches.release(spark, hIds ++ aIds); hIds = Set.empty
      a = aNext; aIds = aNextIds
      if (i < iters) {
        val hr = e.join(a.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(round(sum(col("a")), 12).as("s"))
        val hmx = hr.agg(max(col("s")).as("mx"))
        val (hNext, hNextIds) = graft.Caches.trackedCheckpoint(
          hr.crossJoin(broadcast(hmx))
            .select(col("node"), round(col("s") / col("mx"), 12).as("h")))
        h = hNext; hIds = hNextIds
      }
    }
    val ind = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_degree"))
    val top = a.select(col("node"), round(col("a"), 6).as("authority"))
      .orderBy(col("authority").desc, col("node")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number().over(
        Window.orderBy(col("authority").desc, col("node"))).cast("bigint"))
      .join(ind, "node")
      .select("rk", "node", "in_degree", "authority")
      .orderBy("rk")
  }

  /** BFS hop census from the highest-degree node of the co-purchase
    * graph (ties to the smallest id): how many nodes sit at each hop
    * distance 0..depth — the reachability/diameter probe behind
    * "is this graph one ball or many islands". Driver-paced frontier
    * expansion: each level is one equi-join (frontier × adjacency)
    * and one anti-join against the visited set — 8-byte keys only,
    * never the corpus rows; levels are localCheckpointed so round N
    * does not recompute rounds 1..N−1. All-integer output.
    */
  def bfsLevels(spark: SparkSession, dir: String, depth: Int = 4,
                minSupport: Int = 2): DataFrame = {
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    val adj = e.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint()
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
    val src = deg.orderBy(col("d").desc, col("u").asc).limit(1)
      .select(col("u").as("node"), lit(0L).as("lvl"))
    // two-state frontier loop: next_i reads frontier+visited; the new
    // visited reads the old; each superseded generation is freed once
    // its successor has materialized (the Caches.iterate discipline)
    var (visited, visIds) = graft.Caches.trackedCheckpoint(src)
    var frontier = visited
    var frontIds = Set.empty[Int] // src's blocks are visited's — freed via visIds
    for (i <- 1 to depth) {
      val (next, nextIds) = graft.Caches.trackedCheckpoint(adj
        .join(frontier.select(col("node").as("u")), "u")
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("lvl", lit(i.toLong)))
      graft.Caches.release(spark, frontIds)
      val (vNext, vNextIds) = graft.Caches.trackedCheckpoint(visited.union(next))
      graft.Caches.release(spark, visIds)
      visited = vNext; visIds = vNextIds
      frontier = next; frontIds = nextIds
    }
    visited.groupBy("lvl").agg(count(lit(1)).as("n_nodes")).orderBy("lvl")
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * with EXACT-rational modularity. Each node starts as its own
    * label; per round every node adopts its neighbors' most frequent
    * label, ties to the SMALLEST label — the argmax rides one packed
    * BIGINT (cnt·2^33 + (2^33−1−label), the winnowing/aroon pack), so
    * a plain max() resolves frequency AND tie in one order-independent
    * aggregate and both engines decode identically. Rounds are FIXED
    * (driver-paced, localCheckpointed, unrolled-CTE oracle — the
    * pageRank discipline; sync LPA does not converge monotonically,
    * so a fixed round count IS the spec, not an approximation of one).
    *
    * Modularity is exact integers end to end: with m undirected
    * edges, e_c internal edges and d_c degree sum per community,
    * Q = Σ_c (4m·e_c − d_c²) / (4m²) — one integer numerator sum, one
    * final divide. Headroom: d_c² demands d_c < 3e9, i.e. ~1.5e9
    * edges in ONE community — far past any support-thresholded
    * co-purchase graph (the corpus-level fact table never enters).
    *
    * Scale shape: per round one 8-byte equi-join adjacency⋈labels and
    * one (node, label) count — identical to a PageRank round; the
    * rollup is community-sized; the final cut is TakeOrdered.
    */
  def communities(spark: SparkSession, dir: String, rounds: Int = 3,
                  topK: Int = 50, minSupport: Int = 2): DataFrame = {
    val B = 8589934592L // 2^33 > any partkey
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    val adj = e.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint()
    val lab = graft.Caches.iterate(
      adj.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("lab")), rounds) { (lb, _) =>
      adj.join(lb.select(col("node").as("u"), col("lab")), "u")
        .groupBy(col("v"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("v").as("node"))
        .agg(max(col("cnt") * B + (lit(B - 1) - col("lab"))).as("pack"))
        .select(col("node"), (lit(B - 1) - col("pack") % B).as("lab"))
    }
    val m = e.count() // scalar: undirected edge count
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
    val dSum = deg.join(lab.withColumnRenamed("node", "u"), "u")
      .groupBy("lab").agg(sum(col("d")).as("d_c"), count(lit(1)).as("n_nodes"))
    val eIn = e
      .join(lab.select(col("node").as("pa"), col("lab").as("la")), "pa")
      .join(lab.select(col("node").as("pb"), col("lab").as("lb")), "pb")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lab")).agg(count(lit(1)).as("e_c"))
    val stats = dSum.join(eIn, Seq("lab"), "left")
      .select(col("lab"), col("n_nodes"), col("d_c"),
        coalesce(col("e_c"), lit(0L)).as("e_c"))
      .localCheckpoint()
    val q = stats
      .agg(sum(lit(4L) * m * col("e_c") - col("d_c") * col("d_c")).as("num"))
      .select(round(col("num").cast("double") /
        (4.0 * m.toDouble * m.toDouble), 6).as("modularity")) // 1-row bound
    stats
      .orderBy(col("n_nodes").desc, col("lab").asc).limit(topK)
      .crossJoin(broadcast(q))
      .select(col("lab").as("community"), col("n_nodes"),
        col("e_c").as("internal_edges"), col("d_c").as("degree_sum"),
        col("modularity"))
      .orderBy(col("n_nodes").desc, col("community").asc)
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009)
    * over the co-purchase graph — the third predictor beside
    * [[jaccardLink]] (set overlap) and [[linkPrediction]]
    * (Adamic-Adar 1/ln deg): RA scores `sum_z 1/deg(z)` over common
    * neighbors, the HARSHEST hub discount of the family (a resource
    * unit split evenly among a hub's neighbors), which the link-
    * prediction literature measures as the strongest common-neighbor
    * predictor on dense co-occurrence graphs. Each center's weight is
    * micro-unit rounded ONCE from its degree (1e6/d as BIGINT — one
    * exact divide, no transcendental), so the per-pair score is an
    * exact integer sum regardless of join order.
    *
    * Same scale shape as jaccardLink: wedge pairs only through
    * degree-capped centers (<= degCap^2 per center, never
    * corpus-quadratic), existing edges anti-joined out, TakeOrdered
    * cut, degree table bounded.
    */
  def resourceAllocation(spark: SparkSession, dir: String, minSupport: Int = 2,
                         degCap: Int = 200, topK: Int = 50): DataFrame = {
    val e = coEdges(spark, dir, minSupport).localCheckpoint()
    val adj = e.select(col("pa").as("z"), col("pb").as("x"))
      .unionAll(e.select(col("pb").as("z"), col("pa").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    val wz = deg.filter(col("d") >= 2 && col("d") <= degCap)
      .withColumn("w_u", round(lit(1e6) / col("d").cast("double"))
        .cast("bigint"))
    val centers = adj.join(wz.select("z", "w_u"), "z")
    val pairs = centers.as("l").join(centers.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("a"), col("r.x").as("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("l.w_u")).as("aa_u"))
    val scored = pairs
      .join(e, col("a") === col("pa") && col("b") === col("pb"), "left_anti")
    val top = scored.orderBy(col("aa_u").desc, col("a"), col("b")).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit cut
      .withColumn("rk", row_number().over(
        Window.orderBy(col("aa_u").desc, col("a"), col("b"))).cast("bigint"))
      .select(col("rk"), col("a").as("node_a"), col("b").as("node_b"),
        col("n_common"), round(col("aa_u").cast("double") / 1e6, 6)
          .as("ra_score"))
      .orderBy("rk")
  }
}
