package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** Graph analytics family: the degree-oriented triangle count is
  * cross-checked against an independent brute-force triple join, and
  * PageRank's probability mass / ordering invariants are pinned.
  */
class GraphsSpec extends SparkSuite {

  test("triangle count agrees with the brute-force triple join") {
    val summary = Graphs.triangleCount(spark, sfDir).head()
    // independent derivation: undirected edges as a < b pairs, count
    // triples (a < b < c) with all three edges present
    val e = Graphs.coEdges(spark, sfDir, minSupport = 2).cache()
    try {
      val brute = e.as("ab").join(e.as("bc"), col("ab.pb") === col("bc.pa"))
        .join(e.as("ac"),
          col("ac.pa") === col("ab.pa") && col("ac.pb") === col("bc.pb"))
        .count()
      assert(summary.getAs[Long]("n_triangles") === brute)
      assert(summary.getAs[Long]("n_edges") === e.count())
      val cl = summary.getAs[Double]("clustering")
      assert(cl >= 0.0 && cl <= 1.0)
      assert(summary.getAs[Long]("n_triangles") <= summary.getAs[Long]("n_wedges"))
    } finally e.unpersist()
  }

  test("local clustering: per-node triangle credits sum to 3x the global count, cc in [0,1]") {
    val cc = Graphs.localClustering(spark, sfDir).cache()
    try {
      val global = Graphs.triangleCount(spark, sfDir).head().getAs[Long]("n_triangles")
      // every triangle credits its three corners exactly once each
      assert(cc.agg(sum("n_triangles")).head().getLong(0) === 3 * global)
      assert(cc.filter(col("local_cc") < 0 || col("local_cc") > 1).count() === 0)
      // a node's triangles cannot exceed its (d choose 2) wedge capacity
      assert(cc.filter(col("n_triangles") >
        col("degree") * (col("degree") - 1) / 2).count() === 0)
    } finally cc.unpersist()
  }

  test("link prediction: candidates are non-edges, scores positive and rank-ordered") {
    val lp = Graphs.linkPrediction(spark, sfDir).cache()
    try {
      assert(lp.count() <= 50)
      val e = Graphs.coEdges(spark, sfDir, minSupport = 2)
      assert(lp.join(e, col("node_a") === col("pa") && col("node_b") === col("pb"))
        .count() === 0, "a predicted link must not already be an edge")
      assert(lp.filter(col("aa_score_e12") <= 0 || col("n_common") < 1).count() === 0)
      // rk order is (score desc, a, b): no later row outscores an earlier one
      val rows = lp.orderBy("rk").collect()
      rows.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi.getAs[Long]("aa_score_e12") >= lo.getAs[Long]("aa_score_e12"))
      case _ => ()
      }
      // the micro-unit score is the frozen-table sum: every score must be
      // expressible as a sum of n_common weights from aaWeightsE12 — check
      // bounds (n_common * minW <= score <= n_common * maxW)
      val ws = Graphs.aaWeightsE12(200).map(_._2)
      val (minW, maxW) = (ws.min, ws.max)
      rows.foreach { r =>
        val s = r.getAs[Long]("aa_score_e12"); val n = r.getAs[Long]("n_common")
        assert(s >= n * minW && s <= n * maxW)
      }
    } finally lp.unpersist()
  }

  test("eigencentrality: scores in (0, 1], the max-normalized round reaches 1 somewhere") {
    val ec = Graphs.eigenCentrality(spark, sfDir).collect()
    assert(ec.nonEmpty && ec.length <= 20)
    ec.foreach { r =>
      val c = r.getAs[Double]("centrality")
      assert(c > 0.0 && c <= 1.0)
    }
    // per-round max normalization makes the top score exactly 1.0
    // whenever the argmax node is inside the top-k cut
    assert(ec.map(_.getAs[Double]("centrality")).max === 1.0)
    // rank order is (centrality desc, node)
    ec.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("centrality") >= b.getAs[Double]("centrality"))
      case _ => ()
    }
  }

  test("pagerank: full vector is a probability distribution, top-k ordered and positive") {
    // topK large enough to surface every node -> mass must be ~1
    // (tolerance covers the round-6 per-node rounding)
    val all = Graphs.pageRank(spark, sfDir, topK = Int.MaxValue).cache()
    try {
      val mass = all.agg(sum("rank")).head.getDouble(0)
      assert(math.abs(mass - 1.0) < 0.01, s"rank mass $mass")
      assert(all.filter(col("rank") <= 0 || col("degree") < 1).count() === 0)
    } finally all.unpersist()
    val top = Graphs.pageRank(spark, sfDir).collect()
    assert(top.length === 20)
    assert(top.map(_.getAs[Long]("rk")).toSeq === (1L to 20L))
    val ranks = top.map(_.getAs[Double]("rank"))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b }, ranks.mkString(","))
  }

  test("personalized pagerank: mass stays on seeds' side, sparse state, seeds flagged") {
    // with restart, total mass is ~1 but concentrated: the seed rows
    // themselves must rank strictly above the global-uniform level 1/n
    val all = Graphs.personalizedPageRank(spark, sfDir, topK = Int.MaxValue).cache()
    try {
      val mass = all.agg(sum("rank")).head.getDouble(0)
      assert(math.abs(mass - 1.0) < 0.01, s"rank mass $mass")
      // sparse state: the walk need not touch every node with degree>=1
      val n = Graphs.personalizedPageRank(spark, sfDir, topK = Int.MaxValue,
        iters = 1).count()
      assert(n <= all.count(), "one round must touch no more nodes than five")
      val seeds = all.filter(col("is_seed")).count()
      assert(seeds === 3L)
    } finally all.unpersist()
    val top = Graphs.personalizedPageRank(spark, sfDir).collect()
    assert(top.length === 20)
    assert(top.map(_.getAs[Long]("rk")).toSeq === (1L to 20L))
    val ranks = top.map(_.getAs[Double]("rank"))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b }, ranks.mkString(","))
  }

  test("k-core peeling: monotone shrinking graph, survivors meet the degree bar") {
    val rounds = Graphs.kCorePeel(spark, sfDir).collect()
    assert(rounds.length === 5)
    val nodes = rounds.map(_.getAs[Long]("n_nodes"))
    val edges = rounds.map(_.getAs[Long]("n_edges"))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a }, nodes.mkString(","))
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a }, edges.mkString(","))
    // peeling never grows the graph (at sf0.001 the whole graph is
    // already a 3-core, so equality is legitimate)
    val e0 = Graphs.coEdges(spark, sfDir, minSupport = 2).count()
    assert(edges.head <= e0 && nodes.head > 0, s"round 1: ${edges.head} vs $e0")
  }

  test("rich club: nested clubs give monotone edge counts, phi bounded by density 1") {
    val rows = Graphs.richClub(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("club_k"), r.getAs[Long]("e_club"),
        r.getAs[Double]("phi"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(10L, 20L, 40L))
    rows.foreach { case (k, e, phi) =>
      assert(e >= 0 && e <= k * (k - 1) / 2, s"k=$k e=$e")
      assert(phi >= 0.0 && phi <= 1.0, s"k=$k phi=$phi")
    }
    // top-10 members are inside top-20 inside top-40: club edges nest
    val es = rows.map(_._2)
    assert(es.zip(es.tail).forall { case (a, b) => a <= b }, es.mkString(","))
  }

  test("assortativity is a correlation in [-1, 1] over the directed edge count") {
    val r = Graphs.assortativity(spark, sfDir).head()
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.000001 && a <= 1.000001, a.toString)
    val e = Graphs.coEdges(spark, sfDir, minSupport = 2).count()
    assert(r.getAs[Long]("n_directed_edges") === 2 * e)
  }

  test("graph plans: rank iteration and wedge closure are equi-joins, never cross products") {
    val plan = Graphs.pageRank(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the wedge CLOSURE join is an OR of two equi-conditions — Spark
    // plans it as a join on the src key with the OR as residual only if
    // expressed per-branch; assert the triangle pipeline at least never
    // degenerates into a nested-loop over corpus-sized inputs by
    // pinning the bounded edge-list inputs (support threshold applied
    // before any pairwise work)
    val e = Graphs.coEdges(spark, sfDir, minSupport = 2)
    val ePlan = e.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(ePlan.contains("SortMergeJoin") || ePlan.contains("ShuffledHashJoin") ||
           ePlan.contains("BroadcastHashJoin"), ePlan)
    assert(!ePlan.contains("CartesianProduct") && !ePlan.contains("BroadcastNestedLoop"), ePlan)
  }

  test("resource allocation: positive hub-discounted scores on non-edges, sorted") {
    val rows = Graphs.resourceAllocation(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("ra_score"))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    // each common neighbor contributes between 1/degCap and 1/2 --
    // the RA weight envelope (deg in [2, 200])
    rows.foreach { r =>
      val nc = r.getAs[Long]("n_common").toDouble
      val ra = r.getAs[Double]("ra_score")
      assert(ra >= nc / 200.0 - 1e-6, r.toString)
      assert(ra <= nc / 2.0 + 1e-6, r.toString)
    }
  }

  test("pair-key packing: part keys straddling zero take the two-key fallback, same pairs") {
    // shift every part key down by 100 (sf0.001 keys are 0..199): the
    // old max-only guard packed this range at base 100, where distinct
    // pairs collide and div/pmod unpack the wrong ids
    val k = 100L
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "negkeys-").toString
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), (col("l_partkey") - k).as("l_partkey"))
      .write.parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    assert(Graphs.pairKeyBase(Tables.lineitem(spark, sfDir), "l_partkey").nonEmpty)
    assert(Graphs.pairKeyBase(Tables.lineitem(spark, dir), "l_partkey").isEmpty)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // coEdges: the plain two-key aggregate over the shifted keys
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val plain = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb")).count()
    val gotCo = pairs(Graphs.coEdges(spark, dir, minSupport = 1), "pa", "pb")
    assert(gotCo.exists(_._1 < 0) && gotCo.exists(_._2 >= 0))
    assert(gotCo == pairs(plain, "pa", "pb"))
    // seqEdges / marketBasket: a shift keeps every key order, so the
    // fallback must return the packed path's unshifted result, shifted
    def shifted(s: Set[(Long, Long)]) = s.map { case (a, b) => (a - k, b - k) }
    assert(pairs(Graphs.seqEdges(spark, dir, minSupport = 1), "src", "dst") ==
      shifted(pairs(Graphs.seqEdges(spark, sfDir, minSupport = 1), "src", "dst")))
    def basket(d: String, off: Long) = graft.operators.Analytics.marketBasket(spark, d)
      .collect().map(r => (r.getAs[Long]("rk"), r.getAs[Long]("pa") + off,
        r.getAs[Long]("pb") + off, r.getAs[Long]("n_co"), r.getAs[Double]("lift"))).toSeq
    assert(basket(dir, k) == basket(sfDir, 0L))
  }
}
