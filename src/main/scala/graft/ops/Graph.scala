package graft.ops

import graft.util.Det
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over a derived relational graph (north-star extension:
  * the reference's pipeline stops at flat aggregates; production data
  * platforms run link analysis on exactly this kind of derived graph —
  * entity-influence ranking, reachability/lineage hops).
  *
  * The graph: nation-level trade edges. `lineitem ⋈ orders` (the one big
  * shuffle join — at 100 TB this derivation IS the expensive stage) maps
  * each line item to (supplier nation → customer nation) through the two
  * broadcast dims, then aggregates to a weighted edge list that is tiny
  * (≤ |nations|²) no matter the input scale. The iterative algorithms run
  * on the aggregated edges: the scale-correct layout, since rank/distance
  * state never exceeds the node count, while all per-row work stays in the
  * one aggregation pass.
  *
  * Determinism: PageRank is computed in scaled fixed-point BIGINT
  * (rank × 10¹²) with floor division — no floating-point aggregate exists
  * anywhere, so Spark and the DuckDB oracle (same integer ops, `//`) agree
  * bit-for-bit regardless of partitioning or summation order. Dividing the
  * rank by out-weight BEFORE multiplying by the edge weight keeps every
  * intermediate ≤ the total rank mass (≈ |nodes| × 10¹² ≪ 2⁶³): overflow-
  * free by construction at any scale factor.
  */
object Graph {

  /** Fixed-point scale: 1 unit of rank = 10⁻¹². */
  private[ops] val Scale = 1000000000000L
  /** Damping factor 0.85 as an integer percentage. */
  private[ops] val DampPct = 85L
  private[ops] val PrIters = 5

  /** Weighted directed trade edges: supplier nation → customer nation,
    * weight = number of line items shipped on that lane. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val li   = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord  = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Weighted PageRank over the trade graph, [[PrIters]] synchronous
    * iterations in fixed-point: rankᵢ₊₁(v) = 0.15·Scale +
    * 0.85 · Σ_{u→v} (rankᵢ(u) div outw(u)) · w(u,v). Nations with no
    * outgoing lane leak their mass (standard dangling-node behavior,
    * identical in the oracle). The edge list is staged once and reused by
    * all iterations; per-iteration state is one row per nation. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val teleport = (100L - DampPct) * Scale / 100L
    // stage the derivation BEFORE branching into edges + out-weights:
    // both consumers read the materialized ≤|nations|² edge list, so the
    // lineitem⋈orders pass runs exactly once
    val e = graft.util.Ckpt.stage(tradeEdges(s, d))
    val ew = graft.util.Ckpt.stage(
      e.join(e.groupBy("src").agg(sum("w").as("outw")), "src"))
    val nodes = Tables.nation(s, d)
      .select(col("n_nationkey").as("node"), col("n_name").as("nation"))
    var ranks = nodes.select(col("node"), lit(Scale).as("rank"))
    for (_ <- 1 to PrIters) {
      val inflow = ew.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(rank div outw) * w").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      ranks = nodes.select(col("node"))
        .join(inflow, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(teleport) + expr(s"($DampPct * coalesce(inflow, 0L)) div 100"))
            .as("rank"))
    }
    nodes.join(ranks, "node")
      .select(col("node"), col("nation"), col("rank"))
      .orderBy("node")
  }

  /** The aggregated trade-edge list plus the nation dimension, collected
    * to the driver — BOUNDED MODEL STATE (≤ |nations|² lanes and
    * |nations| rows at ANY scale factor; the corpus-scale lineitem⋈orders
    * derivation stays distributed and is the collect's one job). The
    * iterative graph algorithms run on this matrix driver-side (r14: the
    * [[graft.ops.EventTime.markovSteady]] discipline, extended to the
    * graph loops per VERDICT r13 item 2) — a per-round Spark loop over a
    * ≤625-row frame is dozens of stages of pure scheduling overhead,
    * while the collected matrix never grows with the corpus. */
  private def localGraph(s: SparkSession, d: String)
      : (Array[(Int, Int, Long)], Array[(Int, String)]) = {
    val e = tradeEdges(s, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val nodes = Tables.nation(s, d)
      .select(col("n_nationkey").as("node"), col("n_name").as("nation"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    (e, nodes)
  }

  /** Distinct undirected (both-orientation) lanes, self-loops dropped —
    * the driver-side twin of the `union(reversed).filter(src≠dst)
    * .distinct` frames the staged loops used. */
  private def undLanes(e: Seq[(Int, Int)]): Seq[(Int, Int)] =
    (e ++ e.map(p => (p._2, p._1))).filter(p => p._1 != p._2).distinct

  /** Min-hop distances from one seed: breadth-first search over the
    * (src, dst) lanes, which gives the same map as min-hop relaxation to
    * the fixpoint (self-loops included: they never shorten a distance).
    * Unreachable nodes are absent. */
  private def relaxFrom(seed: Int, und: Seq[(Int, Int)]): Map[Int, Long] = {
    val adj = und.groupMap(_._1)(_._2)
    val dist = scala.collection.mutable.Map[Int, Long](seed -> 0L)
    val queue = scala.collection.mutable.Queue(seed)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj.getOrElse(u, Nil).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; queue.enqueue(v) }
      }
    }
    dist.toMap
  }

  /** Hop distance from the hub nation (node 0) over UNDIRECTED trade
    * lanes: breadth-first search ([[relaxFrom]]), run on the DRIVER
    * over the collected ≤|nations|² lane list ([[localGraph]]) — pure
    * integer +1 algebra, so the distances are bit-identical to the
    * staged per-round loop it replaces while the ~3 jobs/round stage
    * storm disappears. Unreachable nations report null. At 100 TB the
    * derivation pass dominates and the local loop is free. */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (e, nodes) = localGraph(s, d)
    // the staged loop's lane list kept self-loops (they cannot relax any
    // distance, so the fixpoint is unchanged either way)
    val und = (e.map(t => (t._1, t._2)) ++ e.map(t => (t._2, t._1))).distinct
    val dist = relaxFrom(0, und)
    nodes.toSeq.map { case (node, nation) => (node, nation, dist.get(node)) }
      .toDF("node", "nation", "dist")
      .orderBy("node")
  }

  /** Per-nation triangle participation over the UNDIRECTED trade graph
    * (self-loops dropped): for each nation u, the number of pairs of
    * trade partners {v, w} that also trade with each other — the local
    * clustering signal behind community detection and trade-bloc
    * discovery, and the third leg of the graph family (PageRank =
    * influence, BFS = reachability, triangles = cohesion).
    *
    * Exactness: pure integer joins and counts — no arithmetic freedom
    * anywhere. The v < w ordering counts each triangle exactly once per
    * apex node (the sum over nodes is 3× the triangle total — asserted
    * in the spec).
    *
    * Scale shape: the [[tradeEdges]] derivation (the lineitem⋈orders
    * pass) dominates at 100 TB; the enumeration itself runs entirely on
    * the staged, aggregated edge list (≤ |nations|² rows), broadcast on
    * both join legs — the fact tables are never re-exchanged. On a
    * billion-node graph this step would instead pre-partition edges by
    * the degree-ordered apex, but at the nation grain the broadcast is
    * the right plan. */
  def triangleCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // pure integer pair counting over the collected ≤|nations|² lane list
    // (r14: the [[localGraph]] driver-side discipline) — bit-identical to
    // the staged three-way join by construction
    val (e, nodes) = localGraph(s, d)
    val und = undLanes(e.map(t => (t._1, t._2)))
    val undSet = und.toSet
    val nbrs = und.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).sorted.toArray
    }
    val tris: Map[Int, Long] = nbrs.map { case (u, vs) =>
      var c = 0L
      var i = 0
      while (i < vs.length) {
        var j = i + 1
        while (j < vs.length) {
          if (undSet((vs(i), vs(j)))) c += 1
          j += 1
        }
        i += 1
      }
      u -> c
    }
    nodes.toSeq
      .map { case (node, nation) => (node, nation, tris.getOrElse(node, 0L)) }
      .toDF("node", "nation", "n_tri")
      .orderBy("node")
  }

  /** Degree distribution of the customer–supplier trading graph at the
    * ENTITY level (distinct partners per node, both sides of the
    * bipartite graph) — the structure check behind partition-strategy
    * choices on graph workloads: a heavy-tailed distribution means hub
    * nodes need skew handling (salting, hub replication) that a
    * near-uniform one does not. Output: (side, degree, n_nodes).
    *
    * Determinism: pure integer counts over distinct pairs. Scale shape:
    * the one big join is lineitem⋈orders on orderkey; pairs reduce by
    * DISTINCT before any per-node work, so node degree aggregates see
    * one row per edge, and the histogram is degree-domain-bounded. */
  def degreeDist(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val pairs = graft.util.Ckpt.stage(
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
        .distinct())
    def hist(key: String, side: String): DataFrame =
      pairs.groupBy(key).agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .select(lit(side).as("side"), col("degree"), col("n_nodes"))
    hist("c", "customer").unionByName(hist("p", "supplier"))
      .orderBy("side", "degree")
  }

  /** Hub-degree cap for [[jaccardNeighbors]]: customers touching more
    * suppliers than this are dropped before the co-occurrence self-join.
    * At 100 TB this cap is what bounds the join fan-out (Σ deg² over the
    * kept rows ≤ |customers|·cap²) — the same df-cap discipline as the
    * dedup bigram blocks. */
  private[ops] val JaccardDegCap = 20L

  /** Supplier–supplier Jaccard similarity over shared customers — the
    * item-item collaborative-filtering / link-prediction primitive:
    * sim(a,b) = |cust(a) ∩ cust(b)| / |cust(a) ∪ cust(b)| computed from
    * the bipartite customer→supplier incidence ([[degreeDist]]'s pair
    * set). Candidates materialize through the customer-keyed self-join
    * (co-occurrence), NEVER an all-pairs supplier product, and hub
    * customers above [[JaccardDegCap]] are excluded first — an
    * everything-buyer contributes deg² near-zero-signal pairs, the
    * standard mitigation in production co-occurrence jobs. Degrees are
    * computed on the SAME capped pair set so the Jaccard denominator is
    * consistent (mirrored in the oracle).
    *
    * Determinism: set sizes are exact BIGINTs over DISTINCT pairs; the
    * similarity is ONE IEEE division floor-quantized to 6 dp; pairs are
    * canonically ordered a < b. Only pairs sharing ≥ 2 customers are
    * emitted (singleton co-occurrence is noise at any scale).
    *
    * Scale shape: one distinct-pair aggregate, a degree-cap semi-join,
    * the customer-keyed self-join with bounded fan-out, one keyed
    * reduce; degrees broadcast back onto the pair frame. */
  def jaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    // single consumer (the basket aggregate) — no staging needed, and no
    // pre-distinct: collect_set dedups inside the SAME customer-keyed
    // exchange the basket aggregate pays anyway, where a distinct() first
    // would cost an extra (c, p)-keyed exchange (r14, guide §2.4)
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
    // per-customer supplier sets (cap enforced on the SET SIZE — same
    // predicate as the old degree pre-aggregate + semi-join, one
    // customer-keyed exchange instead of three); co-occurrence pairs are
    // the row-local ordered expansion of each ≤cap-sized set (the
    // copurchasePairs shape, r14) — the customer-keyed SELF-join and its
    // exchange are gone, counts identical (both enumerate distinct
    // (c, pa<pb) triples)
    val baskets = graft.util.Ckpt.stage(pairs
      .groupBy("c").agg(sort_array(collect_set(col("p"))).as("ps"))
      .filter(size(col("ps")) <= JaccardDegCap))
    val deg = baskets.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    val co = baskets
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("pr"))
      .select(col("pr.pa"), col("pr.pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    co.join(broadcast(deg.withColumnRenamed("p", "pa").withColumnRenamed("deg", "deg_a")), "pa")
      .join(broadcast(deg.withColumnRenamed("p", "pb").withColumnRenamed("deg", "deg_b")), "pb")
      .select(col("pa").as("supp_a"), col("pb").as("supp_b"),
        col("co"), col("deg_a"), col("deg_b"),
        Det.q6(col("co").cast("double") /
          (col("deg_a") + col("deg_b") - col("co")).cast("double")).as("jaccard"))
      .orderBy("supp_a", "supp_b")
  }

  /** Market-basket co-occurrence: pairs of parts appearing in the same
    * order, counted across orders — the item-item co-purchase graph a
    * recommender or "frequently bought together" feature is built from.
    * Top 100 pairs by support, fully-ordered tiebreak for determinism.
    *
    * Scale shape: TWO exchanges total — an order-keyed aggregate that
    * builds each order's sorted distinct part array, and the pair-count
    * aggregate over (part_a, part_b, count) triples. Pair generation is
    * row-local array expansion, bounded by order SIZE (≤7 lines in
    * TPC-H-shaped data, so ≤21 pairs/row), not by catalog or order count
    * — that intrinsic bound is what makes it safe at 100 TB (contrast
    * [[jaccardNeighbors]], where customer fan-out is unbounded and needs
    * an explicit degree cap). The support≥2 filter drops the long
    * singleton tail before the final top-k, which is a TakeOrdered, not
    * a global sort. */
  def copurchasePairs(s: SparkSession, d: String): DataFrame = {
    // one order-keyed aggregate builds each order's sorted distinct part
    // set (collect_set dedups in the same exchange a distinct would cost
    // on its own); pairs are generated ROW-LOCALLY from the array with
    // nested transform/slice — strictly ordered, so part_a < part_b by
    // construction — instead of a second order-keyed self-join exchange
    val pairs = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS part_a, y AS part_b))))""".stripMargin)).as("pr"))
      .select(col("pr.part_a"), col("pr.part_b"))
    pairs
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("part_a").asc, col("part_b").asc)
      .limit(100)
  }

  /** Association rules over the co-purchase baskets — the
    * [[copurchasePairs]] support counts lifted to directional rules
    * a→b with confidence n_ab/n_a and lift N·n_ab/(n_a·n_b), the
    * "customers who bought X also bought Y" scoring layer (confidence
    * alone rewards popular consequents; lift corrects for the base
    * rate). Top 50 by (lift, confidence), fully-ordered tiebreak.
    *
    * Determinism: supports and pair counts are exact integers; each of
    * confidence and lift is ONE correctly-rounded IEEE division of
    * exact-integer products, floor-quantized to 6 dp; the final order
    * includes (antecedent, consequent), a total order. N·n_ab and
    * n_a·n_b stay in BIGINT to ~10⁹ baskets per item pair.
    *
    * Scale shape: baskets are built once (the [[copurchasePairs]]
    * row-local expansion — pair generation bounded by basket size, not
    * catalog); supports are one item-keyed aggregate of the same staged
    * distinct frame; the rule join touches only surviving pairs, with
    * the catalog-bounded support table broadcast; top-50 is a
    * TakeOrdered, not a global sort. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    // ONE staged per-order basket frame feeds all three statistics (r14,
    // guide §2.4): item support n_i = how many baskets contain p = count
    // over the exploded distinct sets; n_orders = one row per basket;
    // pairs = the row-local expansion. The previous shape staged the
    // distinct (o, p) list and re-aggregated it three separate ways
    // (support groupBy, countDistinct(o), basket groupBy) — one
    // order-keyed exchange and one distinct-aggregate now cover all
    // three, with identical exact-integer counts.
    val baskets = graft.util.Ckpt.stage(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("ps")))
    val supp = baskets.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("n_i"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("pr"))
      .select(col("pr.pa"), col("pr.pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val dir = pairs.select(col("pa").as("antecedent"), col("pb").as("consequent"), col("n_ab"))
      .union(pairs.select(col("pb").as("antecedent"), col("pa").as("consequent"), col("n_ab")))
    dir
      .join(broadcast(supp.select(col("p").as("antecedent"), col("n_i").as("n_ante"))),
        "antecedent")
      .join(broadcast(supp.select(col("p").as("consequent"), col("n_i").as("n_cons"))),
        "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"),
        col("n_ab").as("n_both"), col("n_ante"), col("n_cons"),
        Det.q6(col("n_ab").cast("double") / col("n_ante").cast("double")).as("confidence"),
        Det.q6((col("n_orders") * col("n_ab")).cast("double")
          / (col("n_ante") * col("n_cons")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("confidence").desc,
        col("antecedent").asc, col("consequent").asc)
      .limit(50)
  }

  /** k for [[kcorePeel]] — the smallest k where peeling does real work
    * on the co-purchase graph (k=2 only strips leaf chains). */
  private[ops] val CoreK = 3
  /** Bounded peel passes — the per-pass trace IS the output, so an
    * unconverged tail is visible rather than silently truncated. */
  private[ops] val CorePasses = 6

  /** k-core peeling of the co-purchase graph: repeatedly remove nodes
    * with degree < [[CoreK]] until (at most [[CorePasses]] passes) the
    * k-core remains — the standard dense-substructure extraction that
    * separates "parts with a real co-purchase neighborhood" from the
    * long tail a recommender should not trust. Output is the per-pass
    * (n_nodes, n_edges) trace: a fixpoint shows as a flat tail, an
    * unconverged graph as a still-falling one.
    *
    * Determinism: peeling is order-free (all sub-k nodes drop
    * simultaneously each pass — the result is the unique maximal
    * k-core regardless of schedule), and every traced quantity is an
    * integer count. The oracle unrolls the identical passes CTE by CTE.
    *
    * Scale shape: the iterative-algorithm discipline ([[pagerank]],
    * kmeans): state per pass is the surviving edge list (monotonically
    * shrinking, staged via Ckpt so lineage stays bounded) plus a
    * node-keyed degree aggregate; the base pairs derivation is the
    * [[copurchasePairs]] row-local expansion. No pass ever touches the
    * raw fact table again. */
  def kcorePeel(s: SparkSession, d: String): DataFrame = {
    val base = graft.util.Ckpt.stage(Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .agg(count(lit(1)).as("n_o"))
      .filter(col("n_o") >= 2)
      .select("pa", "pb"))
    var edges = base
    val trace = (1 to CorePasses).map { p =>
      val deg = edges.select(col("pa").as("node"))
        .union(edges.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= CoreK).select("node")
      edges = graft.util.Ckpt.stage(edges
        .join(keep.withColumnRenamed("node", "pa"), "pa")
        .join(keep.withColumnRenamed("node", "pb"), "pb")
        .select("pa", "pb"))
      val nodes = edges.select(col("pa").as("node"))
        .union(edges.select(col("pb").as("node")))
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(nodes.agg(countDistinct("node").as("n_nodes")))
        .select(lit(p).as("pass"), col("n_nodes"), col("n_edges"))
    }
    trace.reduce(_.union(_)).orderBy("pass")
  }

  private[ops] val LpaRounds = 3

  /** Shared LPA machinery for [[labelProp]] and [[modularity]]: the
    * collected nation rows, the undirected weighted lane list (self-loops
    * dropped, parallel lanes merged), and the node→label map after
    * [[LpaRounds]] synchronous rounds — all driver-side over the bounded
    * matrix ([[localGraph]]). Both consumers and both oracles derive from
    * the SAME rounds, so the community partition [[modularity]] scores is
    * by construction the one [[labelProp]] reports. */
  private def lpaState(s: SparkSession, d: String)
      : (Array[(Int, String)], Seq[(Int, Int, Long)], Map[Int, Int]) = {
    // driver-side over the collected bounded lane matrix (r14, the
    // [[localGraph]] discipline): votes are exact Long sums, the adopt
    // decision is the same (vw DESC, lab ASC) integer ordering the
    // row_number window used — bit-identical rounds, zero per-round jobs
    val (e, nodes) = localGraph(s, d)
    val und: Seq[(Int, Int, Long)] =
      (e ++ e.map(t => (t._2, t._1, t._3)))
        .filter(t => t._1 != t._2)
        .groupBy(t => (t._1, t._2))
        .map { case ((src, dst), ts) => (src, dst, ts.map(_._3).sum) }
        .toSeq
    var labs: Map[Int, Int] = nodes.map(n => n._1 -> n._1).toMap
    for (_ <- 1 to LpaRounds) {
      val votes = scala.collection.mutable.Map[(Int, Int), Long]()
      und.foreach { case (src, dst, w) =>
        labs.get(src).foreach { l =>
          votes((dst, l)) = votes.getOrElse((dst, l), 0L) + w
        }
      }
      val pick: Map[Int, Int] = votes.toSeq
        .groupBy(_._1._1)
        .map { case (node, vs) =>
          node -> vs.map { case ((_, lab), vw) => (vw, lab) }
            .min(Ordering.by((t: (Long, Int)) => (-t._1, t._2)))._2
        }
      labs = labs.map { case (n, l) => n -> pick.getOrElse(n, l) }
    }
    (nodes, und, labs)
  }

  /** Weighted label-propagation communities over the undirected trade
    * graph, [[LpaRounds]] SYNCHRONOUS rounds — the community-detection
    * leg of the graph family (components say "connected at all"; LPA
    * says "more tied to each other than to the rest", splitting a
    * connected graph into trade blocs): every node simultaneously adopts
    * the label with the largest total incident edge weight among its
    * neighbors (ties → smallest label, the deterministic LPA variant);
    * isolated nodes keep their own label.
    *
    * Determinism: edge weights and vote sums are exact BIGINTs; the
    * adopt decision is a row_number over (vote weight DESC, label ASC) —
    * pure integer ordering, no arithmetic freedom. The oracle unrolls
    * the same [[LpaRounds]] rounds as generated CTEs (the [[pagerank]]
    * discipline); synchronous updates make the unroll exact.
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; each round is
    * one join + one keyed aggregate + one per-node top-1 window over the
    * staged ≤|nations|² edge list, with per-round state one (node,
    * label) row per node. At a billion-node graph the top-1 window
    * becomes the [[graft.plans.TopKPerGroup]] bounded-heap operator;
    * at the nation grain the window is the right plan. */
  def labelProp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (nodes, _, labs) = lpaState(s, d)
    val sizes: Map[Int, Long] =
      labs.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    nodes.toSeq.map { case (node, nation) =>
      (node, nation, labs(node), sizes(labs(node)))
    }.toDF("node", "nation", "label", "community_size")
      .orderBy("node")
  }

  /** Newman modularity of the [[labelProp]] partition over the undirected
    * weighted trade graph — the quality score for the communities the LPA
    * leg reports (community detection without a quality metric is
    * unfalsifiable; Q ≈ 0 says "no better than random given the degree
    * sequence", Q > 0.3 says real bloc structure): per community c,
    * contrib(c) = w_in(c)/m2 − (w_tot(c)/m2)², with w_in the weight inside
    * c, w_tot the total degree-weight of c's nodes, and m2 the total
    * directed-both-ways weight (= 2m); Q = Σ_c contrib(c), emitted as a
    * label = −1 total row after the per-community rows.
    *
    * Determinism: w_in/w_tot/m2 are exact BIGINT sums over the SAME
    * [[lpaState]] rounds the LPA query runs (the oracle chains the
    * identical unrolled CTEs); each contribution is a fixed sequence of
    * IEEE divisions/products on exact integers, 8-dp floor-quantized; the
    * total sums the quantized contributions in DECIMAL(20,8) — exact and
    * order-free — so Q is bit-identical in both engines.
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; everything
    * after it is three keyed aggregates over the staged ≤|nations|² edge
    * list with the ≤|nations|-row label frame joined in, plus a 1-row m2
    * broadcast. At a billion-node graph the same three aggregates shuffle
    * on community id — modularity stays one-pass whatever the scale. */
  def modularity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, und, labs) = lpaState(s, d)
    // exact Long sums per community over the collected lane matrix;
    // w_tot(c) = Σ over edges with src-label c of w (every directed-
    // both-ways edge contributes its weight to its src's degree)
    val m2 = und.map(_._3).sum
    val wIn = und.filter(t => labs(t._1) == labs(t._2))
      .groupBy(t => labs(t._1)).map { case (l, ts) => l -> ts.map(_._3).sum }
    val wTot = und
      .groupBy(t => labs(t._1)).map { case (l, ts) => l -> ts.map(_._3).sum }
    val nNodes: Map[Int, Long] =
      labs.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    // contrib replicates Det.q8 of the same IEEE division/product
    // sequence; the total sums the 8-dp-quantized contributions in
    // DECIMAL(20,8) exactly as the Spark aggregate did (double→decimal =
    // BigDecimal.valueOf + HALF_UP at scale 8 — exact for an 8-dp value;
    // decimal→double = BigDecimal.doubleValue)
    val per = nNodes.keys.toSeq.sorted.map { l =>
      val win = wIn.getOrElse(l, 0L)
      val wtot = wTot.getOrElse(l, 0L)
      val contrib = if (m2 == 0L) 0.0 else {
        val r = win.toDouble / m2.toDouble -
          (wtot.toDouble / m2.toDouble) * (wtot.toDouble / m2.toDouble)
        math.floor(r * 100000000 + 0.5) / 100000000
      }
      (l, nNodes(l), win, wtot, contrib)
    }
    val totContrib = per
      .map(t => java.math.BigDecimal.valueOf(t._5)
        .setScale(8, java.math.RoundingMode.HALF_UP))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      .doubleValue
    val total = (-1, per.map(_._2).sum, per.map(_._3).sum, per.map(_._4).sum,
      totContrib)
    (per :+ total)
      .toDF("label", "n_nodes", "w_in", "w_tot", "contrib")
      .orderBy("label")
  }

  /** Degree assortativity of the undirected trade graph (distinct lanes,
    * self-loops dropped): the Pearson correlation of the FULL degrees at
    * the two ends of each edge, computed over the directed-both-ways
    * endpoint list (the standard estimator; each undirected edge
    * contributes both orientations, making the coefficient symmetric).
    * r > 0 = hubs trade with hubs (assortative), r < 0 = hub-and-spoke
    * (disassortative — the shape that concentrates shuffle skew on the
    * hub keys and motivates salting).
    *
    * Determinism: every moment (m, Σx, Σxy, Σx²) is an exact BIGINT sum
    * of bounded integers (degree ≤ |nations|, m ≤ |nations|² — the
    * products stay ≲ 10¹⁷ ≪ 2⁶³ at ANY scale factor since the nation
    * grain is fixed); r is one integer-exact numerator divided by one
    * sqrt of an integer-exact product, 6-dp floor-quantized. A
    * degree-regular graph has zero variance → null, stated rather than
    * NaN.
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; degrees are
    * one keyed count over the staged edge list, joined back broadcast;
    * the moments are a single 1-row reduce. */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // exact BIGINT moments over the collected lane list (r14 driver-side
    // discipline; the bounded-magnitude argument in the scaladoc is what
    // makes Long exact here at ANY scale factor), then the same one
    // IEEE division / sqrt / q6 sequence
    val (eRaw, _) = localGraph(s, d)
    val und = undLanes(eRaw.map(t => (t._1, t._2)))
    val deg: Map[Int, Long] =
      und.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val ends = und.map { case (u, v) => (deg(u), deg(v)) }
    val mEnds = ends.size.toLong
    val sumDeg = ends.map(_._1).sum
    val sumProd = ends.map(t => t._1 * t._2).sum
    val sumSq = ends.map(t => t._1 * t._1).sum
    val sumSqY = ends.map(t => t._2 * t._2).sum
    val varX = mEnds * sumSq - sumDeg * sumDeg
    val varY = mEnds * sumSqY - sumDeg * sumDeg
    val r: Option[Double] =
      if (varX == 0L || varY == 0L) None
      else Some(math.floor(
        (mEnds * sumProd - sumDeg * sumDeg).toDouble /
          math.sqrt((varX * varY).toDouble) * 1000000 + 0.5) / 1000000)
    Seq((mEnds, sumDeg, sumProd, sumSq, r))
      .toDF("m_ends", "sum_deg", "sum_prod", "sum_sq", "assortativity")
  }

  /** Reciprocity of the DIRECTED trade graph (distinct lanes, self-loops
    * dropped): per exporter nation, the fraction of its outgoing lanes
    * whose reverse lane also exists, plus a node = −1 'ALL' total — the
    * directed-structure audit that tells a partitioner whether a
    * bidirectional edge representation (half the exchange volume for
    * symmetric graphs) is worth it.
    *
    * Determinism: lane sets are DISTINCT integer pairs; reciprocated
    * lanes come from an exact self semi-join; the ratio is ONE IEEE
    * division of exact BIGINTs, 6-dp floor-quantized. Nations with no
    * outgoing lane report null, stated rather than NaN.
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; the semi-join
    * runs on the staged ≤|nations|² lane list against its own reversal,
    * both keyed aggregates are node-bounded. */
  def reciprocity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // exact integer lane-set counts over the collected matrix (r14
    // driver-side discipline), then the same one IEEE division + q6
    val (eRaw, nodes) = localGraph(s, d)
    val lanes = eRaw.map(t => (t._1, t._2)).filter(t => t._1 != t._2).toSet
    val nOut: Map[Int, Long] =
      lanes.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val nRec: Map[Int, Long] = lanes.filter(t => lanes((t._2, t._1)))
      .groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val per = nodes.toSeq.map { case (node, nation) =>
      (node, nation, nOut.getOrElse(node, 0L), nRec.getOrElse(node, 0L))
    }
    val all = (-1, "ALL", per.map(_._3).sum, per.map(_._4).sum)
    (per :+ all).map { case (node, nation, no, nr) =>
      val ratio =
        if (no == 0L) None
        else Some(math.floor(nr.toDouble / no.toDouble * 1000000 + 0.5) / 1000000)
      (node, nation, no, nr, ratio)
    }.toDF("node", "nation", "n_out", "n_rec", "reciprocity")
      .orderBy("node")
  }

  private[ops] val HitsIters = 2

  /** Weighted HITS (hubs & authorities) over the DIRECTED trade graph,
    * [[HitsIters]] mutual-reinforcement rounds — the directed complement
    * to [[pagerank]]'s single score: an authority nation is IMPORTED
    * into by strong exporters, a hub nation EXPORTS to strong importers;
    * the two scores split "trade influence" into its two directions
    * (a(v) = Σ_{u→v} h(u)·w, then h(u) = Σ_{u→v} a(v)·w).
    *
    * Determinism — integer fixed-point like [[pagerank]], with MAX
    * normalization instead of HITS' usual L2 (an L2 norm is a sqrt of a
    * float sum — engine freedom; max-normalize keeps every score an
    * exact integer in [0, Scale]): products promote to DECIMAL(38,0)/
    * HUGEINT (score·w ≤ 10¹²·|lineitem| wraps BIGINT), each round's
    * scores rescale by `(x·Scale) div max` — exact integer division —
    * and the oracle unrolls the identical rounds as generated CTEs.
    * Ranking ties break on the node key in the consumer, never needed
    * here (scores are exact).
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; each round is
    * two joins + two keyed aggregates over the staged ≤|nations|² edge
    * list with a 1-row max broadcast back — per-round state is one row
    * per nation. */
  def hits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // driver-side rounds over the collected lane matrix (r14 discipline):
    // score·w products accumulate in BigInt — the exact twin of the
    // DECIMAL(38,0)/HUGEINT sums — and the max-rescale is BigInt integer
    // division (truncation = decimal `div` on these non-negative values)
    val (e, nodes) = localGraph(s, d)
    val nodeIds = nodes.map(_._1)
    var hub: Map[Int, Long] = nodeIds.map(_ -> Scale).toMap
    var auth = hub
    def round(score: Map[Int, Long], bySrc: Boolean): Map[Int, Long] = {
      val raw = scala.collection.mutable.Map[Int, BigInt]()
      e.foreach { case (src, dst, w) =>
        val (from, to) = if (bySrc) (src, dst) else (dst, src)
        score.get(from).foreach { sc =>
          raw(to) = raw.getOrElse(to, BigInt(0)) + BigInt(sc) * w
        }
      }
      val mx = if (raw.isEmpty) BigInt(0) else raw.values.max
      // mx = 0 (or no in-edges at all) mirrors the SQL `div`'s
      // null-on-zero-divisor folded to 0 by the coalesce
      if (mx == 0) nodeIds.map(_ -> 0L).toMap
      else nodeIds.map { n =>
        n -> raw.get(n).map(r => ((r * Scale) / mx).toLong).getOrElse(0L)
      }.toMap
    }
    for (_ <- 1 to HitsIters) {
      auth = round(hub, bySrc = true)
      hub = round(auth, bySrc = false)
    }
    nodes.toSeq.map { case (node, nation) =>
      (node, nation, hub(node), auth(node))
    }.toDF("node", "nation", "hub", "authority")
      .orderBy("node")
  }

  /** Closeness centrality over the UNDIRECTED trade graph by all-pairs
    * hop relaxation — the fourth centrality leg (PageRank = recursive
    * influence, HITS = directed hub/authority, triangles = local
    * cohesion; closeness = "how few hops to everyone?", the score that
    * ranks distribution hubs): C(u) = (r−1)/Σd over the r−1 nodes u
    * reaches, with the reach count reported so disconnected graphs stay
    * honest.
    *
    * Determinism: pure integer hop distances ([[bfsHops]]' search from
    * every source, same exact integer state); closeness is ONE division
    * of exact integers, 6-dp floor-quantized. The oracle reaches the same
    * distances with a depth-bounded recursive closure + min().
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; the
    * relaxation state is |nations|² (src, node, dist) rows over the
    * staged edge list, `Ckpt`-staged per round with a 1-row convergence
    * scalar — the established iterative shape. At a million-node graph
    * closeness switches to sampled sources or HyperBall sketches; at
    * the nation grain the exact loop is the right plan. */
  /** All-pairs hop distances at the relaxation fixpoint over the given
    * undirected lane list — driver-side (r14 discipline), shared by
    * [[closeness]] (full graph) and [[hopHistogram]] (strong lanes):
    * per-source [[relaxFrom]] runs reach the identical integer fixpoint
    * the synchronized staged rounds did. Self-pairs included at dist 0. */
  private def relaxAllLocal(nodeIds: Seq[Int], und: Seq[(Int, Int)])
      : Seq[(Int, Int, Long)] =
    nodeIds.flatMap { s0 =>
      relaxFrom(s0, und).toSeq.map { case (node, dv) => (s0, node, dv) }
    }

  def closeness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (e, nodes) = localGraph(s, d)
    val und = undLanes(e.map(t => (t._1, t._2)))
    val dist = relaxAllLocal(nodes.map(_._1).toSeq, und)
    val per: Map[Int, (Long, Long)] = dist.filter(t => t._1 != t._2)
      .groupBy(_._1)
      .map { case (s0, ds) => s0 -> (ds.size.toLong, ds.map(_._3).sum) }
    nodes.toSeq.map { case (node, nation) =>
      val (nReach, sumDist) = per.getOrElse(node, (0L, 0L))
      val cl =
        if (sumDist == 0L) None
        else Some(math.floor(
          nReach.toDouble / sumDist.toDouble * 1000000.0 + 0.5) / 1000000.0)
      (node, nation, nReach, sumDist, cl)
    }.toDF("node", "nation", "n_reach", "sum_dist", "closeness")
      .orderBy("node")
  }

  /** Pairwise hop-distance distribution + effective diameter over the
    * STRONG-lane trade graph — the neighborhood-function audit behind
    * "how many rounds does an iterative graph algorithm need?". The raw
    * trade graph is complete at every fixture scale (25 nations, every
    * pair trades), so the distribution runs on the backbone that has
    * actual structure: lanes carrying MORE than the mean lane weight
    * (`w · n_lanes > total_w` — a pure integer test, no division).
    * For each hop count d ≥ 1: the number of reachable ordered pairs at
    * exactly d hops, the running total, and the p90 flag whose FIRST
    * true row is the effective diameter (the standard 90th-percentile
    * definition — robust to a few stragglers, unlike the max).
    *
    * Determinism: distances come from the [[relaxAll]] integer
    * relaxation fixpoint (the [[closeness]] loop, shared); the strong
    * filter, the histogram, the cumulative count (a triangular
    * self-join over the ≤diameter-row histogram — never an
    * unpartitioned running-sum window), and the p90 test
    * `10·cum ≥ 9·total` are all exact integer algebra.
    *
    * Scale shape: the [[tradeEdges]] derivation dominates; the strong
    * threshold is a 1-row broadcast against the aggregated lane list;
    * the relaxation is the established per-round staged loop; the
    * histogram is domain-bounded (≤ graph diameter rows), so the
    * cumulative join and the 1-row total broadcast are metadata-sized.
    * On a billion-node graph the exact APSP front end gives way to
    * HyperANF/HyperBall sketches; the distribution-then-percentile
    * shape is unchanged. */
  def hopHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the strong-lane test, the relaxation fixpoint, the histogram, the
    // triangular cumulative sum and the 10·cum ≥ 9·total p90 rule are ALL
    // exact integer algebra over the collected bounded matrix — driver-
    // side end to end (r14 discipline)
    val (e, nodes) = localGraph(s, d)
    val tw = e.map(_._3).sum
    val nl = e.length.toLong
    val strong = e.filter(t => t._3 * nl > tw).map(t => (t._1, t._2))
    val und = undLanes(strong)
    val dist = relaxAllLocal(nodes.map(_._1).toSeq, und)
    val hist: Seq[(Long, Long)] = dist.filter(t => t._1 != t._2)
      .groupBy(_._3).map { case (dv, ps) => (dv, ps.size.toLong) }
      .toSeq.sortBy(_._1)
    val total = hist.map(_._2).sum
    hist.map { case (dv, nPairs) =>
      val cum = hist.filter(_._1 <= dv).map(_._2).sum
      (dv, nPairs, cum, cum * 10 >= total * 9)
    }.toDF("dist", "n_pairs", "cum_pairs", "reached_p90")
      .orderBy("dist")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hop_histogram" -> (hopHistogram _),
    "q_modularity" -> (modularity _),
    "q_assortativity" -> (assortativity _),
    "q_reciprocity" -> (reciprocity _),
    "q_closeness" -> (closeness _),
    "q_hits" -> (hits _),
    "q_label_prop" -> (labelProp _),
    "q_kcore_peel" -> (kcorePeel _),
    "q_assoc_rules" -> (assocRules _),
    "q_copurchase_pairs" -> (copurchasePairs _),
    "q_jaccard_neighbors" -> (jaccardNeighbors _),
    "q_degree_dist" -> (degreeDist _),
    "q_pagerank"  -> (pagerank _),
    "q_graph_bfs" -> (bfsHops _),
    "q_triangle_count" -> (triangleCount _),
  )

  /** Shared edge-derivation CTE (the SQL twin of [[tradeEdges]]).
    * `sum(w)` is HUGEINT in DuckDB — cast back to BIGINT so `//` and the
    * result column match Spark's long arithmetic exactly. */
  private val EdgeCte =
    """e AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey  = s_suppkey
      |  JOIN customer ON o_custkey  = c_custkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** The PageRank oracle unrolls [[PrIters]] iterations as generated CTEs
    * from the same Scale/DampPct constants as the Spark plan. */
  private def pagerankOracle: String = {
    val teleport = (100L - DampPct) * Scale / 100L
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST($teleport + ($DampPct * coalesce(inf.i, 0)) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT ew.dst, CAST(sum((r.rank // ew.outw) * ew.w) AS BIGINT) AS i
         |    FROM ew JOIN r${i - 1} r ON ew.src = r.node
         |    GROUP BY ew.dst) inf
         |  ON n.node = inf.dst
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCte, ow AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src
       |), ew AS (
       |  SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w, ow.outw
       |  FROM e JOIN ow USING (src)
       |), n AS (
       |  SELECT n_nationkey AS node, n_name AS nation FROM nation
       |), r0 AS (
       |  SELECT node, CAST($Scale AS BIGINT) AS rank FROM n
       |), $iters
       |SELECT n.node, n.nation, r.rank
       |FROM n JOIN r$PrIters r USING (node)
       |ORDER BY n.node""".stripMargin
  }

  /** Shared oracle CTE chain for the LPA rounds (the SQL twin of
    * [[lpaState]]): edges → und → n → l0 → unrolled rounds ending at
    * `l{LpaRounds}`. [[labelPropOracle]] and the [[modularity]] oracle
    * both chain from it, mirroring the shared Spark machinery. */
  private def lpaCtes: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""v$i AS (
         |  SELECT u.dst AS node, l.lab, CAST(sum(u.w) AS BIGINT) AS vw
         |  FROM und u JOIN l${i - 1} l ON u.src = l.node
         |  GROUP BY 1, 2
         |), p$i AS (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY vw DESC, lab ASC) AS rn
         |    FROM v$i) t WHERE rn = 1
         |), l$i AS (
         |  SELECT l.node, COALESCE(p.lab, l.lab) AS lab
         |  FROM l${i - 1} l LEFT JOIN p$i p ON l.node = p.node
         |)""".stripMargin
    }.mkString(", ")
    s"""$EdgeCte, und AS (
       |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT src, dst, w FROM e
       |    UNION ALL SELECT dst AS src, src AS dst, w FROM e
       |  ) b WHERE src <> dst GROUP BY 1, 2
       |), n AS (
       |  SELECT n_nationkey AS node, n_name AS nation FROM nation
       |), l0 AS (
       |  SELECT node, node AS lab FROM n
       |), $rounds""".stripMargin
  }

  /** The [[labelProp]] oracle unrolls [[LpaRounds]] synchronous rounds
    * as generated CTEs over the same undirected weighted edge list. */
  private def labelPropOracle: String =
    s"""WITH $lpaCtes
       |SELECT n.node, n.nation, l.lab AS label,
       |       CAST(count(*) OVER (PARTITION BY l.lab) AS BIGINT)
       |         AS community_size
       |FROM n JOIN l$LpaRounds l USING (node)
       |ORDER BY n.node""".stripMargin

  /** The [[modularity]] oracle chains [[lpaCtes]] (the identical unrolled
    * LPA rounds) into the three community aggregates, quantizing each
    * contribution to 8 dp and totalling in DECIMAL(20,8) exactly as the
    * Spark plan does. */
  private def modularityOracle: String =
    s"""WITH $lpaCtes, labf AS (
       |  SELECT node, lab FROM l$LpaRounds
       |), m2 AS (
       |  SELECT CAST(sum(w) AS BIGINT) AS m2 FROM und
       |), wi AS (
       |  SELECT ls.lab AS label, CAST(sum(u.w) AS BIGINT) AS w_in
       |  FROM und u
       |  JOIN labf ls ON u.src = ls.node
       |  JOIN labf ld ON u.dst = ld.node
       |  WHERE ls.lab = ld.lab GROUP BY 1
       |), wt AS (
       |  SELECT l.lab AS label, CAST(sum(dw) AS BIGINT) AS w_tot
       |  FROM (SELECT src, CAST(sum(w) AS BIGINT) AS dw FROM und GROUP BY src) dg
       |  JOIN labf l ON dg.src = l.node GROUP BY 1
       |), ns AS (
       |  SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM labf GROUP BY 1
       |), per AS (
       |  SELECT ns.label, ns.n_nodes,
       |         COALESCE(wi.w_in, 0) AS w_in,
       |         COALESCE(wt.w_tot, 0) AS w_tot,
       |         CASE WHEN m2.m2 = 0 THEN 0.0 ELSE
       |           floor((CAST(COALESCE(wi.w_in, 0) AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
       |                  - (CAST(COALESCE(wt.w_tot, 0) AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
       |                    * (CAST(COALESCE(wt.w_tot, 0) AS DOUBLE) / CAST(m2.m2 AS DOUBLE)))
       |                 * 100000000 + 0.5) / 100000000
       |         END AS contrib
       |  FROM ns LEFT JOIN wt USING (label) LEFT JOIN wi USING (label), m2
       |)
       |SELECT label, n_nodes, w_in, w_tot, contrib FROM per
       |UNION ALL
       |SELECT CAST(-1 AS INTEGER), CAST(sum(n_nodes) AS BIGINT),
       |       CAST(sum(w_in) AS BIGINT), CAST(sum(w_tot) AS BIGINT),
       |       CAST(sum(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE)
       |FROM per
       |ORDER BY label""".stripMargin

  /** The [[hits]] oracle unrolls [[HitsIters]] rounds as generated CTEs
    * with the same Scale constant and max-normalization. */
  private def hitsOracle: String = {
    val rounds = (1 to HitsIters).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst AS node, sum(CAST(h${i - 1}.sc AS HUGEINT) * e.w) AS raw
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY 1
         |), am$i AS (SELECT max(raw) AS mx FROM ar$i),
         |a$i AS (
         |  SELECT n.node,
         |    CAST(COALESCE((ar$i.raw * $Scale) // am$i.mx, 0) AS BIGINT) AS sc
         |  FROM n LEFT JOIN ar$i ON n.node = ar$i.node CROSS JOIN am$i
         |), hr$i AS (
         |  SELECT e.src AS node, sum(CAST(a$i.sc AS HUGEINT) * e.w) AS raw
         |  FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1
         |), hm$i AS (SELECT max(raw) AS mx FROM hr$i),
         |h$i AS (
         |  SELECT n.node,
         |    CAST(COALESCE((hr$i.raw * $Scale) // hm$i.mx, 0) AS BIGINT) AS sc
         |  FROM n LEFT JOIN hr$i ON n.node = hr$i.node CROSS JOIN hm$i
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCte, n AS (
       |  SELECT n_nationkey AS node, n_name AS nation FROM nation
       |), h0 AS (
       |  SELECT node, CAST($Scale AS BIGINT) AS sc FROM n
       |), $rounds
       |SELECT n.node, n.nation, h.sc AS hub, a.sc AS authority
       |FROM n JOIN h$HitsIters h USING (node) JOIN a$HitsIters a USING (node)
       |ORDER BY n.node""".stripMargin
  }

  /** Depth bound for the oracle-side recursive shortest-path walks:
    * |nation nodes| − 1 = 24, the longest possible shortest path on a
    * 25-node graph (ADVICE r10 — previously a magic 24 that would
    * silently truncate long paths if the node grain ever changed; the
    * Spark side iterates relaxAll to the fixpoint, so only the oracle
    * needed the bound made structural). */
  private val NationNodes = 25
  private def WalkDepthBound: Int = NationNodes - 1

  val oracle: Map[String, String] = Map(
    // the [[closeness]] oracle's depth-bounded recursive closure reaches
    // the same integer fixpoint; histogram, triangular cumsum, and the
    // 10·cum ≥ 9·total p90 rule are pure integer algebra
    "q_hop_histogram" ->
      s"""WITH RECURSIVE $EdgeCte, thr AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(count(*) AS BIGINT) AS nl
         |  FROM e
         |), strong AS (
         |  SELECT src, dst FROM e, thr WHERE w * nl > tw
         |), und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM strong
         |    UNION ALL SELECT dst AS src, src AS dst FROM strong) b
         |  WHERE src <> dst
         |), n AS (
         |  SELECT n_nationkey AS node FROM nation
         |), walk(s0, node, d) AS (
         |  SELECT node, node, 0 FROM n
         |  UNION
         |  SELECT w.s0, u.dst, w.d + 1
         |  FROM walk w JOIN und u ON u.src = w.node WHERE w.d < $WalkDepthBound
         |), sp AS (
         |  SELECT s0, node, CAST(min(d) AS BIGINT) AS dist
         |  FROM walk GROUP BY 1, 2
         |), h AS (
         |  SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM sp WHERE s0 <> node GROUP BY 1
         |), t AS (
         |  SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM h
         |), c AS (
         |  SELECT a.dist, a.n_pairs, CAST(sum(b.n_pairs) AS BIGINT) AS cum_pairs
         |  FROM h a JOIN h b ON b.dist <= a.dist
         |  GROUP BY 1, 2
         |)
         |SELECT c.dist, c.n_pairs, c.cum_pairs,
         |       (c.cum_pairs * 10 >= t.total * 9) AS reached_p90
         |FROM c, t ORDER BY c.dist""".stripMargin,
    "q_modularity" -> modularityOracle,
    "q_assortativity" ->
      s"""WITH $EdgeCte, und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM e
         |    UNION ALL SELECT dst AS src, src AS dst FROM e) b
         |  WHERE src <> dst
         |), deg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src
         |), ends AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM und
         |  JOIN deg dx ON und.src = dx.src
         |  JOIN deg dy ON und.dst = dy.src
         |), m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m_ends,
         |         CAST(sum(dx) AS BIGINT) AS sum_deg,
         |         CAST(sum(dx * dy) AS BIGINT) AS sum_prod,
         |         CAST(sum(dx * dx) AS BIGINT) AS sum_sq,
         |         CAST(sum(dy * dy) AS BIGINT) AS sum_sq_y
         |  FROM ends
         |)
         |SELECT m_ends, sum_deg, sum_prod, sum_sq,
         |  CASE WHEN (m_ends * sum_sq - sum_deg * sum_deg) = 0
         |         OR (m_ends * sum_sq_y - sum_deg * sum_deg) = 0 THEN NULL
         |       ELSE floor(CAST(m_ends * sum_prod - sum_deg * sum_deg AS DOUBLE)
         |                  / sqrt(CAST((m_ends * sum_sq - sum_deg * sum_deg)
         |                              * (m_ends * sum_sq_y - sum_deg * sum_deg)
         |                              AS DOUBLE))
         |                  * 1000000 + 0.5) / 1000000
         |  END AS assortativity
         |FROM m""".stripMargin,
    "q_reciprocity" ->
      s"""WITH $EdgeCte, e2 AS (
         |  SELECT DISTINCT src, dst FROM e WHERE src <> dst
         |), r AS (
         |  SELECT a.src, a.dst
         |  FROM e2 a JOIN e2 b ON a.src = b.dst AND a.dst = b.src
         |), n AS (
         |  SELECT n_nationkey AS node, n_name AS nation FROM nation
         |), no AS (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_out
         |  FROM e2 GROUP BY 1
         |), nr AS (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_rec
         |  FROM r GROUP BY 1
         |), per AS (
         |  SELECT n.node, n.nation,
         |         COALESCE(no.n_out, 0) AS n_out, COALESCE(nr.n_rec, 0) AS n_rec
         |  FROM n LEFT JOIN no USING (node) LEFT JOIN nr USING (node)
         |), u AS (
         |  SELECT node, nation, n_out, n_rec FROM per
         |  UNION ALL
         |  SELECT CAST(-1 AS INTEGER), 'ALL',
         |         CAST(sum(n_out) AS BIGINT), CAST(sum(n_rec) AS BIGINT)
         |  FROM per
         |)
         |SELECT node, nation, n_out, n_rec,
         |  CASE WHEN n_out = 0 THEN NULL
         |       ELSE floor(CAST(n_rec AS DOUBLE) / CAST(n_out AS DOUBLE)
         |                  * 1000000 + 0.5) / 1000000
         |  END AS reciprocity
         |FROM u ORDER BY node""".stripMargin,
    // depth-bounded recursive closure + min() reaches the same integer
    // fixpoint as the engine's relaxation loop
    "q_closeness" ->
      s"""WITH RECURSIVE $EdgeCte, und AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM e
         |    UNION ALL SELECT dst AS src, src AS dst FROM e) b
         |  WHERE src <> dst
         |), n AS (
         |  SELECT n_nationkey AS node, n_name AS nation FROM nation
         |), walk(s0, node, d) AS (
         |  SELECT node, node, 0 FROM n
         |  UNION
         |  SELECT w.s0, u.dst, w.d + 1
         |  FROM walk w JOIN und u ON u.src = w.node WHERE w.d < $WalkDepthBound
         |), sp AS (
         |  SELECT s0, node, CAST(min(d) AS BIGINT) AS dist
         |  FROM walk GROUP BY 1, 2
         |), per AS (
         |  SELECT s0 AS node, CAST(count(*) AS BIGINT) AS n_reach,
         |         CAST(sum(dist) AS BIGINT) AS sum_dist
         |  FROM sp WHERE s0 <> node GROUP BY 1
         |)
         |SELECT n.node, n.nation,
         |  COALESCE(per.n_reach, 0) AS n_reach,
         |  COALESCE(per.sum_dist, 0) AS sum_dist,
         |  CASE WHEN COALESCE(per.sum_dist, 0) = 0 THEN NULL
         |       ELSE floor(CAST(per.n_reach AS DOUBLE)
         |                  / CAST(per.sum_dist AS DOUBLE) * 1000000 + 0.5)
         |            / 1000000
         |  END AS closeness
         |FROM n LEFT JOIN per USING (node)
         |ORDER BY n.node""".stripMargin,
    "q_hits" -> hitsOracle,
    "q_label_prop" -> labelPropOracle,
    "q_kcore_peel" -> {
      val passes = (1 to CorePasses).map { p =>
        s"""d$p AS MATERIALIZED (
           |  SELECT node, count(*) AS dg
           |  FROM (SELECT pa AS node FROM e${p - 1} UNION ALL SELECT pb FROM e${p - 1}) u
           |  GROUP BY node
           |), k$p AS MATERIALIZED (SELECT node FROM d$p WHERE dg >= $CoreK),
           |e$p AS MATERIALIZED (
           |  SELECT e.pa, e.pb FROM e${p - 1} e
           |  JOIN k$p ka ON e.pa = ka.node
           |  JOIN k$p kb ON e.pb = kb.node
           |)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to CorePasses).map { p =>
        s"""SELECT $p AS pass,
           |  CAST((SELECT count(DISTINCT node) FROM
           |        (SELECT pa AS node FROM e$p UNION ALL SELECT pb FROM e$p) t)
           |       AS BIGINT) AS n_nodes,
           |  CAST((SELECT count(*) FROM e$p) AS BIGINT) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
         |), e0 AS MATERIALIZED (
         |  SELECT a.p AS pa, b.p AS pb
         |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |$passes
         |$rows
         |ORDER BY pass""".stripMargin
    },
    "q_assoc_rules" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), supp AS (
        |  SELECT p, CAST(count(*) AS BIGINT) AS n_i FROM li GROUP BY p
        |), n AS (
        |  SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li
        |), pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), dir AS (
        |  SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
        |  UNION ALL
        |  SELECT pb AS antecedent, pa AS consequent, n_ab FROM pairs
        |)
        |SELECT d.antecedent, d.consequent, d.n_ab AS n_both,
        |  sa.n_i AS n_ante, sc.n_i AS n_cons,
        |  floor(CAST(d.n_ab AS DOUBLE) / CAST(sa.n_i AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS confidence,
        |  floor(CAST(n.n_orders * d.n_ab AS DOUBLE)
        |        / CAST(sa.n_i * sc.n_i AS DOUBLE)
        |        * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM dir d
        |JOIN supp sa ON d.antecedent = sa.p
        |JOIN supp sc ON d.consequent = sc.p, n
        |ORDER BY lift DESC, confidence DESC, antecedent ASC, consequent ASC
        |LIMIT 50""".stripMargin,
    "q_copurchase_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |)
        |SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_orders
        |FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |GROUP BY 1, 2
        |HAVING count(*) >= 2
        |ORDER BY n_orders DESC, part_a ASC, part_b ASC
        |LIMIT 100""".stripMargin,
    "q_jaccard_neighbors" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), keep AS (
         |  SELECT c FROM pairs GROUP BY c HAVING count(*) <= $JaccardDegCap
         |), capped AS (
         |  SELECT pairs.c, pairs.p FROM pairs JOIN keep USING (c)
         |), deg AS (
         |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM capped GROUP BY p
         |), co AS (
         |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co
         |  FROM capped a JOIN capped b ON a.c = b.c AND a.p < b.p
         |  GROUP BY a.p, b.p HAVING count(*) >= 2
         |)
         |SELECT co.pa AS supp_a, co.pb AS supp_b, co.co,
         |       da.deg AS deg_a, db.deg AS deg_b,
         |       floor(CAST(co.co AS DOUBLE) / CAST(da.deg + db.deg - co.co AS DOUBLE)
         |             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM co JOIN deg da ON co.pa = da.p JOIN deg db ON co.pb = db.p
         |ORDER BY supp_a, supp_b""".stripMargin,
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), cd AS (SELECT c, CAST(count(*) AS BIGINT) AS degree FROM pairs GROUP BY c),
        |sd AS (SELECT p, CAST(count(*) AS BIGINT) AS degree FROM pairs GROUP BY p)
        |SELECT side, degree, n_nodes FROM (
        |  SELECT 'customer' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM cd GROUP BY degree
        |  UNION ALL
        |  SELECT 'supplier', degree, CAST(count(*) AS BIGINT) FROM sd GROUP BY degree
        |) t ORDER BY side, degree""".stripMargin,
    "q_pagerank" -> pagerankOracle,
    "q_triangle_count" ->
      s"""WITH $EdgeCte, und AS (
         |  SELECT src, dst FROM e WHERE src <> dst
         |  UNION
         |  SELECT dst, src FROM e WHERE src <> dst
         |), n AS (
         |  SELECT n_nationkey AS node, n_name AS nation FROM nation
         |), t AS (
         |  SELECT e1.src AS node, count(*) AS n_tri
         |  FROM und e1
         |  JOIN und e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |  JOIN und e3 ON e3.src = e1.dst AND e3.dst = e2.dst
         |  GROUP BY 1
         |)
         |SELECT n.node, n.nation, CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri
         |FROM n LEFT JOIN t USING (node)
         |ORDER BY n.node""".stripMargin,
    "q_graph_bfs" ->
      s"""WITH RECURSIVE $EdgeCte, und AS (
         |  SELECT src, dst FROM e UNION SELECT dst, src FROM e
         |), n AS (
         |  SELECT n_nationkey AS node, n_name AS nation FROM nation
         |), reach(node, dist) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT und.dst, r.dist + 1
         |  FROM reach r JOIN und ON und.src = r.node
         |  WHERE r.dist < 30
         |), best AS (
         |  SELECT node, min(dist) AS dist FROM reach GROUP BY node
         |)
         |SELECT n.node, n.nation, best.dist
         |FROM n LEFT JOIN best USING (node)
         |ORDER BY n.node""".stripMargin,
  )
}
