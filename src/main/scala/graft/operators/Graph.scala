package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics in relational form. Companion to the label
  * propagation in [[Dedup.components]]: where that computes connected
  * components over a pair relation, this runs weighted PageRank power
  * iteration over an edge relation derived from event sequences.
  *
  * The heavy part at 100 TB is the EDGE DERIVATION — one window pass
  * over the event log (partitioned by user, so it distributes) and one
  * hash aggregate to weighted edges. The iteration itself then runs
  * over the tiny aggregated graph (|node types|² rows at most) — the
  * classic two-regime shape of production graph pipelines: scan-bound
  * edge extraction, cache-bound iteration.
  *
  * Engine-exact iteration arithmetic: ranks are INTEGERS scaled by
  * 2^30, the damping factor 0.85 is the rational 17/20, and every
  * per-edge transition probability is pre-quantized to the integer
  * share `(w·2^20) div out` ≤ 2^20, so a contribution `(r·sh) div
  * 2^20` never exceeds 2^50 — overflow-safe for any corpus whose
  * per-edge weight stays under 2^43 (≈9·10^12 transitions, beyond a
  * 100 TB log), where the naive `r·w` product would overflow Long
  * once an edge weight passed ~2^33. Integer ops only, so partial-agg
  * merge order cannot perturb a single bit and the oracle replays the
  * identical recurrence. (Doubles would drift: a sum of per-edge
  * double contributions is order-dependent.)
  */
object Graph {

  /** Rank scale: ranks live in [0, Q] as integers. */
  val Q: Long = 1L << 30

  /** Edge-share scale: transition probabilities are integers in
    * [0, S]. Q·S = 2^50 bounds every product. */
  val S: Long = 1L << 20

  /** Weighted PageRank over the event-type transition graph: edges are
    * consecutive (event_type → next event_type) transitions within a
    * user's time-ordered stream; `iters` fixed power iterations with
    * teleport 3/20 and damping 17/20. Nodes with no outgoing edges
    * simply don't contribute (standard dangling simplification —
    * documented, deterministic). Output: per node, the scaled integer
    * rank and its double rendering. */
  /** The two fact-sized passes both rank flavours share — the window
    * lead → hash-agg edge extraction and the node-set aggregate —
    * collected to the driver: the transition graph is bounded by the
    * EVENT-TYPE DOMAIN (≤ |types|² edges), a constant of the schema. */
  private def typeGraph(ev: DataFrame): (Seq[(String, String, Long)], Seq[String]) = {
    val byT = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val edges = ev
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(byT))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst"), r.getAs[Long]("w")))
      .toSeq
    val nodes = ev.select(col("event_type").as("node")).distinct()
      .collect().map(_.getAs[String]("node")).toSeq
    (edges, nodes)
  }

  /** The shared power iteration, DRIVER-SIDE (r12): the relational loop
    * paid a join + aggregate + localCheckpoint per round over a
    * ≤ |types|²-row graph. Identical exact-integer recurrence — per-edge
    * share (w·S) div out_w, per-term (r·sh) div S, order-independent
    * integer sums — so the oracle's round-for-round replay still
    * matches bit-for-bit. `restart(node)` is the per-round teleport. */
  private def powerIterate(edges: Seq[(String, String, Long)],
      nodes: Seq[String], r0: Map[String, Long], restart: String => Long,
      iters: Int): Map[String, Long] = {
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val shares = edges.map { case (s, d, w) => (s, d, w * S / outW(s)) }
    var r = r0
    for (_ <- 0 until iters) {
      val contrib = new scala.collection.mutable.HashMap[String, Long]()
      shares.foreach { case (s, d, sh) =>
        contrib.update(d, contrib.getOrElse(d, 0L) + r(s) * sh / S)
      }
      r = nodes.map(n =>
        n -> (restart(n) + 17 * contrib.getOrElse(n, 0L) / 20)).toMap
    }
    r
  }

  private def trunc6d(x: Double): Double =
    math.floor(x * 1000000).toLong.toDouble / 1000000

  def pageRank(ev: DataFrame, iters: Int = 3): DataFrame = {
    val (edges, nodes) = typeGraph(ev)
    val nn = nodes.length.toLong
    val r = powerIterate(edges, nodes, nodes.map(_ -> Q / nn).toMap,
      _ => (3L * Q) / (20 * nn), iters)
    val spark = ev.sparkSession
    import spark.implicits._
    nodes.map(n => (n, r(n), trunc6d(r(n).toDouble / Q)))
      .toDF("node", "rank_scaled", "rank")
  }

  /** Personalized PageRank (Jeh & Widom 2003) over the event-type
    * transition graph — [[pageRank]]'s recurrence with the restart
    * mass concentrated on one `seed` node instead of spread uniformly:
    * r' = (3/20)·Q·[v = seed] + (17/20)·Σ_in r·share. The result ranks
    * nodes by their reachability FROM the seed — "what does a journey
    * that touches `seed` flow into next", the recommendation /
    * related-entity primitive (uniform PageRank answers global
    * importance; PPR answers importance relative to a chosen anchor).
    *
    * Identical integer discipline to [[pageRank]]: Q-scaled BIGINT
    * mass, per-term floor division mirrored by the oracle's `//`, a
    * per-round localCheckpoint keeping the loop's lineage flat, and
    * the fact touched exactly once (window lead → hash-agg). Rounds
    * are a CONSTANT (`iters`), pinned scale-independent by the
    * ScaleSpec job-count test. */
  def personalizedPageRank(ev: DataFrame, seed: String = "purchase",
      iters: Int = 3): DataFrame = {
    val (edges, nodes) = typeGraph(ev)
    val r = powerIterate(edges, nodes,
      nodes.map(n => n -> (if (n == seed) Q else 0L)).toMap,
      n => if (n == seed) 3L * Q / 20 else 0L, iters)
    val spark = ev.sparkSession
    import spark.implicits._
    nodes.map(n => (n, r(n), trunc6d(r(n).toDouble / Q)))
      .toDF("node", "ppr_scaled", "ppr")
  }

  /** The bipartite user–merchant graph behind the co-occurrence
    * analytics: `props.$.k` is the merchant key (the reference's
    * transactions carry exactly such a metadata map — `main.go:16`,
    * `main.rs:13`). */
  private[graft] def userMerchant(ev: DataFrame) =
    ev.select(col("user_id"),
      get_json_object(col("props"), "$.k").cast("int").as("m"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      col("ts"))

  /** Bipartite degree audit — the pre-flight every graph pipeline runs
    * before projecting: per merchant the user fan-in, per user the
    * merchant fan-out, both with event count and cent volume. Two hash
    * aggregates over one scan, all measures integer (engine-exact).
    * The degree histogram this feeds decides the projection's hub
    * guard (see [[triangles]]' maxCell). */
  def bipartiteDegrees(ev: DataFrame): DataFrame = {
    val b = userMerchant(ev)
    val merchants = b.groupBy(col("m").cast("long").as("id"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_peers"),
        sum(col("cents")).as("cents"))
      .select(lit("merchant").as("role"), col("id"), col("n_events"),
        col("n_peers"), col("cents"))
    val users = b.groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("m")).as("n_peers"),
        sum(col("cents")).as("cents"))
      .select(lit("user").as("role"), col("id"), col("n_events"),
        col("n_peers"), col("cents"))
    merchants.unionByName(users)
  }

  /** Per-user triangle participation over the co-occurrence projection:
    * an edge links two users active at the SAME merchant in the SAME
    * hour; a triangle is three users pairwise so linked — the collusion
    * ring / coordinated-activity signal.
    *
    * Scale discipline, in order of importance at 100 TB:
    *  1. The projection generates candidate pairs per (merchant, hour)
    *     CELL, never per merchant — Σ|cell|²/2 work, the same bound
    *     sparse_sim puts on posting lists. Cells busier than `maxCell`
    *     users are dropped outright (hub guard: a stadium-sized cell is
    *     coordination noise, and one hot cell otherwise dominates the
    *     whole job).
    *  2. Edges are id-oriented (u1 < u2) and the wedge join pivots on
    *     the middle node, so each triangle is found exactly once
    *     (a<b<c) — no ×6 dedup pass. (The production refinement —
    *     degree-ordered orientation, which bounds wedge fan-out by the
    *     max LOW-degree endpoint — drops in here without changing the
    *     result; id order keeps the oracle SQL identical.)
    *  3. The edge list is persisted: three join arms consume it, and
    *     recomputing the projection per arm would triple the dominant
    *     cost. */
  /** The hub-guarded user co-occurrence edge list behind [[triangles]]
    * and [[fraudRings]]: u1 < u2 active at the same (merchant, hour)
    * cell, pairs generated per CELL (Σ|cell|²/2, bounded by maxCell). */
  private[graft] def coEdges(ev: DataFrame, maxCell: Long): DataFrame = {
    val um = userMerchant(ev)
      .select(col("user_id").as("u"), col("m"), date_trunc("hour", col("ts")).as("h"))
      .distinct()
    val cell = Window.partitionBy(col("m"), col("h"))
    val cells = um.withColumn("cell_n", count(lit(1)).over(cell))
      .filter(col("cell_n") <= maxCell)
    cells.as("a").join(cells.as("b"),
        col("a.m") === col("b.m") && col("a.h") === col("b.h") && col("a.u") < col("b.u"))
      .select(col("a.u").as("u1"), col("b.u").as("u2"))
      .distinct()
  }

  def triangles(ev: DataFrame, maxCell: Long = 64L): DataFrame = Scope { s =>
    val e = s.persist(coEdges(ev, maxCell))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.u2") === col("e2.u1"))
      .join(e.as("e3"), col("e3.u1") === col("e1.u1") && col("e3.u2") === col("e2.u2"))
      .select(col("e1.u1").as("a"), col("e1.u2").as("b"), col("e2.u2").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint(true) // ≤ |users| rows; releases the edge cache
  }

  /** Local clustering coefficient per node — how clique-ish each
    * user's co-occurrence neighborhood is: 2·T(v) / (deg(v)·(deg(v)−1))
    * where T(v) counts triangles through v. The per-node normalized
    * sibling of [[triangles]] (raw counts) and the standard "is this
    * a ring or a hub?" discriminator: a fraud ring's members close
    * near 1.0, a popular merchant's coincidental co-shoppers near 0.
    *
    * Machinery reuse: the SAME df-capped [[coEdges]] projection feeds
    * the degree count (one hash-agg over both edge orientations) and
    * [[triangles]]' two-hop closure join; nodes with deg < 2 are
    * excluded (coefficient undefined). Work is bounded by the
    * triangle join's Σ deg² like [[triangles]] — the maxCell cap is
    * the scale guard. Zero-triangle nodes keep coef 0 via the left
    * join, NOT dropped — absence of closure is the signal. */
  def clusteringCoef(ev: DataFrame, maxCell: Long = 64L): DataFrame = Scope { s =>
    val e = s.persist(coEdges(ev, maxCell)) // feeds degree AND closure
    val deg = e.select(col("u1").as("user_id"))
      .unionAll(e.select(col("u2").as("user_id")))
      .groupBy(col("user_id")).agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.u2") === col("e2.u1"))
      .join(e.as("e3"), col("e3.u1") === col("e1.u1") && col("e3.u2") === col("e2.u2"))
      .select(explode(array(col("e1.u1"), col("e1.u2"), col("e2.u2"))).as("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("user_id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .filter(col("deg") >= 2L)
      .withColumn("coef", graft.functions.Portable.trunc4(
        col("n_tri") * lit(2.0) /
          (col("deg").cast("decimal(38,0)") * (col("deg") - lit(1L))).cast("double")))
      .localCheckpoint(true) // one row per qualifying node
  }

  /** Fraud rings: connected components over the co-occurrence
    * projection — who is transitively linked to whom through shared
    * (merchant, hour) activity. [[triangles]] scores LOCAL density
    * (how clique-ish a user's neighborhood is); this finds the GLOBAL
    * groups, the case-building view an investigator pivots to after a
    * triangle alert.
    *
    * Machinery reuse: the ring closure IS [[Dedup.components]]'
    * min-label propagation with pointer jumping — the same distributed
    * connected-components operator serving the MinHash/SimHash dedup
    * clusters, applied to a different domain's edge list (one
    * implementation, one convergence guarantee, one oracle pattern). */
  def fraudRings(ev: DataFrame, maxCell: Long = 64L): DataFrame =
    Dedup.components(coEdges(ev, maxCell)
        .select(col("u1").as("a_id"), col("u2").as("b_id")))
      .select(col("doc_id").as("user_id"), col("cluster_id").as("ring_id"))

  /** Merchant–merchant similarity: Jaccard of user sets over the
    * bipartite projection — "these two merchants serve the same
    * crowd", the collusion/mirror-merchant signal next to
    * [[triangles]]' user-side rings.
    *
    * Scale discipline: candidate pairs come from per-USER merchant
    * pairs, so the work is Σ fan²/2 — bounded by the `maxFan` hub
    * guard (a user active everywhere contributes quadratic pairs and
    * no similarity signal; same rationale as [[triangles]]' maxCell).
    * Degrees are computed over the SAME guarded graph, so the Jaccard
    * is exact on what was paired. The division is the only double —
    * exact integers in, identical membership at the threshold in both
    * engines. */
  def merchantJaccard(ev: DataFrame, maxFan: Long = 80L,
      minJaccard: Double = 0.45): DataFrame = Scope { s =>
    val um = userMerchant(ev).filter(col("m").isNotNull)
      .select(col("user_id"), col("m")).distinct()
    // feeds the degree agg and both pair-join arms
    val g = s.persist(um
      .withColumn("fan", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("fan") <= maxFan)
      .select(col("user_id"), col("m")))
    val deg = g.groupBy(col("m")).agg(count(lit(1)).as("d"))
    val inter = g.as("a").join(g.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.m") < col("b.m"))
      .groupBy(col("a.m").as("m1"), col("b.m").as("m2"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter") / (col("d1") + col("d2") - col("inter"))
    inter
      .join(deg.select(col("m").as("m1"), col("d").as("d1")), "m1")
      .join(deg.select(col("m").as("m2"), col("d").as("d2")), "m2")
      .filter(jac >= minJaccard)
      .select(col("m1").cast("long").as("m1"), col("m2").cast("long").as("m2"),
        col("inter"), col("d1"), col("d2"),
        graft.functions.Portable.trunc4(jac).as("jaccard"))
      .localCheckpoint(true) // thresholded pairs; releases the g cache
  }

  /** Maximum-strength spanning forest of the merchant co-visit graph
    * via distributed Borůvka — the backbone-extraction operator every
    * relational graph stack ships (MST/MSF is THE textbook
    * MapReduce-graph algorithm next to connected components, which
    * [[fraudRings]] already covers): per round, every component picks
    * its strongest incident cross edge (weight = distinct co-visiting
    * users; ties broken (w desc, m1, m2) — a strict total order, so
    * the forest is UNIQUE and both engines replay it bit-for-bit),
    * the picked edges enter the forest, and touched components merge.
    * The result is the ≤ V−1-edge skeleton an investigator lays over
    * [[merchantJaccard]]'s thresholded pair soup: every merchant
    * cluster connected through its strongest links only.
    *
    * Two-regime scale shape ([[pageRank]]'s discipline): the heavy
    * distributed part is the edge derivation — the SAME maxFan-guarded
    * per-user pair join as [[merchantJaccard]] (Σ fan²/2 work, one
    * hash-agg) — while the Borůvka loop runs over the aggregated
    * ≤ |merchants|² edge relation (merchants are a bounded dimension
    * here, nation/region-style). The loop itself is written
    * scale-generic all the same: labels and forest are node-sized
    * relations, each round is two hash joins + one argmax window + a
    * pointer-jumping contraction (2-cycle break at the smaller label,
    * then `jumps` label-halving self-joins — sound because a
    * strict-total-order best-edge functional graph has only 2-cycles,
    * the classic Borůvka argument), and nothing reaches the driver
    * but a per-round emptiness probe on the cross-edge relation
    * ([[kcore]]'s convergence idiom, with the same explicit guard).
    * Components at least halve per round, so `rounds` = ⌈log₂ V⌉. */
  /** The maxFan-guarded merchant co-visit edge relation (m1 < m2,
    * w = distinct co-visiting users) — [[merchantJaccard]]'s candidate
    * derivation without the Jaccard threshold; [[msf]]'s input and the
    * spec's independent recompute handle. */
  private[graft] def covisitEdges(ev: DataFrame, maxFan: Long = 80L): DataFrame = {
    val um = userMerchant(ev).filter(col("m").isNotNull)
      .select(col("user_id"), col("m")).distinct()
    val g = um
      .withColumn("fan", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("fan") <= maxFan)
      .select(col("user_id"), col("m"))
    g.as("a").join(g.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.m") < col("b.m"))
      .groupBy(col("a.m").as("m1"), col("b.m").as("m2"))
      .agg(count(lit(1)).as("w"))
  }

  /** Materialize a tiny loop-carried relation AND reset its estimated
    * statistics. Spark 4's eager `localCheckpoint` computes the source
    * plan's stats and attaches them to the new leaf; a self-join
    * (pointer jumping is nothing but self-joins) therefore SQUARES the
    * inherited `sizeInBytes` BigInt each step — its bit length doubles
    * per jump and by round 2 the driver is doing 10⁶-bit Toom-Cook
    * multiplications inside the stats visitor (measured: 0.2 s → 105 s
    * per 8-ROW join over two rounds, jstack'd to
    * `SizeInBytesOnlyStatsPlanVisitor.visitJoin`). Rebuilding the
    * DataFrame from the checkpointed RDD drops the poisoned estimate —
    * the leaf reverts to `defaultSizeInBytes`, so every join stays a
    * ≤ 190-bit product regardless of loop depth. */
  private def rebase(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  def msf(ev: DataFrame, maxFan: Long = 80L, rounds: Int = 7,
      jumps: Int = 7): DataFrame = {
    val edges = rebase(covisitEdges(ev, maxFan)) // ≤ |merchants|² rows; consumed every round
    var lbl = rebase(edges.select(col("m1").as("node"))
      .unionByName(edges.select(col("m2").as("node"))).distinct()
      .select(col("node"), col("node").as("lbl")))
    var forest: DataFrame = null
    var r = 0
    var done = false
    def crossEdges() = edges
      .join(lbl.select(col("node").as("m1"), col("lbl").as("la")), "m1")
      .join(lbl.select(col("node").as("m2"), col("lbl").as("lb")), "m2")
      .filter(col("la") =!= col("lb"))
    while (r < rounds && !done) {
      val ce = rebase(crossEdges())
      if (ce.isEmpty) done = true
      else {
        val inc = ce.select(col("la").as("c"), col("m1"), col("m2"), col("w"),
            col("lb").as("oth"))
          .unionByName(ce.select(col("lb").as("c"), col("m1"), col("m2"),
            col("w"), col("la").as("oth")))
        val byBest = Window.partitionBy(col("c"))
          .orderBy(col("w").desc, col("m1"), col("m2"))
        val best = rebase(inc.withColumn("rn", row_number().over(byBest))
          .filter(col("rn") === 1)
          .select(col("c"), col("m1"), col("m2"), col("w"), col("oth"))) // one row per component
        val newEdges = best.select(col("m1"), col("m2"), col("w")).distinct()
          .withColumn("round", lit((r + 1).toLong))
        forest = rebase(
          if (forest == null) newEdges else forest.unionByName(newEdges))
        // contraction: parent = best neighbour's label (self for
        // componentless), 2-cycle break at the smaller label, then
        // pointer jumping — p := p∘p, `jumps` times (depth ≤ 2^jumps)
        var p = rebase(lbl.select(col("lbl").as("c")).distinct()
          .join(best.select(col("c"), col("oth")), Seq("c"), "left")
          .select(col("c"), coalesce(col("oth"), col("c")).as("p")))
        val p2 = p.select(col("c").as("jc"), col("p").as("jp"))
        p = rebase(p.join(p2, col("p") === col("jc"))
          .select(col("c"),
            when(col("jp") === col("c"), least(col("c"), col("p")))
              .otherwise(col("p")).as("p")))
        // parent-tree depth ≤ #components, so ⌈log₂ nc⌉ (+1 slack)
        // label-halving hops reach every root; the oracle's fixed
        // unroll runs more — extra hops past the fixpoint are no-ops,
        // so both engines land on identical roots
        // (r11 A/B note: composing hops between rebases — rebase every
        // 2nd hop — was measured SLOWER at sf0.1 (min-of-3 5.31 s vs
        // 4.78 s): the self-join composition computes the previous hop
        // twice and doubles its exchanges, costing more than the saved
        // materializations. Kept per-hop rebase deliberately.)
        val nc = p.count()
        val needed = math.min(jumps,
          64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nc - 1)) + 1)
        for (_ <- 0 until needed.toInt) {
          val hop = p.select(col("c").as("jc"), col("p").as("jp"))
          p = rebase(p.join(hop, p("p") === col("jc"))
            .select(col("c"), col("jp").as("p")))
        }
        lbl = rebase(lbl.join(p.withColumnRenamed("c", "lbl"), "lbl")
          .select(col("node"), col("p").as("lbl")))
        r += 1
      }
    }
    require(done || crossEdges().isEmpty,
      s"Borůvka not converged after $rounds rounds — raise `rounds`")
    forest.select(col("m1").cast("long").as("m1"),
      col("m2").cast("long").as("m2"), col("w"), col("round"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") over the [[covisitEdges]] merchant graph —
    * the LOGARITHMIC-round CC next to
    * [[graft.operators.Dedup.components]]' min-label propagation:
    * propagation needs component-DIAMETER rounds (fine for tiny
    * near-dup clusters, fatal for a 100 TB graph with a long chain),
    * while star contraction halves tree heights every round and
    * converges in O(log² n) rounds regardless of diameter. Each round
    * is two hash-agg + join passes over the edge set — no per-node
    * frontier, no weights, nothing but groupBy-min and equi-joins:
    *
    *  - large-star: every node links its LARGER neighbours to the
    *    minimum of its closed neighbourhood (processed from both
    *    endpoints via the symmetric adjacency);
    *  - small-star: every node links its smaller-or-equal
    *    neighbourhood (and itself) to that neighbourhood's minimum.
    *
    * Both emit edges oriented (hi, lo), so the edge set stays
    * canonical and the fixpoint test is a set comparison. At the
    * fixpoint the edges form stars centred on each component's
    * MINIMUM id — checked by a `require` (every non-root appears in
    * exactly one edge), so the emitted labelling is the canonical
    * (node → component-min) map and the oracle is a converged
    * recursive-CTE truth, independent of the algorithm's round
    * structure. Loop-carried relations go through [[rebase]] (the
    * checkpoint-stats lesson — star contraction is self-join-shaped).
    *
    * Scale: edge relation ≤ |merchants|² rows after the [[msf]] hub
    * guard; every pass is map-side-combinable groupBy-min plus an
    * equi-join on the grouping key — the round count is the log² law,
    * so 10× data costs one-ish extra round, not 10× rounds. */
  def ccLsls(ev: DataFrame, maxFan: Long = 80L, rounds: Int = 12): DataFrame = {
    val (edges, _) = lslsContract(rebase(covisitEdges(ev, maxFan)
      .select(col("m2").as("hi"), col("m1").as("lo"))), rounds) // covisit is m1 < m2
    // fixpoint ⇒ stars: every non-root node appears as `hi` exactly once
    require(edges.groupBy(col("hi")).agg(count(lit(1)).as("d"))
      .filter(col("d") > 1L).isEmpty, "fixpoint edge set is not a star forest")
    val lbl = edges.select(col("hi").as("node"), col("lo").as("cc_id"))
      .unionByName(edges.select(col("lo").as("node"), col("lo").as("cc_id"))
        .distinct())
    lbl.withColumn("cc_size", count(lit(1)).over(Window.partitionBy(col("cc_id"))))
      .select(col("node").cast("long").as("m"), col("cc_id").cast("long").as("cc_id"),
        col("cc_size"))
  }

  /** The alternating-star loop of [[ccLsls]], exposed so the spec can
    * pin its ROUND COUNT (the whole point of the algorithm) on a
    * hand-built long chain: returns the fixpoint (hi, lo) edge set and
    * the rounds it took. */
  private[graft] def lslsContract(e0: DataFrame, rounds: Int): (DataFrame, Int) = {
    def sym(e: DataFrame) =
      e.select(col("hi").as("src"), col("lo").as("dst"))
        .unionByName(e.select(col("lo").as("src"), col("hi").as("dst")))
    // NO trailing distinct (guide §2.4): its (hi, lo) exchange is
    // redundant for the only consumer — smallStar's groupBy-min is
    // duplicate-insensitive and the merged pass below re-distincts —
    // so the dedup cost is paid once per round instead of twice
    def largeStar(e: DataFrame): DataFrame = {
      val adj = sym(e)
      val mins = adj.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      adj.join(mins, "src").filter(col("dst") > col("src"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("hi"), col("m").as("lo"))
    }
    // edges arrive (hi, lo): group the strictly-smaller neighbourhood
    // by its hi endpoint; min is over Γ⁻(u) ∪ {u}, and lo < hi always.
    // May emit duplicate (hi, lo) rows — the merged pass distincts.
    def smallStarRaw(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("mn"))
      e.join(mins, "hi").filter(col("lo") =!= col("mn"))
        .select(col("lo").as("hi"), col("mn").as("lo"))
        .unionByName(mins.select(col("hi"), col("mn").as("lo")))
    }
    var edges = e0
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // ONE (hi, lo)-keyed exchange does the work of three (guide §2.4:
      // operations keyed the same way share one exchange): smallStar's
      // pair-distinct, and BOTH sides of the set-equality fixpoint test.
      // Tag each side and max-merge presence flags per pair — `next` is
      // the nw=1 slice (distinct by construction), and convergence ⟺ no
      // pair sits on exactly one side. Presence flags (max, not count)
      // also make the test duplicate-PROOF on either input, closing the
      // r11 advice caveat about non-distinct e0. The post-checkpoint
      // isEmpty probe is a shuffle-free scan with early exit, where the
      // old test re-shuffled next ∪ edges every round.
      val merged = rebase(
        smallStarRaw(largeStar(edges))
          .select(col("hi"), col("lo"), lit(1).as("nw"), lit(0).as("od"))
          .unionByName(edges.select(col("hi"), col("lo"),
            lit(0).as("nw"), lit(1).as("od")))
          .groupBy(col("hi"), col("lo"))
          .agg(max(col("nw")).as("nw"), max(col("od")).as("od")))
      done = merged.filter(col("nw") =!= col("od")).isEmpty
      edges = merged.filter(col("nw") === 1).select(col("hi"), col("lo"))
      r += 1
    }
    require(done, s"star contraction not converged after $rounds rounds")
    (edges, r)
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over the
    * merchant projection — [[merchantJaccard]]'s weighted sibling and
    * the classic "will these two connect" score: for merchant pairs
    * sharing users, AA = Σ_{u ∈ common} 1/ln(fan(u)), so a common
    * user who shops everywhere contributes almost nothing while a
    * selective one is strong evidence. Same hub-guarded graph as
    * jaccard (fan ≤ maxFan caps the Σ fan² pair work); per-user
    * weights floor to 1e6-scaled BIGINTs so pair scores are exact
    * integer sums (common users have fan ≥ 2, so ln > 0 always). */
  def adamicAdar(ev: DataFrame, maxFan: Long = 80L,
      minCommon: Long = 2L): DataFrame = Scope { s =>
    val um = userMerchant(ev).filter(col("m").isNotNull)
      .select(col("user_id"), col("m")).distinct()
    // feeds both pair-join arms
    val g = s.persist(um
      .withColumn("fan", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("fan") <= maxFan)
      .withColumn("w", when(col("fan") >= 2,
        floor(lit(1e6) / log(col("fan"))).cast("long")).otherwise(lit(0L)))
      .select(col("user_id"), col("m"), col("w")))
    g.as("a").join(g.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.m") < col("b.m"))
      .groupBy(col("a.m").as("m1"), col("b.m").as("m2"))
      .agg(count(lit(1)).as("n_common"), sum(col("a.w")).as("aa_scaled"))
      .filter(col("n_common") >= minCommon)
      .select(col("m1").cast("long").as("m1"), col("m2").cast("long").as("m2"),
        col("n_common"), col("aa_scaled"),
        graft.functions.Portable.trunc4(col("aa_scaled") / 1e6).as("aa_score"))
      .localCheckpoint(true) // thresholded pairs; releases the g cache
  }

  /** Deterministic negative-edge sampling — the other half of a
    * link-prediction training set ([[adamicAdar]] scores the
    * positives): `k` hash-picked candidate partners per merchant,
    * anti-joined against the true co-shopper edge set, labeled and
    * ready for a trainer. Scale is the point: the non-edge space is
    * Θ(|nodes|²) and must NEVER be materialized — candidates are
    * O(|nodes|·k) via an md5 pick from the rank-indexed node list
    * (ranked by the two-phase parallel [[ScaleOps.globalRank]],
    * never a one-task global window), and the anti-join runs on
    * candidate keys only. Dedup keeps one row per undirected pair;
    * self-picks drop.
    *
    * The rn→partner join carries NO forced broadcast: the node list is
    * data-dependent (merchant-sized, which at a 10⁹-node graph is still
    * 10⁹ rows), so the join strategy is left to the planner/AQE, which
    * broadcasts exactly when the relation actually fits. The only
    * forced broadcast is the 1-row count. */
  def negativeEdges(ev: DataFrame, k: Int = 5): DataFrame = Scope { s =>
    // feeds the node list AND the true edge set
    val um = s.persist(userMerchant(ev).filter(col("m").isNotNull)
      .select(col("user_id"), col("m").cast("long").as("m")).distinct())
    // the ranged relation is released as soon as the node list exists
    val nodes = Scope { r =>
      ScaleOps.globalRank(r, um.select(col("m")).distinct(), Seq(col("m")), posCol = "rn")
        .select(col("m"), col("rn"))
        .localCheckpoint(true) // collapsed merchant relation; read 2×
    }
    val nn = nodes.agg(count(lit(1)).as("nn"))
    val picks = nodes.select(col("m").as("m1"))
      .crossJoin(broadcast(nn))
      .select(col("m1"), explode(sequence(lit(1), lit(k))).as("i"), col("nn"))
      .withColumn("rn", pmod(graft.functions.TextHash.hash60(
        concat(col("m1").cast("string"), lit("#"), col("i").cast("string"))),
        col("nn")) + 1)
      .join(nodes.select(col("rn"), col("m").as("m2")), "rn")
      .filter(col("m1") =!= col("m2"))
      .select(least(col("m1"), col("m2")).as("m1"),
        greatest(col("m1"), col("m2")).as("m2"))
      .distinct()
    val edges = um.as("a").join(um.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.m") < col("b.m"))
      .select(col("a.m").as("m1"), col("b.m").as("m2")).distinct()
    picks.join(edges, Seq("m1", "m2"), "left_anti")
      .select(col("m1"), col("m2"), lit(0L).as("label"))
      .localCheckpoint(true) // ≤ |nodes|·k rows; releases the um cache
  }

  /** HITS hub/authority over the bipartite user–merchant graph: a
    * merchant's authority is the sum of its users' hub scores, a
    * user's hub score the sum of their merchants' authorities —
    * [[pageRank]]'s mutual-reinforcement sibling, and the score pair
    * an investigator reads differently ("this merchant attracts
    * high-fan-out users" vs "this user touches high-traffic
    * merchants").
    *
    * Engine-exact iteration: scores are integers scaled by S = 2^20
    * and every half-step renormalizes BY THE MAXIMUM (an integer
    * `x·S div max`, not the float L2 norm of the textbook — same
    * ranking, zero transcendentals), so partial-agg merge order
    * cannot move a bit and the oracle replays the recurrence. A
    * product never exceeds S·S·degree = 2^40·deg — overflow-safe
    * while any node's degree stays under 2^23.
    *
    * Scale: the edge list is the DISTINCT (user, merchant) relation —
    * one hash-agg over the log; each half-step is one equi-join +
    * hash-agg on that slim relation plus a 1-row broadcast max. */
  def hits(ev: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration (auth is undefined before the first half-step)")
    val e = userMerchant(ev).filter(col("m").isNotNull)
      .select(col("user_id").as("u"), col("m").cast("long").as("m"))
      .distinct()
      .localCheckpoint(true) // consumed 2× per iteration; cuts loop lineage
    var hub = e.select(col("u")).distinct().withColumn("h", lit(S))
    var auth: DataFrame = hub // placeholder; iters >= 1 always reassigns
    for (_ <- 0 until iters) {
      val a0 = e.join(hub, "u").groupBy(col("m")).agg(sum(col("h")).as("a0"))
      val am = a0.agg(max(col("a0")).as("am"))
      auth = a0.crossJoin(broadcast(am))
        .select(col("m"), expr(s"a0 * $S div am").as("a"))
        .localCheckpoint(true)
      val h0 = e.join(auth, "m").groupBy(col("u")).agg(sum(col("a")).as("h0"))
      val hm = h0.agg(max(col("h0")).as("hm"))
      hub = h0.crossJoin(broadcast(hm))
        .select(col("u"), expr(s"h0 * $S div hm").as("h"))
        .localCheckpoint(true)
    }
    hub.select(lit("user").as("role"), col("u").as("id"), col("h").as("score_scaled"))
      .unionByName(auth.select(lit("merchant").as("role"), col("m").as("id"),
        col("a").as("score_scaled")))
      .withColumn("score", graft.functions.Portable.trunc6(
        col("score_scaled").cast("double") / S))
  }

  /** Hop-bounded breadth-first search over the co-occurrence
    * projection: exact shortest hop count from a deterministic source
    * (the minimum user id in the edge set) to every user within
    * `maxHops` — the blast-radius query an investigator runs from a
    * confirmed-fraud account, and the traversal primitive behind
    * "within N hops of a flagged entity" feature columns.
    *
    * Frontier iteration, the scalable BFS shape: each round expands
    * ONLY the newly-discovered frontier (edges ⋈ frontier), removes
    * already-visited nodes with an anti-join against the distance
    * relation, and checkpoints both — so round h does O(frontier·avg
    * degree) join work, never O(visited), and total work is O(edges
    * within the hop ball), each round a pair of distributed hash
    * joins. The source is a 1-row aggregate joined into the seed, not
    * a collected literal, so the plan has no driver-side data action.
    * Visited/frontier stay partitioned on the node id across rounds.
    *
    * The oracle replays the same semantics as a DuckDB recursive CTE
    * (min(hop) under a hop bound): recursion's UNION-dedup collapses
    * same-length paths, and min-hop-per-node equals BFS's
    * first-discovery hop. */
  /** Sampled closeness centrality — the Eppstein–Wang estimator shape:
    * exact bounded-horizon closeness from K deterministic pivot
    * sources (the K smallest node ids; production uses a hash sample —
    * deterministic pivots keep the oracle exact), each the
    * (n_reached, Σ hops) of a [[bfs]] ball. Closeness from sampled
    * pivots is how centrality is computed at scale at all: exact
    * all-pairs closeness is Θ(|V|·|E|) and never runs on a 100 TB
    * graph, while K pivot BFS balls are K frontier iterations.
    *
    * Scale shape: ONE multi-source frontier loop keyed by (src, node)
    * — all K balls expand in the same per-hop join (edges ⋈ frontier,
    * anti-join visited, both checkpointed), so the work is K× one BFS,
    * not K sequential jobs. The division is the only float op. */
  /** The shared K-pivot bounded-horizon ball: (src, node, hops) for the
    * K smallest node ids, all K BFS frontiers expanding in ONE per-hop
    * join — the multi-source loop behind [[closeness]] and
    * [[harmonic]] (and, with σ accumulation added, [[betweenness]]). */
  private def pivotBalls(ev: DataFrame, k: Int, maxHops: Int,
      maxCell: Long): DataFrame = {
    val e0 = coEdges(ev, maxCell)
    val edges = e0.select(col("u1").as("s"), col("u2").as("d"))
      .unionByName(e0.select(col("u2").as("s"), col("u1").as("d")))
      .localCheckpoint(true) // consumed once per hop; cuts loop lineage
    val srcs = edges.select(col("s").as("src")).distinct()
      .orderBy(col("src")).limit(k) // TakeOrdered: K rows, no global sort
    var dist = srcs.select(col("src"), col("src").as("node"), lit(0L).as("hops"))
      .localCheckpoint(true)
    var frontier = dist.select(col("src"), col("node"))
    for (h <- 1 to maxHops) {
      val next = edges.join(frontier.withColumnRenamed("node", "s"), "s")
        .select(col("src"), col("d").as("node")).distinct()
        .join(dist.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(h.toLong).as("hops"))
        .localCheckpoint(true)
      dist = dist.unionByName(next).localCheckpoint(true)
      frontier = next.select(col("src"), col("node"))
    }
    dist
  }

  def closeness(ev: DataFrame, k: Int = 4, maxHops: Int = 4,
      maxCell: Long = 64L): DataFrame = {
    pivotBalls(ev, k, maxHops, maxCell).groupBy(col("src"))
      .agg((count(lit(1)) - 1).as("n_reached"), sum(col("hops")).as("sum_hops"))
      .select(col("src").as("src_id"), col("n_reached"), col("sum_hops"),
        (floor(col("n_reached").cast("double") / col("sum_hops") * 1000000) / 1000000)
          .as("closeness"))
  }

  /** Sampled harmonic centrality (Boldi & Vigna 2014's recommended
    * closeness repair): H(v) = Σ_pivots 1/d(pivot, v), accumulated at
    * every node the K pivot balls REACH — so unlike [[closeness]]
    * (which scores the pivots), this scores the whole reached corpus
    * from the same K-ball work, and a node two components away simply
    * contributes nothing instead of poisoning the mean (the reason
    * harmonic replaced raw closeness in web-graph practice: it is
    * finite and monotone on disconnected graphs, which a 100 TB
    * transaction graph always is).
    *
    * Integer discipline: each term is the ONE floor division
    * `SCALE div hops` (hops is a small constant ≤ maxHops, never
    * aggregate-scale), summed exactly in BIGINT; the oracle replays
    * `1000000 // hop`. Scale shape: identical to [[closeness]] — the
    * shared [[pivotBalls]] frontier loop plus one (node) hash-agg. */
  def harmonic(ev: DataFrame, k: Int = 4, maxHops: Int = 4,
      maxCell: Long = 64L): DataFrame =
    pivotBalls(ev, k, maxHops, maxCell)
      .filter(col("hops") >= 1) // a pivot never scores itself
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_pivots"),
        sum(expr(s"$BtwScale div hops")).as("h_scaled"))
      .select(col("node").as("user_id"), col("n_pivots"), col("h_scaled"),
        (col("h_scaled").cast("double") / lit(BtwScale)).as("harmonic"))

  /** Sampled eccentricity / effective diameter — the HyperANF question
    * ("how many hops until 90% of reachable pairs are covered?")
    * answered exactly from the K pivot balls: per pivot, its bounded
    * eccentricity (max hops reached) and p90 hop count (the smallest
    * h whose cumulative ball population covers ≥ 90% of everything
    * the pivot reaches — `cum·10 ≥ n·9` in exact integers, no
    * percentile float). The neighborhood-function shape every
    * web-graph paper reports, at K-pivot cost instead of all-pairs.
    *
    * Scale shape: the shared [[pivotBalls]] loop, one (src, hops)
    * hash-agg, and a K·maxHops-row window pass — the analysis rides
    * the same balls closeness/harmonic already paid for. */
  def effectiveDiameter(ev: DataFrame, k: Int = 4, maxHops: Int = 4,
      maxCell: Long = 64L): DataFrame = {
    val perHop = pivotBalls(ev, k, maxHops, maxCell)
      .filter(col("hops") >= 1)
      .groupBy(col("src"), col("hops")).agg(count(lit(1)).as("n_at"))
    val cum = perHop
      .withColumn("cum",
        sum(col("n_at")).over(Window.partitionBy(col("src")).orderBy(col("hops"))))
      .withColumn("n", sum(col("n_at")).over(Window.partitionBy(col("src"))))
    cum.groupBy(col("src"), col("n"))
      .agg(max(col("hops")).as("ecc"),
        min(when(col("cum") * 10L >= col("n") * 9L, col("hops"))).as("p90_hops"))
      .select(col("src").as("src_id"), col("n").as("n_reached"),
        col("ecc"), col("p90_hops"))
  }

  def bfs(ev: DataFrame, maxHops: Int = 4, maxCell: Long = 64L): DataFrame = {
    val e0 = coEdges(ev, maxCell)
    val edges = e0.select(col("u1").as("s"), col("u2").as("d"))
      .unionByName(e0.select(col("u2").as("s"), col("u1").as("d")))
      .localCheckpoint(true) // consumed once per hop; cuts loop lineage
    val src = edges.agg(min(col("s")).as("node"))
    var dist = src.select(col("node"), lit(0L).as("hops")).localCheckpoint(true)
    var frontier = dist.select(col("node"))
    for (h <- 1 to maxHops) {
      val next = edges.join(frontier.withColumnRenamed("node", "s"), "s")
        .select(col("d").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops"))
        .localCheckpoint(true)
      dist = dist.unionByName(next).localCheckpoint(true)
      frontier = next.select(col("node"))
    }
    dist.select(col("node").as("user_id"), col("hops"))
  }

  /** Label-propagation communities over the co-occurrence projection:
    * every node starts in its own community, then `rounds` SYNCHRONOUS
    * votes — each node adopts the most frequent label among its
    * neighbours, ties broken by the smaller label. Unlike
    * [[fraudRings]] (connected components = transitive reachability),
    * LPA respects edge DENSITY: a bridge between two dense cliques
    * does not merge them, so the output is the community structure a
    * ring-analyst actually wants next to the component id.
    *
    * Deterministic by construction (count-desc-then-min-label vote, no
    * RNG, synchronous rounds), so the oracle replays the identical
    * recurrence as unrolled SQL CTEs. Scale shape per round: one
    * edges ⋈ labels hash join (shuffles the edge relation on the
    * neighbour id), one (node, label) hash aggregate with map-side
    * combine, and the vote as a row_number window PARTITIONED BY node
    * — the aggregate's own hash partitioning on (s, lbl) does not
    * cover the window's, so AQE inserts one node-keyed exchange of the
    * collapsed (node, label, cnt) relation, never of raw edges. Each
    * round is checkpointed: flat plans, O(rounds · |E|) total work. */
  /** The LPA vote loop over a canonical (u1 < u2) edge relation →
    * (node, lbl). Shared by [[lpa]] and [[modularity]] so the
    * community assignment is ONE implementation. */
  private def lpaLabels(e0: DataFrame, rounds: Int): DataFrame = {
    val edges = e0.select(col("u1").as("s"), col("u2").as("d"))
      .unionByName(e0.select(col("u2").as("s"), col("u1").as("d")))
      .localCheckpoint(true) // consumed once per round; cuts loop lineage
    var lbl = edges.select(col("s").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint(true)
    val byVotes = Window.partitionBy(col("s"))
      .orderBy(col("cnt").desc, col("lbl"))
    for (_ <- 0 until rounds) {
      lbl = edges.join(lbl.select(col("node").as("d"), col("lbl")), "d")
        .groupBy(col("s"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(byVotes))
        .filter(col("rn") === 1)
        .select(col("s").as("node"), col("lbl"))
        .localCheckpoint(true)
    }
    lbl
  }

  def lpa(ev: DataFrame, rounds: Int = 3, maxCell: Long = 64L): DataFrame =
    lpaLabels(coEdges(ev, maxCell), rounds)
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("lbl"))))
      .select(col("node").as("user_id"), col("lbl").as("community"),
        col("community_size"))

  /** Newman modularity of the [[lpa]] communities — the quality score
    * that says whether the partition beats random chance: per
    * community, Q_c = e_in/m − (Σdeg / 2m)², summed over communities
    * by the reader. Reported per community (contribution, size,
    * internal edges, degree mass) so a monitoring pipeline can rank
    * WHICH community is cohesive, not just whether the whole
    * clustering is.
    *
    * Everything until the final two divisions is exact integers
    * (edge/degree counts from hash-aggs on the canonical u1<u2 edge
    * relation — each undirected edge counted once for m and e_in,
    * twice for degree mass); the Q math then runs the same IEEE
    * division/multiply sequence in both engines and is trunc6'd. The
    * edge relation persists across its three consumers (m, e_in,
    * degrees); labels come from [[lpaLabels]] — checkpointed per
    * round, O(rounds·|E|) like lpa itself. */
  def modularity(ev: DataFrame, rounds: Int = 3, maxCell: Long = 64L): DataFrame = Scope { s =>
    val e0 = s.persist(coEdges(ev, maxCell))
    val l = lpaLabels(e0, rounds) // eager (localCheckpoint) — small
    val mAgg = e0.agg(count(lit(1)).as("mm"))
    val ein = e0
      .join(l.select(col("node").as("u1"), col("lbl").as("la")), "u1")
      .join(l.select(col("node").as("u2"), col("lbl").as("lb")), "u2")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("e_in"))
    val degc = e0.select(col("u1").as("node")).unionAll(e0.select(col("u2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(l, "node")
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    degc.join(ein, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(mAgg))
      .select(col("community"), col("n_nodes"), col("e_in"), col("deg_sum"),
        graft.functions.Portable.trunc6(
          col("e_in") / col("mm") -
            (col("deg_sum") / (col("mm") * 2L)) * (col("deg_sum") / (col("mm") * 2L)))
          .as("q_contrib"))
      .localCheckpoint(true) // one row per community; releases the edges
  }

  /** k-core of the co-occurrence projection: the maximal subgraph in
    * which every node keeps at least `k` neighbours — the standard
    * "dense collusion nucleus" refinement of [[fraudRings]]' components
    * and the degeneracy bound behind [[triangles]]' cost estimate.
    *
    * Iterative peel: each round drops nodes whose CURRENT degree is
    * below k, then drops edges touching them; peeling is monotone and
    * idempotent, so a converged graph makes further rounds no-ops and
    * a bounded unroll is EXACT once converged — which the final guard
    * asserts (one driver-side emptiness probe on the k-row degree
    * relation; throws if round `rounds` would still peel, instead of
    * silently returning a superset of the core). The oracle replays
    * the same bounded peel as unrolled CTEs. Scale shape per round:
    * one hash aggregate (degree, map-side combined) + two hash
    * semi-style joins of edges against the shrinking keep-set — work
    * is O(|surviving edges|) and strictly decreasing; each round
    * checkpoints so the plan never deepens. */
  def kcore(ev: DataFrame, k: Int = 3, rounds: Int = 8,
      maxCell: Long = 64L): DataFrame = {
    val e0 = coEdges(ev, maxCell)
    var edges = e0.select(col("u1").as("s"), col("u2").as("d"))
      .unionByName(e0.select(col("u2").as("s"), col("u1").as("d")))
      .localCheckpoint(true)
    // early exit on a stable edge count: the peel is a deterministic
    // function of the edge set, so one no-op round proves the fixed
    // point and the remaining rounds are dead weight (the count rides
    // the just-checkpointed partitions — no recompute). The oracle's
    // fixed 8-round unroll computes the identical result because
    // peeling is idempotent past convergence.
    var n = edges.count()
    var stable = false
    var r = 0
    while (r < rounds && !stable) {
      val keep = edges.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("s"))
      edges = edges.join(keep, "s")
        .join(keep.withColumnRenamed("s", "d"), "d")
        .select(col("s"), col("d"))
        .localCheckpoint(true)
      val n2 = edges.count()
      stable = n2 == n
      n = n2
      r += 1
    }
    val deg = edges.groupBy(col("s")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    require(deg.filter(col("degree") < k).isEmpty,
      s"k-core peel not converged after $rounds rounds — raise `rounds`")
    deg.select(col("s").as("user_id"), col("degree"))
  }

  /** Degree assortativity of the co-occurrence graph (Newman 2002):
    * the Pearson correlation of endpoint degrees over all directed
    * edges — positive means hubs link hubs (social/collusive core),
    * negative means hubs link leaves (hub-and-spoke, the mule-herder
    * topology). The structural one-number summary beside
    * [[clusteringCoef]] (local density) and [[modularity]] (community
    * strength).
    *
    * Exactness: degrees and all five moment sums (Σx, Σy, Σxy, Σx²,
    * Σy²) are BIGINTs over the mirrored edge relation; r derives from
    * the mean-centered form (every division happens BEFORE any
    * cross-product) so the doubles stay small and both engines compute
    * the identical expression. Scale: degrees are one hash-agg over
    * the df-capped edges; the moment rollup is a 1-row aggregate. */
  def assortativity(ev: DataFrame, maxCell: Long = 64L): DataFrame = Scope { s =>
    val e0 = coEdges(ev, maxCell)
    // feeds the degree relation AND the moment join
    val e = s.persist(e0.select(col("u1").as("s"), col("u2").as("d"))
      .unionAll(e0.select(col("u2").as("s"), col("u1").as("d"))))
    val deg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val dec = (c: Column) => c.cast("decimal(38,0)") // degree products
    val m = e
      .join(deg.select(col("s"), col("deg").as("x")), "s")
      .join(deg.select(col("s").as("d"), col("deg").as("y")), "d")
      .agg(count(lit(1)).as("m"), countDistinct(col("s")).as("n_nodes"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * col("y")).cast("long").as("sxy"),
        sum(dec(col("x")) * col("x")).cast("long").as("sx2"),
        sum(dec(col("y")) * col("y")).cast("long").as("sy2"))
    val mx = col("sx") / col("m")
    val my = col("sy") / col("m")
    val num = col("sxy") / col("m") - mx * my
    val den = sqrt(col("sx2") / col("m") - mx * mx) * sqrt(col("sy2") / col("m") - my * my)
    m.select(col("m").as("m_edges"), col("n_nodes"),
        when(den > 0, graft.functions.Portable.trunc4(num / den)).as("r"))
      .localCheckpoint(true) // 1 row; releases the edge cache
  }

  /** Temporal graph churn: week-over-week Jaccard of the co-occurrence
    * EDGE SET — "is this the same social structure as last week, or
    * did the ring membership rotate?" A stable customer graph churns
    * slowly; coordinated-fraud infrastructure appears, burns, and
    * re-forms, so a sudden churn spike on an otherwise-stable graph is
    * the structural alarm none of the per-node scores
    * ([[clusteringCoef]], [[assortativity]]) can see.
    *
    * Per consecutive week pair: |E_w ∩ E_{w+1}| by an exact edge
    * equi-join, union by inclusion–exclusion, Jaccard as the one
    * final division. Edges per week come from the same hub-guarded
    * per-(merchant, hour) cell projection as [[coEdges]], week kept in
    * the pair key — Σ|cell|²/2 work, never per merchant. */
  def graphChurn(ev: DataFrame, maxCell: Long = 64L): DataFrame = Scope { s =>
    val um = userMerchant(ev)
      .select(col("user_id").as("u"), col("m"),
        date_trunc("hour", col("ts")).as("h"),
        (floor(unix_millis(col("ts")) / 604800000L) * 604800000L).as("week_ms"))
      .distinct()
    val cell = Window.partitionBy(col("m"), col("h"))
    val cells = um.withColumn("cell_n", count(lit(1)).over(cell))
      .filter(col("cell_n") <= maxCell)
    // feeds per-week sizes AND the consecutive-week join
    val edges = s.persist(cells.as("a").join(cells.as("b"),
        col("a.m") === col("b.m") && col("a.h") === col("b.h") && col("a.u") < col("b.u"))
      .select(col("a.week_ms").as("week_ms"), col("a.u").as("u1"), col("b.u").as("u2"))
      .distinct())
    val sizes = edges.groupBy(col("week_ms")).agg(count(lit(1)).as("n_edges"))
    val inter = edges.as("w0").join(edges.as("w1"),
        col("w0.u1") === col("w1.u1") && col("w0.u2") === col("w1.u2") &&
          col("w1.week_ms") === col("w0.week_ms") + 604800000L)
      .groupBy(col("w0.week_ms").as("week_ms")).agg(count(lit(1)).as("n_shared"))
    sizes.as("s0")
      .join(sizes.select(col("week_ms").as("next_ms"), col("n_edges").as("n_next")),
        col("next_ms") === col("week_ms") + 604800000L)
      .join(inter, Seq("week_ms"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("week_ms"), col("n_edges"), col("n_next"), col("n_shared"),
        graft.functions.Portable.trunc4(col("n_shared") /
          (col("n_edges") + col("n_next") - col("n_shared"))).as("edge_jaccard"))
      .localCheckpoint(true) // |weeks| rows; releases the edge cache
  }

  /** Delta scale for [[betweenness]]: dependencies live in [0, ∞) as
    * integers counting millionths. */
  val BtwScale: Long = 1000000L

  /** Sampled betweenness centrality — the Brandes (2001) dependency
    * accumulation from K deterministic pivot sources over the same
    * bounded-horizon balls as [[closeness]]: forward, all K BFS
    * frontiers expand in ONE multi-source loop keyed (src, node) that
    * also accumulates σ (the shortest-path COUNT: σ(v) at hop h is the
    * sum of σ over v's hop-(h−1) predecessors); backward, dependencies
    * flow level by level from the horizon toward each pivot,
    * δ(v) = Σ_{w child of v} σ(v)·(1 + δ(w))/σ(w), and a node's score
    * is Σ over pivots of δ — the fraction of pivot-rooted shortest
    * paths that pass THROUGH the node. Exact all-pairs betweenness is
    * Θ(|V|·|E|) and never runs on a 100 TB graph; K pivots × bounded
    * horizon is how it ships (Brandes–Pich sampling), and both loops
    * here are K-way data-parallel joins, never per-source jobs.
    *
    * Integer discipline: σ is an exact BIGINT count; δ is scaled by
    * [[BtwScale]] and every per-child term takes ONE floor division
    * `σ_v·(SCALE+δ_w) div σ_w` — the product rides DECIMAL(38,0) (the
    * abCuped widening rule: σ and δ are both aggregate-scale, and the
    * oracle's HUGEINT replays the identical floor), so partial-agg
    * merge order cannot move a bit. σ_w ≥ σ_v for any predecessor v,
    * so a term never exceeds SCALE+δ_w and δ stays ≤ SCALE·|ball| —
    * Long-safe at any corpus the horizon admits. The final `bc` is the
    * one double division of the same integer in both engines.
    *
    * Scale shape: forward = [[closeness]]'s frontier loop plus one
    * map-side-combined σ hash-agg per hop; backward = `maxHops−1`
    * rounds, each one edges ⋈ level join + one (src, node) hash-agg
    * over the CURRENT level only — O(edges within the hop balls) total,
    * every round checkpointed so the plan never deepens. */
  def betweenness(ev: DataFrame, k: Int = 4, maxHops: Int = 4,
      maxCell: Long = 64L): DataFrame = {
    val e0 = coEdges(ev, maxCell)
    val edges = e0.select(col("u1").as("s"), col("u2").as("d"))
      .unionByName(e0.select(col("u2").as("s"), col("u1").as("d")))
      .localCheckpoint(true) // consumed once per hop, forward AND back
    val srcs = edges.select(col("s").as("src")).distinct()
      .orderBy(col("src")).limit(k) // TakeOrdered: K rows, no global sort
    var lvl = srcs.select(col("src"), col("src").as("node"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    var seen = lvl.select(col("src"), col("node"))
    val levels = scala.collection.mutable.ArrayBuffer(lvl)
    for (_ <- 1 to maxHops) {
      // predecessor σ flows along edges into the not-yet-seen ring;
      // the anti-join BEFORE the σ-sum keeps non-shortest back-edges out
      val next = edges.join(lvl.withColumnRenamed("node", "s"), "s")
        .select(col("src"), col("d").as("node"), col("sigma"))
        .join(seen, Seq("src", "node"), "left_anti")
        .groupBy(col("src"), col("node")).agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint(true)
      seen = seen.unionByName(next.select(col("src"), col("node")))
        .localCheckpoint(true)
      levels += next
      lvl = next
    }
    // backward: horizon nodes carry δ = 0; each inner level's δ sums
    // one floor-divided term per (v, child-at-hop+1) edge
    var del = levels(maxHops).withColumn("delta", lit(0L)).localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer(del)
    for (h <- (maxHops - 1) to 1 by -1) {
      val cur = levels(h)
      val terms = edges
        .join(cur.withColumnRenamed("node", "s").withColumnRenamed("sigma", "sigma_v"), "s")
        .join(del.select(col("src"), col("node").as("d"),
          col("sigma").as("sigma_w"), col("delta").as("delta_w")), Seq("src", "d"))
        .select(col("src"), col("s").as("node"),
          expr(s"cast(sigma_v as decimal(38,0)) * ($BtwScale + delta_w) div sigma_w")
            .as("term"))
      del = cur.join(
          terms.groupBy(col("src"), col("node")).agg(sum(col("term")).as("delta")),
          Seq("src", "node"), "left")
        .select(col("src"), col("node"), col("sigma"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint(true)
      acc += del
    }
    acc.reduce(_ unionByName _) // hop ≥ 1 only: a pivot never scores itself
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_pivots"), sum(col("delta")).as("bc_scaled"))
      .select(col("node").as("user_id"), col("n_pivots"), col("bc_scaled"),
        (col("bc_scaled").cast("double") / lit(BtwScale)).as("bc"))
  }

  // ---- driver wiring ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_betweenness" -> ((s, d) => betweenness(Tables.events(s, d))),
    "q_graph_harmonic" -> ((s, d) => harmonic(Tables.events(s, d))),
    "q_graph_diameter" -> ((s, d) => effectiveDiameter(Tables.events(s, d))),
    "q_graph_churn" -> ((s, d) => graphChurn(Tables.events(s, d))),
    "q_graph_assortativity" -> ((s, d) => assortativity(Tables.events(s, d))),
    "q_graph_bfs" -> ((s, d) => bfs(Tables.events(s, d))),
    "q_graph_closeness" -> ((s, d) => closeness(Tables.events(s, d))),
    "q_graph_hits" -> ((s, d) => hits(Tables.events(s, d))),
    "q_graph_pagerank" -> ((s, d) => pageRank(Tables.events(s, d))),
    "q_graph_ppr" -> ((s, d) => personalizedPageRank(Tables.events(s, d))),
    "q_graph_degree" -> ((s, d) => bipartiteDegrees(Tables.events(s, d))),
    "q_graph_jaccard" -> ((s, d) => merchantJaccard(Tables.events(s, d))),
    "q_graph_adamic_adar" -> ((s, d) => adamicAdar(Tables.events(s, d))),
    "q_graph_negative_edges" -> ((s, d) => negativeEdges(Tables.events(s, d))),
    "q_fraud_rings" -> ((s, d) => fraudRings(Tables.events(s, d))),
    "q_graph_lpa" -> ((s, d) => lpa(Tables.events(s, d))),
    "q_graph_msf" -> ((s, d) => msf(Tables.events(s, d))),
    "q_graph_cc" -> ((s, d) => ccLsls(Tables.events(s, d))),
    "q_graph_kcore" -> ((s, d) => kcore(Tables.events(s, d))),
    "q_graph_triangles" -> ((s, d) => triangles(Tables.events(s, d))),
    "q_graph_clustcoef" -> ((s, d) => clusteringCoef(Tables.events(s, d))),
    "q_graph_modularity" -> ((s, d) => modularity(Tables.events(s, d))))

  /** The symmetrized co-occurrence edge relation, as SQL (shared by the
    * lpa / kcore oracles; same projection the bfs / rings oracles
    * inline). */
  private val coEdgeCte =
    "um AS (SELECT DISTINCT user_id AS u, " +
      "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
      "date_trunc('hour', ts) AS h FROM events), " +
      "cells AS (SELECT u, m, h FROM (SELECT u, m, h, " +
      "count(*) OVER (PARTITION BY m, h) AS cell_n FROM um) t WHERE cell_n <= 64), " +
      "ep AS (SELECT DISTINCT a.u AS u1, b.u AS u2 FROM cells a " +
      "JOIN cells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
      "edges AS (SELECT u1 AS s, u2 AS d FROM ep UNION SELECT u2, u1 FROM ep)"

  /** One synchronous LPA vote unrolled as SQL CTEs (l(i-1) → l(i)). */
  private def lpaIterSql(i: Int): String =
    s"c$i AS (SELECT e.s, l.lbl, count(*) AS cnt FROM edges e " +
      s"JOIN l${i - 1} l ON l.node = e.d GROUP BY 1, 2), " +
      s"l$i AS (SELECT s AS node, lbl FROM (SELECT s, lbl, row_number() OVER " +
      s"(PARTITION BY s ORDER BY cnt DESC, lbl) AS rn FROM c$i) t WHERE rn = 1)"

  /** One k-core peel round unrolled as SQL CTEs (e(i-1) → e(i)).
    * MATERIALIZED is load-bearing: e(i) references e(i-1) three times
    * (directly + through both k(i) joins), so DuckDB's default CTE
    * inlining would expand the 8-round unroll into 3^8 scans of the
    * base table and exhaust file handles. */
  private def kcoreIterSql(i: Int, k: Int): String =
    s"k$i AS MATERIALIZED (SELECT s FROM (SELECT s, count(*) AS deg FROM e${i - 1} " +
      s"GROUP BY 1) t WHERE deg >= $k), " +
      s"e$i AS MATERIALIZED (SELECT e.s, e.d FROM e${i - 1} e " +
      s"JOIN k$i a ON e.s = a.s JOIN k$i b ON e.d = b.s)"

  /** One Borůvka round unrolled as SQL CTEs (msf_l(i−1) → msf_new(i),
    * msf_l(i)): cross edges under current labels → per-component
    * argmax pick → forest rows → contraction (parent, 2-cycle break,
    * `jumps` pointer-jump self-joins). MATERIALIZED throughout — every
    * relation is referenced at least twice (the [[kcoreIterSql]]
    * lesson: default CTE inlining would expand the jump chain
    * exponentially). Rounds past convergence are empty no-ops, so the
    * fixed unroll equals the Spark loop's early exit. */
  private def msfIterSql(i: Int, jumps: Int): String = {
    val ce = s"msf_ce$i AS MATERIALIZED (SELECT e.m1, e.m2, e.w, x.lbl AS la, " +
      s"y.lbl AS lb FROM msf_e e JOIN msf_l${i - 1} x ON x.node = e.m1 " +
      s"JOIN msf_l${i - 1} y ON y.node = e.m2 WHERE x.lbl <> y.lbl)"
    val inc = s"msf_inc$i AS MATERIALIZED (SELECT la AS c, m1, m2, w, lb AS oth " +
      s"FROM msf_ce$i UNION ALL SELECT lb, m1, m2, w, la FROM msf_ce$i)"
    val best = s"msf_best$i AS MATERIALIZED (SELECT c, m1, m2, w, oth FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY c ORDER BY w DESC, m1, m2) rn " +
      s"FROM msf_inc$i) WHERE rn = 1)"
    val nw = s"msf_new$i AS MATERIALIZED (SELECT DISTINCT m1, m2, w, " +
      s"$i::BIGINT AS round FROM msf_best$i)"
    val p0 = s"msf_p${i}_0 AS MATERIALIZED (SELECT l.c, coalesce(b.oth, l.c) AS p " +
      s"FROM (SELECT DISTINCT lbl AS c FROM msf_l${i - 1}) l " +
      s"LEFT JOIN msf_best$i b ON b.c = l.c)"
    val p1 = s"msf_p${i}_1 AS MATERIALIZED (SELECT a.c, " +
      "CASE WHEN b.p = a.c THEN least(a.c, a.p) ELSE a.p END AS p " +
      s"FROM msf_p${i}_0 a JOIN msf_p${i}_0 b ON a.p = b.c)"
    val js = (2 to jumps + 1).map(j =>
      s"msf_p${i}_$j AS MATERIALIZED (SELECT a.c, b.p FROM msf_p${i}_${j - 1} a " +
        s"JOIN msf_p${i}_${j - 1} b ON a.p = b.c)").mkString(", ")
    val l = s"msf_l$i AS MATERIALIZED (SELECT l.node, p.p AS lbl FROM msf_l${i - 1} l " +
      s"JOIN msf_p${i}_${jumps + 1} p ON p.c = l.lbl)"
    Seq(ce, inc, best, nw, p0, p1, js, l).mkString(", ")
  }

  /** The full [[msf]] oracle: the jaccard edge CTEs, label seed, 7
    * unrolled Borůvka rounds, forest union. */
  private def msfOracle(rounds: Int = 7, jumps: Int = 7): String =
    "WITH b AS (SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS m " +
      "FROM events), " +
      "um AS (SELECT DISTINCT user_id, m FROM b WHERE m IS NOT NULL), " +
      "f AS (SELECT user_id, m, count(*) OVER (PARTITION BY user_id) AS fan FROM um), " +
      "g AS (SELECT user_id, m FROM f WHERE fan <= 80), " +
      "msf_e AS MATERIALIZED (SELECT a.m AS m1, b.m AS m2, count(*)::BIGINT AS w " +
      "FROM g a JOIN g b ON a.user_id = b.user_id AND a.m < b.m GROUP BY 1, 2), " +
      "msf_l0 AS MATERIALIZED (SELECT m AS node, m AS lbl FROM " +
      "(SELECT m1 AS m FROM msf_e UNION SELECT m2 FROM msf_e)), " +
      (1 to rounds).map(i => msfIterSql(i, jumps)).mkString(", ") + " " +
      "SELECT m1::BIGINT AS m1, m2::BIGINT AS m2, w, round FROM (" +
      (1 to rounds).map(i => s"SELECT * FROM msf_new$i").mkString(" UNION ALL ") + ")"

  /** One HITS iteration unrolled as SQL CTEs (hb(i-1) → au(i), hb(i)). */
  private def hitsIterSql(i: Int): String =
    s"a$i AS (SELECT m, sum(h)::BIGINT AS a0 FROM b JOIN hb${i - 1} USING (u) GROUP BY 1), " +
      s"am$i AS (SELECT max(a0) AS am FROM a$i), " +
      s"au$i AS (SELECT m, a0 * $S // am AS a FROM a$i CROSS JOIN am$i), " +
      s"hh$i AS (SELECT u, sum(a)::BIGINT AS h0 FROM b JOIN au$i USING (m) GROUP BY 1), " +
      s"hm$i AS (SELECT max(h0) AS hm FROM hh$i), " +
      s"hb$i AS (SELECT u, h0 * $S // hm AS h FROM hh$i CROSS JOIN hm$i)"

  /** The identical recurrence unrolled as SQL CTEs (r0 → r3). */
  private def iterSql(i: Int): String =
    s"contrib$i AS (SELECT e.dst, sum(r.r * e.sh // $S)::BIGINT c " +
      s"FROM ew e JOIN r$i r ON r.node = e.src GROUP BY 1), " +
      s"r${i + 1} AS (SELECT n.node, " +
      s"(${3L * Q} // (20 * nn.nn)) + (17 * coalesce(c.c, 0) // 20) AS r " +
      s"FROM nodes n CROSS JOIN nc nn LEFT JOIN contrib$i c ON c.dst = n.node)"

  /** One personalized-PageRank round — [[iterSql]] with the restart
    * mass on the seed node only. */
  private def pprIterSql(i: Int, seed: String): String =
    s"pcontrib$i AS (SELECT e.dst, sum(r.r * e.sh // $S)::BIGINT c " +
      s"FROM ew e JOIN pr$i r ON r.node = e.src GROUP BY 1), " +
      s"pr${i + 1} AS (SELECT n.node, " +
      s"(CASE WHEN n.node = '$seed' THEN ${3L * Q / 20} ELSE 0 END) + " +
      s"(17 * coalesce(c.c, 0) // 20) AS r " +
      s"FROM nodes n LEFT JOIN pcontrib$i c ON c.dst = n.node)"

  /** One forward σ level for the [[betweenness]] oracle: hop-`h` nodes
    * (from the min-hop relation `md`) summing their hop-(h−1)
    * predecessors' σ along `edges`. */
  private def btwSigmaSql(h: Int): String =
    s"bs$h AS (SELECT m.src, m.node, sum(p.sigma)::BIGINT AS sigma FROM md m " +
      s"JOIN edges e ON e.d = m.node JOIN bs${h - 1} p " +
      s"ON p.src = m.src AND p.node = e.s WHERE m.hop = $h GROUP BY 1, 2)"

  /** One backward δ level: hop-`h` nodes accumulate one HUGEINT-exact
    * floor-divided term per hop-(h+1) child — the same
    * `σ_v·(SCALE+δ_w) div σ_w` the Spark loop computes in
    * DECIMAL(38,0). */
  private def btwBackSql(h: Int): String =
    s"bd$h AS (SELECT c.src, c.node, c.sigma, " +
      s"coalesce(sum(((c.sigma::HUGEINT * ($BtwScale + w.delta)) // w.sigma)::BIGINT), 0)" +
      s"::BIGINT AS delta FROM bs$h c " +
      "LEFT JOIN edges e ON e.s = c.node " +
      s"LEFT JOIN bd${h + 1} w ON w.src = c.src AND w.node = e.d " +
      "GROUP BY 1, 2, 3)"

  val oracleSql: Map[String, String] = Map(
    "q_graph_harmonic" ->
      (s"WITH RECURSIVE $coEdgeCte, " +
        "srcs AS (SELECT DISTINCT s AS src FROM edges ORDER BY src LIMIT 4), " +
        "reach(src, node, hop) AS (SELECT src, src, 0 FROM srcs " +
        "UNION SELECT r.src, e.d, r.hop + 1 FROM reach r JOIN edges e ON e.s = r.node " +
        "WHERE r.hop < 4), " +
        "md AS (SELECT src, node, min(hop) AS hop FROM reach GROUP BY 1, 2) " +
        "SELECT node AS user_id, count(*)::BIGINT AS n_pivots, " +
        s"sum($BtwScale // hop)::BIGINT AS h_scaled, " +
        s"sum($BtwScale // hop)::BIGINT::DOUBLE / $BtwScale AS harmonic " +
        "FROM md WHERE hop >= 1 GROUP BY 1"),
    "q_graph_diameter" ->
      (s"WITH RECURSIVE $coEdgeCte, " +
        "srcs AS (SELECT DISTINCT s AS src FROM edges ORDER BY src LIMIT 4), " +
        "reach(src, node, hop) AS (SELECT src, src, 0 FROM srcs " +
        "UNION SELECT r.src, e.d, r.hop + 1 FROM reach r JOIN edges e ON e.s = r.node " +
        "WHERE r.hop < 4), " +
        "md AS (SELECT src, node, min(hop) AS hop FROM reach GROUP BY 1, 2), " +
        "ph AS (SELECT src, hop, count(*) AS n_at FROM md WHERE hop >= 1 GROUP BY 1, 2), " +
        "cc AS (SELECT src, hop, sum(n_at) OVER (PARTITION BY src ORDER BY hop) AS cum, " +
        "sum(n_at) OVER (PARTITION BY src) AS n FROM ph) " +
        "SELECT src AS src_id, n::BIGINT AS n_reached, max(hop)::BIGINT AS ecc, " +
        "min(CASE WHEN cum * 10 >= n * 9 THEN hop END)::BIGINT AS p90_hops " +
        "FROM cc GROUP BY 1, 2"),
    "q_graph_betweenness" ->
      (s"WITH RECURSIVE $coEdgeCte, " +
        "srcs AS (SELECT DISTINCT s AS src FROM edges ORDER BY src LIMIT 4), " +
        "reach(src, node, hop) AS (SELECT src, src, 0 FROM srcs " +
        "UNION SELECT r.src, e.d, r.hop + 1 FROM reach r JOIN edges e ON e.s = r.node " +
        "WHERE r.hop < 4), " +
        "md AS (SELECT src, node, min(hop) AS hop FROM reach GROUP BY 1, 2), " +
        "bs0 AS (SELECT src, src AS node, 1::BIGINT AS sigma FROM srcs), " +
        (1 to 4).map(btwSigmaSql).mkString(", ") + ", " +
        "bd4 AS (SELECT src, node, sigma, 0::BIGINT AS delta FROM bs4), " +
        (3 to 1 by -1).map(btwBackSql).mkString(", ") + ", " +
        "alls AS (SELECT * FROM bd1 UNION ALL SELECT * FROM bd2 " +
        "UNION ALL SELECT * FROM bd3 UNION ALL SELECT * FROM bd4) " +
        "SELECT node AS user_id, count(*)::BIGINT AS n_pivots, " +
        "sum(delta)::BIGINT AS bc_scaled, " +
        s"sum(delta)::BIGINT::DOUBLE / $BtwScale AS bc FROM alls GROUP BY 1"),
    "q_graph_churn" ->
      ("WITH gum AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "date_trunc('hour', ts) AS h, " +
        "(epoch_ms(ts) // 604800000) * 604800000 AS week_ms FROM events), " +
        "gcells AS (SELECT u, m, h, week_ms FROM (SELECT *, " +
        "count(*) OVER (PARTITION BY m, h) AS cell_n FROM gum) WHERE cell_n <= 64), " +
        "gedges AS (SELECT DISTINCT a.week_ms, a.u AS u1, b.u AS u2 FROM gcells a " +
        "JOIN gcells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
        "gsz AS (SELECT week_ms, count(*) AS n_edges FROM gedges GROUP BY 1), " +
        "gin AS (SELECT w0.week_ms, count(*) AS n_shared FROM gedges w0 " +
        "JOIN gedges w1 ON w0.u1 = w1.u1 AND w0.u2 = w1.u2 " +
        "AND w1.week_ms = w0.week_ms + 604800000 GROUP BY 1) " +
        "SELECT s0.week_ms, s0.n_edges, s1.n_edges AS n_next, " +
        "coalesce(n_shared, 0)::BIGINT AS n_shared, " +
        "floor(coalesce(n_shared, 0) / (s0.n_edges + s1.n_edges - coalesce(n_shared, 0)) " +
        "* 10000) / 10000 AS edge_jaccard " +
        "FROM gsz s0 JOIN gsz s1 ON s1.week_ms = s0.week_ms + 604800000 " +
        "LEFT JOIN gin ON gin.week_ms = s0.week_ms"),
    "q_graph_assortativity" ->
      (s"WITH $coEdgeCte, " +
        "adeg AS (SELECT s, count(*) AS deg FROM edges GROUP BY 1), " +
        "aj AS (SELECT dx.deg AS x, dy.deg AS y, edges.s FROM edges " +
        "JOIN adeg dx ON edges.s = dx.s JOIN adeg dy ON edges.d = dy.s), " +
        "am AS (SELECT count(*) AS m, count(DISTINCT s) AS n_nodes, " +
        "sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy, " +
        "sum(x * x)::BIGINT AS sx2, sum(y * y)::BIGINT AS sy2 FROM aj) " +
        "SELECT m AS m_edges, n_nodes, " +
        "CASE WHEN sqrt(sx2 / m - (sx / m) * (sx / m)) * " +
        "sqrt(sy2 / m - (sy / m) * (sy / m)) > 0 THEN " +
        "floor((sxy / m - (sx / m) * (sy / m)) / " +
        "(sqrt(sx2 / m - (sx / m) * (sx / m)) * sqrt(sy2 / m - (sy / m) * (sy / m))) " +
        "* 10000) / 10000 END AS r FROM am"),
    "q_graph_modularity" ->
      (s"WITH $coEdgeCte, " +
        "l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM edges), " +
        (1 to 3).map(lpaIterSql).mkString(", ") + ", " +
        "mm AS (SELECT count(*) AS mm FROM ep), " +
        "ein AS (SELECT la.lbl AS community, count(*) AS e_in FROM ep " +
        "JOIN l3 la ON la.node = ep.u1 JOIN l3 lb ON lb.node = ep.u2 " +
        "WHERE la.lbl = lb.lbl GROUP BY 1), " +
        "deg AS (SELECT node, count(*) AS deg FROM (SELECT u1 AS node FROM ep " +
        "UNION ALL SELECT u2 FROM ep) x GROUP BY 1), " +
        "degc AS (SELECT l3.lbl AS community, sum(deg.deg)::BIGINT AS deg_sum, " +
        "count(*) AS n_nodes FROM deg JOIN l3 ON l3.node = deg.node GROUP BY 1) " +
        "SELECT degc.community, degc.n_nodes, coalesce(ein.e_in, 0)::BIGINT AS e_in, " +
        "degc.deg_sum, floor((coalesce(ein.e_in, 0) / mm.mm - " +
        "(degc.deg_sum / (mm.mm * 2)) * (degc.deg_sum / (mm.mm * 2))) * 1000000) / 1000000 " +
        "AS q_contrib FROM degc LEFT JOIN ein USING (community) CROSS JOIN mm"),
    "q_graph_lpa" ->
      (s"WITH $coEdgeCte, " +
        "l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM edges), " +
        (1 to 3).map(lpaIterSql).mkString(", ") + " " +
        "SELECT node AS user_id, lbl AS community, " +
        "count(*) OVER (PARTITION BY lbl)::BIGINT AS community_size FROM l3"),
    "q_graph_msf" -> msfOracle(),
    // converged truth, not a round replay: the canonical (node →
    // component-min) map is algorithm-independent, so the oracle is
    // the recursive min-root closure over the same guarded edge set
    "q_graph_cc" ->
      ("WITH RECURSIVE b AS (SELECT user_id, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m FROM events), " +
        "um AS (SELECT DISTINCT user_id, m FROM b WHERE m IS NOT NULL), " +
        "f AS (SELECT user_id, m, count(*) OVER (PARTITION BY user_id) AS fan FROM um), " +
        "g AS (SELECT user_id, m FROM f WHERE fan <= 80), " +
        "e AS (SELECT DISTINCT a.m AS m1, b.m AS m2 FROM g a " +
        "JOIN g b ON a.user_id = b.user_id AND a.m < b.m), " +
        "ed AS (SELECT m1 AS s, m2 AS d FROM e UNION SELECT m2, m1 FROM e), " +
        "nodes AS (SELECT DISTINCT s AS id FROM ed), " +
        "reach(node, root) AS (SELECT id, id FROM nodes " +
        "UNION SELECT ed.d, r.root FROM reach r JOIN ed ON ed.s = r.node), " +
        "cc AS (SELECT node, min(root) AS cc_id FROM reach GROUP BY node) " +
        "SELECT node::BIGINT AS m, cc_id::BIGINT AS cc_id, " +
        "count(*) OVER (PARTITION BY cc_id)::BIGINT AS cc_size FROM cc"),
    "q_graph_kcore" ->
      (s"WITH $coEdgeCte, " +
        "e0 AS MATERIALIZED (SELECT s, d FROM edges), " +
        (1 to 8).map(kcoreIterSql(_, 3)).mkString(", ") + " " +
        "SELECT s AS user_id, count(*) AS degree FROM e8 GROUP BY 1"),
    "q_graph_bfs" ->
      ("WITH RECURSIVE um AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "date_trunc('hour', ts) AS h FROM events), " +
        "cells AS (SELECT u, m, h FROM (SELECT u, m, h, " +
        "count(*) OVER (PARTITION BY m, h) AS cell_n FROM um) t WHERE cell_n <= 64), " +
        "e0 AS (SELECT DISTINCT a.u AS u1, b.u AS u2 FROM cells a " +
        "JOIN cells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
        "edges AS (SELECT u1 AS s, u2 AS d FROM e0 UNION SELECT u2, u1 FROM e0), " +
        "src AS (SELECT min(s) AS s0 FROM edges), " +
        "reach(node, hop) AS (SELECT s0, 0 FROM src " +
        "UNION SELECT e.d, r.hop + 1 FROM reach r JOIN edges e ON e.s = r.node " +
        "WHERE r.hop < 4) " +
        "SELECT node AS user_id, min(hop)::BIGINT AS hops FROM reach GROUP BY 1"),
    "q_graph_closeness" ->
      ("WITH RECURSIVE um AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "date_trunc('hour', ts) AS h FROM events), " +
        "cells AS (SELECT u, m, h FROM (SELECT u, m, h, " +
        "count(*) OVER (PARTITION BY m, h) AS cell_n FROM um) t WHERE cell_n <= 64), " +
        "e0 AS (SELECT DISTINCT a.u AS u1, b.u AS u2 FROM cells a " +
        "JOIN cells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
        "edges AS (SELECT u1 AS s, u2 AS d FROM e0 UNION SELECT u2, u1 FROM e0), " +
        "srcs AS (SELECT DISTINCT s AS src FROM edges ORDER BY src LIMIT 4), " +
        "reach(src, node, hop) AS (SELECT src, src, 0 FROM srcs " +
        "UNION SELECT r.src, e.d, r.hop + 1 FROM reach r JOIN edges e ON e.s = r.node " +
        "WHERE r.hop < 4), " +
        "md AS (SELECT src, node, min(hop) AS hop FROM reach GROUP BY 1, 2) " +
        "SELECT src AS src_id, (count(*) - 1)::BIGINT AS n_reached, " +
        "sum(hop)::BIGINT AS sum_hops, " +
        "floor((count(*) - 1)::DOUBLE / sum(hop) * 1000000) / 1000000 AS closeness " +
        "FROM md GROUP BY 1"),
    "q_graph_hits" ->
      ("WITH b AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT)::BIGINT AS m FROM events " +
        "WHERE json_extract_string(props, '$.k') IS NOT NULL), " +
        s"hb0 AS (SELECT DISTINCT u, ${S}::BIGINT AS h FROM b), " +
        (1 to 2).map(hitsIterSql).mkString(", ") + " " +
        s"SELECT 'user' AS role, u AS id, h AS score_scaled, " +
        s"floor(h::DOUBLE / $S * 1000000) / 1000000 AS score FROM hb2 " +
        "UNION ALL SELECT 'merchant', m, a, " +
        s"floor(a::DOUBLE / $S * 1000000) / 1000000 FROM au2"),
    "q_graph_degree" ->
      ("WITH b AS (SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events) " +
        "SELECT 'merchant' AS role, m::BIGINT AS id, count(*) AS n_events, " +
        "count(DISTINCT user_id) AS n_peers, sum(cents)::BIGINT AS cents FROM b GROUP BY 2 " +
        "UNION ALL " +
        "SELECT 'user' AS role, user_id AS id, count(*) AS n_events, " +
        "count(DISTINCT m) AS n_peers, sum(cents)::BIGINT AS cents FROM b GROUP BY 2"),
    "q_graph_jaccard" ->
      ("WITH b AS (SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS m " +
        "FROM events), " +
        "um AS (SELECT DISTINCT user_id, m FROM b WHERE m IS NOT NULL), " +
        "f AS (SELECT user_id, m, count(*) OVER (PARTITION BY user_id) AS fan FROM um), " +
        "g AS (SELECT user_id, m FROM f WHERE fan <= 80), " +
        "deg AS (SELECT m, count(*) AS d FROM g GROUP BY 1), " +
        "i AS (SELECT a.m AS m1, b.m AS m2, count(*) AS inter FROM g a " +
        "JOIN g b ON a.user_id = b.user_id AND a.m < b.m GROUP BY 1, 2), " +
        "j AS (SELECT i.m1::BIGINT AS m1, i.m2::BIGINT AS m2, inter, " +
        "da.d AS d1, db.d AS d2, " +
        "inter::DOUBLE / (da.d + db.d - inter) AS jr FROM i " +
        "JOIN deg da ON i.m1 = da.m JOIN deg db ON i.m2 = db.m) " +
        "SELECT m1, m2, inter, d1, d2, floor(jr * 10000) / 10000 AS jaccard " +
        "FROM j WHERE jr >= 0.45"),
    "q_graph_adamic_adar" ->
      ("WITH b AS (SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS m " +
        "FROM events), " +
        "um AS (SELECT DISTINCT user_id, m FROM b WHERE m IS NOT NULL), " +
        "f AS (SELECT user_id, m, count(*) OVER (PARTITION BY user_id) AS fan FROM um), " +
        "g AS (SELECT user_id, m, CASE WHEN fan >= 2 THEN " +
        "CAST(floor(1000000 / ln(fan)) AS BIGINT) ELSE 0 END AS w " +
        "FROM f WHERE fan <= 80), " +
        "p AS (SELECT a.m AS m1, b.m AS m2, count(*) AS n_common, " +
        "sum(a.w)::BIGINT AS aa_scaled FROM g a " +
        "JOIN g b ON a.user_id = b.user_id AND a.m < b.m GROUP BY 1, 2) " +
        "SELECT m1::BIGINT AS m1, m2::BIGINT AS m2, n_common, aa_scaled, " +
        "floor(aa_scaled / 1000000.0 * 10000) / 10000 AS aa_score " +
        "FROM p WHERE n_common >= 2"),
    "q_graph_negative_edges" ->
      ("WITH b AS (SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS m " +
        "FROM events), " +
        "um AS (SELECT DISTINCT user_id, m::BIGINT AS m FROM b WHERE m IS NOT NULL), " +
        "nodes AS (SELECT m, row_number() OVER (ORDER BY m)::BIGINT AS rn " +
        "FROM (SELECT DISTINCT m FROM um)), " +
        "nnc AS (SELECT count(*) AS nn FROM nodes), " +
        "pk AS (SELECT m1, ('0x' || substr(md5(m1::VARCHAR || '#' || i::VARCHAR), 1, 15))" +
        "::BIGINT % nn + 1 AS rn FROM " +
        "(SELECT m AS m1, unnest(range(1, 6)) AS i FROM nodes) CROSS JOIN nnc), " +
        "cand AS (SELECT DISTINCT least(p.m1, n2.m) AS m1, greatest(p.m1, n2.m) AS m2 " +
        "FROM pk p JOIN nodes n2 USING (rn) WHERE p.m1 <> n2.m), " +
        "edges AS (SELECT DISTINCT a.m AS m1, b.m AS m2 FROM um a " +
        "JOIN um b ON a.user_id = b.user_id AND a.m < b.m) " +
        "SELECT m1, m2, 0::BIGINT AS label FROM cand c " +
        "WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.m1 = c.m1 AND e.m2 = c.m2)"),
    "q_fraud_rings" ->
      ("WITH RECURSIVE um AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "date_trunc('hour', ts) AS h FROM events), " +
        "cells AS (SELECT u, m, h FROM (SELECT u, m, h, " +
        "count(*) OVER (PARTITION BY m, h) AS cell_n FROM um) t WHERE cell_n <= 64), " +
        "e0 AS (SELECT DISTINCT a.u AS u1, b.u AS u2 FROM cells a " +
        "JOIN cells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
        "edges AS (SELECT u1 s, u2 d FROM e0 UNION SELECT u2, u1 FROM e0), " +
        "nodes AS (SELECT DISTINCT s AS id FROM edges), " +
        "reach(node, root) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node) " +
        "SELECT node AS user_id, min(root) AS ring_id FROM reach GROUP BY node"),
    "q_graph_clustcoef" ->
      ("WITH um AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "date_trunc('hour', ts) AS h FROM events), " +
        "cells AS (SELECT u, m, h FROM (SELECT u, m, h, " +
        "count(*) OVER (PARTITION BY m, h) AS cell_n FROM um) t WHERE cell_n <= 64), " +
        "e AS (SELECT DISTINCT a.u AS u1, b.u AS u2 FROM cells a " +
        "JOIN cells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
        "deg AS (SELECT user_id, count(*) AS deg FROM " +
        "(SELECT u1 AS user_id FROM e UNION ALL SELECT u2 FROM e) x GROUP BY 1), " +
        "tri AS (SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c FROM e e1 " +
        "JOIN e e2 ON e1.u2 = e2.u1 " +
        "JOIN e e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2), " +
        "tc AS (SELECT user_id, count(*) AS n_tri FROM (SELECT a AS user_id FROM tri " +
        "UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) x GROUP BY 1) " +
        "SELECT deg.user_id, deg.deg, coalesce(tc.n_tri, 0)::BIGINT AS n_tri, " +
        "floor(coalesce(tc.n_tri, 0) * 2.0 / (deg.deg * (deg.deg - 1)) * 10000) / 10000 AS coef " +
        "FROM deg LEFT JOIN tc ON deg.user_id = tc.user_id WHERE deg.deg >= 2"),
    "q_graph_triangles" ->
      ("WITH um AS (SELECT DISTINCT user_id AS u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS m, " +
        "date_trunc('hour', ts) AS h FROM events), " +
        "cells AS (SELECT u, m, h FROM (SELECT u, m, h, " +
        "count(*) OVER (PARTITION BY m, h) AS cell_n FROM um) t WHERE cell_n <= 64), " +
        "e AS (SELECT DISTINCT a.u AS u1, b.u AS u2 FROM cells a " +
        "JOIN cells b ON a.m = b.m AND a.h = b.h AND a.u < b.u), " +
        "tri AS (SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c FROM e e1 " +
        "JOIN e e2 ON e1.u2 = e2.u1 " +
        "JOIN e e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2), " +
        "x AS (SELECT a AS user_id FROM tri UNION ALL " +
        "SELECT b FROM tri UNION ALL SELECT c FROM tri) " +
        "SELECT user_id, count(*) AS n_triangles FROM x GROUP BY 1"),
    "q_graph_pagerank" ->
      ("WITH s AS (SELECT user_id, epoch_ms(ts) ts_ms, event_id, event_type src FROM events), " +
        "t AS (SELECT src, lead(src) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) dst FROM s), " +
        "edges AS (SELECT src, dst, count(*) w FROM t WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        s"ew AS (SELECT e.src, e.dst, e.w * $S // o.out_w AS sh FROM edges e JOIN " +
        "(SELECT src, sum(w)::BIGINT out_w FROM edges GROUP BY 1) o USING (src)), " +
        "nodes AS (SELECT DISTINCT event_type node FROM events), " +
        "nc AS (SELECT count(*) nn FROM nodes), " +
        s"r0 AS (SELECT node, $Q // nn AS r FROM nodes CROSS JOIN nc), " +
        (0 until 3).map(iterSql).mkString(", ") + " " +
        s"SELECT node, r AS rank_scaled, floor(r::DOUBLE / $Q * 1000000) / 1000000 AS rank " +
        "FROM r3"),
    "q_graph_ppr" ->
      ("WITH s AS (SELECT user_id, epoch_ms(ts) ts_ms, event_id, event_type src FROM events), " +
        "t AS (SELECT src, lead(src) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) dst FROM s), " +
        "edges AS (SELECT src, dst, count(*) w FROM t WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        s"ew AS (SELECT e.src, e.dst, e.w * $S // o.out_w AS sh FROM edges e JOIN " +
        "(SELECT src, sum(w)::BIGINT out_w FROM edges GROUP BY 1) o USING (src)), " +
        "nodes AS (SELECT DISTINCT event_type node FROM events), " +
        s"pr0 AS (SELECT node, CASE WHEN node = 'purchase' THEN $Q ELSE 0 END::BIGINT AS r FROM nodes), " +
        (0 until 3).map(pprIterSql(_, "purchase")).mkString(", ") + " " +
        s"SELECT node, r AS ppr_scaled, floor(r::DOUBLE / $Q * 1000000) / 1000000 AS ppr " +
        "FROM pr3"))
}
