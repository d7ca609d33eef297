package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph operators. In a pretraining pipeline the web link graph is
  * a quality signal (authority-weighted sampling, seed-list expansion),
  * and the graph is the one input that routinely dwarfs the text: edges
  * at 100 TB scale shuffle-join against a rank vector every iteration,
  * so the iteration body must be nothing but one join + one aggregation
  * on pre-partitioned edges. */
object Graph {

  /** PageRank over a directed edge list, fixed iteration count,
    * simplified model (dangling mass is NOT redistributed — a node with
    * no out-edges absorbs rank; deterministic and cheaper by one global
    * aggregate per iteration than the redistributing variant, and the
    * variant any SQL engine can restate for verification).
    *
    * `seeds` non-empty switches to PERSONALIZED PageRank: teleport mass
    * lands uniformly on the seed set instead of all nodes (and ranks
    * start there), so rank measures proximity to the seeds — the
    * seed-list-expansion / topic-crawl primitive (nodes unreachable from
    * every seed rank exactly 0). Same plan shape: the teleport vector is
    * an `isin` CASE, no extra join.
    *
    * Scale shape: edges are deduplicated, joined once with out-degrees,
    * hash-partitioned by `src` and persisted — every iteration then
    * reuses that layout for its rank join (shuffle only on the
    * aggregation's `dst` side) and `localCheckpoint` truncates the rank
    * lineage so the plan does not grow per iteration (the classic
    * iterative-DataFrame blowup). Rank state is one (node, double) row
    * per vertex.
    *
    * Output: (node, rank), unnormalized ranks of the simplified model. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
      iterations: Int, damping: Double = 0.85,
      seeds: Seq[Long] = Nil): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .distinct()
    Ckpt.run { loop =>
      val nodes = loop.persist(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = nodes.count()
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val ew = loop.persist(e.join(outdeg, "src").repartition(col("src")))
      // teleport mass per node: uniform, or concentrated on the seed set
      val (base, init) =
        if (seeds.isEmpty)
          (lit((1.0 - damping) / n), lit(1.0 / n))
        else {
          // a seed absent from the node set would silently drop its 1/|S|
          // share of the teleport mass (isin never matches) — refuse loudly
          val present = nodes.filter(col("node").isin(seeds: _*))
            .select(col("node")).collect().map(_.getLong(0)).toSet
          val absent = seeds.filterNot(present)
          require(absent.isEmpty,
            s"pageRank: seed(s) ${absent.mkString(",")} are not nodes of the " +
              "edge-derived graph — their teleport mass would be dropped")
          val onSeed = col("node").isin(seeds: _*)
          (when(onSeed, lit((1.0 - damping) / seeds.size)).otherwise(lit(0.0)),
            when(onSeed, lit(1.0 / seeds.size)).otherwise(lit(0.0)))
        }
      loop.rounds(nodes.select(col("node"), init.as("rank")), iterations) { (ranks, _) =>
        val contribs = ew.join(ranks.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") / col("outdeg")).as("contrib"))
        loop.checkpoint(nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (base + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank")))._1
      }
    }
  }

  /** HITS hub/authority scores (Kleinberg): iterate
    * auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), L2-normalizing
    * each — the bipartite-flavored complement of [[pageRank]] (a node
    * can be a great directory of authorities without being one). On a
    * link/citation graph this separates "points at good things" from
    * "is a good thing", which pageRank's single score conflates.
    *
    * Determinism contract (the s19 recipe): scores are 8-dp-floored
    * after each normalization, propagation sums run over DECIMAL(19,8)
    * (exact, order-independent), norm² accumulates 10-dp-floored
    * squares as DECIMAL(38,10), and sqrt is IEEE-exact — so a SQL twin
    * restates every iteration and the result is partition-layout-
    * independent. Per iteration: two keyed joins + two aggregations on
    * the edge partitioning; a checkpoint per round ([[Ckpt]]) keeps
    * the plan constant-size.
    *
    * Output: (node, hub8, auth8) for every node (0.0 where a side
    * never receives mass). */
  def hits(edges: DataFrame, src: Column, dst: Column,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 8, s"iterations out of [1,8]: $iterations")
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .distinct()
    // the edge list is joined alternately on src (hub→auth) and dst
    // (auth→hub): keep one copy clustered per key so each propagation
    // join shuffles only the node-score side, never the (much larger)
    // edge side
    Ckpt.run { loop =>
      val eBySrc = loop.persist(e.repartition(col("src")))
      val eByDst = loop.persist(e.repartition(col("dst")))
      val nodes = loop.persist(eBySrc.select(col("src").as("node"))
        .union(eBySrc.select(col("dst").as("node"))).distinct())
      val n = nodes.count()
      val h0 = math.floor(1.0 / math.sqrt(n.toDouble) * 1e8 + 0.5) / 1e8
      def normalized8(rawIn: DataFrame): DataFrame = {
        // Materialize the propagation ONCE (node-sized) — the norm agg
        // and the normalized projection both read the checkpoint, so the
        // two joins behind `raw` never run twice; the projection itself
        // stays lazy (cheap over the checkpoint).
        val raw = loop.checkpoint(rawIn)._1
        val nrm = raw.agg(sqrt(sum((floor(col("raw") * col("raw") * 1e10 + 0.5)
          / 1e10).cast("decimal(38,10)")).cast("double")).as("nrm"))
        raw.crossJoin(broadcast(nrm))
          .select(col("node"),
            (floor(col("raw") / col("nrm") * 1e8 + 0.5) / 1e8).as("s"))
      }
      val h = nodes.select(col("node"), lit(h0).as("s"))
      val (hub, auth) = loop.rounds((h, h), iterations) { case ((hub, _), _) =>
        val auth = normalized8(
          eBySrc.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("s").cast("decimal(19,8)")).cast("double").as("raw")))
        (normalized8(
          eByDst.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node"))
            .agg(sum(col("s").cast("decimal(19,8)")).cast("double").as("raw"))), auth)
      }
      nodes
        .join(hub.withColumnRenamed("s", "hub8"), Seq("node"), "left")
        .join(auth.withColumnRenamed("s", "auth8"), Seq("node"), "left")
        .select(col("node"), coalesce(col("hub8"), lit(0.0)).as("hub8"),
          coalesce(col("auth8"), lit(0.0)).as("auth8"))
    }
  }

  /** Per-node triangle counts over an undirected graph (edges given in
    * either direction; self-loops and duplicates dropped). Triangles are
    * the local-clustering signal — in a link graph they separate organic
    * neighborhoods from link farms (spam scores à la TrustRank use them).
    *
    * Scale shape: the classic degree-ordered orientation (node iterator
    * of Schank/Wagner; the MapReduce form is Suri/Vassilvitskii 2011).
    * Each undirected edge is oriented from the endpoint with the LOWER
    * (degree, id) rank to the higher, so every wedge is enumerated at
    * exactly one apex and — the load-balancing point — a hub of degree d
    * has out-degree O(√m) after orientation, which bounds the wedge
    * explosion at Θ(m^1.5) total work regardless of skew. Wedge closure
    * is one self-join on the apex plus one semi-ish join against the
    * oriented edge set; all shuffles carry (long, long) pairs only.
    *
    * Output: (node, n_tri) for nodes in ≥1 triangle. */
  /** Canonicalized deduped undirected edge set (u < v). */
  private def undirected(edges: DataFrame, src: Column, dst: Column): DataFrame =
    edges.select(
        least(src.cast("long"), dst.cast("long")).as("u"),
        greatest(src.cast("long"), dst.cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("node")).union(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  def triangleCounts(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = undirected(edges, src, dst)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = triangleCountsOn(und)
    und.unpersist()
    out
  }

  /** Triangle counting over an ALREADY deduped canonical edge set —
    * shared by [[triangleCounts]] and [[clusteringCoefficient]] so a
    * caller that also needs degrees dedups the edge list once, not
    * twice (at 100 TB the edge-dedup shuffle is the dominant cost
    * before the wedge join). `und` should be persisted by the caller;
    * the result is materialized (localCheckpoint) before returning. */
  private def triangleCountsOn(und: DataFrame): DataFrame = {
    val deg = degreesOf(und)
    // orient by (deg, id): lower rank → higher rank
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at apex a: (x, y) both out-neighbors, canonicalized x < y by
    // id so the closing edge {x,y} can be probed directly against the
    // already-canonical (u < v) undirected edge set
    val e1 = oriented.select(col("a"), col("b").as("x"))
    val e2 = oriented.select(col("a"), col("b").as("y"))
    val wedges = e1.join(e2, "a").filter(col("x") < col("y"))
    val tris = wedges.join(und,
      col("x") === col("u") && col("y") === col("v"), "leftsemi")
      .select(col("a"), col("x"), col("y"))
    val out = tris.select(explode(array(col("a"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .localCheckpoint() // eager: materialize before releasing the cache
    oriented.unpersist() // und's lifecycle belongs to the caller
    out
  }

  /** Item co-occurrence pairs over a (group, item) relation: pairs of
    * items appearing together in at least `minShared` groups — the
    * "frequently bought together" / co-citation primitive (market-basket
    * pairs, link prediction by common neighbors in the bipartite graph).
    *
    * Scale shape: the pair explosion inside a group is quadratic in the
    * group's item count, so groups above `maxItemsPerGroup` are dropped
    * BEFORE the self-join — the [[graft.ops.Dedup.containmentPairs]] cap
    * discipline (a viral group would dominate the pair space AND carry
    * the least signal per pair, the same argument as boilerplate
    * shingles). All shuffles carry (group, item) id pairs and pair
    * counts only.
    *
    * Output: (i_a, i_b, n_shared), i_a < i_b. */
  /** Degree distribution of a directed graph: one row per observed
    * (out_degree count / in-degree count) value — the first diagnostic
    * on any link/co-occurrence graph (power-law tail? hub explosion
    * that will skew every downstream join?).
    *
    * Scale shape: dedup edges, two map-side-combined degree counts, a
    * full outer merge on node, then a count-of-counts — every shuffle
    * carries (long, long). The histogram is at most max-degree rows, so
    * the final agg is tiny regardless of graph size.
    * Output: (out_deg, in_deg, n_nodes) — nodes bucketed by their
    * exact (out, in) degree pair. */
  def degreeHistogram(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .distinct()
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .groupBy(col("out_deg"), col("in_deg"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Bounded-hop BFS: minimum hop distance (≤ maxHops) from a seed set,
    * following edges src→dst. The reachability/expansion primitive —
    * "everything within 3 clicks of these pages", crawl frontier
    * sizing, taint propagation over a derivation graph.
    *
    * Scale shape: classic frontier BFS — iteration i joins ONLY the
    * hop-(i−1) frontier (not the whole visited set) against the edge
    * list, then an anti-join drops already-visited nodes, so per-round
    * work is proportional to the frontier, not the graph. The visited
    * set is checkpointed per round ([[Ckpt]]: constant-size plan, no
    * lineage blow-up). Terminates early when a frontier empties, which
    * the frontier's checkpoint observes. Output: (node, hops),
    * hops ∈ [0, maxHops], seeds at 0. */
  def kHopDistance(edges: DataFrame, src: Column, dst: Column,
      seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "empty seed set")
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    Ckpt.run { loop =>
      val e = loop.persist(edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
        .distinct())
      val seeded = loop.checkpoint(seeds.distinct.toDF("node")
        .select(col("node"), lit(0).as("hops")))._1
      // the seed set is non-empty, so round 1 always has a frontier
      val ((_, visited), _) = loop.iterate((seeded.select(col("node")), seeded), maxHops) {
        case ((frontier, visited), hop) =>
          val (next, n) = loop.checkpoint(frontier.join(e, col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti"))
          ((next, loop.checkpoint(visited
            .union(next.select(col("node"), lit(hop).as("hops"))))._1), n)
      }
      visited
    }
  }

  /** Item–item cosine similarity from co-occurrence ("users who bought
    * X also bought Y", corrected for popularity): sim(a,b) =
    * |groups(a) ∩ groups(b)| / √(|groups(a)|·|groups(b)|). The raw
    * [[coOccurrencePairs]] count over-ranks universally-popular items;
    * the cosine denominator is what turns it into a similarity.
    *
    * Scale shape: the pair join is [[coOccurrencePairs]]' (group-size
    * capped against hot-group wedge explosion); item frequencies are
    * one extra map-side-combined count joined onto the — already
    * minShared-pruned — pair table. Scores floor-rounded to 4 dp for
    * cross-engine bit-stability. */
  def itemCosine(df: DataFrame, group: Column, item: Column,
      minShared: Long, maxItemsPerGroup: Int = 10000): DataFrame = {
    val e = df.select(group.as("g"), item.as("i")).distinct()
    val freq = e.groupBy(col("i")).agg(count(lit(1)).as("nf"))
    coOccurrencePairs(df, group, item, minShared, maxItemsPerGroup)
      .join(freq.select(col("i").as("i_a"), col("nf").as("na")), "i_a")
      .join(freq.select(col("i").as("i_b"), col("nf").as("nb")), "i_b")
      .select(col("i_a"), col("i_b"), col("n_shared"),
        (floor(col("n_shared") / sqrt(col("na") * col("nb")) * 10000 + 0.5)
          / 10000).as("cosine"))
  }

  /** Local clustering coefficient per node: c = 2·tri / (deg·(deg−1)) —
    * how close a node's neighborhood is to a clique (community-membership
    * strength vs pure hub-ness; a high-degree low-cc node is a
    * broker/boilerplate tell in doc-link graphs). Nodes with deg < 2
    * report 0 (no possible wedge).
    *
    * Scale shape: reuses [[triangleCounts]]' degree-oriented wedge probe
    * (Σ min(deg) work bound, never deg² at hubs) plus one degree
    * aggregate over the SAME deduped undirected edge set; the final join
    * is node-table-sized. cc6 is one double expression over exact
    * integer (tri, deg) pairs, 6-dp floored.
    * Output: (node, deg, n_tri, cc6). */
  def clusteringCoefficient(edges: DataFrame, src: Column,
      dst: Column): DataFrame = {
    // ONE edge-list dedup shared by degrees and triangles (the dedup
    // shuffle dominates before the wedge join at scale); both consumers
    // are materialized (deg via the final action after tri's
    // localCheckpoint) before the cache is released
    val und = undirected(edges, src, dst)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = degreesOf(und).localCheckpoint()
    val tri = triangleCountsOn(und)
    und.unpersist()
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc6",
        when(col("deg") < 2, lit(0.0))
          .otherwise(floor(lit(2.0) * col("n_tri").cast("double")
            / (col("deg").cast("double") * (col("deg").cast("double") - 1.0))
            * 1000000 + 0.5) / 1000000))
  }

  /** k-core subgraph by iterative peeling (Seidman 1983; the distributed
    * peel of Montresor et al.): repeatedly delete every node of degree
    * < k until a fixpoint — what survives is the maximal subgraph whose
    * every node keeps ≥ k neighbors INSIDE it. The community-detection /
    * spam-farm / graph-summarization primitive a plain degree filter
    * gets wrong (dropping a weak node can demote its neighbors below k,
    * so one pass never suffices).
    *
    * Scale shape: each round is one degree aggregation + two semi-joins
    * on the shrinking edge set — edges only ever shrink, so the worst
    * round costs one shuffle of the CURRENT edge set; a checkpoint per
    * round ([[Ckpt]]) truncates the iterative-plan lineage and observes
    * the edge COUNT, the convergence test.
    * Rounds are data-bounded (each removes ≥1 node or terminates);
    * `maxRounds` is a runaway backstop, hit only by adversarial chains
    * (a path graph peels one end per round) — raise it, don't loop
    * driver-side around this. Returns (node, core_deg) for k-core
    * members, core_deg = degree within the core (≥ k by construction).
    *
    * Reference semantics: standard k-core over the UNDIRECTED deduped
    * simple graph (self-loops dropped, direction ignored). */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
      maxRounds: Int = 200): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    Ckpt.run { loop =>
      val (e0, m0) = loop.checkpoint(undirected(edges, src, dst))
      // an empty edge set is already the fixpoint
      val ((core, _), converged) = loop.iterate((e0, m0), maxRounds, m0) {
        case ((e, m), _) =>
          val strong = degreesOf(e).filter(col("deg") >= k).select(col("node"))
          val (next, m2) = loop.checkpoint(e
            .join(strong.withColumnRenamed("node", "u"), "u")
            .join(strong.withColumnRenamed("node", "v"), "v")
            .select(col("u"), col("v")))
          ((next, m2), m - m2) // edges only shrink: 0 = no node peeled
      }
      require(converged, s"kCore did not converge in $maxRounds rounds " +
        "(pathological chain graph? raise maxRounds)")
      degreesOf(core).withColumnRenamed("deg", "core_deg")
    }
  }

  /** Adamic-Adar link-prediction scores over a bipartite co-occurrence
    * graph: for items a, b the score is Σ over shared groups g of
    * 1/ln(|g|) — a shared SMALL group (two parts in a 3-line order) is
    * strong evidence of affinity, a shared hub group is weak evidence.
    * The classic common-neighbor weighting, stated on the group-item
    * incidence list so no item×item adjacency ever materializes.
    *
    * Scale shape: same capped pair expansion as [[coOccurrencePairs]]
    * (groups above `maxItemsPerGroup` are excluded — their quadratic
    * fan-out would dominate cost while contributing the LEAST signal
    * per pair, the standard link-prediction blocking rule). Each
    * group's 1/ln(sz) is 6-dp floor-rounded BEFORE the per-pair sum and
    * summed as DECIMAL(28,6), so the score is addition-order-independent
    * and cross-engine exact; the output casts it to double (the portable
    * representation).
    * Output: (i_a, i_b, n_shared, aa6) for pairs with n_shared ≥
    * minShared. */
  def adamicAdar(df: DataFrame, group: Column, item: Column,
      minShared: Long, maxItemsPerGroup: Int = 10000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val e = df.select(group.as("g"), item.as("i")).distinct()
    val gw = e.groupBy(col("g")).agg(count(lit(1)).as("sz"))
      .filter(col("sz").between(2, maxItemsPerGroup))
      .select(col("g"),
        (floor(lit(1.0) / log(col("sz").cast("double")) * 1000000 + 0.5)
          / 1000000).cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6))
          .as("w6"))
    val c = e.join(gw, "g")
    c.select(col("g"), col("i").as("i_a"), col("w6"))
      .join(c.select(col("g"), col("i").as("i_b")), Seq("g"))
      .filter(col("i_a") < col("i_b"))
      .groupBy(col("i_a"), col("i_b"))
      .agg(count(lit(1)).as("n_shared"), sum(col("w6")).as("__aa"))
      .filter(col("n_shared") >= minShared)
      .select(col("i_a"), col("i_b"), col("n_shared"),
        col("__aa").cast("double").as("aa6"))
  }

  /** Neighborhood-Jaccard link prediction over the same bipartite
    * incidence list as [[adamicAdar]]: for items a, b the score is
    * |G(a) ∩ G(b)| / |G(a) ∪ G(b)| where G(i) is the set of ELIGIBLE
    * groups containing i — groups outside [2, maxItemsPerGroup] are
    * excluded from BOTH the intersection and the degrees, so the ratio
    * is internally consistent (the same blocking rule as Adamic-Adar:
    * oversize groups cost quadratic fan-out and carry the least signal).
    *
    * Exactness: the score is a ratio of two integers — no float
    * accumulation at all; one division, 8-dp floored. Degrees come from
    * the eligible incidence list (map-side-combined count per item) and
    * join the capped pair expansion on each side.
    * Output: (i_a, i_b, n_shared, n_union, jacc8) for n_shared ≥
    * minShared. */
  def neighborJaccard(df: DataFrame, group: Column, item: Column,
      minShared: Long, maxItemsPerGroup: Int = 10000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val e = df.select(group.as("g"), item.as("i")).distinct()
    val ok = e.groupBy(col("g")).agg(count(lit(1)).as("sz"))
      .filter(col("sz").between(2, maxItemsPerGroup)).select(col("g"))
    val c = e.join(ok, "g")
    val deg = c.groupBy(col("i")).agg(count(lit(1)).as("d"))
    val shared = c.select(col("g"), col("i").as("i_a"))
      .join(c.select(col("g"), col("i").as("i_b")), Seq("g"))
      .filter(col("i_a") < col("i_b"))
      .groupBy(col("i_a"), col("i_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(deg.select(col("i").as("i_a"), col("d").as("__da")), Seq("i_a"))
      .join(deg.select(col("i").as("i_b"), col("d").as("__db")), Seq("i_b"))
      .select(col("i_a"), col("i_b"), col("n_shared"),
        (col("__da") + col("__db") - col("n_shared")).as("n_union"))
      .withColumn("jacc8",
        floor(col("n_shared").cast("double") / col("n_union").cast("double")
          * 1e8 + 0.5) / 1e8)
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the (doubled, so direction-free) undirected edge list: r > 0
    * means hubs attach to hubs (social-network shape), r < 0 means hubs
    * attach to leaves (hub-and-spoke / bipartite-ish — the shape that
    * makes hot-key salting matter). The one-number complement to g05's
    * degree histogram for deciding skew strategy.
    *
    * Exactness: degrees are integers, every moment sum over the doubled
    * edge list is an exact DECIMAL(38,0) integer; one IEEE closed-form
    * correlation at the end, 8-dp floored. Degenerate (uniform degrees)
    * → NULL r8. Plan: canonical edge dedup, one degree aggregate, two
    * degree joins, one moment aggregate — all map-side combinable.
    * Output: one row (n_edges, n_nodes, r8). */
  def degreeAssortativity(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val pairs = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    // doubled: each edge contributes (du,dv) AND (dv,du) — x/y moments
    // coincide, so track one side's sums over the doubled list
    val doubled = pairs.select(col("du").as("x"), col("dv").as("y"))
      .unionAll(pairs.select(col("dv").as("x"), col("du").as("y")))
    def d0(c: Column) = c.cast(DecimalType(38, 0))
    val m = doubled.agg(count(lit(1)).as("n2"),
      sum(d0(col("x"))).as("sx"), sum(d0(col("x")) * d0(col("x"))).as("sxx"),
      sum(d0(col("x")) * d0(col("y"))).as("sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val n2 = col("n2").cast("double")
    val sx = col("sx").cast("double"); val sxx = col("sxx").cast("double")
    val sxy = col("sxy").cast("double")
    val num = n2 * sxy - sx * sx
    val den = n2 * sxx - sx * sx
    m.crossJoin(broadcast(nodes))
      .select((col("n2") / 2).cast("bigint").as("n_edges"), col("n_nodes"),
        when(den > 0, floor(num / den * 1e8 + 0.5) / 1e8).as("r8"))
  }

  /** Newman modularity of a GIVEN community assignment — the partition
    * evaluator that scores any labeling (label propagation's, connected
    * components', an external clusterer's): per community c,
    * term_c = m_c/m − (d_c/2m)², and Q = Σ_c term_c, where m is the
    * undirected edge count, m_c the edges inside c, d_c the community's
    * total degree. Q near 0 ⇒ no better than random wiring; the
    * standard "did the clustering find real structure" check before
    * trusting community-level curation decisions.
    *
    * Self-loops and duplicate/reversed edge spellings are canonicalized
    * away. Nodes missing from `labels` form singleton communities
    * implicitly (they contribute only degree, which a missing row makes
    * zero here — so `labels` must cover every endpoint; unmatched
    * endpoints fail loudly via the inner join dropping their edges and
    * the caller seeing n_edges_in sums ≠ m).
    *
    * Exactness: every input to term_c is an integer; the two divisions
    * run in IEEE doubles (identical chain both engines), 8-dp floored
    * per community — Q is then an exact DECIMAL sum of published terms.
    * Output: one row per community (community, n_edges_in, degree_sum,
    * term8) — Σ term8 is Q, left to the caller so the per-community
    * contributions stay auditable. */
  def modularity(edges: DataFrame, src: Column, dst: Column,
      labels: DataFrame, node: Column, community: Column): DataFrame = {
    val e = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val lab = labels.select(node.as("n"), community.as("c")).distinct()
    val withC = e
      .join(lab.select(col("n").as("u"), col("c").as("cu")), Seq("u"))
      .join(lab.select(col("n").as("v"), col("c").as("cv")), Seq("v"))
    val m = withC.count()
    require(m > 0, "modularity needs at least one labeled edge")
    val inC = withC.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("n_edges_in"))
    val deg = withC.select(col("cu").as("community"))
      .unionAll(withC.select(col("cv").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("degree_sum"))
    deg.join(inC, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("n_edges_in"), lit(0L)).as("n_edges_in"),
        col("degree_sum"))
      .withColumn("term8",
        floor((col("n_edges_in").cast("double") / m.toDouble
          - (col("degree_sum").cast("double") / (2.0 * m))
            * (col("degree_sum").cast("double") / (2.0 * m))) * 1e8 + 0.5) / 1e8)
  }

  /** Deterministic SYNCHRONOUS label propagation (community detection):
    * every node starts labeled with its own id; each round, every node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken toward the SMALLEST label. Synchronous + min-tie makes
    * the result a pure function of the edge SET — no sweep order, no
    * randomness — so it is partition-layout-independent and a SQL twin
    * can restate every round verbatim (the async/Louvain local-moving
    * variants trade that determinism for faster convergence; their
    * sweep-order-dependent state can't pass an exact cross-engine
    * oracle). The g16 gate closes the loop with [[modularity]]: LPA
    * emits the partition, modularity scores it — "what are the
    * communities" + "how good are they" from the same module.
    *
    * Scale shape: per round, ONE join of the symmetric edge list
    * against the node-sized label table on the neighbor key, one
    * (node, label) count aggregation, one argmax aggregation — all on
    * the edge/node partitioning, nothing quadratic; a checkpoint per
    * round ([[Ckpt]]) keeps the plan constant-size. Fixed
    * `rounds` (not convergence) because synchronous LPA can 2-cycle on
    * bipartite-ish regions; a bounded round count is the documented
    * Pregel-style practice and keeps cost predictable at 100 TB.
    *
    * Output: (node, community) for every endpoint of `edges`. */
  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds out of [1,8]: $rounds")
    val e = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .where(col("u") =!= col("v")).distinct()
    Ckpt.run { loop =>
      val sym = loop.persist(e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
        .repartition(col("y")))
      val selfLabels = loop.checkpoint(sym.select(col("x").as("n")).distinct()
        .select(col("n"), col("n").as("lab")))._1
      loop.rounds(selfLabels, rounds) { (lab, _) =>
        val cnt = sym.join(lab.withColumnRenamed("n", "y"), "y")
          .groupBy(col("x"), col("lab")).agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc) as a single min-of-struct —
        // one aggregation, no window sort
        loop.checkpoint(cnt.groupBy(col("x").as("n"))
          .agg(min(struct((-col("c")).as("nc"), col("lab").as("l"))).as("b"))
          .select(col("n"), col("b.l").as("lab")))._1
      }.select(col("n").as("node"), col("lab").as("community"))
    }
  }

  def coOccurrencePairs(df: DataFrame, group: Column, item: Column,
      minShared: Long, maxItemsPerGroup: Int = 10000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val e = df.select(group.as("g"), item.as("i")).distinct()
    val ok = e.groupBy(col("g")).agg(count(lit(1)).as("sz"))
      .filter(col("sz").between(2, maxItemsPerGroup)).select(col("g"))
    val c = e.join(ok, "g")
    c.select(col("g"), col("i").as("i_a"))
      .join(c.select(col("g"), col("i").as("i_b")), Seq("g"))
      .filter(col("i_a") < col("i_b"))
      .groupBy(col("i_a"), col("i_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") — the EDGE-CONTRACTING alternative to
    * [[Dedup.connectedComponents]]'s label propagation + pointer
    * jumping. Both converge in O(log n) rounds; the difference at
    * 100 TB is WHAT each round touches: label propagation joins the
    * FULL original edge list every round, while star contraction
    * rewrites the edge set itself toward component minima, so the
    * per-round shuffle shrinks as components collapse — the better
    * shape when the edge list dwarfs the node set (dense near-dup
    * graphs, co-occurrence graphs).
    *
    * Round = large-star (every node hangs its LARGER neighbors onto
    * its minimum) then small-star (every node hangs its smaller
    * neighbors and itself onto their minimum); edges stay canonical
    * (hi, lo). Fixpoint = the edge set is unchanged (two anti-joins on
    * the shrunken set); at fixpoint E is a star forest (v → component
    * min) and labels read straight off it — roots and isolated ids
    * label themselves. Exhausting `maxRounds` throws rather than
    * returning a partial labeling. Gate- and spec-proven
    * label-identical to the propagation implementation. */
  def connectedComponentsStar(pairs: DataFrame, idA: Column, idB: Column,
      ids: DataFrame, id: Column, maxRounds: Int = 50): DataFrame = Ckpt.run { loop =>
    val e0 = loop.checkpoint(pairs
      .select(greatest(idA, idB).as("u"), least(idA, idB).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())._1
    val (e, converged) = loop.iterate(e0, maxRounds) { (e, _) =>
      // large-star over the symmetric view: m(x) = min(N(x) ∪ {x});
      // every neighbor y > x re-hangs onto m(x)
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy(col("x")).agg(min(col("y")).as("nm"))
        .select(col("x"), least(col("x"), col("nm")).as("m"))
      val ls = sym.join(mins, "x").where(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star on the (hi → lo) edges: per hi node u with small
      // neighborhood N = {v : (u,v) ∈ E}, m = min(N) (< u); every
      // v ∈ N \ {m} and u itself re-hang onto m
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = loop.checkpoint(ls.join(mins2, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct())._1
      (ss, if (ss.exceptAll(e).isEmpty && e.exceptAll(ss).isEmpty) 0L else 1L)
    }
    require(converged,
      s"connectedComponentsStar did not converge within $maxRounds rounds")
    ids.select(id.as("node"))
      .join(e.select(col("u").as("node"), col("v").as("label")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }
}
