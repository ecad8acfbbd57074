package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond [[Dedup.connectedComponents]]:
  * PageRank (plain, weighted, personalized — Brin & Page 1998), label
  * propagation, BFS distances and shortest-path trees, HITS, k-core,
  * modularity and triangle counts.
  *
  * The iterative ops run on [[Rounds.iterate]], which materializes the
  * round state every round by default (lineage cut, so plan size and
  * recompute cost are constant per round) and sizes it by
  * `spark.graft.round.partitions`. Their round counts are fixed
  * parameters, which keeps runs deterministic and oracle-replayable;
  * k-core and connected components additionally stop early once a
  * round changes nothing, which leaves the output unchanged.
  */
object Graph {

  /** O(1)-state (cnt DESC, label ASC) argmax over (cnt, label) longs —
    * the LPA winner rule as a typed Aggregator so the per-node vote
    * plans as an ObjectHashAggregate (hash-based, map-side combined,
    * the [[GroupTopK]] machinery) rather than the SortAggregate that
    * `min(struct(-cnt, label))` falls to (struct aggregation buffers
    * aren't hash-supported) or a row_number window whose per-node
    * partition a celebrity hub's degree would bound. Counts stay
    * integral end to end — no Double score, no 2^53 precision cliff.
    * Zero buffer is (cnt = -1) — real counts are >= 1, and groups only
    * exist for nodes with at least one labeled neighbor, so the
    * sentinel never escapes finish(). */
  private[ops] final class MajorityVote
      extends Aggregator[(Long, Long), (Long, Long), Long] {
    @inline private def best(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    override def zero: (Long, Long) = (-1L, Long.MaxValue)
    override def reduce(b: (Long, Long), x: (Long, Long)): (Long, Long) = best(b, x)
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) = best(a, b)
    override def finish(b: (Long, Long)): Long = b._2
    override def bufferEncoder: Encoder[(Long, Long)] = ExpressionEncoder()
    override def outputEncoder: Encoder[Long] = ExpressionEncoder()
  }

  /** Bounded CO-ACTIVITY edge builder: undirected user–user edges from
    * shared (blockKey) membership, with a per-block CONCURRENCY CAP —
    * the stop-shingle discipline ([[Dedup.shingles]] maxShingleDf)
    * applied to co-occurrence graphs.
    *
    * Why the cap is load-bearing, with numbers: co-activity pair volume
    * is Σ_b n_b² over block occupancies, and on a corpus whose entity
    * domain and time window are FIXED while volume grows (this repo's
    * generator, and any real stream with a stable catalog), occupancies
    * grow linearly with corpus size — so the edge count grows
    * QUADRATICALLY. Measured on the r18 10× rehearsal: sf0.1 →
    * sf1-equivalent multiplied distinct co-activity edges 67k → 6.78M
    * (101×), and triangle counting over them blew up 138×. Capping each
    * block at `maxBlockUsers` deterministic representatives bounds
    * per-block pairs at cap², restoring ~linear edge growth (699k =
    * 10.4× at cap 9 on the same rehearsal) while keeping every block
    * represented — a hyper-crowded (item, hour) contributes a bounded
    * affinity sample instead of a quadratic near-clique of noise.
    *
    * Determinism & cross-engine replay: representatives are the cap
    * lowest values of (p60(blk|user) DIV 256, user) — a pseudo-random
    * but portable hash rank (the q87/q151 hash-gated-sampling
    * convention; DIV 256 keeps the 60-bit hash inside double's exact
    * range for the aggregator's score), so an oracle replays the exact
    * selection with row_number OVER (ORDER BY (md5-hash) // 256, user).
    * Blocks with ≤ cap users are passed through UNCHANGED — on corpora
    * where no block exceeds the cap the output is identical to the
    * uncapped join (sf0.01/sf0.1 today), so the cap is invisible until
    * the density hazard it bounds actually appears.
    *
    * Plan shape: one hash aggregate per block via [[GroupTopK]]
    * (map-side partial fold to ≤ cap entries per block per task — a hot
    * block never concentrates its full membership in one sort), then
    * per-block pair expansion (≤ cap²/2 rows each) and a distinct.
    * No window, no block self-join, no unbounded task state.
    *
    * Input: (blockCol, userCol) rows; multiplicity within a block is
    * collapsed. Output: distinct (u1 < u2) long pairs. */
  def coActivityEdges(activity: DataFrame, blockCol: Column, userCol: Column,
      maxBlockUsers: Int): DataFrame =
    blockPairs(activity, blockCol, userCol, maxBlockUsers).distinct()

  /** [[coActivityEdges]] keeping MULTIPLICITY: (u1, u2, w) with w = how
    * many (capped) blocks bind the pair — the affinity weight the
    * weighted-BFS/path queries consume. Same cap, same representatives,
    * so w counts exactly the blocks where BOTH users survived the
    * rank. */
  def coActivityEdgesWeighted(activity: DataFrame, blockCol: Column,
      userCol: Column, maxBlockUsers: Int): DataFrame =
    blockPairs(activity, blockCol, userCol, maxBlockUsers)
      .groupBy(col("u1"), col("u2")).agg(count(lit(1)).as("w"))

  /** Shared body: per-block capped representatives → within-block user
    * pairs (u1 < u2), one row per (block, pair). */
  private def blockPairs(activity: DataFrame, blockCol: Column, userCol: Column,
      maxBlockUsers: Int): DataFrame = {
    require(maxBlockUsers >= 2, s"maxBlockUsers must be >= 2, got $maxBlockUsers")
    val spark = activity.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    activity.select(blockCol.cast("string").as("blk"),
        userCol.cast("long").as("u")).distinct()
      .select(col("blk"), col("u"),
        // negated so GroupTopK's score-DESC keeps the LOWEST hashes;
        // exact: h < 2^52 after DIV 256
        expr("CAST(-(p60(concat_ws('|', blk, u)) DIV 256) AS DOUBLE)").as("s"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._3, r._2))
      // reversed id ordering => hash ties keep the SMALLEST user first,
      // matching the oracle's (hash, user ASC) rank
      .agg(new GroupTopK[Long](maxBlockUsers)(
        implicitly, Ordering[Long].reverse, implicitly).toColumn.name("top"))
      .flatMap { case (_, top) =>
        val us = top.map(_._2)
        for {
          i <- us.indices.iterator
          j <- (i + 1 until us.length).iterator
        } yield (math.min(us(i), us(j)), math.max(us(i), us(j)))
      }
      .toDF("u1", "u2")
  }

  /** The [[coActivityEdges]] cap's cost, surfaced as telemetry (the
    * q101/q184 convention): full vs capped pair volume from the block
    * occupancy histogram alone — |blocks| input rows, pure integer
    * arithmetic, no pair materialization. One row out. */
  def coActivityCapTelemetry(activity: DataFrame, blockCol: Column,
      userCol: Column, maxBlockUsers: Int): DataFrame = {
    val cap = maxBlockUsers.toLong
    val sizes = activity
      .select(blockCol.cast("string").as("blk"), userCol.cast("long").as("u"))
      .distinct()
      .groupBy(col("blk")).agg(count(lit(1)).as("n"))
    val full = expr("n * (n - 1) DIV 2")
    val capped = when(col("n") <= cap, full)
      .otherwise(lit(cap * (cap - 1) / 2))
    sizes.agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_blocks_capped"),
      max(col("n")).as("max_block_users"),
      sum(full).as("n_pairs_full"),
      sum(capped).as("n_pairs_capped"))
      .withColumn("n_pairs_dropped", col("n_pairs_full") - col("n_pairs_capped"))
  }

  /** PageRank over directed edges (src, dst): returns (node, rank) for
    * every node appearing as source or destination. Dangling nodes (no
    * out-edges) redistribute their mass over the teleport distribution
    * each iteration, so total rank mass stays exactly 1 up to float
    * addition.
    *
    * Three variants share this loop:
    *  - plain (default): parallel edges are collapsed (simple-graph
    *    semantics), contributions split 1/out-degree, teleport uniform;
    *  - `weightCol = Some(w)`: contributions split ∝ edge weight —
    *    rank(src)·w(src,dst)/Σ_d w(src,d) — the natural fit when edges
    *    carry interaction counts (a user who mentioned an item 50 times
    *    should push 50× the mass of a one-off). Duplicate (src, dst)
    *    edges are weight-SUMMED (the multigraph reading); non-positive
    *    and null weights are dropped (they would corrupt the out-mass
    *    denominator — a zero-weight edge is "no edge", a negative one is
    *    undefined), and nodes whose out-edges were all dropped dangle;
    *  - `seeds = Some(df)` (personalized PageRank — Haveliwala 2002,
    *    topic-sensitive): teleport and dangling mass go uniformly to a
    *    one-column frame of seed node ids instead of everywhere, so
    *    non-seed-reachable nodes decay to exactly 0. Seeds absent from
    *    the graph are ignored (they could receive no inbound mass); none
    *    present is an error. Seeds are query-sized, never corpus-sized —
    *    the teleport column is one broadcast join.
    *
    * Scale shape: every iteration is two node/edge-keyed shuffles — the
    * rank/out-degree join and the inbound-contribution aggregate (map-side
    * combined on the destination) — plus a SCALAR dangling-mass aggregate
    * (one row). The ranks frame stays node-sized, edges edge-sized;
    * nothing corpus-wide ever sits on the driver. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: Option[String] = None, seeds: Option[DataFrame] = None,
      checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // the iterative-access exception to the "bounded caches only"
    // policy: every iteration re-reads edges and the node base, so they
    // persist (Dataset cache = MEMORY_AND_DISK — spills, never OOMs);
    // the production alternative for edges past cluster disk is a
    // one-time checkpoint to parquet, same access pattern. The edge
    // cache is pre-partitioned on its per-round join key (src), so the
    // contribution join exchanges edges ONCE here instead of every
    // round (guide §2.4: two operations keyed the same way share one
    // exchange).
    val e = (weightCol match {
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      case Some(w) => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), col(w).cast("double").as("w"))
        .filter(col("w") > 0) // also drops null weights
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    }).repartition(col("src")).cache()
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodes = seeds.fold(allNodes)(sd => allNodes
      .join(broadcast(sd.toDF("node").distinct().withColumn("is_seed", lit(true))),
        Seq("node"), "left")
      .cache())
    // the teleport probability: 1/k on the k seeds present, 0 elsewhere
    val tele = seeds.map { _ =>
      val k = nodes.filter(col("is_seed")).count().toDouble
      require(k > 0, "no seed appears in the graph")
      when(col("is_seed"), lit(1.0 / k)).otherwise(lit(0.0)).as("tele")
    }
    // the out-mass denominator (out-degree, or out-weight sum) is STATIC,
    // so it is joined into the node base ONCE here; carrying `deg` (null
    // = dangling) in the rank state makes the dangling mass a joinless
    // columnar aggregate, and the contribution needs no per-round
    // rank⋈degree join
    val outdeg = e.groupBy(col("src")).agg(
      weightCol.fold(count(lit(1)).cast("double"))(_ => sum(col("w"))).as("deg"))
    val base = nodes.join(outdeg, nodes("node") === outdeg("src"), "left")
      .select((col("node") +: tele.toSeq) :+ col("deg"): _*)
      .repartition(col("node")).cache()
    val (init, teleTerm, danglingShare) = seeds match {
      case None =>
        // the graph's node count — a scalar, needed in the teleport term
        val n = base.count().toDouble
        (base.withColumn("rank", lit(1.0 / n)), lit((1.0 - damping) / n), col("dsum") / n)
      case Some(_) =>
        (base.withColumn("rank", col("tele")), lit(1.0 - damping) * col("tele"),
          col("dsum") * col("tele"))
    }
    val ranks = Rounds.iterate(init, iters, checkpointEvery) { ranks =>
      // dangling mass: scalar agg, no join (null deg marks dangling)
      val dangling = ranks
        .agg(coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0.0)).as("dsum"))
      // per-edge contribution rank(src)·share(src, dst), summed at the dst
      val live = ranks.filter(col("deg").isNotNull)
      val contrib = weightCol match {
        case None => live
          .select(col("node").as("src"), (col("rank") / col("deg")).as("share"))
          .join(e, "src")
        case Some(_) => live
          .select(col("node").as("src"), col("rank"), col("deg"))
          .join(e, "src")
          .select(col("dst"), (col("rank") * col("w") / col("deg")).as("share"))
      }
      val inbound = contrib.groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("in_sum"))
      base.join(inbound, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(base.columns.map(col) :+ (teleTerm + lit(damping) *
          (coalesce(col("in_sum"), lit(0.0)) + danglingShare)).as("rank"): _*)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Synchronous label propagation (community detection — the Raghavan
    * et al. 2007 algorithm, public): every node starts labeled with its
    * own id; each round, every node adopts the most frequent label
    * among its NEIGHBORS, ties to the smallest label. Unlike
    * [[Dedup.connectedComponents]] (which answers "connected at all?"),
    * LPA's majority rule finds the DENSE regions inside a component.
    * Fixed iteration count + deterministic tie-break keep runs
    * reproducible and oracle-replayable (classic LPA's random order is
    * exactly what a distributed engine can't promise).
    *
    * Scale shape per round: one edge-keyed join labels→neighbors, one
    * (node, label) map-side-combined count, and a per-node argmax as a
    * HASH AGGREGATE — the O(1)-state [[MajorityVote]] Aggregator picks
    * the (cnt DESC, label ASC) winner with map-side partial combine
    * and no sort, so a celebrity hub with millions of distinct
    * neighbor labels is reduced incrementally instead of materialized
    * and sorted inside one window partition (the straggler shape
    * [[GroupTopK]]'s scaladoc warns about). Node ids must be
    * long-typed (they double as labels inside the integer-exact vote
    * buffer). */
  def labelPropagation(edges: DataFrame, iters: Int,
      aCol: String = "u1", bCol: String = "u2",
      checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the MajorityVote udaf votes over (cnt: long, label: long) longs,
    // so node ids must be integral (ids double as labels; the returned
    // label column is bigint after round 1 — see scaladoc). Validate up
    // front so a string-id graph fails with the contract spelled out
    // instead of an encoder/cast analysis error inside round 1.
    locally {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      edges.select(col(aCol), col(bCol)).schema.fields.foreach { f =>
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
          s"labelPropagation node column '${f.name}' must be an integral type " +
            s"(ids double as MajorityVote labels), got ${f.dataType.simpleString}")
      }
    }
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val und = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      // iterative-access exception, as in pageRank; pre-partitioned on
      // the per-round join key (dst) so each round's und⋈labels join
      // reads the cached layout instead of re-exchanging the edge side
      // (kept on an r21 A/B: 25.8s vs 27.0s without, 8 graph queries,
      // isolated min-of-5 at sf0.1)
      .repartition(col("dst"))
      .cache()
    val labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // per-node (cnt DESC, label ASC) winner via the MajorityVote
    // hash aggregate — see the class scaladoc for why not a window
    // (hub straggler) and not min(struct) (SortAggregate fallback)
    val mv = udaf(new MajorityVote)
    Rounds.iterate(labels, iters, checkpointEvery) { labels =>
      und.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(mv(col("cnt"), col("label")).as("label"))
    }
  }

  /** Connected components over undirected edges — the graph module's
    * first-class face of the proven min-label/pointer-jumping loop in
    * [[Dedup.connectedComponents]] (same iteration, same O(log diameter)
    * convergence; scale rationale there). Graph callers get (node, component) with
    * component = the smallest reachable node id, without importing a
    * dedup module for a graph primitive. Nodes with no edges don't
    * appear (a graph is its edge set here); left-join the node universe
    * for singleton components, exactly as [[Dedup.canonical]] does. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      aCol: String = "u1", bCol: String = "u2"): DataFrame =
    Dedup.connectedComponents(
        edges.select(col(aCol).as("d1"), col(bCol).as("d2")), maxIter)
      .select(col("id").as("node"), col("component"))

  /** Modularity of a node partition (Newman & Girvan 2004 — the
    * standard "is this community structure better than random?" score):
    * per community c, the term e_c/m − (d_c/2m)², where e_c = edges
    * with both endpoints in c, d_c = degree sum over c's nodes, m =
    * total undirected edges; Q is the sum over communities. Returned
    * per-COMMUNITY (label, n_nodes, internal_edges, degree_sum,
    * q_term) so callers can rank communities by contribution and an
    * oracle can check every term — the scalar Q is `sum(q_term)`.
    *
    * This is the quality metric for [[labelPropagation]]'s output:
    * LPA emits a partition, modularity says whether it found structure
    * (Q near 0 = no better than random edge placement).
    *
    * Scale shape: edges canonicalize in one pass; the e_c count is the
    * edge frame joined to the label frame on BOTH endpoints (two keyed
    * shuffles) filtered to label-equal, hash-aggregated per label; d_c
    * is a node-sized join + hash aggregate. m and nothing else is a
    * scalar. No windows, no driver state beyond the one scalar. */
  def modularity(edges: DataFrame, labels: DataFrame,
      aCol: String = "u1", bCol: String = "u2",
      nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .cache() // read three times: m, degrees, endpoint-label join
    val m = e.count().toDouble // the one scalar (like pageRank's n)
    require(m > 0, "modularity is undefined on an empty edge set")
    val lab = labels.select(col(nodeCol).as("node"), col(labelCol).as("label"))
    val internal = e
      .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("internal_edges"))
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val byLabel = deg.join(lab, "node")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("degree_sum"))
    byLabel.join(internal, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)) / lit(m)
          - pow(col("degree_sum") / lit(2.0 * m), 2), 6).as("q_term"))
  }

  /** Shared weighted-adjacency prep for the BFS family: dedupe to min
    * weight per (src, dst), symmetrize unless directed, CACHE (the
    * iterative-access exception, as in pageRank — callers unpersist). */
  private def prepAdj(edges: DataFrame, aCol: String, bCol: String,
      directed: Boolean, weightCol: Option[String]): DataFrame = {
    val w = weightCol.map(col).getOrElse(lit(1L))
    val raw = edges.select(col(aCol).as("a"), col(bCol).as("b"), w.as("w"))
      .filter(col("a") =!= col("b"))
    val canon =
      if (directed) raw
      else raw.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("w"))
    val e0 = canon.groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val fwd = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
    (if (directed) fwd
     else fwd.union(e0.select(col("b").as("src"), col("a").as("dst"), col("w"))))
      // pre-partitioned on the per-hop join key (src): the frontier
      // join re-reads this cache every hop, so the adjacency exchanges
      // once here instead of once per hop (guide §2.4; kept on the same
      // r21 A/B as labelPropagation's und cache)
      .repartition(col("src"))
      .cache()
  }

  /** Per-(node, landmark) shortest distances from a seed set, by
    * synchronous min-distance propagation (distributed BFS — the
    * landmark/reachability feature builder: "how far is every user from
    * each of these anchor accounts?"). Seeds not present in the graph
    * are ignored (no edge can reach them); pairs beyond `maxHops` are
    * absent rather than ∞, so the output is exactly the ≤ maxHops
    * reachability relation.
    *
    * `directed = false` (default) walks an undirected view of the
    * edges (canonicalized + symmetrized); `directed = true` propagates
    * strictly along aCol→bCol. `weightCol = Some(w)` switches hop
    * counting to MIN-SUM of edge weights (bounded-round Bellman-Ford:
    * cheapest path using ≤ maxHops edges); duplicate (src, dst) edges
    * collapse to their minimum weight, deterministically. Integral
    * weights keep the sums exact cross-engine — fractional weights
    * inherit the usual float-sum caveat (round before comparing).
    *
    * Scale shape per hop: one edge-keyed join (current distances →
    * neighbors) and one (node, seed) min-aggregate, map-side combined;
    * the distance frame is bounded by nodes × |seeds| — seeds are
    * query-sized (landmarks), never corpus-sized. Distances only ever
    * shrink, so the fixed `maxHops` rounds are deterministic and
    * oracle-replayable (the [[pageRank]] convention). */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      aCol: String = "u1", bCol: String = "u2",
      directed: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val adj = prepAdj(edges, aCol, bCol, directed, weightCol)
    // directed graphs can have sink-only nodes (never a src) — they
    // are still seedable/reachable, so the node set is src ∪ dst
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    val dist0 = nodes
      .join(broadcast(seeds.toDF("seed")), col("node") === col("seed"), "inner")
      .select(col("node"), col("seed"), lit(0L).as("dist"))
      .localCheckpoint(eager = true)
    val dist = Rounds.iterate(dist0, maxHops) { dist =>
      val prop = dist
        .join(adj, dist("node") === adj("src"))
        .select(col("dst").as("node"), col("seed"), (col("dist") + col("w")).as("dist"))
      dist.union(prop)
        .groupBy(col("node"), col("seed"))
        .agg(min(col("dist")).as("dist"))
    }
    adj.unpersist()
    dist
  }

  /** Lexicographic (dist, pred) minimum as a mergeable typed Aggregator
    * — the hash-aggregable argmin [[shortestPathTree]]'s per-round
    * reduction needs: `min(struct(dist, pred))` plans SortAggregate
    * (struct buffers aren't hash-supported — the q138 LPA lesson), and
    * two chained aggregations would double the per-hop shuffles. State
    * is one (dist, pred) pair; ObjectHashAggregate partial+final. */
  private class LexMin2 extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long), (Long, Long), (Long, Long)] {
    override def zero: (Long, Long) = (Long.MaxValue, Long.MaxValue)
    override def reduce(b: (Long, Long), a: (Long, Long)): (Long, Long) =
      if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      reduce(a, b)
    override def finish(b: (Long, Long)): (Long, Long) = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    override def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      bufferEncoder
  }

  /** [[bfsDistances]] with PATH RECONSTRUCTION: per (node, seed) the
    * shortest ≤`maxHops` distance AND the predecessor on one such
    * shortest path — pred = −1 marks the seed itself. Ties (several
    * shortest paths) resolve to the LOWEST predecessor id, so the tree
    * is deterministic and oracle-replayable.
    *
    * Bounded-round caveat (weighted mode): `dist` is always the exact
    * ≤`maxHops`-hop minimum, but `pred` is the predecessor recorded the
    * round the node's dist last improved — if that predecessor's OWN
    * dist then improves in the final round, the stored (dist, pred)
    * pair is no longer cost-consistent (dist ≠ dist(pred) + w), so
    * walking pred links can recover a path cheaper than dist and/or
    * longer than maxHops edges. Pred chains are guaranteed
    * cost-consistent only once the iteration has CONVERGED (a round
    * that changes no (dist, pred) pair — for hop-count weights any
    * maxHops ≥ diameter); under a deliberately truncated budget, treat
    * pred as the explanation of the hop-bounded estimate, not a
    * certificate. Same per-hop shape as
    * [[bfsDistances]] (edge join + per-(node, seed) reduction, frame
    * bounded by nodes × |seeds|); the reduction is [[LexMin2]], so it
    * stays a hash aggregate with map-side combine. Weights must be
    * non-negative longs (hop counting when `weightCol` is None). */
  def shortestPathTree(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      aCol: String = "u1", bCol: String = "u2",
      directed: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val adj = prepAdj(edges, aCol, bCol, directed, weightCol)
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    val lexmin = udaf(new LexMin2)
    val dist0 = nodes
      .join(broadcast(seeds.toDF("seed")), col("node") === col("seed"), "inner")
      .select(col("node"), col("seed"), lit(0L).as("dist"), lit(-1L).as("pred"))
      .localCheckpoint(eager = true)
    val dist = Rounds.iterate(dist0, maxHops) { dist =>
      val prop = dist
        .join(adj, dist("node") === adj("src"))
        .select(col("dst").as("node"), col("seed"),
          (col("dist") + col("w")).as("dist"), col("src").as("pred"))
      dist.union(prop)
        .groupBy(col("node"), col("seed"))
        .agg(lexmin(col("dist"), col("pred")).as("dp"))
        .select(col("node"), col("seed"),
          col("dp._1").as("dist"), col("dp._2").as("pred"))
    }
    adj.unpersist()
    dist
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a BIPARTITE
    * edge frame (u → i): alternating score propagation — an
    * authority is endorsed by good hubs, a hub endorses good
    * authorities — the mutual-reinforcement ranking PageRank's single
    * score can't express on user→item graphs (a power user and a
    * popular item are different kinds of important). Fixed `iters`
    * rounds (the [[pageRank]] determinism convention: bounded,
    * oracle-replayable), MAX-normalized and 6dp-rounded after every
    * half-step; round 1's authority is exactly degree/max-degree (hub
    * seed = 1), an exact rational — bit-identical across engines. From
    * round 2 on the per-node SUMS of 6dp-rounded scores are IEEE
    * accumulation-order dependent (Spark's partial-agg order vs
    * another engine's), so the re-pin holds up to 1-ulp jitter UNDER
    * the 6dp round — exact unless a sum lands on a .5e-6 rounding
    * boundary, the repo's standard reassociation exposure (the q211
    * convention), not a bit-equality guarantee.
    *
    * Scale shape per round: two edge-keyed join+aggregate passes
    * (map-side combined, node-keyed — never all-pairs) and two 1-row
    * max frames broadcast back; each half-step is one
    * [[Rounds.iterate]] round, so the returned frames are already
    * materialized — the edge cache is then released in a finally
    * without robbing callers of its benefit or leaking it on failure.
    * Returns (hubs (u, h), authorities (i, a)) after `iters` full
    * rounds. */
  def hits(edges: DataFrame, uCol: String = "u", iCol: String = "i",
      iters: Int = 2): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(uCol).as("u"), col(iCol).as("i"))
      .distinct().cache()
    try {
      // rounds alternate half-steps: hub (u, h) → authority (i, a) → hub
      var auth: DataFrame = null
      val hub0 = e.select(col("u")).distinct().withColumn("h", lit(1.0))
      val hub = Rounds.iterate(hub0, 2 * iters) { s =>
        if (s.columns.head == "u") {
          val rawA = e.join(s, "u").groupBy(col("i")).agg(sum(col("h")).as("ra"))
          rawA.crossJoin(broadcast(rawA.agg(max(col("ra")).as("am"))))
            .select(col("i"), round(col("ra") / col("am"), 6).as("a"))
        } else {
          auth = s
          val rawH = e.join(auth, "i").groupBy(col("u")).agg(sum(col("a")).as("rh"))
          rawH.crossJoin(broadcast(rawH.agg(max(col("rh")).as("hm"))))
            .select(col("u"), round(col("rh") / col("hm"), 6).as("h"))
        }
      }
      (hub, auth)
    } finally {
      e.unpersist(blocking = false): Unit
    }
  }

  /** k-core membership by bounded-round peeling (Seidman 1983; the
    * distributed "peel degree-deficient nodes in rounds" formulation —
    * Montresor et al. 2013): each round drops every node whose CURRENT
    * degree in the surviving subgraph is < k, until no node drops or
    * `maxRounds` is hit. Returns the surviving (node, degree) frame —
    * degree as of the final subgraph. The k-core is the standard
    * "dense enough to matter" filter a notch simpler than
    * [[triangleStats]]: spam rings and celebrity hubs survive high-k
    * cores, drive-by edges don't.
    *
    * Fixed `maxRounds` (like [[pageRank]]'s fixed iterations) keeps the
    * result deterministic and oracle-replayable even when peeling
    * hasn't converged; synchronous rounds mean the result is
    * partition-order-independent. Peeling is monotone — a round that
    * removes no edge removes no node, so every later round is an
    * identity — and the loop stops at the first such round
    * ([[Rounds.NoneDropped]]); the output is the same as after all
    * `maxRounds` peels (r22, measured on q144's graph at sf0.1: the peel
    * converges after round 1, so rounds 2-4 were pure no-op jobs).
    * Callers who need the true core pass maxRounds generous (peeling
    * converges in O(diameter)-ish rounds in practice).
    *
    * Scale shape per round: one degree aggregate over the surviving
    * edge frame (map-side combined, node-keyed) and two semi-joins
    * filtering edges to surviving endpoints — all edge/node-sized,
    * nothing corpus-wide on the driver. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
      aCol: String = "u1", bCol: String = "u2"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val e = Rounds.iterate(e0, maxRounds, until = Some(Rounds.NoneDropped)) { e =>
      val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k).select(col("node"))
      e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    // degrees of the subgraph as left after exactly maxRounds peels
    // (early exit only skips identity rounds) — no trailing filter, so
    // the oracle replays the identical rounds
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected simple graph (edges in either orientation; self-loops
    * and parallels dropped) — the community-structure primitive next to
    * components and PageRank.
    *
    * The wedge enumeration uses the DEGREE-ORDERED orientation (the
    * classic "forward" algorithm, Schank & Wagner 2005): every edge
    * points toward its (degree, id)-larger endpoint, wedges are pairs
    * of out-neighbors, and the closing edge is oriented the same way so
    * the lookup is a direct equi-join. That orientation caps every
    * node's out-degree at O(√m), bounding total wedges at O(m^1.5)
    * REGARDLESS of skew — under a naive id-ordering one celebrity hub
    * with a million neighbors enumerates 10^12 wedges; degree-ordering
    * structurally forbids it. Each triangle is found exactly once (at
    * its (degree, id)-smallest vertex), so per-node attribution is a
    * plain explode of the three corners — no dedup shuffle. */
  def triangleStats(edges: DataFrame, aCol: String = "u1", bCol: String = "u2"): DataFrame = {
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = e0.select(col("a").as("node")).union(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val keyed = e0
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val or = keyed.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddeg")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg"))
      // persisted because the wedge self-join and the closure join both
      // read it (MEMORY_AND_DISK — spills); edge-sized, the same
      // iterative-access exception as pageRank's edge cache.
      // Pre-partitioned on src: the wedge enumeration is a self-join on
      // src, so BOTH sides read the cached layout and the join plans
      // with no exchange at all (guide §2.4)
      .repartition(col("src"))
      .cache()
    val wedges = or.as("uv").join(or.as("uw"),
        col("uv.src") === col("uw.src") &&
          struct(col("uv.ddeg"), col("uv.dst")) < struct(col("uw.ddeg"), col("uw.dst")))
      .select(col("uv.src").as("x"), col("uv.dst").as("v"), col("uw.dst").as("w"))
    val tri = wedges.join(
      or.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("x"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1))), 6)).as("clustering"))
  }
}
