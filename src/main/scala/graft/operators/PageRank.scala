package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank with FIXED-POINT INTEGER arithmetic — graph
  * centrality over an edge list (link graphs, near-dup graphs, bipartite
  * user×item graphs), the ranking signal crawl-frontier and corpus-weight
  * pipelines use.
  *
  * Scores are integers scaled by `scale` (default 1e9): the update is
  * `r'(v) = (15·scale) div (100·N) + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100`
  * — damping 0.85 expressed as integer multiply-then-div, per-neighbor
  * contributions floored BEFORE the sum. Integer sums are associative and
  * commutative, so the result is bit-identical under any partition order
  * and any engine — exactly SQL-replayable with one CTE per iteration
  * (the float formulation would diverge in the last ulp on summation order
  * alone). Mass lost to flooring and to dangling nodes (no out-edges) is
  * NOT redistributed — ranks are comparable within a run, which is what a
  * ranking signal needs; they just don't sum exactly to `scale`.
  *
  * '''Plan shape (the 100-TB design).''' N is the ONE driver-side value —
  * a single Long, read for free from the node materialization's `observe`
  * metrics (bounded driver state is fine for a scalar; the no-collect rule
  * guards against unbounded result sets). Per iteration: scores and
  * out-degrees join at node grain, contributions shuffle once keyed by
  * destination with a map-side-combined integer sum, and the score frame
  * checkpoints so lineage stays flat across iterations (the CC / k-means
  * motif — like those, this is an eager iterative operator, not a lazy
  * plan).
  *
  * Like the CC star rounds (same r14 rationale), iterations run with AQE
  * and auto-broadcast OFF: each iteration is a fixed-shape contraction
  * over materialized frames, and AQE only fragments it into
  * one-job-per-stage against a fixed per-job driver latency (measured 57
  * jobs for a 4-iteration bipartite rank; ~8 after). Partition counts are
  * sized from the observed node count instead of AQE coalescing. A hub
  * node's fan-in skews the dst-side aggregation — that is a map-side
  * partial-combined `sum`, which absorbs hot keys before the shuffle. */
object PageRank {

  /** `checkpointDir`: when set, per-iteration score frames persist via
    * RELIABLE `checkpoint` to the cluster store (survives executor loss —
    * what a long ranking job on a real cluster needs) instead of the
    * default executor-local `localCheckpoint`. Identical results; only the
    * persistence contract (and a re-run write pass per iteration) differ. */
  def pageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 4,
      scale: Long = 1000000000L,
      checkpointDir: Option[String] = None): DataFrame =
    rankImpl(edges, srcCol, dstCol, iters, scale, checkpointDir, None)

  /** Personalized PageRank: identical fixed-point integer iterations, but
    * the 15% teleport mass restarts ONLY at `seeds` (and the initial
    * distribution sits on them) — ranks become "proximity to the seed
    * set" instead of global centrality: the recommendation / blast-radius
    * ranking (seed = flagged docs, rank = contamination proximity through
    * the graph; seed = a user's items, rank = what to recommend). With
    * every node seeded this IS [[pageRankInt]] (same arithmetic, same
    * bits). Seeds absent from the graph are ignored; an empty effective
    * seed set fails loudly (an all-zero rank vector would look like a
    * result). */
  def personalizedPageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int = 4,
      scale: Long = 1000000000L,
      checkpointDir: Option[String] = None): DataFrame =
    rankImpl(edges, srcCol, dstCol, iters, scale, checkpointDir,
      Some(seeds.select(col(seedCol).as("node")).distinct()))

  private def rankImpl(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long,
      checkpointDir: Option[String],
      seedSet: Option[DataFrame]): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    require(scale > 0, "scale must be positive")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    // Materialize a frame and return it with its row count. Local mode
    // reads the count for free off the checkpoint action's own job via
    // observe; reliable mode counts with a separate scan of the
    // just-written checkpoint files (Spark re-runs a reliably-checkpointed
    // plan to write it, which would drive an observed accumulator twice —
    // same rationale as ConnectedComponents.materialize).
    def matCount(df: DataFrame): (DataFrame, Long) =
      if (checkpointDir.isDefined) { val out = df.checkpoint(); (out, out.count()) }
      else {
        val obs = org.apache.spark.sql.Observation()
        val out = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
        (out, obs.get("n").asInstanceOf[Long])
      }
    // The edge projection materializes ONCE under the caller's conf (its
    // lineage is arbitrary and may want AQE); every iteration then re-reads
    // the materialized frame instead of recomputing the upstream plan.
    val (e, nEdges) = matCount(
      edges.select(col(srcCol).as("__graft_src"), col(dstCol).as("__graft_dst")))
    // Iterations plan in a private clone of the session, never in the
    // caller's conf; partitions are sized from the edge count.
    val maxParts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong
    graft.sources.Isolated.withConf(e +: seedSet.toSeq,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.shuffle.partitions" ->
          math.min(maxParts, nEdges / 250000L + 1L).toString) { case (_, e +: seeds) =>
      val (nodes, n) = matCount(
        e.select(col("__graft_src").as("node"))
          .unionAll(e.select(col("__graft_dst").as("node")))
          .distinct())
      val outdeg = e.groupBy(col("__graft_src").as("node"))
        .agg(count(lit(1)).as("__graft_deg"))
      // teleport targets: every node (classic) or the seed∩graph set
      // (personalized); nodesT carries the per-node seed flag so the
      // classic path stays a constant-folded literal, never a join
      val (nodesT, nT) = seeds.headOption match {
        case None => (nodes.select(col("node"), lit(true).as("__graft_seed")), n)
        case Some(sd) =>
          val (sdm, c) = matCount(nodes.join(sd, Seq("node"), "left_semi"))
          require(c > 0, "personalizedPageRankInt: no seed is present in " +
            "the graph — an all-zero rank vector would masquerade as a result")
          (nodes.join(sdm.select(col("node"), lit(true).as("__graft_seed")),
            Seq("node"), "left")
            .select(col("node"),
              coalesce(col("__graft_seed"), lit(false)).as("__graft_seed")), c)
      }
      // n == 0 ⇒ every frame below is empty; the guards only keep the
      // driver-side integer divisions from throwing
      val initRank = if (nT == 0) 0L else scale / nT
      val teleport = if (nT == 0) 0L else (15L * scale) / (100L * nT)
      val init = nodesT.select(col("node"),
        when(col("__graft_seed"), lit(initRank)).otherwise(lit(0L))
          .as("rank_scaled"))
      var scores = if (checkpointDir.isDefined) init.checkpoint()
        else init.localCheckpoint()
      (1 to iters).foreach { _ =>
        val contrib = e
          .join(scores.join(outdeg, Seq("node"))
            .select(col("node").as("__graft_src"),
              expr("rank_scaled div __graft_deg").as("__graft_c")),
            Seq("__graft_src"))
          .groupBy(col("__graft_dst").as("node"))
          .agg(sum("__graft_c").as("__graft_in"))
        val next = nodesT
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            (when(col("__graft_seed"), lit(teleport)).otherwise(lit(0L)) +
              expr("(85 * coalesce(__graft_in, 0L)) div 100")).as("rank_scaled"))
        scores = if (checkpointDir.isDefined) next.checkpoint() else next.localCheckpoint()
      }
      scores
    }
  }
}
