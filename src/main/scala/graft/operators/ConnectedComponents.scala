package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the "group the
  * near-duplicate pairs into clusters" step of a dedup pipeline, where the
  * pairwise output of MinHash/SimHash/winnowing becomes per-document cluster
  * ids (component = smallest doc id reachable through any chain of pairs).
  *
  * The reference engine has no graph operator; this is north-star extension
  * surface (SURVEY.md §2.4 family) needed to turn pair sets into a
  * transitive keep/drop policy at corpus scale.
  *
  * '''Algorithm (the 100-TB design).''' Alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
  * each round is two rounds of `groupBy(min)` + equi-join on node ids — pure
  * shuffle-on-key dataflow, no driver-side adjacency, no collect. It
  * converges in O(log²|V|) rounds even on path graphs (a naive min-label
  * propagation needs diameter rounds — 10⁶ for a 10⁶-chain), and every
  * intermediate edge set is at most the input size after `distinct()`.
  *
  * Per-iteration materialization truncates the logical plan, which
  * otherwise doubles per round and overwhelms the optimizer by iteration ~8.
  * Two modes, picked by `checkpointDir`:
  *  - `None` (default): `localCheckpoint` — fast, ONE Spark job per round
  *    (the convergence signature rides the materialization job itself as a
  *    `CollectMetrics`/`observe` aggregate instead of a second action), but
  *    lineage truncates onto executor-local blocks: an executor loss kills
  *    the job. Right for interactive / short closures.
  *  - `Some(dir)`: RELIABLE `checkpoint` to a cluster store (sets
  *    `sparkContext.setCheckpointDir(dir)`) — a multi-hour 100-TB dedup
  *    closure survives executor loss and recomputes nothing older than one
  *    round. Costs an extra materialization pass per round (Spark writes
  *    reliable checkpoints by re-running the round) plus the separate
  *    signature scan (which then reads the checkpoint files, not the
  *    round's plan). Identical results either way — the dataflow is the
  *    same; only the persistence contract changes.
  *
  * Iteration is driver-coordinated but all data stays distributed: the only
  * driver-side values are the 2-long convergence signature per round.
  */
object ConnectedComponents {

  /** (node, component) for every node appearing in `pairs`, where component
    * is the minimum node id in the node's connected component. Null ids and
    * self-pairs are dropped. */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // Initial materialization runs under the caller's conf untouched: the
    // input lineage is arbitrary (typically an LSH/banding join pipeline)
    // and AQE's runtime skew handling genuinely helps there.
    var (edges, sig) = materialize(pairs
      .filter(col(idA).isNotNull && col(idB).isNotNull && col(idA) =!= col(idB))
      .select(least(col(idA), col(idB)).as("lo"), greatest(col(idA), col(idB)).as("hi"))
      .distinct(), checkpointDir.isDefined)

    var converged = sig._1 == 0L
    var it = 0
    // Star rounds run with AQE OFF: a round is a fixed star contraction
    // over an already-materialized edge set — there is nothing adaptive
    // left to discover, but AQE turns each of its exchange/broadcast
    // stages into a separate Spark job (measured 6 jobs/round on this
    // suite), and ten of this repo's queries run 5-15 rounds each against
    // a fixed per-job driver latency. AQE-off plans the whole round as ONE
    // job. What AQE would have contributed is replaced explicitly:
    //  - partition coalescing: the convergence signature already carries
    //    the exact surviving edge count for free, so each round's shuffle
    //    partition count is sized from it (~1M edges/partition), clamped
    //    to the caller's setting — late near-converged rounds run 1-2
    //    partitions instead of the session default or 10k on a big cluster;
    //  - broadcast decisions: star rounds deliberately DON'T broadcast
    //    (the per-node min table is the same cardinality class as the
    //    edge set itself) — sort-merge on the shared exchange is the
    //    stable 100-TB plan; each static BroadcastExchange would also
    //    submit its own relation-build job (measured 4 per round).
    // The rounds plan in a private clone of the session, never in the
    // caller's conf.
    val maxParts = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong
    edges = graft.sources.Isolated.withConf(Seq(edges),
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { case (clone, Seq(start)) =>
      var round = start
      while (!converged && it < maxIter) {
        clone.conf.set("spark.sql.shuffle.partitions",
          math.min(maxParts, sig._1 / 250000L + 1L).toString)
        val (next, nextSig) = materialize(smallStar(largeStar(round)), checkpointDir.isDefined)
        converged = nextSig == sig
        sig = nextSig
        round = next
        it += 1
      }
      round
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations")

    // At the fixpoint the edge set is a union of stars: every edge links a
    // node directly to its component's minimum. The groupBy(min) is belt and
    // braces (a star already has one edge per non-root node).
    edges.select(col("hi").as("node"), col("lo").as("component"))
      .union(edges.select(col("lo").as("node"), col("lo").as("component")))
      .groupBy("node")
      .agg(min("component").as("component"))
  }

  /** Incremental connected components — the daily-ingest shape: fold a
    * batch of NEW pairs into an existing (node, component) assignment
    * without re-clustering the historical corpus.
    *
    * '''Exactness.''' A component's membership can change only if it
    * contains an endpoint of a new pair (merging happens exclusively
    * through new edges), so the affected component ids are EXACTLY the
    * assignment components of the new pairs' endpoints — a set bounded by
    * 2·|newPairs|, broadcast. Untouched components pass through verbatim;
    * the star edges of affected components union with the new pairs and
    * re-cluster through the same large/small-star loop. The result equals
    * full [[connectedComponents]] over (historical connectivity ∪ new
    * pairs): an assignment is a star edge set preserving its components'
    * connectivity and minimum ids.
    *
    * '''Scale shape.''' Per batch: one broadcast semi/anti split of the
    * assignment (narrow probe, no shuffle of the corpus by component), then
    * the CC loop over the affected region only — O(affected + new), not
    * O(corpus). Fresh nodes absent from the assignment cluster via the new
    * pairs directly. */
  def incrementalComponents(
      assignment: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(newPairs.sparkSession.sparkContext.setCheckpointDir)
    // Materialize the (near-dup-sized) pair list ONCE: it is typically
    // the expensive lineage here (an LSH pipeline in the dedup flow) and
    // has two independent consumers — the affected-set computation and the
    // CC loop's initial edge set. Cutting at the pairs, not the affected
    // set, covers both. The operator already runs eager jobs (the CC loop
    // below), so an eager checkpoint changes nothing structural. Reliable
    // mode (checkpointDir set) persists to the cluster store so the batch
    // fold survives executor loss, same contract as [[connectedComponents]].
    val pairsPlan = newPairs
      .filter(col(idA).isNotNull && col(idB).isNotNull && col(idA) =!= col(idB))
      .select(col(idA), col(idB))
    // Skip the materialization when the caller already checkpointed: a
    // narrow (filter/project-only) lineage over an RDD scan re-reads the
    // caller's checkpoint blocks for both consumers anyway, and the extra
    // eager localCheckpoint would just pay one more job + a block-set copy
    // (the dedup_groups_incremental query hit exactly this — its pair list
    // arrives pre-checkpointed from the shared LSH pass). Plan shape alone
    // is NOT enough: `createDataFrame` over an arbitrary (expensive,
    // non-persisted) RDD is also a LogicalRDD scan — require the scanned
    // RDD to actually hold materialized state (checkpointed or persisted)
    // before trusting it to serve both consumers.
    def narrowOverRdd(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.isCheckpointed ||
          r.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => narrowOverRdd(f.child)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project => narrowOverRdd(pr.child)
      case _ => false
    }
    val pairs =
      if (checkpointDir.isDefined) pairsPlan.checkpoint()
      else if (narrowOverRdd(pairsPlan.queryExecution.optimizedPlan)) pairsPlan
      else pairsPlan.localCheckpoint()
    val ends = pairs.select(col(idA).as("node"))
      .union(pairs.select(col(idB).as("node"))).distinct()
    val affected = assignment.join(ends, Seq("node"), "left_semi")
      .select("component").distinct()
    val (touched, untouched) = splitByAffected(assignment, affected)
    // a star's root carries the self-row (r, r); its connectivity is
    // preserved by the member edges, and a root with no members is a
    // singleton that is itself a new-pair endpoint (else not affected)
    val starEdges = touched
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idA), col("component").as(idB))
    connectedComponents(starEdges.unionByName(pairs), idA, idB, maxIter, checkpointDir)
      .unionByName(untouched.select("node", "component"))
  }

  /** The assignment split [[incrementalComponents]] runs: both probes of
    * the (bounded, broadcast) affected-component set. Exposed so the plan
    * shape — broadcast probes, never a shuffle of the assignment by
    * component — is pinned directly in PlanSpec even though the operator
    * consumes the touched side eagerly. */
  private[graft] def splitByAffected(
      assignment: DataFrame, affected: DataFrame): (DataFrame, DataFrame) = (
    assignment.join(broadcast(affected), Seq("component"), "left_semi"),
    assignment.join(broadcast(affected), Seq("component"), "left_anti"))

  /** Directed neighbor view of canonical (lo < hi) edges: both orientations. */
  private def directed(e: DataFrame): DataFrame =
    e.select(col("lo").as("x"), col("hi").as("y"))
      .union(e.select(col("hi").as("x"), col("lo").as("y")))

  /** Large-star: every node x links its LARGER neighbors to the minimum of
    * its neighborhood (incl. itself) — long chains collapse toward small ids
    * from every node in parallel. Emitted edges (m, y) satisfy m ≤ x < y.
    *
    * Shuffle shape: the probe side joins BEFORE the `y > x` filter, so both
    * join inputs are the SAME shuffled `d` the aggregate consumed — the two
    * exchanges canonicalize equal and exchange/AQE-stage reuse collapses
    * them into one. No distinct here either: the pre-dedup output is at
    * most one row per canonical input edge (only the lo<hi orientation
    * passes the filter), and whatever duplicates remain collapse at
    * smallStar's terminal distinct one shuffle later. Net: ONE exchange
    * per large-star instead of three. */
  private def largeStar(e: DataFrame): DataFrame = {
    val d = directed(e)
    val m = d.groupBy("x").agg(min("y").as("mn"))
      .select(col("x"), least(col("x"), col("mn")).as("m"))
    d.join(m, Seq("x"))
      .filter(col("y") > col("x"))
      .select(col("m").as("lo"), col("y").as("hi"))
  }

  /** Small-star: every node x links its SMALLER neighbors (and itself) to
    * the minimum among them — flattening the partial trees into stars. */
  private def smallStar(e: DataFrame): DataFrame = {
    val d = e.select(col("hi").as("x"), col("lo").as("y"))
    val m = d.groupBy("x").agg(min("y").as("m"))
    val linked = d.join(m, Seq("x"))
      .select(col("m").as("lo"), col("y").as("hi"))
      .filter(col("lo") =!= col("hi"))
    val self = m.select(col("m").as("lo"), col("x").as("hi"))
    linked.union(self).distinct()
  }

  /** Materialize one round's (lo, hi) edge set and return it with its
    * convergence signature — (edge count, sum of per-edge hashes; per-round
    * collision probability ~2⁻⁶⁴, and a false positive would only stop one
    * round early on an already-star-shaped set).
    *
    * Default (local) mode folds the signature INTO the materialization:
    * the `observe` aggregate rides the `localCheckpoint` action's own job
    * as a `CollectMetrics` node, so a CC round is ONE Spark job, not a
    * checkpoint + a separate signature scan. Ten of this repo's queries
    * run 5-15 rounds each; at a fixed per-job scheduling latency this
    * halves the operator's job count (the r13-bisected driver-host tax).
    *
    * Reliable mode keeps the separate signature scan: Spark writes a
    * reliable checkpoint by RE-RUNNING the round's tasks after the eager
    * action, which would drive the observed accumulator twice (doubling
    * `n` in the signature) — and the post-checkpoint scan is a cheap read
    * of the just-written checkpoint files, not a plan re-execution. */
  private def materialize(round: DataFrame, reliable: Boolean): (DataFrame, (Long, String)) = {
    // decimal(38,0) accumulator: a long sum of 2⁶³-scale hashes overflows
    // under ANSI arithmetic after a handful of edges
    def sigCols = Seq(
      count(lit(1)).as("n"),
      sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)")).as("h"))
    def decode(n: Long, h: Any): (Long, String) =
      (n, Option(h).map(_.asInstanceOf[java.math.BigDecimal].toBigInteger.toString)
        .getOrElse("0"))
    if (reliable) {
      val out = round.checkpoint()
      val r = out.agg(sigCols.head, sigCols.tail: _*).head()
      (out, decode(r.getLong(0), r.get(1)))
    } else {
      val obs = org.apache.spark.sql.Observation()
      val out = round.observe(obs, sigCols.head, sigCols.tail: _*).localCheckpoint()
      val m = obs.get
      (out, decode(m("n").asInstanceOf[Long], m("h")))
    }
  }
}
