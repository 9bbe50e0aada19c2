package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * North-star extension surface (SURVEY.md §2.4):
  *  - brute-force cosine top-k as the exact baseline (broadcast the query
  *    set, scan the corpus once — the right plan when |queries| ≪ |corpus|);
  *  - random-hyperplane LSH bucketing as the 100-TB path (candidates come
  *    from an equi-join on bucket ids, never a cross join).
  *
  * Vector math uses `zip_with`/`aggregate` higher-order functions — sequential
  * left-to-right double accumulation, deterministic and engine-portable.
  */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Double-precision dot product via the custom [[graft.functions.VectorDot]]
    * expression (one tight loop per row; the equivalent
    * `aggregate(zip_with(...))` HOF form allocates and runs two lambdas per
    * element, which dominated brute-force similarity profiles). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorDot.dot(a, b)

  /** The HOF formulation, kept for reference/validation. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosineSim(a: Column, b: Column): Column =
    cosineOfNorms(a, b, l2Norm(a), l2Norm(b))

  /** The pair cosine of every embedding path, from the two vectors' norms
    * (callers that score many pairs compute each norm once per vector); a
    * zero-norm side scores 0 instead of dividing by zero. */
  private[llm] def cosineOfNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** The top-k tail of every per-query ranking: best `order` first, ties
    * to the lowest `neighbor_id`; output `(query_id, neighbor_id, score,
    * rank)`. */
  private def topKPerQuery(
      scored: DataFrame, score: String, order: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(order, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", score, "rank")
  }

  /** Exact-vs-approximate size rule: exact when `limit` is positive and
    * `df` has at most `limit` ids. `Long.MaxValue` forces exact without the
    * count job, `0` forces approximate. */
  private[llm] def exactWithin(df: DataFrame, idCol: String, limit: Long): Boolean =
    limit > 0 && (limit == Long.MaxValue || df.select(idCol).count() <= limit)

  /** Exact top-k nearest corpus vectors per query vector, by cosine.
    *
    * Plan shape: broadcast(queries) × corpus scan → per-(query,corpus) cosine
    * → window top-k on query id. The broadcast keeps the corpus scan
    * shuffle-free; the only shuffle is the final top-k by query id.
    */
  def bruteForceTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int): DataFrame = {
    // norms are computed once per VECTOR on each side of the join (the join
    // boundary stops the optimizer from inlining them into the per-pair
    // cosine, where they would cost two extra dot products per pair); the
    // arithmetic — dot/(sqrt(dot)·sqrt(dot)) — is unchanged, so cosines
    // stay bit-identical to the naive form and to the DuckDB oracle
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"),
      l2Norm(col(qVecCol)).as("__qn"))
    // the |corpus|×|queries| scoring stage sits directly above the corpus
    // scan; spread repairs its parallelism when the scan is a single split
    // (r18: the whole knn_graph cross-scoring ran as ONE task) and is a
    // no-op on well-partitioned corpora
    val c = graft.sources.Spread.spread(
        corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("cv")))
      .withColumn("__cn", l2Norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", queryCosine)
    topKPerQuery(scored, "cosine", col("cosine").desc, k)
  }

  // the pair cosine of the query-side frames below: (qv, __qn) per query,
  // (cv, __cn) per corpus vector
  private def queryCosine: Column =
    cosineOfNorms(col("qv"), col("cv"), col("__qn"), col("__cn"))

  /** Mean-reciprocal-rank retrieval eval: per query vector, the rank of
    * the FIRST relevant (same-label) corpus vector in the full cosine
    * ordering, and its reciprocal in exact micro-units
    * (`rr_ppm = 10⁶ div first_rank` — integer both engines). The standard
    * "did retrieval surface a right answer early" metric next to
    * recall@k ([[eval_ann_recall]]'s shape): recall asks how many of the
    * true neighbors landed in the top-k, MRR asks how deep the reader
    * must scroll for the first one.
    *
    * '''Plan shape.''' Never materializes the full ranking: the first
    * relevant candidate is the relevant argmax of `(cosine, -id)` (one
    * aggregate), and its rank is `1 + #candidates strictly ahead of it`
    * (one more aggregate over the same scored frame) — two
    * map-side-combined passes over broadcast(queries) × corpus, no
    * corpus-scale window or sort. "Ahead" uses the same
    * `(cosine DESC, id ASC)` total order as [[bruteForceTopK]], so ranks
    * agree with it exactly. Queries whose label never appears in the
    * corpus (minus themselves) have no first relevant and are absent.
    *
    * This is an EVAL harness: `queries` is a bounded sampled set (the
    * broadcast side), corpus-side cost is one scan per eval — the same
    * contract as the ANN recall eval. */
  def meanReciprocalRank(
      queries: DataFrame, qIdCol: String, qVecCol: String, qLabelCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String, cLabelCol: String)
      : DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qLabelCol).as("label"), col(qVecCol).as("qv"),
      l2Norm(col(qVecCol)).as("__qn"))
    // spread: see bruteForceTopK — the two scored-frame passes inherit the
    // corpus scan's parallelism otherwise
    val c = graft.sources.Spread.spread(
        corpus.select(col(cIdCol).as("__nid"),
          col(cLabelCol).as("__nlabel"), col(cVecCol).as("cv")))
      .withColumn("__cn", l2Norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__nid") =!= col("query_id"))
      .withColumn("__cos", queryCosine)
      .select("query_id", "label", "__nid", "__nlabel", "__cos")
    // scored feeds the argmax AND the rank count: two corpus scans per
    // eval (deliberately NOT checkpointed — the frame is corpus × queries,
    // the one thing the house rule says never to materialize)
    // argmin of (-cos, id) = argmax cos with ascending-id tie-break. The id
    // rides the struct UNNEGATED (mirroring dropNearDuplicatesByPriority's
    // struct ordering): arithmetic negation would reject string id columns
    // and overflow on Long.MinValue ids.
    val first = scored.filter(col("__nlabel") === col("label"))
      .groupBy("query_id")
      .agg(min(struct((-col("__cos")).as("nc"), col("__nid").as("ni")))
        .as("__best"))
      .select(col("query_id").as("__bq"), (-col("__best.nc")).as("__bcos"),
        col("__best.ni").as("__bid"))
    scored.join(broadcast(first), col("query_id") === col("__bq"))
      .groupBy(col("query_id"), col("label"))
      .agg((sum(when(col("__cos") > col("__bcos") ||
          (col("__cos") === col("__bcos") && col("__nid") < col("__bid")),
        1L).otherwise(0L)) + 1L).as("first_rank"))
      .withColumn("rr_ppm", expr("1000000 div first_rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of N
    * independently-ranked retrieval lists — the standard hybrid-search
    * combiner (dense ANN + sparse BM25): each list contributes
    * `1e6 DIV (rrfK + rank)` micro-points per item, items are re-ranked
    * by total. Score-free (ranks only), so lists with incomparable score
    * scales fuse without calibration; integer arithmetic end-to-end, so
    * the fusion replays exactly in SQL.
    *
    * Each input must carry (`idCol`, `rankCol`) with rank ≥ 1; ties in
    * the fused total break by id. The inputs are top-k lists (tens of
    * rows each by construction), so the final ordering window runs over
    * a bounded frame — never corpus-scale.
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k >= 1, "k must be positive")
    require(rrfK >= 0, "rrfK must be non-negative")
    val contribs = lists.map(df => df.select(col(idCol).as("item_id"),
      expr(s"1000000 DIV ($rrfK + $rankCol)").as("__c")))
    val w = Window.orderBy(col("rrf_micro").desc, col("item_id"))
    contribs.reduce(_ unionAll _)
      .groupBy("item_id")
      .agg(sum("__c").as("rrf_micro"), count(lit(1)).as("n_lists"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors whose LABEL DIFFERS from the query's —
    * the "closest wrong answers" that make the strongest negatives.
    * Same broadcast(queries) × corpus-scan plan as [[bruteForceTopK]]
    * plus the label-mismatch predicate; swap in the LSH/IVF candidate
    * generation for the 100-TB path exactly as for plain top-k. */
  def hardNegativeTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String, qLabelCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String, cLabelCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"),
      col(qLabelCol).as("__ql"), l2Norm(col(qVecCol)).as("__qn"))
    // spread: see bruteForceTopK
    val c = graft.sources.Spread.spread(
        corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("cv"),
          col(cLabelCol).as("__cl")))
      .withColumn("__cn", l2Norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(!(col("__cl") <=> col("__ql"))) // null-safe label mismatch
      .withColumn("cosine", queryCosine)
    topKPerQuery(scored, "cosine", col("cosine").desc, k)
  }

  /** Deterministic pseudo-random hyperplanes: component (p, d) is ±1 derived
    * from a splitmix-style integer mix of the seed — reproducible across
    * runs and executors, tiny enough to inline as literals. */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    (0 until numPlanes).map { p =>
      (0 until dim).map { d =>
        var z = seed + (p.toLong * 1048573L + d.toLong) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** Sign-LSH bucket id (one long per table) for an embedding column. */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int, seed: Long): Column = {
    val planes = hyperplanes(numPlanes, dim, seed)
    planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = typedLit(plane)
      when(dot(vec, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  /** IVF-Flat approximate top-k: coarse-quantize the corpus into `nCells`
    * Voronoi cells (assignment = argmax centroid cosine, ties to the lowest
    * centroid id), probe the `nProbe` best cells per query, and take exact
    * cosine top-k among the probed cells' members only.
    *
    * Centroids default to the first `nCells` corpus vectors by id — a
    * deterministic sampled-centroid quantizer, so the whole operator
    * (assignment, probing, ranking) is exactly replayable by a SQL oracle;
    * pass k-means-trained `centroids` for production recall. The centroid
    * set is a MODEL PARAMETER (nCells × dim doubles, KB-scale): collecting
    * it is O(nCells), independent of corpus size, and it travels to
    * executors as plan literals.
    *
    * 100-TB shape: corpus assignment is one narrow map (nCells dot products
    * per row, codegen'd [[graft.functions.VectorDot]]); candidates come from
    * an equi-join on the cell id (each corpus vector lives in exactly ONE
    * cell, so candidate volume ≈ nProbe/nCells of the corpus per query —
    * tune nCells ∝ √n); only candidates pay the exact cosine.
    */
  def ivfTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      centroids: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      seedCentroids(corpus, cIdCol, cVecCol, nCells))
    probeIvfCells(queries, qIdCol, qVecCol,
      assignIvfCells(corpus, cIdCol, cVecCol, cents), cents, k, nProbe)
  }

  /** First `nCells` corpus vectors by id — [[ivfTopK]]'s deterministic
    * sampled-centroid convention as a reusable piece (O(nCells) collect,
    * independent of corpus size); [[pqCodebooks]] seeds from it too. */
  def seedCentroids(corpus: DataFrame, cIdCol: String, cVecCol: String,
      nCells: Int): Seq[(Long, Seq[Double])] = {
    val cents = corpus.select(col(cIdCol).cast("long"), col(cVecCol))
      .orderBy(col(cIdCol))
      .limit(nCells)
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue()).toSeq)
      .toSeq
    // fewer than nCells seeds degrades gracefully (fewer cells), but ZERO
    // would silently build array() centroid literals that fail analysis
    // with an unrelated-looking VOID error — reject loudly instead
    require(cents.nonEmpty,
      "seedCentroids: corpus is empty, a seeded index needs at least one seed vector")
    cents
  }

  // per-centroid score structs; struct(cos, -cid) makes array_max resolve
  // ties toward the LOWEST centroid id (same rule as the oracle's
  // row_number ORDER BY cos DESC, cid ASC)
  private[llm] def centroidScoreStructs(
      cents: Seq[(Long, Seq[Double])])(vec: Column): Column =
    array(cents.map { case (cid, cv) =>
      struct(cosineSim(vec, typedLit(cv)).as("cos"), lit(-cid).as("ncid"))
    }: _*)

  /** The argmax-cosine centroid id of `vec` (ties to the lowest id). */
  private def nearestCell(cents: Seq[(Long, Seq[Double])])(vec: Column): Column =
    -array_max(centroidScoreStructs(cents)(vec)).getField("ncid")

  /** `(query_id, cell)` for each query's `nProbe` best cells: sorted desc
    * by (cos, -cid) = best cosine first, lowest id on ties. */
  private def probedCells(queries: DataFrame, vec: Column,
      cents: Seq[(Long, Seq[Double])], nProbe: Int): DataFrame =
    queries
      .select(col("query_id"),
        slice(sort_array(centroidScoreStructs(cents)(vec), asc = false), 1, nProbe)
          .as("pr"))
      .select(col("query_id"), explode(col("pr")).as("p"))
      .select(col("query_id"), (-col("p.ncid")).as("cell"))

  /** The IVF index frame: `(neighbor_id, cv, __cn, cell)` — one narrow map
    * assigning each corpus vector to its argmax-cosine cell. This is what
    * [[writeIvfIndex]] persists and [[probeIvfCells]] consumes. */
  private def assignIvfCells(
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    // the nCells-way argmax per vector is the CPU-dense corpus map; spread
    // the narrow (id, vec) frame when the scan is under-parallel (guide
    // §2.5 — measured r19: the whole assignment ran as ONE task over the
    // single-split bench corpus, 1.5 s of a 3.5 s query)
    val c = graft.sources.Spread.spread(
      corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("cv")))
    c.select(
      col("neighbor_id"), col("cv"),
      l2Norm(col("cv")).as("__cn"),
      nearestCell(cents)(col("cv")).as("cell"))
  }

  /** Probe half of [[ivfTopK]]: route each query to its `nProbe` best
    * cells, exact cosine top-k among those cells' index members. */
  private def probeIvfCells(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      index: DataFrame, cents: Seq[(Long, Seq[Double])],
      k: Int, nProbe: Int): DataFrame = {
    val qv = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"),
      l2Norm(col(qVecCol)).as("__qn"))
    // candidate generation: equi-join on the cell id; each corpus vector is
    // in exactly one cell, so no pair dedup is needed
    val scored = probedCells(qv, col("qv"), cents, nProbe)
      .join(index, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(qv, Seq("query_id"))
      .withColumn("cosine", queryCosine)
    topKPerQuery(scored, "cosine", col("cosine").desc, k)
  }

  /** Persist an IVF index for incremental serving: cell assignments (plus
    * the vectors and their norms — everything a probe needs) go to
    * parquet, partitioned by cell so a probe's nProbe cell reads are
    * partition-pruned scans. Returns the centroids — the model parameter
    * the caller must keep (or re-derive via [[seedCentroids]] under the
    * default convention) to probe later. The daily-ingest ANN story:
    * index the historical corpus once, probe each day's fresh batch
    * against it without touching historical vectors again — the
    * embedding-side twin of [[Dedup.writeMinHashIndex]]/`probeMinHashIndex`. */
  def writeIvfIndex(
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      path: String, nCells: Int = 16,
      centroids: Option[Seq[(Long, Seq[Double])]] = None)
      : Seq[(Long, Seq[Double])] = {
    val cents = centroids.getOrElse(
      seedCentroids(corpus, cIdCol, cVecCol, nCells))
    assignIvfCells(corpus, cIdCol, cVecCol, cents)
      // one writer per cell: assignIvfCells spreads the CPU-dense argmax
      // map across the cluster, and partitionBy-writing THAT directly
      // fans out writers×cells small files (measured r19: 512 files,
      // probe read 497 tasks / 4 s — guide §6's small-files trap); the
      // cell exchange collapses it back to one file per cell
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    cents
  }

  /** Probe a [[writeIvfIndex]] index with a fresh query batch: exact
    * cosine top-k among the `nProbe` best cells' INDEXED members (fresh
    * vectors see the historical corpus, not each other). `centroids`
    * must be the set the index was built with. */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      k: Int, nProbe: Int = 4): DataFrame =
    probeIvfCells(queries, qIdCol, qVecCol,
      // partition-column type is directory-inferred (int) — restore long
      spark.read.parquet(path).withColumn("cell", col("cell").cast("long")),
      centroids, k, nProbe)

  /** Deterministic sampled PQ codebooks: codebook `j` holds the `j`-th
    * `subDim`-slice of the first `codebookSize` corpus vectors by id (same
    * seed-vector convention as [[ivfTopK]]'s centroids — exactly replayable
    * by a SQL oracle; pass k-means-trained codebooks for production
    * recall). KB-scale model parameters, collected O(codebookSize). */
  def pqCodebooks(
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      numSubspaces: Int, codebookSize: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = seedCentroids(corpus, cIdCol, cVecCol, codebookSize)
    // codes are assigned positionally, and the generated oracle labels them
    // by literal `vec_id < codebookSize` — enforce the id convention the
    // two interpretations share so a fixture change fails loudly instead of
    // silently shifting code labels (ADVICE r6)
    require(rows.length == codebookSize,
      s"pqCodebooks: corpus has ${rows.length} vectors, need $codebookSize")
    val ids = rows.map(_._1)
    require(ids == (0L until codebookSize.toLong),
      s"pqCodebooks: seed ids must be exactly 0..${codebookSize - 1}, got $ids")
    val base = rows.map(_._2)
    val dim = base.head.size
    require(dim % numSubspaces == 0, s"dim $dim not divisible by $numSubspaces")
    val subDim = dim / numSubspaces
    (0 until numSubspaces).map { j =>
      base.zipWithIndex.map { case (v, code) =>
        code -> v.slice(j * subDim, (j + 1) * subDim)
      }
    }
  }

  /** Product-quantization approximate top-k (asymmetric distance).
    *
    * The corpus is compressed to `numSubspaces` small codes per vector
    * (argmin squared-L2 to the subspace codebook, ties to the lowest code):
    * at 100 TB the PQ "index" is id + `numSubspaces` bytes per vector —
    * a 64-float embedding shrinks 32×, which is the point: the exhaustive
    * scan keeps the broadcast(queries) × corpus shape of [[bruteForceTopK]]
    * but each pair costs `numSubspaces` table lookups + adds instead of a
    * `dim`-wide dot product, and the scan reads codes, not vectors.
    * Each query precomputes its distance lookup table (codebookSize ×
    * numSubspaces doubles); ranking is by the ADC approximation
    * Σ_j (‖cb_j[code_j]‖² − 2·q_subj·cb_j[code_j]) — the true approximate
    * squared distance minus the per-query constant ‖q‖², which cannot
    * change the ranking. Ascending, ties to the lowest neighbor id.
    */
  def pqTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, numSubspaces: Int = 8, codebookSize: Int = 16, dim: Int = 64,
      codebooks: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    val pq = Pq(codebooks.getOrElse(
      pqCodebooks(corpus, cIdCol, cVecCol, numSubspaces, codebookSize)),
      numSubspaces, codebookSize, dim)
    // measured r19: spreading the corpus here LOSES (1.3 -> 1.8 s) — the
    // contrib grid over flat doubles is cheap enough per row that the
    // round-robin exchange of full vectors costs more than the extra
    // parallelism recovers; the IVF paths (16-way cosine argmax per row)
    // are the ones that win from a spread (see assignIvfCells/ivfPqTopK)
    val codes = pq.codes(corpus.select(
      col(cIdCol).as("neighbor_id") +: pq.subvectors(col(cVecCol)): _*),
      Seq("neighbor_id"))
    val luts = pq.luts(queries.select(
      col(qIdCol).as("query_id") +: pq.subvectors(col(qVecCol)): _*))
    val scored = codes.crossJoin(broadcast(luts))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", pq.adist)
    topKPerQuery(scored, "adist", col("adist"), k)
  }

  /** Product-quantization arithmetic over fixed codebooks, shared by
    * [[pqTopK]] and [[ivfPqTopK]]. Frames carry
    * each vector's subvector slices as `__s0..__s{numSubspaces-1}`
    * ([[subvectors]]): they are materialized once per (row, subspace) in
    * their own projection, because `contrib` references each one
    * `codebookSize` times — that both avoids re-slicing per codebook entry
    * and blocks CollapseProject from inlining the slice into each of the
    * argmin branches. */
  private final case class Pq(codebooks: Seq[Seq[(Int, Seq[Double])]],
      numSubspaces: Int, codebookSize: Int, dim: Int) {
    require(dim % numSubspaces == 0, s"dim $dim not divisible by $numSubspaces")
    private val subDim = dim / numSubspaces
    // ‖centroid‖² as a plan literal; same left-assoc 0.0 + x·x accumulation
    // as the SQL oracle's chain, so the doubles agree bit-for-bit
    private val cn2: Seq[Seq[Double]] =
      codebooks.map(_.map { case (_, c) => c.foldLeft(0.0)((a, x) => a + x * x) })

    private def contrib(j: Int, code: Int): Column =
      lit(cn2(j)(code)) - lit(2.0) * dot(col(s"__s$j"), typedLit(codebooks(j)(code)._2))

    def subvectors(vec: Column): Seq[Column] = (0 until numSubspaces).map(j =>
      slice(vec, j * subDim + 1, subDim).as(s"__s$j"))

    /** `carry` plus the code `c$j` of every subspace: argmin squared-L2
      * contribution, ties to the lowest code. The argmin is least() + a
      * first-match CASE over flat double columns (same rule as a struct
      * array_min — but no per-row struct/array allocation, so encoding
      * stays in whole-stage codegen; measured 9.2 → 1.5 s on the sf0.1
      * encode+scan). */
    def codes(frame: DataFrame, carry: Seq[String]): DataFrame = {
      val withD = frame.select(carry.map(col) ++
        (for (j <- 0 until numSubspaces; code <- 0 until codebookSize)
          yield contrib(j, code).as(s"__d_${j}_$code")): _*)
      val withMin = withD.select(col("*") +:
        (0 until numSubspaces).map(j =>
          least((0 until codebookSize).map(c => col(s"__d_${j}_$c")): _*)
            .as(s"__min_$j")): _*)
      def codeFor(j: Int): Column =
        (0 until codebookSize - 1).foldRight(lit(codebookSize - 1): Column) {
          (code, rest) =>
            when(col(s"__d_${j}_$code") === col(s"__min_$j"), code).otherwise(rest)
        }
      withMin.select(carry.map(col) ++
        (0 until numSubspaces).map(j => codeFor(j).as(s"c$j")): _*)
    }

    /** `(query_id, lut$j…)`: each query's distance lookup tables. */
    def luts(frame: DataFrame): DataFrame = frame.select(col("query_id") +:
      (0 until numSubspaces).map(j =>
        array((0 until codebookSize).map(code => contrib(j, code)): _*)
          .as(s"lut$j")): _*)

    /** The asymmetric distance of a (codes, luts) pair. */
    def adist: Column = (0 until numSubspaces)
      .map(j => element_at(col(s"lut$j"), col(s"c$j") + 1))
      .reduce(_ + _)
  }

  /** IVF+PQ approximate top-k — the production ANN shape (the FAISS
    * `IVFx,PQy` index): IVF cell pruning bounds WHICH corpus vectors are
    * scored (`nProbe/nCells` of the corpus per query) and PQ codes bound
    * WHAT the scan reads (id + `numSubspaces` bytes per vector instead of
    * the full embedding). [[ivfTopK]] alone still reads full vectors for
    * the probed cells; [[pqTopK]] alone still scans the whole corpus; the
    * composition is what a 100-TB vector corpus actually deploys: the
    * candidate equi-join ships codes, the asymmetric-distance ranking
    * needs no vector re-join at all, and both the cell assignment and the
    * code assignment are one narrow map over the corpus.
    *
    * Same deterministic seed conventions as the parts ([[ivfTopK]] seed
    * centroids, [[pqCodebooks]] seed codebooks — or pass
    * [[KMeans]]-trained parameters), so the composition replays exactly
    * in the SQL oracle. Ranking is the ADC approximation of [[pqTopK]]
    * restricted to probed cells; ascending, ties to the lowest id.
    */
  def ivfPqTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      numSubspaces: Int = 8, codebookSize: Int = 16, dim: Int = 64,
      centroids: Option[Seq[(Long, Seq[Double])]] = None,
      codebooks: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    val pq = Pq(codebooks.getOrElse(
      pqCodebooks(corpus, cIdCol, cVecCol, numSubspaces, codebookSize)),
      numSubspaces, codebookSize, dim)
    val cents = centroids.getOrElse(
      seedCentroids(corpus, cIdCol, cVecCol, nCells))
    // ONE pass over the corpus computes cell + subvector slices; spread the
    // narrow (id, vec) frame first — the cell argmax + contrib grid is the
    // CPU-dense corpus map (guide §2.5; see assignIvfCells)
    val corpusN = graft.sources.Spread.spread(
      corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("__cv")))
    val codes = pq.codes(corpusN.select(
      col("neighbor_id") +: nearestCell(cents)(col("__cv")).as("cell") +:
        pq.subvectors(col("__cv")): _*),
      Seq("neighbor_id", "cell"))
    // query side: probe list + distance LUTs, both tiny — broadcast
    val qSub = queries.select(
      col(qIdCol).as("query_id") +: col(qVecCol).as("__qv") +:
        pq.subvectors(col(qVecCol)): _*)
    val scored = broadcast(probedCells(qSub, col("__qv"), cents, nProbe))
      .join(codes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(pq.luts(qSub)), Seq("query_id"))
      .withColumn("adist", pq.adist)
    topKPerQuery(scored, "adist", col("adist"), k)
  }

  /** Multi-probe sign-LSH top-k: ONE hash table, but each query probes its
    * own bucket plus every bucket at Hamming distance 1 in the
    * `numPlanes`-bit code (flip one sign bit) — `numPlanes + 1` probes.
    *
    * The recall/cost trade vs [[lshTopK]]'s multi-table design: the corpus
    * is hashed and stored ONCE (at 100 TB the index is one (id, bucket)
    * table, not `numTables` of them), and recall is recovered on the query
    * side, whose cardinality is tiny — a vector that lands just across one
    * hyperplane from its near-neighbor is found by the one-bit-flip probe.
    * Candidate volume per query ≈ (numPlanes+1)/2^numPlanes of the corpus,
    * still an equi-join on bucket id, never a cross join.
    *
    * Exactly replayable: the probe set is a pure function of the query's
    * deterministic bucket (XOR with each single-bit mask), so the oracle
    * replays bucketing AND probing bit-identically.
    */
  def multiProbeLshTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, numPlanes: Int = 12, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val qv = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"),
      l2Norm(col(qVecCol)).as("__qn"))
    val cv = corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("cv"),
      l2Norm(col(cVecCol)).as("__cn"))
    val cBuckets = cv.select(col("neighbor_id"),
      lshBucket(col("cv"), numPlanes, dim, seed).as("bucket"))
    // probe list = own bucket ++ one-bit flips; bucket ids only, the vector
    // does not ride through the explode
    val flips = (0 until numPlanes).map(i => col("__b").bitwiseXOR(lit(1L << i)))
    val qProbes = qv
      .select(col("query_id"), lshBucket(col("qv"), numPlanes, dim, seed).as("__b"))
      .select(col("query_id"), explode(array(col("__b") +: flips: _*)).as("bucket"))
    // a corpus vector can match both the exact bucket and... no — probes of
    // one query are pairwise distinct codes, so (query, neighbor) pairs are
    // already unique and need no dedup
    val scored = qProbes
      .join(cBuckets, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(qv, Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cosine", queryCosine)
    topKPerQuery(scored, "cosine", col("cosine").desc, k)
  }

  /** Approximate top-k: bucket corpus and queries with `numTables`
    * independent sign-LSH tables, take exact cosine only within matching
    * buckets. Recall grows with tables; cost stays linear in bucket sizes.
    */
  def lshTopK(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, numPlanes: Int = 12, numTables: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    // bucket rows carry only (id, table, bucket) — candidate generation and
    // pair-dedup shuffle 24 bytes/row; vectors re-join once per UNIQUE pair
    // for scoring instead of riding through the bucket join and the dedup
    def bucketed(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      val tables = (0 until numTables).map { t =>
        struct(lit(t).as("table_id"),
          lshBucket(col(vecAs), numPlanes, dim, seed + t).as("bucket"))
      }
      df.select(col(idAs), explode(array(tables: _*)).as("tb"))
        .select(col(idAs),
          col("tb.table_id").as("table_id"), col("tb.bucket").as("bucket"))
    }
    val qv = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"),
      l2Norm(col(qVecCol)).as("__qn"))
    val cv = corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("cv"),
      l2Norm(col(cVecCol)).as("__cn"))
    val cand = bucketed(qv, "query_id", "qv")
      .join(bucketed(cv, "neighbor_id", "cv"), Seq("table_id", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    // per-vector norms join in with the vectors: one dot per scored pair
    val scored = cand
      .join(qv, Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cosine", queryCosine)
    topKPerQuery(scored, "cosine", col("cosine").desc, k)
  }

  /** Semi-supervised k-NN label propagation: predict a label for each
    * unlabeled vector by majority vote of its `k` cosine-nearest LABELED
    * seed vectors — the workhorse for bootstrapping labels over an
    * embedding corpus from a small hand-labeled seed set (then feeding the
    * predictions back as weak supervision).
    *
    * '''Plan shape (the 100-TB design).''' The broadcast side FLIPS
    * relative to [[bruteForceTopK]]: there the query set is small and the
    * corpus is scanned; here the seed set is the small side (hand labels
    * are expensive — thousands, not billions) and the unlabeled corpus is
    * the big side. So seeds broadcast, the corpus is scanned ONCE
    * shuffle-free, and the only shuffles are corpus-keyed: the top-k
    * window and the vote aggregate, both partitioned by `vec_id`. When
    * the seed set outgrows a broadcast, candidate generation swaps to the
    * (table, bucket) equi-join of [[lshTopK]] exactly as the ANN family
    * does — the vote logic is unchanged.
    *
    * Vote ties break deterministically: more votes wins, then the smaller
    * label (exact integer comparisons, so the result is engine-portable —
    * the `label_spread` oracle replays it in SQL).
    *
    * @return (vec_id, pred_label, votes) — `votes` of the `k` neighbors
    *         carried the winning label.
    */
  def labelSpread(
      unlabeled: DataFrame, uIdCol: String, uVecCol: String,
      seeds: DataFrame, sIdCol: String, sVecCol: String, sLabelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val u = unlabeled.select(col(uIdCol).as("vec_id"), col(uVecCol).as("uv"),
      l2Norm(col(uVecCol)).as("__un"))
    // an unlabeled seed cannot teach: NULL-label seeds are dropped BEFORE
    // the top-k, so they neither vote nor crowd labeled seeds out of the
    // neighborhood (r15 differential fuzz finding)
    val s = seeds.filter(col(sLabelCol).isNotNull)
      .select(col(sIdCol).as("__sid"), col(sVecCol).as("sv"),
        col(sLabelCol).as("pred_label"), l2Norm(col(sVecCol)).as("__sn"))
    val scored = u.crossJoin(broadcast(s))
      .filter(col("vec_id") =!= col("__sid")) // a seed never votes for itself
      .withColumn("__cos",
        cosineOfNorms(col("uv"), col("sv"), col("__un"), col("__sn")))
    val wTop = Window.partitionBy("vec_id")
      .orderBy(col("__cos").desc, col("__sid"))
    val votes = scored
      .withColumn("__rank", row_number().over(wTop))
      .filter(col("__rank") <= k)
      .groupBy("vec_id", "pred_label")
      .agg(count(lit(1)).as("votes"))
    val wWin = Window.partitionBy("vec_id")
      .orderBy(col("votes").desc, col("pred_label"))
    votes.withColumn("__w", row_number().over(wWin))
      .filter(col("__w") === 1)
      .select("vec_id", "pred_label", "votes")
  }

  /** Directed-top-k strategy for [[mutualKnnGraph]]. The caller knows its
    * corpus; encoding the choice in the plan (rather than probing the data)
    * keeps graph CONSTRUCTION job-free — a plan-construction-time corpus
    * scan is a real cost at 100 TB and a surprise inside any composed
    * pipeline (pinned by KnnKmvProjectSpec). */
  sealed trait KnnMode
  object KnnMode {
    /** Exact [[bruteForceTopK]] directed edges — the oracle path; only for
      * corpora small enough to broadcast as the query side. */
    case object Exact extends KnnMode
    /** [[lshTopK]] candidates from the (table, bucket) equi-join — the
      * scale path; recall bought with `numTables`. */
    case object Lsh extends KnnMode
    /** Data-dependent choice: exact at or below `exactLimit` ids, LSH
      * above. EAGER — runs a count() job over the vector table the moment
      * the graph is constructed (and again on re-construction). Prefer
      * [[Exact]]/[[Lsh]] in composed pipelines. */
    final case class Auto(exactLimit: Long) extends KnnMode
  }

  /** Mutual k-NN graph over one embedding table: an undirected edge
    * `(id_a, id_b)` with `id_a < id_b` exists iff b ranks in a's cosine
    * top-k AND a ranks in b's — the standard graph-cleaning step before
    * density/cluster analysis over an embedding corpus (hub vectors lose
    * their one-way edges, so clusters stop bleeding through hubs).
    *
    * '''Plan shape (the 100-TB design).''' Directed top-k comes from
    * [[bruteForceTopK]] under [[KnnMode.Exact]] (the oracle path) and from
    * [[lshTopK]] under [[KnnMode.Lsh]] (candidates from the
    * (table, bucket) equi-join, recall bought with `numTables`). The
    * mutuality filter is then a self-equi-join of the directed edge list
    * on BOTH endpoints: edges are (id, id, rank) triples, so the
    * transpose match shuffles ~24 bytes/row however wide the vectors
    * are, and `id_a < id_b` keeps each undirected edge exactly once.
    * Construction launches no job except under [[KnnMode.Auto]]. */
  def mutualKnnGraph(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      mode: KnnMode = KnnMode.Lsh,
      numPlanes: Int = 12, numTables: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val useExact = mode match {
      case KnnMode.Exact => true
      case KnnMode.Lsh => false
      case KnnMode.Auto(limit) => exactWithin(vecs, idCol, limit)
    }
    val directed =
      (if (useExact) bruteForceTopK(vecs, idCol, vecCol, vecs, idCol, vecCol, k)
       else lshTopK(vecs, idCol, vecCol, vecs, idCol, vecCol, k,
         numPlanes, numTables, dim, seed))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    val ab = directed.select(col("query_id").as("id_a"),
      col("neighbor_id").as("id_b"), col("rank").as("rank_ab"))
    val ba = directed.select(col("neighbor_id").as("id_a"),
      col("query_id").as("id_b"), col("rank").as("rank_ba"))
    ab.join(ba, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "rank_ab", "rank_ba")
  }

  /** Recall@k of an approximate neighbor result against the exact one —
    * THE acceptance metric for every ANN index in this file (tune
    * nProbe/numTables until recall clears the bar, then ship). Both inputs
    * are `(query_id, neighbor_id, …)` top-k frames; output is per-query
    * `(query_id, n_hits, recall_ppm)` with `recall_ppm = n_hits·10⁶ div k`
    * — exact integers, no floating averages (fleet-wide recall is then a
    * weighted mean the caller can take exactly).
    *
    * Scale: one equi-join on (query, neighbor) + a per-query count; the
    * exact side at 100 TB comes from a bounded eval SAMPLE of queries (the
    * industry pattern — recall is estimated on a panel, not the full query
    * log), which is the caller's slice. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be at least 1: got $k")
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000) div $k"))
  }
}
