package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Quantize, Sampling, Similarity}
import graft.sketch.KmvOps

/** Round-9 additions: mutual k-NN graph, KMV distinct sketch, sign
  * projection, temperature sampling. */
class KnnKmvProjectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("mutualKnnGraph: edges are exactly the mutual pairs of a reference directed top-k") {
    val vecs = emb.filter(col("vec_id") < 120)
    val k = 3
    // driver-side reference directed top-k
    val rows = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    val topk = rows.keys.map { q =>
      q -> rows.keys.filter(_ != q).toSeq
        .map(n => (n, cos(rows(q), rows(n))))
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1).toSet
    }.toMap
    val expect = (for {
      a <- rows.keys; b <- rows.keys if a < b
      if topk(a).contains(b) && topk(b).contains(a)
    } yield (a, b)).toSet
    val got = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding", k,
      mode = Similarity.KnnMode.Exact)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"got ${got.size} edges, expect ${expect.size}")
    assert(got.nonEmpty)
  }

  test("mutualKnnGraph construction launches no Spark job (Exact and Lsh modes)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // the parquet schema-inference job belongs to INPUT construction —
    // resolve the input frame before the listener attaches so only graph
    // construction is measured
    val vecs = emb
    vecs.schema
    // settle any in-flight listener traffic from earlier tests
    Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.mutualKnnGraph(vecs, "vec_id", "embedding", 3,
        mode = Similarity.KnnMode.Exact)
      Similarity.mutualKnnGraph(vecs, "vec_id", "embedding", 3,
        mode = Similarity.KnnMode.Lsh)
      // listener events post asynchronously
      Bridge.drainListeners(spark.sparkContext)
      assert(jobs.get == 0,
        s"constructing the graph DataFrame launched ${jobs.get} Spark jobs")
      // Auto IS the documented eager mode: a finite limit probes the corpus
      Similarity.mutualKnnGraph(vecs, "vec_id", "embedding", 3,
        mode = Similarity.KnnMode.Auto(100L))
      Bridge.drainListeners(spark.sparkContext)
      assert(jobs.get > 0, "Auto mode should run its documented count probe")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("mutualKnnGraph LSH path keeps recall against the exact graph") {
    val k = 3
    val exact = Similarity.mutualKnnGraph(emb, "vec_id", "embedding", k,
      mode = Similarity.KnnMode.Exact)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.mutualKnnGraph(emb, "vec_id", "embedding", k,
      mode = Similarity.KnnMode.Lsh, numPlanes = 4, numTables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH mutual-graph recall $recall below 0.5 " +
      s"(exact ${exact.size}, lsh ${lsh.size})")
  }

  test("kmvDistinct: small groups exact, large groups within KMV error bounds") {
    import spark.implicits._
    // 3 distinct values in group 'small' (< k) → exact count path
    val smalls = Seq.tabulate(30)(i => ("small", (i % 3).toLong))
    // 5000 distinct values in group 'big' → estimator path
    val bigs = Seq.tabulate(5000)(i => ("big", 1000L + i))
    val df = (smalls ++ bigs).toDF("g", "v")
    val got = KmvOps.kmvDistinct(df, Seq("g"), "v", k = 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got("small") == ((3L, 3L)), s"small group: ${got("small")}")
    val (nSample, est) = got("big")
    assert(nSample == 16L)
    // KMV std error ≈ 1/sqrt(k-2) ≈ 27%; allow 3σ
    assert(est > 5000 * 0.2 && est < 5000 * 2.0,
      s"estimate $est implausible for 5000 distinct")
  }

  test("kmvDistinct ignores duplicate values (multiset-insensitive)") {
    import spark.implicits._
    val once = Seq.tabulate(500)(i => ("g", i.toLong)).toDF("g", "v")
    val repeated = Seq.tabulate(5000)(i => ("g", (i % 500).toLong)).toDF("g", "v")
    val a = KmvOps.kmvDistinct(once, Seq("g"), "v").collect()(0)
    val b = KmvOps.kmvDistinct(repeated, Seq("g"), "v").collect()(0)
    assert(a.getLong(2) == b.getLong(2) && a.getLong(3) == b.getLong(3))
  }

  test("signProject equals a driver-side reference projection of the int8 codes") {
    val outDim = 4
    val signs = Quantize.signMatrix(outDim, 64, 42L)
    val vecs = emb.filter(col("vec_id") < 50)
    val codes = Quantize.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val got = Quantize.signProject(vecs, "vec_id", "embedding", outDim, 64, 42L)
      .collect().map(r => r.getLong(0) -> (1 to outDim).map(r.getLong).toSeq).toMap
    codes.foreach { case (id, cs) =>
      val expect = (0 until outDim).map(j =>
        cs.zipWithIndex.map { case (c, i) => signs(j)(i) * c }.sum)
      assert(got(id) == expect, s"vec $id: ${got(id)} vs $expect")
    }
  }

  test("signProject fails loudly on a dim mismatch instead of emitting NULLs") {
    import spark.implicits._
    val short = Seq((1L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Quantize.signProject(short, "vec_id", "embedding", outDim = 4, dim = 64).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("signProject")),
      s"expected the dim-mismatch error, got: ${messages(e)}")
  }

  test("dropNearDuplicatesByPriority: string ids and null priorities") {
    import spark.implicits._
    val corpus = Seq(
      ("a", Some(10L)), ("b", None), ("c", Some(50L)), // chain a-b-c: null pri can't win → keep c
      ("x", None), ("y", None),                        // all-null pair: keep smaller id x
      ("solo", Some(1L))
    ).toDF("id", "pri")
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val kept = graft.llm.Dedup
      .dropNearDuplicatesByPriority(corpus, "id", "pri", pairs)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("c", "x", "solo"), s"kept $kept")
    // and a non-numeric priority is rejected at plan build, not mid-query
    val bad = corpus.withColumn("pri", col("pri").cast("string"))
    val e = intercept[IllegalArgumentException] {
      graft.llm.Dedup.dropNearDuplicatesByPriority(bad, "id", "pri", pairs)
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("sampleByTemperature: a NULL stratum is sampled, not silently dropped") {
    import spark.implicits._
    val rows = (1L to 200L).map(i =>
      (i, if (i % 4 == 0) None else Some(s"s${i % 3}")))
    val df = rows.toDF("id", "src")
    val sel = Sampling.sampleByTemperature(df, "id", "src", totalTarget = 80L, "t")
    val byStratum = sel.groupBy("src").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byStratum.contains(None),
      s"null stratum missing from the sample: $byStratum")
    // its quota follows the same sqrt rule as every named stratum: 50 rows
    // of 200 → a substantial share, not an accidental 1-2 rows
    assert(byStratum(None) >= 10, s"null-stratum share implausible: $byStratum")
    assert(sel.count() <= 80L)
  }

  test("dropNearDuplicatesByPriority keeps the best-priority member per cluster") {
    import spark.implicits._
    val corpus = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // chain 1-2-3: keep 2 (highest pri)
      (4L, 7L), (5L, 7L),              // pair 4-5, tied pri: keep smaller id 4
      (6L, 1L)                         // unpaired: always kept
    ).toDF("id", "pri")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = graft.llm.Dedup
      .dropNearDuplicatesByPriority(corpus, "id", "pri", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L), s"kept $kept")
  }

  test("sampleByTemperature boosts tail sources and stays within quota") {
    val total = 200L
    val sel = Sampling.sampleByTemperature(docs, "doc_id", "source", total, "t")
    val bySource = sel.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpus = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.values.sum <= total)
    // integer-floor quotas: at most #sources rows below the target
    assert(bySource.values.sum >= total - corpus.size)
    // α=1/2 smoothing moves shares toward uniform: a source at or below
    // the mean size cannot LOSE share (Cauchy–Schwarz puts the gain/loss
    // pivot at or above the mean), and a source above the pivot cannot
    // gain — allow a small eps for integer-floor quotas
    val n = corpus.values.sum.toDouble
    val mean = n / corpus.size
    corpus.foreach { case (src, cnt) =>
      val rawShare = cnt / n
      val gotShare = bySource.getOrElse(src, 0L) / bySource.values.sum.toDouble
      if (cnt <= mean)
        assert(gotShare >= rawShare - 0.02,
          s"tail source $src lost share: $gotShare < raw $rawShare")
    }
    // deterministic: a rerun selects the identical id set
    val again = Sampling.sampleByTemperature(docs, "doc_id", "source", total, "t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == sel.select("doc_id").collect().map(_.getLong(0)).toSet)
  }
}
