package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Decontaminate, Sampling, SemDedup, Similarity}

class SemDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("semDedup: exactly one member of each duplicate pair survives, clusters preserved") {
    import spark.implicits._
    // hand-built 2-D corpus: ids 0,1 are the seed centroids (x-axis and
    // y-axis); 2 and 3 are near-identical x-ish vectors (a duplicate pair in
    // cluster 0, 3 nearer the centroid), 4 is a lone y-ish vector
    val v = Seq(
      0L -> Seq(1.0f, 0.0f),
      1L -> Seq(0.0f, 1.0f),
      2L -> Seq(0.9f, 0.1f),
      3L -> Seq(1.0f, 0.05f),
      4L -> Seq(0.1f, 0.9f)
    ).toDF("id", "v")
    val flags = SemDedup.semDedupFlags(v, "id", "v", nClusters = 2, threshold = 0.98)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    // clusters: 0,2,3 on x (cluster 0); 1,4 on y (cluster 1)
    assert(flags(0L)._1 == 0 && flags(2L)._1 == 0 && flags(3L)._1 == 0)
    assert(flags(1L)._1 == 1 && flags(4L)._1 == 1)
    // pairs >= 0.98 in cluster 0: (0,2) cos≈.9938, (0,3) cos≈.9988,
    // (2,3) cos≈.9982. Per-pair the nearer-to-centroid member drops:
    // 0 IS the centroid (cent_cos 1.0 — dropped via both its pairs) and
    // 3 (cent_cos≈.9988) loses to the outlier 2 (cent_cos≈.9938).
    assert(!flags(0L)._2 && !flags(3L)._2 && flags(2L)._2)
    // cluster 1: pair (1,4) cos≈.9938 — the centroid 1 drops, outlier 4 stays
    assert(!flags(1L)._2 && flags(4L)._2)
  }

  test("semDedupFlags and ivfPqTopK reject an empty corpus through seedCentroids") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
    // one 2-D codebook entry per subspace of a 4-D vector: no codebook
    // collect runs, so the centroid seed is the first step that sees the
    // empty corpus
    val cbs = Seq(Seq(0 -> Seq(1.0, 0.0)), Seq(0 -> Seq(0.0, 1.0)))
    val calls: Seq[(String, () => Unit)] = Seq(
      "semDedupFlags" -> (() => SemDedup.semDedupFlags(
        empty, "id", "v", nClusters = 2, threshold = 0.9).collect()),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(
        empty, "id", "v", empty, "id", "v", k = 1, nCells = 2, nProbe = 1,
        numSubspaces = 2, codebookSize = 1, dim = 4, codebooks = Some(cbs))
        .collect()))
    calls.foreach { case (name, call) =>
      val e = withClue(s"$name: ") { intercept[IllegalArgumentException](call()) }
      assert(e.getMessage.contains("seedCentroids: corpus is empty"),
        s"$name: ${e.getMessage}")
    }
  }

  test("semDedup on fixture embeddings: survivors + dropped partition the corpus") {
    val flags = SemDedup.semDedupFlags(emb, "vec_id", "embedding",
      nClusters = 8, threshold = 0.45)
    val n = emb.count()
    assert(flags.count() == n)
    val kept = SemDedup.semDedup(emb, "vec_id", "embedding",
      nClusters = 8, threshold = 0.45)
    assert(kept.count() == flags.filter(col("kept")).count())
    // every duplicate PAIR lost exactly its nearer-to-centroid member, so
    // a kept vector still present proves no over-dropping: re-running on
    // the survivors with the same clusters drops nobody whose only partner
    // was already dropped — sanity: at least one vector survives per
    // non-empty cluster
    val clustersAll = flags.select("cluster").distinct().count()
    val clustersKept = flags.filter(col("kept")).select("cluster").distinct().count()
    assert(clustersKept == clustersAll)
  }

  test("multiProbeLshTopK candidates are a superset of single-probe, ranks exact within") {
    val queries = emb.filter(col("vec_id") < 10)
    val multi = Similarity.multiProbeLshTopK(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
    // recall vs exact: every multi-probe hit at rank 1 must be the true
    // nearest among its own candidate set by construction (window-ranked);
    // against brute force, multi-probe recall >= plain single-table recall
    val brute = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select("query_id", "neighbor_id").intersect(brute).count()
    val single = Similarity.lshTopK(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 5, numPlanes = 12, numTables = 1)
    assert(hits(multi) >= hits(single),
      s"multi-probe recall ${hits(multi)} below single-probe ${hits(single)}")
    assert(multi.groupBy("query_id").count().filter(col("count") > 5).isEmpty)
  }

  test("dropSemanticContaminated removes exactly the >=threshold neighbors of eval") {
    val eval = emb.filter(col("label") === 0)
    val train = emb.filter(col("label") =!= 0)
    val kept = Decontaminate.dropSemanticContaminated(
      train, "vec_id", "embedding", eval, "embedding", threshold = 0.4)
    // reference: per-train max cosine vs eval, computed independently
    val expectDropped = Similarity.bruteForceTopK(
        train, "vec_id", "embedding", eval.withColumn("eid", col("vec_id")),
        "eid", "embedding", k = 1)
      .filter(col("cosine") >= 0.4)
      .select(col("query_id").as("vec_id"))
    val keptIds = kept.select("vec_id")
    assert(keptIds.intersect(expectDropped).isEmpty,
      "a vector within threshold of the eval set survived")
    assert(keptIds.count() + expectDropped.count() == train.count(),
      "dropped set is larger than the >=threshold set")
  }

  test("resampleByWeight: integer weights repeat exactly, fractional draws are deterministic") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "src")
    val out = Sampling.resampleByWeight(df, "id", "src",
      Map("a" -> 2.0, "b" -> 0.5))
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "a": exactly 2 copies each (epoch 0 and 1)
    assert(bySrc("a") == 200L)
    assert(out.filter(col("src") === "a").groupBy("id").count()
      .filter(col("count") =!= 2).isEmpty)
    // "b": a deterministic ~half survives with epoch 0 only
    assert(bySrc("b") > 20 && bySrc("b") < 80, s"b kept ${bySrc("b")} of 100")
    val again = Sampling.resampleByWeight(df, "id", "src",
      Map("a" -> 2.0, "b" -> 0.5))
    assert(out.select("id", "src", "epoch").except(again.select("id", "src", "epoch")).isEmpty
      && again.count() == out.count())
    // epochs number 0..copies-1
    assert(out.filter(col("src") === "a").agg(max("epoch")).head().getLong(0) == 1L)
    assert(out.filter(col("src") === "b").agg(max("epoch")).head().getLong(0) == 0L)
  }

  test("EventTime.withTsNs: both physical layouts yield the same (ts_ns, ts) pair") {
    import spark.implicits._
    val micros = 1704067200123456L // 2024-01-01T00:00:00.123456Z
    // legacy layout: ts as nanos-long
    val legacy = Seq((1L, micros * 1000 + 789L)).toDF("event_id", "ts")
    val a = graft.sources.EventTime.withTsNs(legacy)
      .select(col("ts_ns"), col("ts").cast("long")).head()
    // round-9 layout: ts as NTZ timestamp (µs grain)
    val modern = Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
    val b = graft.sources.EventTime.withTsNs(modern)
      .select(col("ts_ns"), col("ts").cast("long")).head()
    // ns differ only by the sub-µs part the modern layout cannot carry
    assert(a.getLong(0) == micros * 1000 + 789L && b.getLong(0) == micros * 1000)
    assert(a.getLong(1) == b.getLong(1) && a.getLong(1) == micros / 1000000L)
  }
}
