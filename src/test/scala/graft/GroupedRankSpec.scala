package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GroupedRank
import graft.testkit.DatasetComparisons._

class GroupedRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def skewed = {
    import spark.implicits._
    // one dominant group + small groups + a singleton, values with ties on
    // the first order column so the tiebreaker matters
    ((1 to 5000).map(i => ("hot", i % 97, i)) ++
      (1 to 40).map(i => ("warm", i % 7, i)) ++
      Seq(("one", 0, 1)))
      .toDF("g", "v", "id").repartition(8)
  }

  test("withGroupRank equals row_number over a per-group window") {
    val got = GroupedRank.withGroupRank(
      skewed, Seq("g"), Seq(col("v"), col("id")), "r")
    val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
    val want = skewed.withColumn("r", row_number().over(w).cast("long"))
    got.ensureDatasetEquals(want)
  }

  test("ensureDatasetEquals failures carry an enclosing withClue") {
    import spark.implicits._
    val rows = Seq(1, 2, 2).toDF("x")
    val cases = Seq(
      Seq(1, 2).toDF("x") -> "Row multisets differ: 1 rows only in left, 0 rows only in right",
      Seq(1L, 2L, 2L).toDF("x") -> "Schemas differ:")
    cases.foreach { case (other, msg) =>
      val e = intercept[org.scalatest.exceptions.TestFailedException] {
        withClue("cfg=x: ") { rows.ensureDatasetEquals(other) }
      }
      assert(e.getMessage.startsWith("cfg=x: " + msg), e.getMessage)
    }
  }

  test("withGroupNtile is bit-identical to the ntile window for several k") {
    Seq(1, 3, 4, 7, 6000).foreach { k =>
      val got = GroupedRank.withGroupNtile(
        skewed, Seq("g"), Seq(col("v"), col("id")), k, "q")
      val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
      val want = skewed.withColumn("q", ntile(k).over(w))
      withClue(s"k=$k: ") { got.ensureDatasetEquals(want) }
    }
  }

  test("AQE on (with coalescing) leaves ranks and ntiles bit-identical to the window forms") {
    // six production queries sit on this operator, and its correctness
    // depends on the counts branch and the join branch reading ONE physical
    // range exchange; AQE replans exchanges at runtime (stage reuse +
    // partition coalescing), so pin that the default-on production setting
    // cannot split the shared exchange into two independently-sampled ones
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // force coalescing to actually engage on the tiny test exchange
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
    HostileAqe.withConfs(spark, confs) {
      val got = GroupedRank.withGroupRank(
        skewed, Seq("g"), Seq(col("v"), col("id")), "r")
      val w = Window.partitionBy("g").orderBy(col("v"), col("id"))
      val want = skewed.withColumn("r", row_number().over(w).cast("long"))
      got.ensureDatasetEquals(want)
      val gotN = GroupedRank.withGroupNtile(
        skewed, Seq("g"), Seq(col("v"), col("id")), 7, "q")
      val wantN = skewed.withColumn("q", ntile(7).over(w))
      gotN.ensureDatasetEquals(wantN)
      // the global-rank form (empty groupCols) under AQE too
      val gotG = GroupedRank.withGroupRank(
        skewed, Nil, Seq(col("v"), col("id"), col("g")), "r")
      val wantG = skewed.withColumn("r",
        row_number().over(Window.orderBy(col("v"), col("id"), col("g"))).cast("long"))
      gotG.ensureDatasetEquals(wantG)
    }
  }

  test("hostile AQE coalescing configs cannot desync offsets from local ranks") {
    // r18 regression pin: `minPartitionSize=16k` (set session-wide by that
    // round's bench/verify mains) changed how AQE coalesced the reads of the
    // shared range exchange, and the two consumer stages evaluated
    // spark_partition_id() over DIFFERENT coalesced layouts — ranks desynced
    // and spearman_qty_price failed the oracle hash. The fix pins the range
    // exchange's partition count (REPARTITION_BY_NUM is exempt from
    // coalescing). This case sweeps several coalescing-hostile configs,
    // including the exact r18 one, and AQE off, over the spearman shape (two
    // STACKED global ranks — the amplifier) and a grouped rank.
    import spark.implicits._
    val df = (1 to 4000)
      .map(i => (i.toLong, (i * 7919 % 401).toLong, (i * 104729 % 613).toLong))
      .toDF("id", "x", "y").repartition(16)
    val w = Window.orderBy(col("x"), col("id"))
    val w2 = Window.orderBy(col("y"), col("id"))
    val want = df
      .withColumn("rx", row_number().over(w).cast("long"))
      .withColumn("ry", row_number().over(w2).cast("long"))
    val wg = Window.partitionBy(col("x")).orderBy(col("y"), col("id"))
    val wantG = df.withColumn("r", row_number().over(wg).cast("long"))
    HostileAqe.configs.foreach { confs =>
      HostileAqe.withConfs(spark, confs) {
        withClue(s"configs=$confs: ") {
          // the spearman shape: two stacked global ranks
          val r1 = GroupedRank.withGroupRank(
            df, Nil, Seq(col("x"), col("id")), "rx")
          val r2 = GroupedRank.withGroupRank(
            r1, Nil, Seq(col("y"), col("id")), "ry")
          r2.ensureDatasetEquals(want)
          // and a grouped rank (the model_auc/vocab_topk consumers' shape)
          GroupedRank.withGroupRank(df, Seq("x"), Seq(col("y"), col("id")), "r")
            .ensureDatasetEquals(wantG)
        }
      }
    }
  }

  test("no per-group single-task sort: every window partitions on the physical pid") {
    val got = GroupedRank.withGroupNtile(
      skewed, Seq("g"), Seq(col("v"), col("id")), 4, "q")
    val plan = got.queryExecution.executedPlan.toString
    // the data-sized range exchange is pre-materialized to a single RDD
    // handle (see GroupedRank's class doc) — the consumer plan reads it as
    // an ExistingRDD scan; the only hashpartitioning over bare group
    // columns may carry aggregates (tiny), never Window sorts — i.e. no
    // "Window ... partitionBy(g)" without the pid column
    assert(plan.contains("ExistingRDD"),
      s"expected a scan of the pre-materialized range exchange in:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"the range exchange must be materialized ONCE, not re-planned, in:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty)
    windowLines.foreach { l =>
      assert(l.contains("__graft_pid") || !l.contains("row_number"),
        s"a row_number window does not include the physical pid: $l")
    }
  }

  test("NULL group keys rank and bucket like any other group (null-safe joins)") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), 3), (Some("a"), 1), (None, 2), (None, 5), (None, 1), (Some("b"), 7)
    ).map { case (g, v) => (g.orNull, v) }.toDF("g", "v")
    val got = GroupedRank.withGroupRank(df, Seq("g"), Seq(col("v")), "r")
    val w = Window.partitionBy("g").orderBy("v")
    val want = df.withColumn("r", row_number().over(w).cast("long"))
    got.ensureDatasetEquals(want) // the NULL group must NOT be dropped
    assert(got.filter(col("g").isNull).count() == 3)
    val nt = GroupedRank.withGroupNtile(df, Seq("g"), Seq(col("v")), 2, "q")
    nt.ensureDatasetEquals(df.withColumn("q", ntile(2).over(w)))
  }

  test("empty groupCols gives a scale-safe global rank") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, (i * 37 % 1999).toLong))
      .toDF("id", "key").repartition(8)
    val got = GroupedRank.withGroupRank(df, Seq(), Seq(col("key"), col("id")), "r")
    val w = Window.orderBy(col("key"), col("id"))
    val want = df.withColumn("r", row_number().over(w).cast("long"))
    got.ensureDatasetEquals(want)
    // ntile with no groups works via the cross-joined totals
    val nt = GroupedRank.withGroupNtile(df, Seq(), Seq(col("key"), col("id")), 4, "q")
    val wantNt = df.withColumn("q", ntile(4).over(w))
    nt.ensureDatasetEquals(wantNt)
  }

  test("multi-column groups and empty input") {
    import spark.implicits._
    val df = Seq(("a", "x", 3), ("a", "x", 1), ("a", "y", 2), ("b", "x", 9))
      .toDF("g1", "g2", "v")
    val got = GroupedRank.withGroupRank(df, Seq("g1", "g2"), Seq(col("v")), "r")
    val w = Window.partitionBy("g1", "g2").orderBy("v")
    got.ensureDatasetEquals(df.withColumn("r", row_number().over(w).cast("long")))
    val empty = df.filter(lit(false))
    assert(GroupedRank.withGroupNtile(empty, Seq("g1"), Seq(col("v")), 4).count() == 0)
  }

  test("withGroupPercentile: 0 for smallest, 1e6 for largest, 0 for singletons") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
      ("b", 7L)).toDF("g", "v")
    val got = GroupedRank.withGroupPercentile(df, Seq("g"), Seq(col("v")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("a", 1L, 0L), ("a", 2L, 250000L), ("a", 3L, 500000L),
      ("a", 4L, 750000L), ("a", 5L, 1000000L),
      ("b", 7L, 0L)))
  }
}
