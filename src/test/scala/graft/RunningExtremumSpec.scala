package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RunningExtremum
import graft.testkit.DatasetComparisons._

class RunningExtremumSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("equals the plain cumulative-max window, any input partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 500).map { i =>
      (if (i % 7 == 0) null else s"g${i % 3}", i.toLong, rnd.nextInt(1000).toLong)
    }
    val want = rows.toDF("g", "ord", "v")
      .withColumn("running_max", max("v").over(
        Window.partitionBy("g").orderBy("ord")
          .rowsBetween(Window.unboundedPreceding, 0)))
    for (parts <- Seq(1, 13)) {
      val got = RunningExtremum.withRunningMax(
        rows.toDF("g", "ord", "v").repartition(parts),
        Seq("g"), Seq(col("ord")), "v")
      got.ensureDatasetEquals(want)
    }
  }

  test("hostile AQE configs and AQE off cannot desync prefix maxima from local maxima") {
    // 40k rows overflow the range sampler's sample, so two independently
    // sampled range exchanges place boundary rows in different partitions;
    // the prefix maxima and the local maxima must read ONE exchange. The
    // rows carry a payload the maxima never read: pruning it from one
    // branch only is what forks a plan into two range exchanges
    import spark.implicits._
    val df = (1 to 40000)
      .map(i => (s"g${i % 3}", i.toLong, (i * 7919L % 10007L), s"p$i"))
      .toDF("g", "ord", "v", "payload").repartition(16)
    val frame = Window.unboundedPreceding
    val want = df.withColumn("running_max", max("v").over(
      Window.partitionBy("g").orderBy("ord").rowsBetween(frame, 0)))
    val wantG = df.withColumn("running_max", max("v").over(
      Window.orderBy("ord").rowsBetween(frame, 0)))
    HostileAqe.configs.foreach { confs =>
      HostileAqe.withConfs(spark, confs) {
        withClue(s"configs=$confs: ") {
          RunningExtremum.withRunningMax(df, Seq("g"), Seq(col("ord")), "v")
            .ensureDatasetEquals(want)
          RunningExtremum.withRunningMax(df, Nil, Seq(col("ord")), "v")
            .ensureDatasetEquals(wantG)
        }
      }
    }
  }

  test("empty groupCols gives a scale-safe GLOBAL running max") {
    import spark.implicits._
    val rows = Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 2L))
    val got = RunningExtremum.withRunningMax(
      rows.toDF("ord", "v").repartition(3), Seq(), Seq(col("ord")), "v")
      .orderBy("ord").collect().map(_.getLong(2)).toList
    assert(got == List(5L, 5L, 9L, 9L))
  }

  test("internal-name and existing-output collisions are rejected loudly") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("ord", "v")
    intercept[IllegalArgumentException] {
      RunningExtremum.withRunningMax(
        df.withColumn("running_max", lit(0L)), Seq(), Seq(col("ord")), "v")
    }
    intercept[IllegalArgumentException] {
      RunningExtremum.withRunningMax(
        df.withColumn("__graft_pid", lit(0)), Seq(), Seq(col("ord")), "v")
    }
  }
}
