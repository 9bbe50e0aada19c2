package perfbench

import org.apache.spark.sql.functions._

class FingerprintSpec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5), (3L, "c", 3.5))

  test("insensitive to row order, partitioning and column order") {
    val df = rows.toDF("k", "s", "d")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 4)
    assert(Fingerprint.of(rows.reverse.toDF("k", "s", "d").repartition(3)) == fp)
    assert(Fingerprint.of(df.select("d", "k", "s")) == fp)
  }

  test("sensitive to a changed value, a dropped duplicate and a column type") {
    val fp = Fingerprint.of(rows.toDF("k", "s", "d"))
    assert(Fingerprint.of(rows.updated(0, (1L, "a", 1.25)).toDF("k", "s", "d")) != fp)
    assert(Fingerprint.of(rows.distinct.toDF("k", "s", "d")) != fp)
    assert(Fingerprint.of(rows.toDF("k", "s", "d").withColumn("k", col("k").cast("int"))) != fp)
  }

  test("an empty frame and repeated column names are fingerprinted") {
    val df = rows.toDF("k", "s", "d")
    assert(Fingerprint.of(df.limit(0)) == Fingerprint.Fp(0, 0))
    val twice = df.as("a").join(df.as("b"), col("a.k") === col("b.k"))
    assert(Fingerprint.of(twice).rows == 6)
  }

  test("a corrupted expected fingerprint fails the op's output check") {
    val df = rows.toDF("k", "s", "d")
    val good = Fingerprint.of(df)
    val corrupted = Seq(good.copy(hashSum = good.hashSum + 1), good.copy(rows = good.rows + 1),
      good.copy(hashSum = -good.hashSum))
    assert(Main.runOp(spark, Op("ok", "test", None, () => df, () => good), "perfbench:test:ok#0").ok)
    corrupted.foreach { bad =>
      assert(!Fingerprint.matches(good, bad))
      val r = Main.runOp(spark, Op("bad", "test", None, () => df, () => bad), "perfbench:test:bad#0")
      assert(!r.ok && r.error.exists(_.startsWith("output check failed")))
    }
  }

  test("an op that throws is a failed op, not a crash") {
    val r = Main.runOp(spark, Op("boom", "test", None, () => sys.error("boom"),
      () => Fingerprint.Fp(0, 0)), "perfbench:test:boom#0")
    assert(!r.ok && r.error.exists(_.contains("boom")))
  }

  test("pins parse, and every pipeline query has one") {
    val pins = Pins.load("pipeline_sf01")
    val pipeline = new PipelineWorkload(1L, "unused")
    assert(pipeline.Queries.map(_._1).forall(pins.contains))
    assert(Pins.parse(Seq("# comment", "", "q\t3:-12")) == Map("q" -> Fingerprint.Fp(3, -12)))
    assertThrows[IllegalArgumentException](Pins.parse(Seq("q 3:-12")))
  }
}
