package perfbench

import org.apache.spark.sql.functions._

class SkewDataSpec extends SparkSpec {

  test("the same seed gives the same inputs, another seed other inputs") {
    for (hot <- Seq(true, false)) {
      val a = Fingerprint.of(SkewData.left(spark, 7L, hot))
      assert(Fingerprint.of(SkewData.left(spark, 7L, hot)) == a)
      assert(Fingerprint.of(SkewData.left(spark, 8L, hot)) != a)
    }
    val r = Fingerprint.of(SkewData.right(spark, 7L))
    assert(Fingerprint.of(SkewData.right(spark, 7L)) == r)
    assert(Fingerprint.of(SkewData.right(spark, 8L)) != r)
  }

  test("skew_hot: key 0 holds the hot share of the left side and of the join output") {
    val left = SkewData.left(spark, 3L, hot = true)
    val hotRows = left.filter(col("key") === 0).count()
    assert(hotRows == SkewData.NLeft * SkewData.HotTenths / 10)
    val right = SkewData.right(spark, 3L)
    val out = left.join(right, "key")
    val hotOut = out.filter(col("key") === 0).count()
    assert(hotOut * 2 > out.count(), "the hot key must own a majority of the join output")
  }

  test("skew_uniform: no key is anywhere near hot, and both outer sides pad") {
    val left = SkewData.left(spark, 3L, hot = false)
    val maxPerKey = left.groupBy("key").count().agg(max("count")).head().getLong(0)
    assert(maxPerKey < 100)
    val right = SkewData.right(spark, 3L)
    assert(left.join(right, Seq("key"), "left_anti").count() > 0)
    assert(right.join(left, Seq("key"), "left_anti").count() > 0)
  }
}
