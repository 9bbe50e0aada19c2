package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.skew.SkewJoin._
import graft.skew.SkewJoinConf

case class L(k: Long, lv: String)
case class R(k: Long, rv: Int)

class SkewJoinTypedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def data = {
    import spark.implicits._
    // a null payload on a matched key (1) and on a left-only key (3)
    val l = Seq(L(1, "a"), L(1, "b"), L(1, null), L(2, "c"), L(3, "d"), L(3, null)).toDS()
    val r = Seq(R(1, 10), R(2, 20), R(4, 40)).toDS()
    (l, r)
  }
  private val conf = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.5)

  test("skewJoinWith inner ≡ joinWith inner") {
    import spark.implicits._
    val (l, r) = data
    val got = l.skewJoinWith(r, Seq("k"), "inner", conf).collect().toSet
    val want = l.joinWith(r, l("k") === r("k"), "inner").collect().toSet
    assert(got == want)
  }

  test("skewJoinWith outer joins null the unmatched side like joinWith") {
    import spark.implicits._
    val (l, r) = data
    Seq("left_outer", "right_outer", "full_outer").foreach { jt =>
      val got = l.skewJoinWith(r, Seq("k"), jt, conf).collect()
      val want = l.joinWith(r, l("k") === r("k"), jt).collect()
      assert(got.sortBy(_.toString).toSeq == want.sortBy(_.toString).toSeq, s"joinType=$jt")
      // a null payload field leaves a matched row's slot non-null
      assert(got.contains((L(1, null), R(1, 10))), s"joinType=$jt")
    }
  }

  test("skewJoinWith rejects semi/anti") {
    import spark.implicits._
    val (l, r) = data
    intercept[IllegalArgumentException] {
      l.skewJoinWith(r, Seq("k"), "left_semi", conf)
    }
  }
}
