package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.DatasetComparisons._

/** The `hint("skew")` analyzer rewrite ([[graft.skew.ResolveSkewHint]],
  * injected via GraftExtensions). */
class HintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // a hot key heavy enough that the DEFAULT SkewJoinConf (rf = 1e-3,
  // replication from freq ≥ ~2000) actually fragments it
  private def lhs = {
    import spark.implicits._
    ((1 to 30000).map(i => (1L, s"h$i")) ++
      (1 to 500).map(i => (i.toLong + 1, s"u$i"))).toDF("k", "lv")
  }
  private def rhs = {
    import spark.implicits._
    ((1 to 10).map(i => (1L, s"r$i")) ++
      (1 to 500).map(i => (i.toLong + 1, s"w$i"))).toDF("k", "rv")
  }

  test("hint(skew) on a using-join rewrites to the salted plan, same result") {
    val hinted = lhs.hint("skew").join(rhs, Seq("k"))
    hinted.ensureDatasetEquals(lhs.join(rhs, Seq("k")))
    val p = hinted.queryExecution.executedPlan.toString
    assert(p.contains("__graft_salt"), s"no salted join keys in plan:\n$p")
  }

  test("hint(skew) on a raw equi-join keeps both key columns and all rows") {
    val l = lhs
    val r = rhs
    val hinted = l.hint("skew").join(r, l("k") === r("k"))
    val plain = l.join(r, l("k") === r("k"))
    assert(hinted.columns.toSeq == plain.columns.toSeq)
    hinted.ensureDatasetEquals(plain)
    assert(hinted.queryExecution.executedPlan.toString.contains("__graft_salt"))
  }

  test("hint(skew) on the right input works; unsupported shapes fall back") {
    val rightHinted = lhs.join(rhs.hint("skew"), Seq("k"))
    rightHinted.ensureDatasetEquals(lhs.join(rhs, Seq("k")))
    assert(rightHinted.queryExecution.executedPlan.toString.contains("__graft_salt"))
    // non-equi condition: hint stripped, plain semantics
    val l = lhs
    val r = rhs
    val nonEqui = l.hint("skew").join(r, l("k") < r("k"))
    assert(nonEqui.count() == l.join(r, l("k") < r("k")).count())
  }

  test("hint(skew) rewrites semi/anti joins to the salted key-set plan") {
    import spark.implicits._
    // a left-only key so the anti leg is non-trivial, plus the hot key
    val ls = lhs.unionByName(Seq((7777L, "only-left")).toDF("k", "lv"))
    Seq("left_semi", "left_anti").foreach { jt =>
      // using-join form
      val hinted = ls.hint("skew").join(rhs, Seq("k"), jt)
      withClue(s"joinType=$jt (using): ") {
        assert(hinted.columns.toSeq == ls.columns.toSeq)
        hinted.ensureDatasetEquals(ls.join(rhs, Seq("k"), jt))
        assert(hinted.queryExecution.executedPlan.toString.contains("__graft_salt"),
          s"hinted $jt join not salted")
      }
      // raw equi-condition form
      val l = ls
      val r = rhs
      val rawHinted = l.hint("skew").join(r, l("k") === r("k"), jt)
      withClue(s"joinType=$jt (raw): ") {
        val plain = l.join(r, l("k") === r("k"), jt)
        assert(rawHinted.columns.toSeq == plain.columns.toSeq)
        rawHinted.ensureDatasetEquals(plain)
        assert(rawHinted.queryExecution.executedPlan.toString.contains("__graft_salt"))
      }
    }
  }

  test("hint(skew) rewrites outer using-joins to the salted single-pass plan") {
    // unmatched rows on both sides so every outer leg is exercised: rhs
    // keys 2..501 step into lhs's 2..501, plus a right-only key
    import spark.implicits._
    val r = rhs.unionByName(Seq((9999L, "only-right")).toDF("k", "rv"))
    val ls = lhs.filter(col("k") % 7 =!= 3)
    Seq("left_outer", "right_outer", "full_outer").foreach { jt =>
      val hinted = ls.hint("skew").join(r, Seq("k"), jt)
      withClue(s"joinType=$jt: ") {
        hinted.ensureDatasetEquals(ls.join(r, Seq("k"), jt))
        assert(hinted.queryExecution.executedPlan.toString.contains("__graft_salt"),
          s"outer hinted join not salted for $jt")
      }
    }
    // raw-condition outer joins rewrite too (each side's row rides in one
    // struct slot, so each side's own key columns come back with its own
    // null-padding), on one and on two key columns, with a null key part on
    // each side: schema and rows equal the plain join, plan salted
    val l2 = lhs.withColumn("k2", col("k") % 3).select("k", "k2", "lv").unionByName(
      Seq((Option.empty[Long], Option(0L), "null-k"), (Option(7777L), Option(1L), "only-left"))
        .toDF("k", "k2", "lv"))
    val r2 = rhs.withColumn("k2", col("k") % 3).select("k", "k2", "rv").unionByName(
      Seq((Option(2L), Option.empty[Long], "null-k2"), (Option(9999L), Option(0L), "only-right"))
        .toDF("k", "k2", "rv"))
    val conds = Seq(
      "k" -> (l2("k") === r2("k")),
      "k,k2" -> (l2("k") === r2("k") && l2("k2") === r2("k2")))
    for (jt <- Seq("left_outer", "right_outer", "full_outer"); (keys, cond) <- conds) {
      val rawOuter = l2.hint("skew").join(r2, cond, jt)
      val plainOuter = l2.join(r2, cond, jt)
      withClue(s"joinType=$jt on ($keys): ") {
        assert(rawOuter.columns.toSeq == plainOuter.columns.toSeq)
        rawOuter.ensureDatasetEquals(plainOuter)
        assert(rawOuter.queryExecution.executedPlan.toString.contains("__graft_salt"))
      }
    }
  }
}
