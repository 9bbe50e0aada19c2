package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Bridge
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents.connectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def pairsDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("id_a", "id_b")
  }

  /** Driver-side union-find reference. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) if a != b =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    case _ => ()
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    connectedComponents(pairsDf(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph collapses to its minimum (needs O(log n) rounds, not diameter)") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("disjoint clique, chain, and pair each get their own minimum") {
    val clique = for { a <- 100L to 104L; b <- (a + 1) to 104L } yield (a, b)
    val chain = Seq((7L, 3L), (3L, 9L), (9L, 5L))
    val pair = Seq((200L, 201L))
    val got = run(clique ++ chain ++ pair)
    assert((100L to 104L).forall(got(_) == 100L))
    assert(Seq(3L, 5L, 7L, 9L).forall(got(_) == 3L))
    assert(got(200L) == 200L && got(201L) == 200L)
  }

  test("self-pairs and duplicate edges are ignored; empty input yields empty output") {
    val got = run(Seq((4L, 4L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
    assert(connectedComponents(pairsDf(Seq.empty)).isEmpty)
  }

  test("random graphs match driver-side union-find") {
    val edgeGen = for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
    } yield (a, b)
    val prop = Prop.forAll(Gen.listOfN(25, edgeGen)) { edges =>
      val clean = edges.filter { case (a, b) => a != b }
      clean.isEmpty || run(clean) == unionFind(clean)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("job-count budget: one Spark job per star round (r14 driver-tax fix)") {
    // The 40-node chain ran 75 Spark jobs before r14 (AQE splitting each
    // round into ~6 exchange/broadcast-stage jobs, plus a separate
    // signature scan and isEmpty probe per round); the observe-folded
    // signature + AQE/broadcast-off rounds run it in 9 (initial adaptive
    // materialization 2-3 jobs + ONE job per star round). Pin a small
    // cushion, not the exact figure — the invariant is jobs ≈ rounds, and
    // any 2-jobs-per-round regression (a reintroduced per-round action)
    // blows straight past 16.
    import spark.implicits._
    val sc = spark.sparkContext
    val tag = "cc-job-budget"
    sc.setJobGroup(tag, tag)
    try connectedComponents((1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    finally sc.clearJobGroup()
    // statusTracker is fed by the async listener bus
    Bridge.drainListeners(sc)
    val n = sc.statusTracker.getJobIdsForGroup(tag).length
    assert(n <= 16, s"connectedComponents ran $n jobs for the 40-chain " +
      "(9 expected, 75 pre-r14) — a per-round action or AQE-in-rounds crept back in")
  }

  test("incremental fold merges across old components and leaves the rest untouched") {
    import graft.operators.ConnectedComponents.incrementalComponents
    // old world: {1,2}, {5,6}, {8,9}; new pair 2-5 merges the first two,
    // pair 20-21 arrives between brand-new nodes; {8,9} must pass through
    val assign = run(Seq((1L, 2L), (5L, 6L), (8L, 9L)))
    val got = incrementalComponents(
        pairsDf(assign.toSeq).toDF("node", "component"),
        pairsDf(Seq((2L, 5L), (20L, 21L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(Seq((1L, 2L), (5L, 6L), (8L, 9L), (2L, 5L), (20L, 21L)))
    assert(got == want, s"got $got want $want")
  }

  test("incremental fold over random splits equals batch clustering") {
    import graft.operators.ConnectedComponents.incrementalComponents
    import spark.implicits._
    val edgeGen = for {
      a <- Gen.choose(0L, 25L)
      b <- Gen.choose(0L, 25L)
    } yield (a, b)
    // no vacuous guard on empty splits: an empty newPairs batch must
    // return the assignment verbatim, and an empty assignment must reduce
    // to batch clustering of the new pairs — both covered by the same
    // equation against union-find over the concatenation
    val prop = Prop.forAll(
      Gen.listOfN(18, edgeGen), Gen.listOfN(10, edgeGen)) { (oldE, newE) =>
      val oldClean = oldE.filter { case (a, b) => a != b }
      val newClean = newE.filter { case (a, b) => a != b }
      val assign = connectedComponents(pairsDf(oldClean))
      val got = incrementalComponents(assign, pairsDf(newClean))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(oldClean ++ newClean)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }
}
