package graft.skew

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, CreateStruct, EqualTo, Expression, GetStructField}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, UnaryNode, UnresolvedHint}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.Bridge

/** Resolved placeholder for a consumed `skew` hint. Datasets are analyzed
  * eagerly, so `df.hint("skew")` is resolved (and, untreated, the unknown
  * hint discarded) BEFORE the join above it ever exists; this marker is what
  * survives from that first analysis pass into the join's pass, where
  * [[ResolveSkewHint]] consumes it. Never reaches the optimizer on the
  * supported paths; [[StripSkewHintMarkers]] is the safety net. */
case class SkewHintMarker(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): SkewHintMarker =
    copy(child = newChild)
}

/** Optimizer-side cleanup: a `skew` hint that never met a supported join
  * (e.g. buried under other operators) degrades to a no-op with a warning. */
case class StripSkewHintMarkers(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case SkewHintMarker(child) =>
      logWarning("skew hint ignored: not directly under a supported join")
      child
  }
}

import graft.skew.SkewJoin.SkewJoinOps

/** Analyzer rule: rewrite `df.hint("skew").join(...)` into the
  * fragment-replicate skew join (SURVEY §4 stretch goal; semantics from the
  * reference `dfimplicits.scala:31-125`, machinery from [[SkewJoin]]).
  *
  * Injected via [[graft.functions.GraftExtensions]] as a RESOLUTION rule,
  * not a hint-resolution rule: hint-batch rules run before the children are
  * resolved, and this rewrite needs resolved inputs (the CMS sketches are
  * built from them when the plan is constructed). Unrecognized hints are
  * only discarded by the analyzer's final "Remove Unresolved Hints" batch,
  * so the `skew` hint is still present when resolution reaches fixpoint.
  *
  * Supported shapes (hint on either or both join inputs):
  *  - `l.hint("skew").join(r, Seq(cols...), jt)` — using-join form for
  *    inner AND left/right/full outer types; replaced by the skewJoin plan
  *    directly (same output shape by construction — [[SkewJoin]]'s C2
  *    outer joins fragment only their preserved side and emit using-join
  *    columns and padding);
  *  - `l.hint("skew").join(r, l("k") === r("k") [&& ...], jt)` — raw
  *    equi-join on same-name columns, inner or outer; each side's whole row
  *    rides in one struct slot beside its keys, so the final Project can
  *    restore `l.output ++ r.output` with each side's own null-padding
  *    (see [[rewriteRaw]]). This shape is also what outer USING joins lower
  *    to before this rule sees them (ResolveNaturalAndUsingJoin runs
  *    earlier in the resolution batch), so it carries the
  *    `df.join(r, Seq("k"), "left_outer")` API form too.
  *
  * Semi/anti joins take the same two shapes and route to
  * [[SkewJoin.saltedSemiAnti]]'s exact key-set decomposition (the hint-path
  * default conf is CrossSkew, so the left side always fragments). Anything
  * else (non-equi or renamed-key conditions, cross joins) keeps plain join
  * semantics: the hint is stripped with a warning.
  * Building the replacement runs the CMS sketch jobs at analysis time —
  * once per query, the price of an adaptive rewrite decided before
  * execution.
  */
case class ResolveSkewHint(spark: SparkSession) extends Rule[LogicalPlan] {

  private val hintNames = Set("skew", "skewjoin", "skew_join")

  private def peel(p: LogicalPlan): (LogicalPlan, Boolean) = p match {
    case UnresolvedHint(name, Nil, child)
        if hintNames(name.toLowerCase(Locale.ROOT)) =>
      (child, true)
    case SkewHintMarker(child) => (child, true)
    case other => (other, false)
  }

  /** Decompose a conjunctive same-side equi-join condition into
    * (left attr, right attr) pairs; None if any conjunct is anything else. */
  private def equiPairs(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[Seq[(AttributeReference, AttributeReference)]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) => split(a) ++ split(b)
      case other => Seq(other)
    }
    val pairs = split(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => Some((a, b))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => Some((a, b))
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.flatten) else None
  }

  private def skewJoined(l: LogicalPlan, r: LogicalPlan, cols: Seq[String],
      joinType: String = "inner"): LogicalPlan =
    new SkewJoinOps(Bridge.ofRows(spark, l))
      .skewJoin(Bridge.ofRows(spark, r), cols, joinType)
      .queryExecution.analyzed

  private def usingTypeName(jt: JoinType): Option[String] = jt match {
    case Inner      => Some("inner")
    case LeftOuter  => Some("left_outer")
    case RightOuter => Some("right_outer")
    case FullOuter  => Some("full_outer")
    case LeftSemi   => Some("left_semi")
    case LeftAnti   => Some("left_anti")
    case _          => None
  }

  /** Raw-condition form, any supported join type: each side rides as its
    * keys plus one struct slot holding its whole row (the slots
    * [[SkewJoin.SkewJoinTypedOps.skewJoinWith]] uses), the using-join skew
    * plan runs on the key names, and a final Project restores
    * `l.output ++ r.output` field by field from the slots, original
    * expression ids kept. A using-join output keeps only one
    * (side-dependent, or coalesced) key column, but a slot null-pads as a
    * whole, so each side's key comes back with its own padding. A semi or
    * anti join outputs the left slot only, so only `l.output` comes back. */
  private def rewriteRaw(l: LogicalPlan, r: LogicalPlan,
      pairs: Seq[(AttributeReference, AttributeReference)],
      joinType: String): LogicalPlan = {
    def slotted(p: LogicalPlan, keys: Seq[Attribute], slot: String): LogicalPlan =
      Project(keys :+ Alias(CreateStruct(p.output), slot)(), p)
    val out = skewJoined(
      slotted(l, pairs.map(_._1), SkewJoin.SlotL),
      slotted(r, pairs.map(_._2), SkewJoin.SlotR),
      pairs.map(_._1.name), joinType)
    val restored = Seq(l -> SkewJoin.SlotL, r -> SkewJoin.SlotR).flatMap { case (p, name) =>
      out.output.filter(_.name == name).flatMap { slot =>
        p.output.zipWithIndex.map { case (a, i) =>
          Alias(GetStructField(slot, i), a.name)(exprId = a.exprId)
        }
      }
    }
    Project(restored, out)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    // a skew hint being analyzed on its own (no join above yet — Datasets
    // analyze eagerly): park it as a resolved marker for the join's pass
    case UnresolvedHint(name, Nil, child)
        if hintNames(name.toLowerCase(Locale.ROOT)) && child.resolved =>
      SkewHintMarker(child)
    case j @ Join(jl, jr, joinType, cond, hint) =>
      val (l, hintL) = peel(jl)
      val (r, hintR) = peel(jr)
      if (!(hintL || hintR) || !l.resolved || !r.resolved) j
      else (joinType, cond) match {
        case (UsingJoin(base, cols), None) if usingTypeName(base).isDefined =>
          skewJoined(l, r, cols, usingTypeName(base).get)
        case (jt, Some(c)) if c.resolved && usingTypeName(jt).isDefined =>
          equiPairs(c, l, r) match {
            case Some(pairs) if pairs.nonEmpty &&
                pairs.forall { case (a, b) => a.name == b.name } &&
                pairs.map(_._1.name).distinct.size == pairs.size =>
              rewriteRaw(l, r, pairs, usingTypeName(jt).get)
            case _ =>
              logWarning("skew hint ignored: join condition is not a " +
                "same-name equi-join; falling back to the plain join")
              Join(l, r, joinType, cond, hint)
          }
        case (_, None) =>
          // Dataset.join(right, usingColumns, jt) internally pre-analyzes a
          // condition-less join (of that jt) of the two inputs just to
          // disambiguate attributes, then rebuilds the real UsingJoin from
          // its analyzed children — keep the marker alive through that
          // pass so the real join's analysis still sees it
          j
        case _ =>
          logWarning(s"skew hint ignored: unsupported join type $joinType; " +
            "falling back to the plain join")
          Join(l, r, joinType, cond, hint)
      }
  }
}
