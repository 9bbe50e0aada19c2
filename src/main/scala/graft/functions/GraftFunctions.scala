package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the library's custom Catalyst expressions, so
  * `spark.sql("... sorted_jaccard(a, b) ...")` works alongside the Column
  * API. Two registration paths:
  *
  *  - [[GraftFunctions.register]] on an existing session;
  *  - [[GraftExtensions]] via
  *    `SparkSession.builder().withExtensions(new GraftExtensions)` or the
  *    `spark.sql.extensions=graft.functions.GraftExtensions` conf.
  */
object GraftFunctions {

  private def two(name: String)(f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$name expects 2 arguments, got ${exprs.length}")
    f(exprs(0), exprs(1))
  }

  private def one(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"$name expects 1 argument, got ${exprs.length}")
    f(exprs(0))
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "nfc_normalize" -> one("nfc_normalize")(NfcNormalize(_)),
    "sorted_jaccard" -> two("sorted_jaccard")(SortedJaccard(_, _)),
    "sorted_intersect" -> two("sorted_intersect")(SortedIntersect(_, _)),
    "vector_dot" -> two("vector_dot")(VectorDot(_, _)),
    "char_hist_stats" -> one("char_hist_stats")(CharHistStats(_)),
    // aggregate: kmv_kmins(hash, k) — k must be an integer literal (it
    // sizes the aggregation buffer, so it cannot be row-dependent); the
    // analyzer wraps the returned AggregateFunction like any built-in agg
    "kmv_kmins" -> two("kmv_kmins") { (child, kExpr) =>
      KmvSketchAgg(child, intLit("kmv_kmins", "k", kExpr))
    },
    // multi_contains(text, array('p1', 'p2', ...)) — the pattern list must
    // be a foldable array of string literals (it builds the Aho–Corasick
    // automaton, a plan-time model parameter, not row data)
    "multi_contains" -> two("multi_contains") { (child, patsExpr) =>
      val pats = patsExpr match {
        case e if e.foldable =>
          e.eval(null) match {
            case a: org.apache.spark.sql.catalyst.util.ArrayData =>
              a.toObjectArray(org.apache.spark.sql.types.StringType)
                .map(_.toString).toSeq
            case other => throw new IllegalArgumentException(
              s"multi_contains: patterns must be an ARRAY<STRING> literal, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"multi_contains: patterns must be foldable, got $other")
      }
      MultiContains(child, pats)
    },
    // aggregate: gram_matrix(vec, dim) — dim must be an integer literal
    // (it sizes the d(d+1)/2-long aggregation buffer)
    "gram_matrix" -> two("gram_matrix") { (child, dimExpr) =>
      GramMatrixAgg(child, intLit("gram_matrix", "dim", dimExpr))
    },
    // aggregate: top_k(v, k) — the group's k smallest values of any
    // orderable v (struct for multi-key + payload), ascending; k must be
    // an integer literal for the same buffer-sizing reason as kmv_kmins
    "top_k" -> two("top_k") { (child, kExpr) =>
      TopKAgg(child, intLit("top_k", "k", kExpr))
    },
    // r15 (VERDICT task 7): the dedup-family primitives for pure-SQL
    // users — signature + shingle + winnow were Scala-only; each int
    // parameter must be a literal (it shapes codegen, not row data)
    "min_hash_sig" -> two("min_hash_sig") { (child, kExpr) =>
      MinHashSig(child, intLit("min_hash_sig", "numHashes", kExpr))
    },
    "char_shingle_set" -> two("char_shingle_set") { (child, kExpr) =>
      CharShingleSet(child, intLit("char_shingle_set", "k", kExpr))
    },
    "winnow_fps" -> { exprs =>
      require(exprs.length == 3,
        s"winnow_fps expects 3 arguments, got ${exprs.length}")
      WinnowFingerprints(exprs(0), intLit("winnow_fps", "k", exprs(1)),
        intLit("winnow_fps", "window", exprs(2)))
    },
    // r16 (VERDICT task 6): sketch-TABLE merge aggregates — pure-SQL
    // re-aggregation of persisted sketches (kmv_merge over array<long>
    // sketches, cms_merge over serialized CMS blobs). k is a literal for
    // the same buffer-sizing reason as kmv_kmins. The 3-arg form (r17)
    // threads the persisted build-k column for the per-row compatibility
    // check: kmv_merge(sketch, kmv_k, k).
    "kmv_merge" -> { exprs =>
      exprs match {
        case Seq(child, kExpr) =>
          KmvMergeAgg(child, intLit("kmv_merge", "k", kExpr))
        case Seq(child, buildK, kExpr) =>
          KmvMergeAgg(child, intLit("kmv_merge", "k", kExpr), Some(buildK))
        case _ => throw new IllegalArgumentException(
          s"kmv_merge expects 2 or 3 arguments, got ${exprs.length}")
      }
    },
    "cms_merge" -> one("cms_merge")(CmsMergeAgg(_)))

  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal, got $other")
  }

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // df.hint("skew").join(...) → fragment-replicate rewrite (SURVEY §4)
    ext.injectResolutionRule(graft.skew.ResolveSkewHint(_))
    ext.injectOptimizerRule(graft.skew.StripSkewHintMarkers(_))
  }
}
