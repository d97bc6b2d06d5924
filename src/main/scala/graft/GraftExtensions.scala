package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.PolyHashExpr

/** The single registry of the engine's SQL-callable custom expressions —
  * consumed by BOTH registration paths ([[GraftExtensions]] for conf-built
  * sessions, [[Engine.tune]] for programmatic ones) so the two surfaces
  * can never drift apart. */
object GraftFunctions {
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "poly_hash"      -> (es => PolyHashExpr(es.head, PolyHashExpr.Base, PolyHashExpr.Mod)),
    "poly_hash2"     -> (es => PolyHashExpr(es.head, PolyHashExpr.Base2, PolyHashExpr.Mod2)),
    "fold_dot"       -> (es => graft.functions.FoldDotProduct(es(0), es(1))),
    "fnv1a32"        -> (es => graft.functions.Fnv1aExpr(es.head)),
    "explode_ngrams" -> (es => graft.functions.NgramGenerator(es(0), es(1))),
    "sorted_intersect_count" ->
      (es => graft.functions.SortedIntersectCount(es(0), es(1))),
    "sorted_intersect" ->
      (es => graft.functions.SortedIntersect(es(0), es(1))),
    "cdc_boundaries" -> (es => graft.functions.CdcBoundariesExpr(es.head)),
    "char_hist"      -> (es => graft.functions.CharHistExpr(es.head)),
    "bag_distance"   -> (es => graft.functions.BagDistance(es(0), es(1))),
    "minhash_sig"    -> (es => graft.functions.MinhashSigExpr(es.head)))
}

/** Session-extension entry point: the deployment path for plugging the
  * engine's codegen'd functions into ANY Spark session —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers every [[GraftFunctions]] builder as a SQL-callable function
  * at session build, with no call into `Engine.tune` required (which does
  * the same registration imperatively for programmatic sessions), and
  * injects the [[graft.plans.LevenshteinLengthGuard]] optimizer rule.
  * This is the standard `SparkSessionExtensions` mechanism, the same hook
  * a custom Strategy would use if an operator ever outgrew what the
  * built-in planner expresses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // semantics-preserving rewrite: thresholded levenshtein predicates
    // gain a cheap length-gap guard (see the rule's doc for the proof)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinLengthGuard)
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}
