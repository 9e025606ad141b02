package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's native expressions, injected via
  * `SparkSessionExtensions` (the registration path the build brief calls
  * out for custom operators):
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)...
  * spark.sql("SELECT graft_polyhash(text) FROM docs")
  * }}}
  *
  * The functions plan as the codegen'd expressions from [[Exprs]], so SQL
  * users get the same whole-stage-codegen kernels as the Scala API; the
  * optimizer rule [[graft.plans.RangeJoinBinningRule]] gives declarative
  * range joins the binned equi-join plan (opt-in via
  * `spark.graft.rangeJoin.binWidth`), and the AQE rule
  * [[graft.plans.OnePartitionExchange]] turns an exchange over one
  * planned partition into a one-partition coalesce. Every
  * [[graft.Sessions]] session already carries that rule: add these
  * extensions to a plain `SparkSession.builder`, not to `Sessions.builder`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[PolyHashExpr].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash", "graft_polyhash(str) - engine-portable 31-ary rolling hash mod 1e9+7"),
      (children: Seq[Expression]) => PolyHashExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_seq_dot"),
      info("graft_seq_dot", "graft_seq_dot(a, b) - sequential-fold dot product of float arrays in double"),
      (children: Seq[Expression]) => SeqDotExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - fused single-traversal cosine similarity of float arrays"),
      (children: Seq[Expression]) => CosineExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(hashes, n) - all n minhash signatures in one pass (n: int literal)"),
      (children: Seq[Expression]) => {
        val n = children(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case other => throw new IllegalArgumentException(
              s"graft_minhash: n must be an INT literal, got $other")
          }
          case _ => throw new IllegalArgumentException(
            "graft_minhash: n must be a foldable INT literal")
        }
        require(n > 0 && n <= 1024, s"graft_minhash: n=$n outside (0, 1024]")
        val ps = StableHash.affineParams(n)
        MinHashExpr(children.head, ps.map(_._1).toArray, ps.map(_._2).toArray)
      }))
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinningRule)
    ext.injectQueryStagePrepRule(_ => graft.plans.OnePartitionExchange)
    // tier (c): plans AsOfJoinNode into the native AsOfJoinExec sort-merge
    // operator (NativeAsOf.asofJoin also self-registers on plain sessions)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
