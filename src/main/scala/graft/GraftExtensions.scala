package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** SQL surface for the engine's custom Catalyst expressions.
  *
  * Production path: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `Session.create(_.withExtensions(new GraftExtensions))`) makes
  * the functions resolvable by the analyzer in every session of the
  * application, so pure-SQL users get the native codegen kernels without
  * touching the Column API. [[GraftExtensions.install]] is the programmatic
  * equivalent for an already-built session (used by the declared SQL-text
  * queries, which receive the driver's session after construction).
  *
  * Registered functions (all native-codegen expressions from
  * [[graft.functions.NativeHash]] / the [[TopKLongs]] aggregate):
  *
  *  - `graft_shingle_hashes(text)` → array<bigint> 3-gram shingle hashes
  *  - `graft_simhash20(array<bigint>)` → bigint 20-bit SimHash
  *  - `graft_minhash8(array<bigint>)` → array<bigint> 8 MinHash minima
  *    in one pass (empty array in → empty array out)
  *  - `graft_simhash64(array<bigint>)` → array<bigint> [lo, hi] 32-bit
  *    halves of the 64-bit per-bit-hash SimHash ([0, 0] on empty)
  *  - `graft_rolling_minhash8(text)` → bigint winnowing-style min hash
  *  - `graft_dot_long(array<bigint>, array<bigint>)` → bigint exact dot
  *  - `graft_micro_quantize(array<float>)` → array<bigint> micro units
  *  - `graft_topk_longs(score, id, k)` → aggregate, top-k (score DESC, id)
  *  - `graft_word_ngrams(text, n)` → array<string> word n-grams
  *  - `graft_word_chunks(text, n)` → array<string> non-overlapping chunks
  *  - `graft_morton2(bigint, bigint)` → bigint Z-order interleave
  *  - `graft_countmin_longs(v, d, w)` → aggregate, d×w CMS counter matrix
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    // optimizer surface: the CMS heavy-hitter prune (lossless, opt-in via
    // spark.graft.cmsPrune.enabled — see graft.plans.CmsHeavyHitterPrune)
    // and the KMV approximate-distinct rewrite (answer-changing, opt-in
    // via spark.graft.approxDistinct.enabled)
    ext.injectOptimizerRule(session => new graft.plans.CmsHeavyHitterPrune(session))
    ext.injectOptimizerRule(session => new graft.plans.ApproxDistinctRewrite(session))
  }
}

object GraftExtensions {

  private def one(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name expects 1 argument")
    args.head
  }

  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: k must be an integer literal, got $other")
  }

  /** (identifier, info, builder) triples in SparkSessionExtensions'
    * injectFunction shape. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "graft_shingle_hashes"),
      args => ShingleHashesExpr(one(args, "graft_shingle_hashes"))),
    (FunctionIdentifier("graft_simhash20"),
      new ExpressionInfo(classOf[SimHash20Expr].getName, "graft_simhash20"),
      args => SimHash20Expr(one(args, "graft_simhash20"))),
    (FunctionIdentifier("graft_minhash8"),
      new ExpressionInfo(classOf[MinHash8Expr].getName, "graft_minhash8"),
      args => MinHash8Expr(one(args, "graft_minhash8"))),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "graft_simhash64"),
      args => SimHash64Expr(one(args, "graft_simhash64"))),
    (FunctionIdentifier("graft_rolling_minhash8"),
      new ExpressionInfo(classOf[RollingMinHash8Expr].getName, "graft_rolling_minhash8"),
      args => RollingMinHash8Expr(one(args, "graft_rolling_minhash8"))),
    (FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotLongExpr].getName, "graft_dot_long"),
      { args =>
        require(args.length == 2, "graft_dot_long expects 2 arguments")
        DotLongExpr(args(0), args(1))
      }),
    (FunctionIdentifier("graft_micro_quantize"),
      new ExpressionInfo(classOf[MicroQuantizeExpr].getName, "graft_micro_quantize"),
      args => MicroQuantizeExpr(one(args, "graft_micro_quantize"))),
    (FunctionIdentifier("graft_topk_longs"),
      new ExpressionInfo(classOf[TopKLongs].getName, "graft_topk_longs"),
      { args =>
        require(args.length == 3, "graft_topk_longs expects (score, id, k)")
        TopKLongs(args(0), args(1), litInt(args(2), "graft_topk_longs"))
      }),
    (FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "graft_word_ngrams"),
      { args =>
        require(args.length == 2, "graft_word_ngrams expects (text, n)")
        WordNgramsExpr(args(0), litInt(args(1), "graft_word_ngrams"))
      }),
    (FunctionIdentifier("graft_word_chunks"),
      new ExpressionInfo(classOf[WordChunksExpr].getName, "graft_word_chunks"),
      { args =>
        require(args.length == 2, "graft_word_chunks expects (text, n)")
        WordChunksExpr(args(0), litInt(args(1), "graft_word_chunks"))
      }),
    (FunctionIdentifier("graft_morton2"),
      new ExpressionInfo(classOf[Morton2Expr].getName, "graft_morton2"),
      { args =>
        require(args.length == 2, "graft_morton2 expects 2 arguments")
        Morton2Expr(args(0), args(1))
      }),
    (FunctionIdentifier("graft_countmin_longs"),
      new ExpressionInfo(classOf[CountMinLongs].getName, "graft_countmin_longs"),
      { args =>
        require(args.length == 3, "graft_countmin_longs expects (v, d, w)")
        CountMinLongs(args(0),
          litInt(args(1), "graft_countmin_longs"),
          litInt(args(2), "graft_countmin_longs"))
      })
  )

  /** Register the functions into an existing session's function registry —
    * identical builders to the extensions path, for sessions constructed
    * without `spark.sql.extensions`. Idempotent (re-registration replaces).
    */
  def install(spark: SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
