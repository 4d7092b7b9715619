package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Default MinHash parameterization shared by the SQL function surface and
  * the text-pipeline queries: K=128 md5-derived universal-hash pairs over
  * P (prime > 2^32), a_i < 2^30 so products stay inside signed 64-bit. */
object MinHashDefaults {
  val K = 128
  val P = 4294967311L
  /** md5-derived deterministic seed value — the single source for every
    * hash constant in the engine (MinHash a/b pairs, SRP hyperplanes). */
  def mdLong(seed: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
    BigInt(1, d.take(8)).toLong.abs
  }
  val params: IndexedSeq[(Long, Long)] =
    (0 until K).map(i => (1L + mdLong(s"graft:a:$i") % ((1L << 30) - 1), mdLong(s"graft:b:$i") % P))
}

/**
 * SparkSessionExtensions hook (`spark.sql.extensions=graft.functions.GraftExtensions`
 * at deploy time) registering the engine's native functions for SQL use
 * ([[GraftExtensions.register]] for a live session; e.g.
 * `minhash_signature(array<bigint>) → array<bigint>` with the default
 * 128-permutation parameterization) and its plan rules:
 *  - optimizer rules: [[graft.plans.RedundantDistinctRule]],
 *    [[graft.plans.FirstStructPruningRule]] and
 *    [[graft.plans.EagerCountAggregation]] (Spark's
 *    `spark.sql.optimizer.excludedRules` turns any of them off by class
 *    name; the opt-in [[graft.plans.MetadataCountRule]] is not injected);
 *  - the AQE query-stage preparation rule [[graft.plans.OneTaskPlan]]:
 *    a plan whose scans are all single-split runs as one task.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // superkey-proven dedup removal — before the struct pruner so an
    // aggregate it eliminates is never also pruned
    ext.injectOptimizerRule(session => graft.plans.RedundantDistinctRule(session))
    // nested pruning through first(struct) dedup buffers
    ext.injectOptimizerRule(session => graft.plans.FirstStructPruningRule(session))
    // count-aggregation pushdown below joins
    ext.injectOptimizerRule(session => graft.plans.EagerCountAggregation(session))
    // tiny inputs run as one task (after EnsureRequirements, inside AQE)
    ext.injectQueryStagePrepRule(_ => graft.plans.OneTaskPlan)
  }
}

object GraftExtensions {
  private val minhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "minhash_signature(hashes: array<bigint>) takes one argument")
    MinHashSignature(args.head, MinHashDefaults.params.map(_._1), MinHashDefaults.params.map(_._2), MinHashDefaults.P)
  }
  private val simhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "simhash(hashes: array<bigint>) takes one argument")
    SimHash(args.head, 48)
  }
  private val shingleBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "shingle_hashes(tokens: array<string>) takes one argument")
    ShingleHashes(args.head)
  }
  private val dotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "decimal_dot(x: array<float>, y: array<float>) takes two arguments")
    DecimalDotProduct(args.head, args(1))
  }
  private val windowMd5Builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "window_md5_hashes(tokens: array<string>, w: int) takes two arguments")
    val w = args(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"window_md5_hashes: width must be an integer literal, got $other")
    }
    WindowMd5Hashes(args.head, w)
  }

  private val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("minhash_signature", classOf[MinHashSignature], minhashBuilder),
    ("simhash", classOf[SimHash], simhashBuilder),
    ("shingle_hashes", classOf[ShingleHashes], shingleBuilder),
    ("decimal_dot", classOf[DecimalDotProduct], dotBuilder),
    ("window_md5_hashes", classOf[WindowMd5Hashes], windowMd5Builder))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.map { case (name, cls, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)
    }

  /** Register the function set on an already-running session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, b) => GraftBridge.registerFunction(spark, name, b) }
}
