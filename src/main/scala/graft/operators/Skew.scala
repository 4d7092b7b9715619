package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew-tolerant aggregation: two-phase salted groupBy. AQE's skew-join
 * splitting handles JOIN skew at runtime; aggregation skew on a
 * low-cardinality or hot key needs salting — phase 1 aggregates on
 * (key, salt) so one hot key spreads over `salts` reducers with map-side
 * partials, phase 2 merges the partials by key (a tiny second shuffle:
 * `keys × salts` rows). Results are identical to the direct groupBy —
 * the q69 oracle proves it — so callers can switch per-key-distribution
 * without semantic risk.
 */
object Skew {

  /** Salt column: a DETERMINISTIC function of the full row content
    * (xxhash64 over all columns), never of physical position — under a
    * stage retry, recomputed rows land in the same (key, salt) group as
    * the partials other reducers already fetched, so results cannot be
    * corrupted by partial recomputation. Fully identical duplicate rows
    * share a salt (slightly weaker spreading on duplicate-heavy data),
    * which degrades balance, never correctness. */
  private def salt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(salts.toLong))

  /** Skew-tolerant groupCount: same output as
    * `df.groupBy(key).count()` with the hot-key reduce work spread over
    * `salts` partitions. */
  def saltedGroupCount(df: DataFrame, key: Column, salts: Int): DataFrame =
    df.groupBy(key.as("key"), salt(df, salts).as("__salt"))
      .agg(count(lit(1)).as("__pc"))
      .groupBy(col("key"))
      .agg(sum(col("__pc")).as("count"))
}
