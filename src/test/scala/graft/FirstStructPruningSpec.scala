package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.FirstStructPruningRule

/**
 * FirstStructPruningRule semantics: pruning first(struct) dedup buffers
 * to the referenced fields must be observationally identical to the
 * unpruned plan — including null structs (a struct-of-nulls reads the
 * same field-wise) — and must NOT fire when the whole struct is
 * consumed (there null-struct vs struct-of-nulls IS observable).
 */
class FirstStructPruningSpec extends SparkSpec {

  private def withRule[T](on: Boolean)(body: => T): T =
    if (on) body
    else withConf("spark.sql.optimizer.excludedRules" ->
      classOf[FirstStructPruningRule].getName)(body)

  /** key, payload struct (null for k=3), extra noise column. */
  private def base: DataFrame = {
    import spark.implicits._
    Seq((1, "a", 10, 100), (1, "a", 10, 100), (2, "b", 20, 200), (3, "c", 30, 300))
      .toDF("k", "s1", "s2", "s3")
      .select(col("k"),
        when(col("k") =!= 3, struct(col("s1"), col("s2"), col("s3"))).as("payload"))
  }

  private def dedupThenField(df: DataFrame): DataFrame =
    df.dropDuplicates("k").select(col("k"), col("payload.s2").as("v")).orderBy("k")

  describe("FirstStructPruningRule") {
    it("prunes the buffer and keeps field-wise results identical, incl. null structs") {
      val on = withRule(on = true) {
        val out = dedupThenField(base)
        val plan = out.queryExecution.optimizedPlan.toString
        // CollapseProject folds the extraction into the aggregate; the
        // rewrite aliases the field below the aggregate (__pf_s2) so the
        // buffer holds one int field — and the built-in pruning then
        // eliminates the struct from the child entirely
        assert(plan.matches("(?s).*first\\(__pf_s2#\\d+.*"), plan)       // rule fired
        assert(!plan.matches("(?s).*first\\(payload#\\d+,.*"), plan)     // full-struct first gone
        out.collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
      }
      val off = withRule(on = false) {
        val out = dedupThenField(base)
        assert(out.queryExecution.optimizedPlan.toString.matches("(?s).*first\\(payload#\\d+,.*"))
        out.collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
      }
      assert(on == off)
      assert(on == Seq((1, Some(10)), (2, Some(20)), (3, None))) // k=3's null struct reads null field-wise
    }

    it("keeps the full buffer for whole-struct consumers — null structs stay null") {
      val out = withRule(on = true) {
        base.dropDuplicates("k")
          .select(col("k"), col("payload").isNull.as("missing"), col("payload.s2").as("v"))
          .orderBy("k")
      }
      // the whole-struct consumer's first() is untouched (a pruned
      // struct-of-nulls would flip isNull to false); the field-wise
      // consumer prunes independently, which is safe per-instance
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.matches("(?s).*first\\(payload#\\d+,.*"), plan)
      val rows = out.collect().map(r => (r.getInt(0), r.getBoolean(1))).toSeq
      assert(rows == Seq((1, false), (2, false), (3, true)))
    }

    it("on/off equivalence across every consumer shape (field subsets × filter × whole-struct)") {
      import spark.implicits._
      // 24 rows with a mix of null fields and null whole structs
      val data = (1 to 24).map { i =>
        (i % 8, // dup-heavy keys so first() has real choices
          if (i % 7 == 0) None else Some(i * 10),
          if (i % 5 == 0) None else Some(i * 100),
          if (i % 3 == 0) None else Some(i * 1000))
      }.toDF("k", "s1", "s2", "s3")
        .select(col("k"),
          when(col("k") =!= 5, struct(col("s1"), col("s2"), col("s3"))).as("payload"))
        // a deterministic order column so first() picks the same row on
        // both runs (dropDuplicates over an unordered LocalRelation is
        // otherwise free to differ between plans)
        .orderBy("k", "s1").coalesce(1)
      val fields = Seq("s1", "s2", "s3")
      for {
        subset <- fields.toSet.subsets.filter(_.nonEmpty)
        withFilter <- Seq(false, true)
        wholeRef <- Seq(false, true)
      } {
        def build() = {
          val dd = data.dropDuplicates("k")
          val filtered = if (withFilter) dd.where(col("payload.s3").isNull || col("payload.s3") < 20000) else dd
          val cols = Seq(col("k")) ++ subset.toSeq.sorted.map(f => col(s"payload.$f").as(f)) ++
            (if (wholeRef) Seq(col("payload").isNull.as("missing")) else Nil)
          filtered.select(cols: _*).orderBy("k")
        }
        val on = withRule(on = true)(build().collect().map(_.toSeq).toSeq)
        val off = withRule(on = false)(build().collect().map(_.toSeq).toSeq)
        assert(on == off, s"subset=$subset filter=$withFilter whole=$wholeRef\non=$on\noff=$off")
      }
    }

    it("prunes through an intervening filter on a struct field (post-match predicate shape)") {
      val (rowsOn, rowsOff) = (withRule(on = true) {
        val out = base.dropDuplicates("k")
          .where(col("payload.s3") < 300)
          .select(col("k"), col("payload.s2").as("v")).orderBy("k")
        val plan = out.queryExecution.optimizedPlan.toString
        // the pruned struct materializes below the aggregate (__ps_*)
        assert(plan.matches("(?s).*first\\(__ps_payload#\\d+.*"), plan)
        assert(!plan.matches("(?s).*first\\(payload#\\d+,.*"), plan)
        out.collect().toSeq
      }, withRule(on = false) {
        base.dropDuplicates("k")
          .where(col("payload.s3") < 300)
          .select(col("k"), col("payload.s2").as("v")).orderBy("k").collect().toSeq
      })
      assert(rowsOn == rowsOff)
      assert(rowsOn.map(_.getInt(0)) == Seq(1, 2))
    }
  }
}
