package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import CoreQueries.Q
import graft.functions.DuckDecimalCast.{duckDecimal6, duckDouble}

/**
 * Clustered-geometry quantizer audits (e18-e20): the recall numbers a
 * deployment reads before choosing its ANN code-table strategy, measured
 * on a corpus with REAL cluster structure.
 *
 * Why this exists (r13 verdict lead item): the synthetic `embeddings`
 * table is uniform on the unit sphere — maximal-loss geometry for any
 * product quantizer — so the production recall audits (e15 raw-PQ, e17
 * residual-PQ) both read ≈ 0 there and cannot distinguish a working
 * quantizer from a broken one. These queries derive a CLUSTERED view of
 * the same corpus ([[mogView]]) and run the same three quantizer
 * strategies over it at identical M/KSub geometry; ClusteredRecallSpec
 * pins the ordering (residual ≫ flat — measured gap ≥ 0.28 recall at
 * every shipped SF), which is the signal the e15/e17 pair is meant to
 * carry on a real embedding corpus.
 *
 * The fixture — a mixture of Gaussians with shared low-rank covariance
 * (the pooled-covariance / factor-analyzer model: x = c_k + B(z₁d₁ +
 * z₂d₂) + εu) — is DERIVED deterministically from (embedding, label-free
 * id): cluster id = vec_id mod NC, centers and factor directions are
 * md5-derived integer literals (the SRP-planes pattern), the factor
 * coordinates z₁/z₂ and the isotropic tail u come from the existing
 * random unit vector. Every arithmetic step is IEEE-identical in both
 * engines (integer literals, double multiply-adds in fixed order, one
 * float cast), so the view is bit-stable at every SF with zero fixture
 * files — the oracle recomputes it from raw `embeddings`.
 *
 * Geometry lessons baked in (measured, see COVERAGE.md round-14 notes):
 *  - Flat corpus-seeded PQ is implicitly residual-ish while KSub covers
 *    the cluster count; the audit uses NC > KSub so the capacity
 *    difference is structural, as at production scale (cells ≫ KSub).
 *  - Coarse assignment must be L2 against MEAN centroids (the FAISS IVF
 *    formulation) — cosine/sum centroids, correct for the unit-norm
 *    corpus (e05/e06), scramble buckets once clusters carry distinct
 *    norms; these audits train their coarse stage with one mean-Lloyd
 *    iteration over L2 assignments ([[l2Assign]]/[[meanCents]]).
 *  - Recall is averaged over a BOUNDED query panel (e07's sampled-audit
 *    pattern; ≤ [[QPanelCap]]/[[QMod]] queries at any scale) — a
 *    1-query recall@5 is a coin flip.
 *
 * Everything here trains LIVE (the e06b "training stays live" precedent:
 * these ARE the train-time diagnostics a deployment runs before building
 * stored families); no stored artifacts, so no warm hooks or digests.
 * Scale shape: windows partition by vec_id/q_id (never global), every
 * join side that isn't the corpus is broadcast (≤ K·Q rows), the encodes
 * are map-side literal argmins, and the one brute-force truth pass is
 * the audit's documented price (corpus × bounded panel).
 */
object MogQueries {

  import graft.sources.AnnIndex._
  import VectorOracles.dotSqlOf

  /** Mixture geometry: NC clusters (> KSub, so flat-codebook capacity is
    * the structural bottleneck), center scale CA, factor scale CB,
    * isotropic tail CEps. */
  private final val NC = 20
  private final val CA = 0.75
  private final val CB = 4.0
  private final val CEps = 0.25
  /** Coarse quantizer width for the residual audit (≥ NC so the trained
    * coarse stage CAN separate the mixture). */
  private final val CKMog = 64
  /** Query panel: every QMod-th vector among the first QPanelCap — a
    * fixed-size audit panel at any corpus scale. */
  private final val QMod = 25
  private final val QPanelCap = 2000

  private def mdLong(seed: String): Long = graft.functions.MinHashDefaults.mdLong(seed)

  /** md5-derived integer mixture parameters (the SRP-planes pattern):
    * centers in [-3,3], shared factor directions in [-2,2] — embedded as
    * literals in both the Spark plan and the oracle SQL. */
  private[graft] val mogC: IndexedSeq[IndexedSeq[Long]] =
    (0 until NC).map(k => (0 until Dim).map(j => mdLong(s"graft:mog:c:$k:$j") % 7 - 3))
  private[graft] val mogD1: IndexedSeq[Long] =
    (0 until Dim).map(j => mdLong(s"graft:mog:d1:$j") % 5 - 2)
  private[graft] val mogD2: IndexedSeq[Long] =
    (0 until Dim).map(j => mdLong(s"graft:mog:d2:$j") % 5 - 2)

  /** The derived clustered corpus: x_j = CA·C[cl][j] + CB·(z₁·d1[j] +
    * z₂·d2[j]) + CEps·e_j, cl = vec_id mod NC, z₁/z₂ = the unit vector's
    * first two components. One map-side pass; float32 output. */
  private[graft] def mogView(s: SparkSession, dir: String): DataFrame = {
    val ccAll = array(mogC.map(r => array(r.map(lit): _*)): _*)
    val d1c = array(mogD1.map(lit): _*)
    val d2c = array(mogD2.map(lit): _*)
    val cc = element_at(ccAll, (pmod(col("vec_id"), lit(NC.toLong)) + 1L).cast("int"))
    val z1 = element_at(col("embedding"), 1).cast("double")
    val z2 = element_at(col("embedding"), 2).cast("double")
    emb(s, dir).select(col("vec_id"),
      transform(col("embedding"), (x, j) =>
        (lit(CA) * element_at(cc, j + 1) +
          lit(CB) * (z1 * element_at(d1c, j + 1) + z2 * element_at(d2c, j + 1)) +
          lit(CEps) * x.cast("double")).cast("float")).as("embedding"))
  }

  /** The oracle's mirror of [[mogView]] as CTEs `mog`, `cemb` —
    * identical literals, identical operation order. `mat` injects
    * DuckDB's MATERIALIZED hint: the engine inlines CTEs by default, so
    * an oracle that references `cemb` from many stages recomputes the
    * view per reference — irrelevant at the gate SFs, but e20's sf10
    * evidence run recomputed its residual subtree five times and
    * overran the spill disk until its hot CTEs were pinned. */
  private def mogViewSql(mat: String = ""): String = {
    val ccLit = mogC.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""mog AS (SELECT $ccLit AS cc,
       |  ${mogD1.mkString("[", ",", "]")} AS d1, ${mogD2.mkString("[", ",", "]")} AS d2),
       |cemb AS $mat (SELECT vec_id,
       |  list_transform(list_zip(embedding, range(0, $Dim)),
       |    z -> CAST($CA * cc[(vec_id % $NC) + 1][z[2] + 1]
       |      + $CB * (CAST(embedding[1] AS DOUBLE) * d1[z[2] + 1] + CAST(embedding[2] AS DOUBLE) * d2[z[2] + 1])
       |      + $CEps * CAST(z[1] AS DOUBLE) AS REAL)) AS embedding
       |  FROM embeddings, mog)""".stripMargin
  }

  // ------------------------------------------------- shared audit stages

  /** The clustered view materialized once per (session, dir) — all
    * three audits read the same derived corpus, exactly as they would a
    * stored fixture table; released with the e-family caches
    * ([[releaseCaches]], wired into the bench's family boundary). */
  private val viewCache = new graft.util.SessionCache[DataFrame]
  private def mogViewCk(s: SparkSession, dir: String): DataFrame =
    viewCache.getOrElseUpdate(s, dir) {
      val raw = mogView(s, dir)
      // r15: the derived view inherits the source scan's split count —
      // ONE split at the gate SFs (a single small parquet file), which
      // ran EVERY downstream corpus pass (the truth-pass dots, both
      // argmin assignments, the mean update, the residual encode)
      // single-task (measured: e20's mean-update stage alone was 3.2 s
      // at sf1). Spread the one-time checkpoint when the scan has fewer
      // splits; at scale the scan already exceeds the session's
      // parallelism and this adds nothing. Round-robin repartition only
      // reorders rows — every consumer is a join/aggregate/window on
      // explicit keys, and the oracle orders results, so the result set
      // is unchanged.
      //
      // r16: bound the spread by DATA SIZE, not core count (r15 spread
      // unconditionally to defaultParallelism, which over-partitioned
      // tiny corpora — 32 tasks over ~2 k rows across every one of the
      // audits' many small training stages, pure scheduling overhead at
      // the small SFs; driver-measured e20 2.33→3.34 s at sf0.1). One
      // partition per ~128 KB of source parquet ≈ 500 view rows/task —
      // each row fans into ≥ 64-80 decimal dots per corpus pass, so
      // tasks stay well above scheduling cost — capped at the session's
      // parallelism (which the target reaches by ~4 MB of input; the
      // sf1 single-split case still spreads to every core).
      val p = s.sparkContext.defaultParallelism
      val bytesPerTask = 128L << 10
      val srcBytes = try {
        val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
        path.getFileSystem(s.sessionState.newHadoopConf()).getContentSummary(path).getLength
      } catch { case _: java.io.IOException => 0L }
      val target = math.min(p.toLong, math.max(1L, srcBytes / bytesPerTask)).toInt
      val spread = if (raw.rdd.getNumPartitions < target) raw.repartition(target) else raw
      spread.localCheckpoint()
    }

  /** The panel's brute-force top-5 ground truth, once per (session,
    * dir): all three audits score against the SAME truth (a production
    * audit computes it once per corpus snapshot too — it is the
    * expensive half of every recall measurement). */
  private val truthCache = new graft.util.SessionCache[DataFrame]
  private def truthTop5(s: SparkSession, dir: String): DataFrame =
    truthCache.getOrElseUpdate(s, dir) {
      val v = mogViewCk(s, dir)
      val q = panel(v)
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id").asc)
      v.crossJoin(broadcast(q)).where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), dotNative("embedding", "qvec").as("score"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"))
        .localCheckpoint()
    }

  /** Free this session's mog view/truth checkpoints (bench inter-family
    * release; rebuild lazily). */
  private[graft] def releaseCaches(s: SparkSession): Unit = {
    viewCache.removeAll(s).foreach(org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint)
    truthCache.removeAll(s).foreach(org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint)
  }

  /** The bounded query panel off the clustered view. */
  private def panel(v: DataFrame): DataFrame =
    v.where(pmod(col("vec_id"), lit(QMod.toLong)) === 0L && col("vec_id") < QPanelCap)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))

  private val panelSql: String =
    s"q AS (SELECT vec_id AS q_id, embedding AS qvec FROM cemb WHERE vec_id % $QMod = 0 AND vec_id < $QPanelCap)"

  /** Per-(panel query, codebook entry) exact sub-dot LUT. */
  private def lutQ(cb: DataFrame, q: DataFrame): DataFrame =
    cb.crossJoin(broadcast(q))
      .select(col("q_id"), col("m"), col("k"),
        dotNativeC(expr(s"slice(qvec, m * $SubDim + 1, $SubDim)"), col("cvec")).as("l"))

  private def lutQSql(cb: String): String =
    s"""lut AS (SELECT q.q_id, c.m, c.k,
       |    ${dotSqlOf(s"list_slice(q.qvec, c.m * $SubDim + 1, (c.m + 1) * $SubDim)", "c.cvec")} AS l
       |  FROM $cb c CROSS JOIN q)""".stripMargin

  /** The M per-panel-query LUT joins (broadcast — ≤ KSub·panel rows each). */
  private def lutJoinedQ(codes: DataFrame, lut: DataFrame): DataFrame =
    (0 until MSub).foldLeft(codes) { (df, m) =>
      df.join(broadcast(lut.where(col("m") === m)
        .select(col("q_id"), col("k").as(s"k$m"), col("l").as(s"l$m"))), Seq("q_id", s"k$m"))
    }

  private def lutJoinsSql: String = (0 until MSub)
    .map(m => s"JOIN lut l$m ON l$m.q_id = q.q_id AND l$m.m = $m AND l$m.k = w.k$m").mkString(" ")

  /** Mean recall@5 over the panel: ADC top-5 (`scored`: q_id, vec_id,
    * approx) vs the session-cached brute-force truth ([[truthTop5]]). */
  private def recallOverPanel(sk: SparkSession, dir: String, q: DataFrame, scored: DataFrame): DataFrame = {
    val wA = Window.partitionBy(col("q_id")).orderBy(col("approx").desc, col("vec_id").asc)
    val atop = scored.where(col("vec_id") =!= col("q_id"))
      .withColumn("rn", row_number().over(wA)).where(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"))
    val truth = truthTop5(sk, dir)
    // both sides are ≤ 5·panel rows; broadcast the ADC side so the
    // intersection is a hash probe, not a two-sided shuffle-sort
    val hits = truth.join(broadcast(atop), Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
    // broadcast: hits is ≤ panel-size rows — without the hint the static
    // plan SMJ-shuffles both tiny sides (AQE fixes it at runtime, but
    // the declared plan should already be the right one)
    q.select(col("q_id")).join(broadcast(hits), Seq("q_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        (sum(coalesce(col("h"), lit(0L))).cast("double") / (lit(5d) * count(lit(1))))
          .as("recall_at_5"))
  }

  /** The tail after an `appr(q_id, vec_id, approx)` CTE. */
  private def recallTailSql: String =
    s"""atop AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, vec_id) AS rn
       |    FROM appr) t WHERE rn <= 5),
       |truth AS (SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, a.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${dotSqlOf("a.embedding", "q.qvec")} DESC, a.vec_id) AS rn
       |    FROM cemb a CROSS JOIN q WHERE a.vec_id <> q.q_id) t WHERE rn <= 5),
       |hits AS (SELECT t.q_id, count(*) AS h FROM truth t JOIN atop a
       |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id GROUP BY t.q_id)
       |SELECT count(*) AS n_queries,
       |  CAST(sum(COALESCE(h.h, 0)) AS DOUBLE) / (5 * count(*)) AS recall_at_5
       |FROM q LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin

  // -------------------------------------------- training-stage machinery

  /** L2 nearest-centroid assignment (argmin ‖x−c‖² via −2·x·c + ‖c‖², cid
    * tie-break) — the FAISS IVF formulation, required once vectors carry
    * cluster-dependent norms (cosine assignment, correct for the
    * unit-norm corpus, scrambles buckets here — measured in the round-14
    * notes).
    *
    * r15: the centroid table is bounded (≤ CKMog = 64 rows — the same
    * bounded driver fetch every frozen-codebook encode does), so the
    * argmin is a MAP-SIDE literal expression, exactly the
    * [[pqEncodeColumnsOn]] pattern. The pre-r15 form crossJoined the
    * broadcast centroids (64× row explosion) and ranked with a
    * per-vec_id window: one shuffle + sort of 64·N rows per assignment,
    * twice per e20 run. Arithmetic per candidate is unchanged
    * (−2·decimal-dot + cn2 on the identical float literals), so
    * assignments are bit-identical.
    *
    * r16: native [[graft.functions.CodebookArgmin]] instead of the
    * array_min-over-(d2x, cid)-structs composition — same score, same
    * lexicographic winner (property-pinned), one compiled call instead
    * of 64 inlined dot+struct blocks and zero per-row allocation; its
    * nullable=false subsumes the r15 KnownNotNull marker (pushed
    * isnotnull guards on the cid join key still fold). */
  private def l2AssignCol(cents: Seq[(Long, IndexedSeq[Float], Double)], vecCol: String): Column = {
    require(cents.nonEmpty, "l2AssignCol: empty centroid table")
    org.apache.spark.sql.GraftBridge.column(graft.functions.CodebookArgmin(
      org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
      cents.map(_._1).toIndexedSeq,
      cents.map(_._2).toIndexedSeq,
      cents.map(_._3).toIndexedSeq,
      kind = "l2", offset = 0, intOut = false))
  }

  /** Collect a bounded centroid table (cid, cvec, cn2) to driver rows
    * for [[l2AssignCol]] — ≤ CKMog rows, the collectCodebookRows shape. */
  private def collectCents(cents: DataFrame): Seq[(Long, IndexedSeq[Float], Double)] =
    cents.select(col("cid"), col("cvec"), col("cn2")).collect()
      .iterator.map { r =>
        (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toIndexedSeq, r.getDouble(2))
      }.toSeq.sortBy(_._1)

  private def l2AssignSql(cents: String): String =
    s"""SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY -2 * ${dotSqlOf("v.embedding", "c.cvec")} + c.cn2 ASC, c.cid) AS rn
       |    FROM cemb v CROSS JOIN $cents c) t WHERE rn = 1""".stripMargin

  /** MEAN centroids of an L2 assignment: per-(cid, dim) exact-decimal
    * sum emitted as double, divided by the member count (double division
    * is correctly rounded — identical in both engines), cast float32.
    * The L2/mean pairing is the Lloyd update that matches [[l2Assign]]
    * (the e06 cosine/sum pairing is scale-free by design; L2 is not). */
  private def meanCents(va: DataFrame): DataFrame =
    va.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg((duckDouble(sum(duckDecimal6(col("x").cast("double")))) / count(lit(1))).as("sv"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), s -> CAST(s.sv AS FLOAT))").as("cvec"))
      .withColumn("cn2", dotNative("cvec", "cvec"))

  private def meanCentsSql(assign: String, out: String): String =
    s"""$out AS (SELECT cid, list(CAST(sv AS FLOAT) ORDER BY pos) AS cvec FROM (
       |    SELECT a.cid, t.i AS pos,
       |      CAST(SUM(CAST(CAST(v.embedding[t.i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS sv
       |    FROM cemb v JOIN $assign a USING (vec_id), range(1, ${Dim + 1}) t(i)
       |    GROUP BY 1, 2) s GROUP BY cid),
       |${out}n AS (SELECT cid, cvec, ${dotSqlOf("cvec", "cvec")} AS cn2 FROM $out)""".stripMargin

  /** One mean-Lloyd iteration on a PQ codebook: encode with the seed
    * entries, recompute each (m, k) cell as the per-dimension mean of its
    * members (same exact-decimal arithmetic as [[meanCents]]); cells that
    * lose all members vanish (both engines agree). */
  private def meanTrainCb(v: DataFrame, seedRows: Seq[(Int, Int, IndexedSeq[Float], Double)],
      vecCol: String): DataFrame = {
    val encoded = v.select(Seq(col("vec_id"), col(vecCol)) ++ pqEncodeColumnsOn(seedRows, vecCol): _*)
    encoded.select(explode(array((0 until MSub).map { m =>
        struct(lit(m).as("m"), col(s"k$m").as("k"),
          expr(s"slice($vecCol, ${m * SubDim} + 1, $SubDim)").as("sv"))
      }: _*)).as("e"))
      .select(col("e.m").as("m"), col("e.k").as("k"), posexplode(col("e.sv")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("k"), col("pos"))
      .agg((duckDouble(sum(duckDecimal6(col("x").cast("double")))) / count(lit(1))).as("sv"))
      .groupBy(col("m"), col("k"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), s -> CAST(s.sv AS FLOAT))").as("cvec"))
      .withColumn("cn2", dotNative("cvec", "cvec"))
  }

  private def meanTrainCbSql: String =
    s"""tsums AS (SELECT e.m, e.k, t.i AS pos,
       |    CAST(SUM(CAST(CAST(v.embedding[e.m * $SubDim + t.i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS sv
       |  FROM cemb v JOIN enc e USING (vec_id), range(1, ${SubDim + 1}) t(i)
       |  GROUP BY 1, 2, 3),
       |tcb0 AS (SELECT m, k, list(CAST(sv AS FLOAT) ORDER BY pos) AS cvec FROM tsums GROUP BY m, k),
       |tcb AS (SELECT m, k, cvec, ${dotSqlOf("cvec", "cvec")} AS cn2 FROM tcb0)""".stripMargin

  /** Hash-sample coarse seeds off the clustered view (cn2 carried for
    * the L2 argmin). */
  private def mogSeeds(v: DataFrame): DataFrame =
    v.orderBy(expr("md5(cast(vec_id AS STRING))"), col("vec_id")).limit(CKMog)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .withColumn("cn2", dotNative("cvec", "cvec"))

  private def mogSeedsSql: String =
    s"""SELECT vec_id AS cid, embedding AS cvec, ${dotSqlOf("embedding", "embedding")} AS cn2
       |FROM cemb ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $CKMog""".stripMargin

  /** Flat-PQ recall over the panel, parameterized by the codebook rows
    * used for the encode and a codebook DataFrame for the LUT — shared by
    * e18 (seed codebooks) and e19 (mean-trained codebooks). */
  private def flatPqRecall(s: SparkSession, dir: String,
      cbRows: DataFrame => Seq[(Int, Int, IndexedSeq[Float], Double)]): DataFrame = {
    val v = mogViewCk(s, dir)
    val rows = cbRows(v)
    val cbDf = cbRowsToDf(s, rows)
    val q = panel(v)
    val wide = v.select(Seq(col("vec_id")) ++ pqEncodeColumnsOn(rows, "embedding"): _*)
    val scored = lutJoinedQ(wide.crossJoin(broadcast(q.select(col("q_id")))), lutQ(cbDf, q))
      .select(col("q_id"), col("vec_id"),
        (0 until MSub).map(m => col(s"l$m")).reduce(_ + _).as("approx"))
    recallOverPanel(s, dir, q, scored)
  }

  /** Codebook rows back to a DataFrame (for the LUT cross join) — the
    * inverse of collectCodebookRows, driver-side ≤ M·KSub rows. */
  private def cbRowsToDf(s: SparkSession, rows: Seq[(Int, Int, IndexedSeq[Float], Double)]): DataFrame = {
    import s.implicits._
    rows.map { case (m, k, cvec, cn2) => (m, k, cvec.toArray, cn2) }
      .toDF("m", "k", "cvec", "cn2")
  }

  val all: Seq[Q] = Seq(
    Q("e18_mog_pq_recall",
      // e15's flat hash-seeded-PQ recall audit on the CLUSTERED view:
      // the baseline number of the three-way comparison. Expected LOW
      // here by construction (NC > KSub: a flat codebook cannot hold
      // the cluster offsets), which is exactly what the audit must show.
      (s, dir) => flatPqRecall(s, dir,
        v => collectCodebookRows(seedSubCodebooks(v, "embedding", "cpq"))),
      Some(s"""WITH ${mogViewSql()},
              |${VectorOracles.pqEncodeSqlCtesOn("cemb", "embedding", "cpq")},
              |$panelSql,
              |${lutQSql("cb")},
              |appr AS (SELECT q.q_id, w.vec_id, ${(0 until MSub).map(m => s"l$m.l").mkString(" + ")} AS approx
              |  FROM wide w CROSS JOIN q $lutJoinsSql WHERE w.vec_id <> q.q_id),
              |$recallTailSql""".stripMargin)),

    Q("e19_mog_trained_pq_recall",
      // e18 + ONE mean-Lloyd iteration on the flat codebooks (the
      // trained-codebook what-if). Measured finding, pinned in the spec:
      // training a FLAT codebook does NOT close the gap to residual
      // encoding on clustered data — the bottleneck is codebook CAPACITY
      // (16 entries vs NC offsets × within-cluster structure), not entry
      // placement; a deployment reading e18≈e19≪e20 knows to switch the
      // TABLE LAYOUT, not to re-train in place.
      (s, dir) => flatPqRecall(s, dir, v =>
        collectCodebookRows(meanTrainCb(v,
          collectCodebookRows(seedSubCodebooks(v, "embedding", "cpq")), "embedding"))),
      Some(s"""WITH ${mogViewSql()},
              |${VectorOracles.pqEncodeSqlCtesOn("cemb", "embedding", "cpq")},
              |$meanTrainCbSql,
              |tenc AS (${VectorOracles.subEncodeSqlBody("cemb", "embedding", "tcb")}),
              |twide AS (SELECT vec_id, ${(0 until MSub).map(m => s"max(CASE WHEN m = $m THEN k END) AS k$m").mkString(", ")}
              |  FROM tenc GROUP BY vec_id),
              |$panelSql,
              |${lutQSql("tcb")},
              |appr AS (SELECT q.q_id, w.vec_id, ${(0 until MSub).map(m => s"l$m.l").mkString(" + ")} AS approx
              |  FROM twide w CROSS JOIN q $lutJoinsSql WHERE w.vec_id <> q.q_id),
              |$recallTailSql""".stripMargin)),

    Q("e20_mog_residual_recall",
      // e17's residual-PQ recall audit on the clustered view: L2/mean
      // coarse quantizer (CKMog seeds + one mean-Lloyd iteration),
      // residuals against the assigned mean centroid, residual-trained
      // codebooks at the SAME M/KSub as e18/e19, approx = per-bucket
      // term0 + residual ADC over ALL buckets (no pruning, no re-rank —
      // quantization loss only). This is the number that must WIN on
      // clustered data (spec-pinned ≥ e18/e19 + margin): coarse+residual
      // capacity is CKMog × KSub^M cells vs the flat KSub^M.
      (s, dir) => {
        val v = mogViewCk(s, dir)
        val q = panel(v)
        // both assignment stages are map-side literal argmins against the
        // ≤64-row collected centroids (see l2AssignCol) — no crossJoin
        // explosion, no per-vec_id ranking window, and the residual's
        // centroid attach is a literal map lookup instead of a join
        val cents1 = meanCents(v.withColumn("cid",
          l2AssignCol(collectCents(mogSeeds(v)), "embedding"))).localCheckpoint()
        val c1rows = collectCents(cents1)
        val c1vec = map_from_arrays(
          array(c1rows.map(c => lit(c._1)): _*),
          array(c1rows.map(c => array(c._2.map(lit): _*)): _*))
        val res = v.withColumn("cid", l2AssignCol(c1rows, "embedding"))
          .select(col("vec_id"), col("cid"),
            zip_with(col("embedding"), element_at(c1vec, col("cid")), (x, y) => x - y).as("rvec"))
          .localCheckpoint()
        val rcbRows = collectCodebookRows(seedSubCodebooks(res, "rvec", "crpq"))
        val rwide = res.select(Seq(col("vec_id"), col("cid")) ++ pqEncodeColumnsOn(rcbRows, "rvec"): _*)
        val term0 = cents1.crossJoin(broadcast(q))
          .select(col("q_id"), col("cid"), dotNative("cvec", "qvec").as("term0"))
        val scored = lutJoinedQ(rwide.crossJoin(broadcast(q.select(col("q_id")))),
            lutQ(cbRowsToDf(s, rcbRows), q))
          .join(broadcast(term0), Seq("q_id", "cid"))
          .select(col("q_id"), col("vec_id"),
            (0 until MSub).map(m => col(s"l$m")).foldLeft(col("term0"))(_ + _).as("approx"))
        recallOverPanel(s, dir, q, scored)
      },
      Some(s"""WITH ${mogViewSql("MATERIALIZED")},
              |cents0 AS ($mogSeedsSql),
              |a0 AS (${l2AssignSql("cents0")}),
              |${meanCentsSql("a0", "cents1")},
              |a1 AS (${l2AssignSql("cents1n")}),
              |res AS MATERIALIZED (SELECT a.vec_id, a.cid,
              |    list_transform(list_zip(v.embedding, c.cvec),
              |      z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS REAL)) AS rvec
              |  FROM a1 a JOIN cemb v USING (vec_id) JOIN cents1 c USING (cid)),
              |rcb0 AS (${VectorOracles.seedSubCbSqlBody("res", "rvec", "crpq")}),
              |rcb AS (SELECT m, k, cvec, ${dotSqlOf("cvec", "cvec")} AS cn2 FROM rcb0),
              |renc AS (SELECT vec_id, cid, m, k FROM (
              |    SELECT v.vec_id, v.cid, c.m, c.k,
              |      row_number() OVER (PARTITION BY v.vec_id, c.m ORDER BY
              |        -2 * ${dotSqlOf(s"list_slice(v.rvec, c.m * $SubDim + 1, (c.m + 1) * $SubDim)", "c.cvec")} + c.cn2 ASC,
              |        c.k) AS rn
              |    FROM res v CROSS JOIN rcb c) t WHERE rn = 1),
              |rwide AS (SELECT vec_id, cid, ${(0 until MSub).map(m => s"max(CASE WHEN m = $m THEN k END) AS k$m").mkString(", ")}
              |  FROM renc GROUP BY vec_id, cid),
              |$panelSql,
              |${lutQSql("rcb")},
              |t0 AS (SELECT q.q_id, c.cid, ${dotSqlOf("c.cvec", "q.qvec")} AS term0 FROM cents1n c CROSS JOIN q),
              |appr AS (SELECT q.q_id, w.vec_id, t0.term0 + ${(0 until MSub).map(m => s"l$m.l").mkString(" + ")} AS approx
              |  FROM rwide w CROSS JOIN q JOIN t0 ON t0.q_id = q.q_id AND t0.cid = w.cid
              |  $lutJoinsSql WHERE w.vec_id <> q.q_id),
              |$recallTailSql""".stripMargin))
  )
}
