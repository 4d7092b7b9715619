package graft.queries

/**
 * DuckDB oracle-SQL builders for the vector/ANN families — every CTE
 * block the oracles compose (SRP codes, IVF seed/assign/Lloyd, PQ
 * encode, ADC, the residual pipeline) in ONE place, split out of
 * [[VectorQueries]] (which keeps the Spark probe plans) so the SQL
 * arithmetic is defined exactly once per stage and shared across the
 * e-family, the s16/s17/s18 stream oracles, and the clustered-geometry
 * recall audits. Pure string builders: no Spark, no I/O.
 */
private[graft] object VectorOracles {

  import graft.sources.AnnIndex._

  /** IVF probe width: buckets probed per query (KCent lives with the
    * training machinery in AnnIndex). */
  val NProbe = 2
  /** Approximate-first-pass candidates exact-rescored (e08/e11/e12). */
  val ReRank = 10

  /** DuckDB: same quantizer. The oracle derives the SAME nbits from
    * count(*) with the SAME integer comparison as deriveNBits (no
    * float log2 on either side), builds the full NBitsMax-bit code, and
    * masks it to the low nbits — bit-identical to the Spark side's
    * nbits-plane sum for any corpus size, so the gate holds at every
    * scale. */
  def sgnSql(j: Int): String =
    s"""CAST(list_sum(list_transform(list_zip(embedding, [${planes(j).mkString(",")}]),
       |  z -> CAST(CAST(z[1] AS DOUBLE) * z[2] AS DECIMAL(38,12)))) AS DOUBLE) > 0""".stripMargin
  val codeFullSql: String =
    (0 until NBitsMax).map(j => s"CAST(CASE WHEN (${sgnSql(j)}) THEN ${1L << j} ELSE 0 END AS BIGINT)").mkString(" + ")
  val nbSql: String =
    s"""SELECT COALESCE(MIN(b), $NBitsMax) AS nb
       |  FROM (SELECT unnest(range($NBitsFloor, ${NBitsMax + 1})) AS b) bs,
       |       (SELECT count(*) AS n FROM embeddings) c
       |  WHERE c.n <= $TargetOccupancy * (CAST(1 AS BIGINT) << b)""".stripMargin
  val codesSql: String =
    s"""SELECT vec_id, embedding,
       |(($codeFullSql) & ((CAST(1 AS BIGINT) << nbt.nb) - 1)) AS code,
       |sqrt(${dotSqlOf("embedding", "embedding")}) AS norm
       |FROM embeddings, ($nbSql) nbt""".stripMargin

  def dotSqlOf(x: String, y: String): String =
    s"""CAST(list_sum(list_transform(list_zip($x, $y),
       |  z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) AS DECIMAL(38,12)))) AS DOUBLE)""".stripMargin

  /** DuckDB mirrors of the IVF blocks (CTE bodies/tails parameterized by
    * the centroid/assignment CTE names). */
  val seedCentsSqlBody: String =
    s"""SELECT vec_id AS cid, embedding AS cvec, norm AS cnorm FROM codes
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KCent""".stripMargin

  def assignSqlBody(cents: String): String =
    s"""SELECT vec_id, cid, embedding FROM (
       |    SELECT v.vec_id, c.cid, v.embedding,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotSqlOf("v.embedding", "c.cvec")} / c.cnorm DESC, c.cid) AS rn
       |    FROM codes v CROSS JOIN $cents c) t WHERE rn = 1""".stripMargin

  /** DuckDB mirror of one spherical-Lloyd iteration (AnnIndex
    * .lloydIterate): CTEs `aN` (assignment against `inCents`), `sumsN`,
    * `outBase` (raw sums) and `outBase + "n"` (with norm) — the table
    * produced for the next step is `outBase + "n"`. */
  def lloydSqlCtes(inCents: String, aName: String, sumsName: String, outBase: String): String =
    s"""$aName AS (${assignSqlBody(inCents)}),
       |$sumsName AS (
       |  SELECT $aName.cid, t.i AS pos,
       |    CAST(SUM(CAST(CAST(v.embedding[t.i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS sv
       |  FROM codes v JOIN $aName ON v.vec_id = $aName.vec_id, range(1, $Dim + 1) t(i)
       |  GROUP BY 1, 2),
       |$outBase AS (SELECT cid, list(CAST(sv AS FLOAT) ORDER BY pos) AS cvec FROM $sumsName GROUP BY cid),
       |${outBase}n AS (SELECT cid, cvec, sqrt(${dotSqlOf("cvec", "cvec")}) AS cnorm FROM $outBase)""".stripMargin

  /** Shared DuckDB CTE block (cb0 → cb → enc → wide): the PQ codebook
    * seeding and full-corpus encode the oracle recomputes from raw
    * embeddings — ONE definition pins the arithmetic for both the e08
    * probe oracle and s16's stream-maintenance oracle, so the stored
    * codebooks ([[graft.sources.AnnIndex.pqCodebooks]]), the stored code
    * table, and the streaming encoder are all gated against the same SQL.
    * Declared above the eager `all` registry (object-init order). */
  private[graft] val pqEncodeSqlCtes: String =
    pqEncodeSqlCtesOn("embeddings", "embedding", "pq")

  /** [[pqEncodeSqlCtes]] generalized over (source CTE/table, vector
    * column, seed salt) — the MoG clustered-geometry recall audits
    * (e18/e19) seed and encode a DERIVED corpus with the same arithmetic;
    * the default instantiation above is byte-identical to the pre-split
    * string. The codebook-seeding CTE body is shared with
    * [[seedSubCbSqlBody]] so seed and encode cannot fork. */
  def pqEncodeSqlCtesOn(src: String, vec: String, salt: String): String =
    s"""cb0 AS (${seedSubCbSqlBody(src, vec, salt)}),
       |cb AS (SELECT m, k, cvec, ${dotSqlOf("cvec", "cvec")} AS cn2 FROM cb0),
       |enc AS (${subEncodeSqlBody(src, vec, "cb")}),
       |wide AS (SELECT vec_id, ${(0 until MSub).map(m => s"max(CASE WHEN m = $m THEN k END) AS k$m").mkString(", ")}
       |  FROM enc GROUP BY vec_id)""".stripMargin

  /** The per-subspace hash-sample codebook seeding (cb0's body): the
    * KSub rows with the smallest salted md5 per subspace. */
  def seedSubCbSqlBody(src: String, vec: String, salt: String): String =
    (0 until MSub).map { m =>
      s"""(SELECT $m AS m,
         |  row_number() OVER (ORDER BY md5(concat('$salt:$m:', CAST(vec_id AS VARCHAR))), vec_id) - 1 AS k,
         |  list_slice($vec, $m * $SubDim + 1, ${(m + 1) * SubDim}) AS cvec
         |FROM $src ORDER BY md5(concat('$salt:$m:', CAST(vec_id AS VARCHAR))), vec_id LIMIT $KSub)""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The per-subspace nearest-entry encode (enc's body): argmin of
    * −2·x_m·c + ‖c‖² with a k tie-break, against codebook CTE `cb`. */
  def subEncodeSqlBody(src: String, vec: String, cb: String): String =
    s"""SELECT vec_id, m, k FROM (
       |    SELECT v.vec_id, c.m, c.k,
       |      row_number() OVER (PARTITION BY v.vec_id, c.m ORDER BY
       |        -2 * ${dotSqlOf(s"list_slice(v.$vec, c.m * $SubDim + 1, (c.m + 1) * $SubDim)", "c.cvec")} + c.cn2 ASC,
       |        c.k) AS rn
       |    FROM $src v CROSS JOIN $cb c) t WHERE rn = 1""".stripMargin

  /** s16's oracle: the full stored code table recomputed from raw
    * embeddings (what the stream-maintained table must equal). */
  private[graft] val pqCodesOracleSql: String =
    s"""WITH $pqEncodeSqlCtes
       |SELECT vec_id, ${(0 until MSub).map(m => s"k$m").mkString(", ")}
       |FROM wide ORDER BY vec_id""".stripMargin

  /** s17's oracle: the combined IVF-PQ index rows (PQ codes + SRP bucket
    * code at the corpus-derived width) recomputed from raw embeddings —
    * what the stream-maintained combined index must equal. */
  private[graft] val ivfPqOracleSql: String =
    s"""WITH codes AS ($codesSql),
       |$pqEncodeSqlCtes
       |SELECT w.vec_id, ${(0 until MSub).map(m => s"w.k$m").mkString(", ")}, c.code
       |FROM wide w JOIN codes c USING (vec_id) ORDER BY vec_id""".stripMargin

  /** The DuckDB mirror of [[queryLut]]+[[adcApprox]] (CTEs `lut`,
    * `appr`) — composes after [[pqEncodeSqlCtes]] and a `q` CTE. */
  val adcSqlCtes: String = {
    val lutJoins = (0 until MSub)
      .map(m => s"JOIN lut l$m ON l$m.m = $m AND l$m.k = w.k$m").mkString(" ")
    s"""lut AS (SELECT c.m, c.k,
       |    ${dotSqlOf(s"list_slice(q.qvec, c.m * $SubDim + 1, (c.m + 1) * $SubDim)", "c.cvec")} AS l
       |  FROM cb c CROSS JOIN q),
       |appr AS (SELECT w.vec_id, ${(0 until MSub).map(m => s"l$m.l").mkString(" + ")} AS approx
       |  FROM wide w $lutJoins)""".stripMargin
  }

  /** s18's oracle: the query stream's Hamming-ball probe recomputed from
    * raw embeddings — SRP codes + norms for everything ([[codesSql]]),
    * ball membership by bit_count (each ball member matches exactly one
    * of the stream's XOR masks, so the two forms enumerate identical
    * pairs), exact decimal cosine, d12's threshold. */
  private[graft] def annProbeStreamOracleSql: String =
    s"""WITH codes AS ($codesSql),
       |q AS (SELECT vec_id AS q_id, embedding AS qvec, norm AS qnorm, code AS qcode
       |      FROM codes WHERE vec_id % 100 = 0),
       |hits AS (
       |  SELECT q.q_id, a.vec_id, ${dotSqlOf("a.embedding", "q.qvec")} / (a.norm * q.qnorm) AS cosine
       |  FROM codes a JOIN q ON bit_count(xor(a.code, q.qcode)) <= $ProbeRadius AND a.vec_id <> q.q_id)
       |SELECT q_id, vec_id, cosine FROM hits WHERE cosine >= $NearDupCosine
       |ORDER BY q_id, vec_id""".stripMargin

  /** The residual pipeline retrained + re-encoded from raw embeddings as
    * one shared CTE block (codes → Lloyd cents1n → assignment → float
    * residuals — CAST(double−double AS REAL) ≡ IEEE float subtract,
    * bit-identical to the Spark side — → residual codebooks `rcb` →
    * encoded `rwide` (vec_id, cid, k0..kM), plus the query `q` and its
    * residual LUT `rlut`). ONE definition composed by both residual
    * oracles (e16 probe, e17 recall audit), so their arithmetic cannot
    * fork — the same discipline as [[pqEncodeSqlCtes]]/[[adcSqlCtes]]. */
  def residualSqlCtes: String = {
    val rcbSql = seedSubCbSqlBody("res", "rvec", "rpq")
    s"""codes AS ($codesSql),
       |cents0 AS ($seedCentsSqlBody),
       |${lloydSqlCtes("cents0", "a0", "sums0", "cents1")},
       |a1 AS (${assignSqlBody("cents1n")}),
       |res AS (SELECT a.vec_id, a.cid,
       |    list_transform(list_zip(a.embedding, c.cvec),
       |      z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS REAL)) AS rvec
       |  FROM a1 a JOIN cents1n c USING (cid)),
       |rcb0 AS ($rcbSql),
       |rcb AS (SELECT m, k, cvec, ${dotSqlOf("cvec", "cvec")} AS cn2 FROM rcb0),
       |renc AS (SELECT vec_id, cid, m, k FROM (
       |    SELECT v.vec_id, v.cid, c.m, c.k,
       |      row_number() OVER (PARTITION BY v.vec_id, c.m ORDER BY
       |        -2 * ${dotSqlOf(s"list_slice(v.rvec, c.m * $SubDim + 1, (c.m + 1) * $SubDim)", "c.cvec")} + c.cn2 ASC,
       |        c.k) AS rn
       |    FROM res v CROSS JOIN rcb c) t WHERE rn = 1),
       |rwide AS (SELECT vec_id, cid, ${(0 until MSub).map(m => s"max(CASE WHEN m = $m THEN k END) AS k$m").mkString(", ")}
       |  FROM renc GROUP BY vec_id, cid),
       |q AS (SELECT embedding AS qvec FROM codes WHERE vec_id = 0),
       |rlut AS (SELECT c.m, c.k,
       |    ${dotSqlOf(s"list_slice(q.qvec, c.m * $SubDim + 1, (c.m + 1) * $SubDim)", "c.cvec")} AS l
       |  FROM rcb c CROSS JOIN q)""".stripMargin
  }

  /** The M residual-LUT joins as SQL (mirrors [[lutJoined]]). */
  def rlutJoinsSql: String = (0 until MSub)
    .map(m => s"JOIN rlut l$m ON l$m.m = $m AND l$m.k = w.k$m").mkString(" ")

  /** e16's oracle: [[residualSqlCtes]] + the probe tail — NProbe coarse
    * buckets by cosine, approx = term0 + fixed-order LUT sum, top-ReRank
    * exact re-rank. */
  def residualPqOracleSql: String =
    s"""WITH $residualSqlCtes,
       |qp AS (SELECT cid, term0 FROM (
       |    SELECT c.cid, ${dotSqlOf("c.cvec", "q.qvec")} AS term0,
       |      row_number() OVER (ORDER BY ${dotSqlOf("c.cvec", "q.qvec")} / c.cnorm DESC, c.cid) AS rn
       |    FROM cents1n c CROSS JOIN q) t WHERE rn <= $NProbe),
       |appr AS (SELECT w.vec_id, qp.term0 + ${(0 until MSub).map(m => s"l$m.l").mkString(" + ")} AS approx
       |  FROM rwide w JOIN qp USING (cid) $rlutJoinsSql),
       |top AS (SELECT vec_id FROM appr WHERE vec_id <> 0
       |  ORDER BY approx DESC, vec_id LIMIT $ReRank)
       |SELECT t.vec_id, ${dotSqlOf("v.embedding", "q.qvec")} AS score
       |FROM top t JOIN embeddings v ON v.vec_id = t.vec_id CROSS JOIN q
       |ORDER BY score DESC, t.vec_id LIMIT 5""".stripMargin

  /** e17's oracle: [[residualSqlCtes]] + the quantization-only recall
    * tail — approx over ALL buckets (term0 joined per row's cid, no
    * coarse pruning, no re-rank) vs brute-force truth. */
  def residualRecallOracleSql: String =
    s"""WITH $residualSqlCtes,
       |t0 AS (SELECT c.cid, ${dotSqlOf("c.cvec", "q.qvec")} AS term0
       |  FROM cents1n c CROSS JOIN q),
       |appr AS (SELECT w.vec_id, t0.term0 + ${(0 until MSub).map(m => s"l$m.l").mkString(" + ")} AS approx
       |  FROM rwide w JOIN t0 USING (cid) $rlutJoinsSql),
       |atop AS (SELECT vec_id FROM appr WHERE vec_id <> 0
       |  ORDER BY approx DESC, vec_id LIMIT 5),
       |truth AS (SELECT a.vec_id FROM embeddings a CROSS JOIN q WHERE a.vec_id <> 0
       |  ORDER BY ${dotSqlOf("a.embedding", "q.qvec")} DESC, a.vec_id LIMIT 5)
       |SELECT (SELECT CAST(count(*) AS DOUBLE) / 5 FROM truth JOIN atop USING (vec_id))
       |  AS recall_at_5""".stripMargin

  def probeRescoreSqlTail(cents: String, assign: String): String =
    s"""q AS (SELECT embedding AS qvec FROM codes WHERE vec_id = 0),
       |qp AS (SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |      ORDER BY ${dotSqlOf("c.cvec", "q.qvec")} / c.cnorm DESC, c.cid) AS rn
       |    FROM $cents c CROSS JOIN q) t WHERE rn <= $NProbe)
       |SELECT a.vec_id, ${dotSqlOf("a.embedding", "q.qvec")} AS score
       |FROM $assign a JOIN qp ON a.cid = qp.cid CROSS JOIN q
       |WHERE a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin
}
