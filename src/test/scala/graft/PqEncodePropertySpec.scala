package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property cross-validation of the PQ encoder
  * ([[graft.sources.AnnIndex.pqEncodeColumns]]): the array_min-over-
  * (d2, k)-structs argmin must pick, for every subspace, the codebook
  * entry an INDEPENDENT driver-side model picks — exact decimal dot,
  * −2·dot + cn2 in doubles, min d2 with min-k tie-break. The oracle
  * already gates the encode on one corpus; this pins the expression's
  * semantics (argmin + tie-break + IEEE tail) over random geometry,
  * including engineered exact ties. */
class PqEncodePropertySpec extends SparkSpec {

  import spark.implicits._
  import graft.sources.AnnIndex.{MSub, SubDim}

  private val Dim = MSub * SubDim

  // small integer-valued floats: the products and ±2x+c tails are exact,
  // so engineered d2 ties are EXACT ties — the tie-break clause is
  // genuinely exercised rather than dodged by float noise
  private val elem: Gen[Float] = Gen.choose(-8, 8).map(_.toFloat)
  private def vec(n: Int): Gen[IndexedSeq[Float]] =
    Gen.listOfN(n, elem).map(_.toIndexedSeq)

  /** Independent model: exact decimal dot (the DuckDB arithmetic), then
    * the double tail, then argmin with k tie-break. */
  private def modelEncode(v: IndexedSeq[Float],
                          cb: Seq[(Int, Int, IndexedSeq[Float], Double)]): Seq[Int] = {
    import java.math.{BigDecimal => JBD}
    def dot(x: Seq[Float], y: Seq[Float]): Double = {
      var acc = JBD.ZERO
      for (i <- x.indices)
        acc = acc.add(new JBD(Math.rint(x(i).toDouble * y(i).toDouble * 1e12)).movePointLeft(12))
      acc.doubleValue()
    }
    (0 until MSub).map { m =>
      val sub = v.slice(m * SubDim, (m + 1) * SubDim)
      cb.filter(_._1 == m)
        .map { case (_, k, cvec, cn2) => (-2d * dot(sub, cvec) + cn2, k) }
        .min
        ._2
    }
  }

  it("pqEncodeColumns matches an independent argmin model (ties included)") {
    val seed0 = Seed(20260815L)
    val params = Gen.Parameters.default
    var seed = seed0
    def next[A](g: Gen[A]): A = {
      val r = g.pureApply(params, seed); seed = seed.next; r
    }

    // one random codebook per run-set: KSub-per-subspace entries with a
    // DUPLICATED entry per subspace (same cvec under two k values) so at
    // least one exact d2 tie exists for any input vector
    val kSub = 6
    val cb: Seq[(Int, Int, IndexedSeq[Float], Double)] =
      (0 until MSub).flatMap { m =>
        val base = (0 until kSub - 1).map(k => (m, k, next(vec(SubDim))))
        val dup = (m, kSub - 1, base.head._3) // exact duplicate of k=0 → guaranteed tie
        (base :+ dup).map { case (mm, k, cvec) =>
          val cn2 = cvec.map(x => x.toDouble * x.toDouble).sum // integer-valued: exact
          (mm, k, cvec, cn2)
        }
      }

    val vecs = (0 until 120).map(i => (i.toLong, next(vec(Dim))))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id") +: graft.sources.AnnIndex.pqEncodeColumns(cb): _*)
    val got = df.collect().map(r => r.getLong(0) -> (1 to MSub).map(r.getInt)).toMap
    // the generalized form (e16 encodes `rvec` residuals with it) must
    // produce the identical codes for the same values under any column
    // name — pins that the vecCol parameterization changed nothing else
    val gotOn = vecs.toDF("vec_id", "rvec")
      .select(col("vec_id") +: graft.sources.AnnIndex.pqEncodeColumnsOn(cb, "rvec"): _*)
      .collect().map(r => r.getLong(0) -> (1 to MSub).map(r.getInt)).toMap
    for ((id, v) <- vecs) {
      val want = modelEncode(v, cb)
      assert(got(id) == want, s"vec $id: got ${got(id)}, model $want")
      assert(gotOn(id) == want, s"vec $id: pqEncodeColumnsOn got ${gotOn(id)}, model $want")
      // the duplicated entry means a k=kSub-1 win is impossible (k=0
      // ties it and wins the tie-break) — proves the tie clause fires
      assert(!got(id).contains(kSub - 1), s"tie-break lost: vec $id chose the duplicate")
    }
  }

  it("the driver-side ADC lookup table is bit-identical to decimal_dot over the same codebooks") {
    import graft.sources.AnnIndex
    val dir = "/root/testdata/sf0.001"
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    /** `cbDf` (m, k, cvec, ...) against the one-row `q` (qvec): every
      * adcLut entry must equal Spark's decimal_dot over the same slice
      * bit for bit, null entries included. */
    def check(name: String, cbDf: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame): Unit = {
      val lut = AnnIndex.adcLut(AnnIndex.collectCodebookRows(cbDf), q.head().getSeq[Any](0))
      val want = cbDf.crossJoin(q)
        .select(col("m"), col("k"), expr(s"decimal_dot(slice(qvec, m * $SubDim + 1, $SubDim), cvec)"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> (if (r.isNullAt(2)) None else Some(bits(r.getDouble(2)))))
        .toMap
      val got = lut.indices.flatMap(m => lut(m).indices.map(k => (m, k) -> lut(m)(k).map(bits))).toMap
      assert(want.size == lut.map(_.size).sum && want.nonEmpty, s"$name: ${want.size} codebook entries")
      val diff = want.keys.filter(e => got.get(e) != want.get(e)).toSeq.sorted
      assert(diff.isEmpty, s"$name: ${diff.size} entries differ from decimal_dot, e.g. " +
        diff.take(3).map(e => s"$e driver ${got.get(e)} spark ${want(e)}").mkString("; "))
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q0 = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    check("pq", AnnIndex.pqCodebooks(spark, dir), q0)
    check("rpq", AnnIndex.rpqCodebooks(spark, dir), q0)
    // the mog audits' panel query 0 against their seed codebooks
    val view = graft.queries.MogQueries.storedMogView(spark, dir)
    check("mog", AnnIndex.seedSubCodebooks(view, "embedding", "cpq"),
      view.where(col("vec_id") === 0).select(col("embedding").as("qvec")))
    // a null slot nulls its subspace's entries and only those
    val withNull = q0.select(expr(s"transform(qvec, (x, i) -> IF(i = ${2 * SubDim + 3}, NULL, x))").as("qvec"))
    check("null slot", AnnIndex.pqCodebooks(spark, dir), withNull)
    assert(AnnIndex.adcLut(AnnIndex.collectedCodebooks(spark, dir), withNull.head().getSeq[Any](0))
      .map(_.forall(_.isEmpty)) == Seq(false, false, true, false))
  }
}
