package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{ArtifactStore, TestData, TextIndex}
import CoreQueries.Q

/**
 * Training-data text pipeline over the `documents` table: exact + near
 * deduplication (banded MinHash-LSH, n-gram Jaccard verify, SimHash),
 * token counting, language-ID heuristic, quality scoring, fingerprinting.
 *
 * Near-dup design (the standard shape that survives 100 TB):
 *  1. 32-bit base hash per word-3-shingle (md5 prefix — DuckDB-reproducible);
 *  2. K=128 MinHash permutations via universal hashing
 *     `(a_i·h + b_i) mod P` with md5-derived deterministic constants
 *     (a_i < 2^30 keeps every product inside a signed 64-bit);
 *  3. B=16 bands × R=8 rows; band key = md5 of the band's 8 minhashes —
 *     candidate generation is one equi-join on (band, key);
 *  4. EXACT duplicates are removed (keep-first per md5(text)) BEFORE
 *     banding — otherwise every exact-dup cluster lands in one bucket and
 *     the band self-join goes quadratic;
 *  5. hot buckets (> [[TextQueries.BucketCap]] members) are dropped
 *     entirely — a deterministic cap; at production scale those buckets are
 *     logged and escalated to a second pass rather than joined;
 *  6. the candidate pairs and the verified pairs are stored artifacts
 *     (`graft_lshcand_*`, `graft_lshver_*`), built once per corpus
 *     digest from the stored LSH bands, so d09/d10/d20/d22 read tables
 *     instead of recomputing the band self-join and the verify join.
 * Every op is a per-row expression or a single groupBy/equi-join on a
 * short key — no driver-side loops; all hashing md5-based so the DuckDB
 * oracle reproduces it bit-for-bit.
 */
object TextQueries {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    TestData.graph(s, dir).V("documents").df

  // ------------------------------------------------ MinHash-LSH parameters
  // The index geometry lives with the stored-index lifecycle
  // ([[graft.sources.TextIndex]]); these aliases keep the oracle-SQL
  // builders below reading the SAME values the Spark index plans embed.
  // Declared ABOVE the registry on purpose: `all` interpolates them into
  // oracle SQL during object init (see the object-init-order verify note).
  private val K = graft.functions.MinHashDefaults.K // permutations
  private val B = TextIndex.B // bands
  private val R = TextIndex.R // rows per band (B*R = K)
  private val P = graft.functions.MinHashDefaults.P // prime > 2^32
  /** Near-dup decision threshold on verified n-gram Jaccard — ONE
    * definition shared by the removal pipeline (d20) and the transitive
    * clustering (d22), interpolated into both engines' plans. */
  private val JaccardThreshold = 0.8
  private val BucketCap = TextIndex.BucketCap // max docs per LSH bucket (hot buckets dropped)
  private val hashParams: IndexedSeq[(Long, Long)] = graft.functions.MinHashDefaults.params
  private val ChunkGear = TextIndex.ChunkGear // CDC boundary gear (d24/d25 oracle)

  /** d29's hashed-unigram linear quality model: 64 integer milli-weights,
    * md5-derived so the Spark plan and the DuckDB oracle embed identical
    * literals (a deterministic stand-in for trained fasttext-style
    * weights — the model-based quality gate of the GPT-3/CCNet data
    * pipelines, where a linear classifier over hashed n-gram features
    * scores each document against a "wiki-like" reference). Integer
    * milli-weights summed in BIGINT keep the doc score exact and
    * order-independent across partitionings and engines; declared ABOVE
    * the registry (object-init order — see the verify notes). */
  private val QwBuckets = 64
  private val qw: IndexedSeq[Long] =
    (0 until QwBuckets).map(b =>
      graft.functions.MinHashDefaults.mdLong(s"graft:qw:$b") % 2001 - 1000)

  // ------------------------------------------------------- Spark-side plan

  /** Candidate near-dup pairs: equi-join on (band, bkey) over exact-dedup
    * representatives, hot buckets dropped, pairs deduped — the LSH
    * *index artifact* (`graft_lshcand_*`), built from the stored bands
    * once per corpus digest; the candidate report (d09) and the Jaccard
    * verify (d10) read the stored table. */
  private[graft] def candidatePairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.reader(s, s"graft_lshcand_${TextIndex.srcDigest(s, dir, "lshcand")}") { path =>
      pairsFromBands(TextIndex.bandsTable(s, dir)).write.mode("overwrite").parquet(path)
    }

  /** The d09 candidate plan from arbitrary documents + signature tables —
    * the seam the skew stress spec drives with a deliberately hot corpus
    * (computes its bands inline; the catalog path reads
    * [[TextIndex.bandsTable]]). */
  private[graft] def candidatePairsOf(docsDf: DataFrame, sigDf: DataFrame): DataFrame =
    pairsFromBands(TextIndex.bandsFromSig(sigDf.join(TextIndex.repIdsOf(docsDf), "doc_id")).localCheckpoint())

  /** Capped-bucket candidate pairs from a band-row table. Hot buckets
    * (and the max observed bucket size) are emitted as named observed
    * metrics in the same pass, so a corpus whose buckets start
    * swallowing candidates is visible without a second scan. On the
    * catalog path the `d09_bucket_cap` observation fires when the
    * candidate artifact is built (once per corpus digest), not on every
    * query that reads it. */
  private def pairsFromBands(bd: DataFrame): DataFrame = {
    val ok = bd.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
      .observe("d09_bucket_cap",
        sum(when(col("n") > BucketCap, 1L).otherwise(0L)).as("hot_buckets"),
        max(col("n")).as("max_bucket_size"))
      .where(col("n").between(2, BucketCap))
      .select("band", "bkey")
    val member = bd.join(ok, Seq("band", "bkey"))
    val a = member.select(col("doc_id").as("a_id"), col("band"), col("bkey"))
    val b = member.select(col("doc_id").as("b_id"), col("band").as("band_b"), col("bkey").as("bkey_b"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Signature pipeline over an arbitrary documents table (spec seam). */
  private[graft] def signaturesOf(docsDf: DataFrame): DataFrame = TextIndex.signatures(docsDf)

  /** Jaccard-verified candidate pairs (`graft_lshver_*`), stored like
    * [[candidatePairs]]: the verification scores are the final near-dup
    * index artifact that the verify report (d10), the removal pipeline
    * (d20) and the clustering (d22) read. */
  private[graft] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.reader(s, s"graft_lshver_${TextIndex.srcDigest(s, dir, "lshver")}") { path =>
      val pairs = candidatePairs(s, dir)
      val sh = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"),
          // r16: native one-pass distinct 3-gram build (equivalence
          // property-pinned) — the interpreted transform+concat lambda +
          // array_distinct pass was the d10 shingle-set build's 28.7 s
          // single-task cost at sf1
          org.apache.spark.sql.GraftBridge.column(graft.functions.DistinctTokenNgrams(
            org.apache.spark.sql.GraftBridge.expression(col("toks")), 3)).as("ss"))
      pairs
        .join(sh.select(col("doc_id").as("a_id"), col("ss").as("ssa")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("ss").as("ssb")), "b_id")
        .withColumn("inter", size(array_intersect(col("ssa"), col("ssb"))))
        .select(col("a_id"), col("b_id"),
          (col("inter").cast("double") / (size(col("ssa")) + size(col("ssb")) - col("inter"))).as("jaccard"))
        .write.mode("overwrite").parquet(path)
    }

  /** s15's oracle: the delta batch's band keys joined to the capped
    * corpus member table — d27's candidate-generation stage observed
    * per band (one row per (batch doc, corpus rep, band) bucket hit;
    * unique by construction, so the append-mode stream replay needs no
    * dedup state). */
  private[graft] def streamProbeOracleSql: String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
       |batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
       |creps AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |          FROM corpus) WHERE rn = 1),
       |cbands AS (${bandsSql("SELECT * FROM creps")}),
       |ok AS (SELECT band, bkey FROM cbands GROUP BY 1, 2 HAVING count(*) <= $BucketCap),
       |member AS (SELECT b.doc_id AS corpus_id, b.band, b.bkey FROM cbands b JOIN ok USING (band, bkey)),
       |bbands AS (${bandsSql("SELECT * FROM batch")})
       |SELECT bb.doc_id AS batch_id, m.corpus_id, bb.band
       |FROM bbands bb JOIN member m USING (band, bkey)
       |ORDER BY 1, 2, 3""".stripMargin

  /** Drop this session's d27 batch-side checkpoints (bench inter-family
    * release; they rebuild lazily). The ContextCleaner frees their blocks
    * once the dropped DataFrames are collected — the bench nudges the GC
    * right after the release. The stored-artifact readers
    * ([[graft.sources.ArtifactStore.reader]]) stay open. */
  def releaseCaches(s: SparkSession): Unit = d27Cache.removeAll(s)

  /** d27's batch-side checkpoints (batch signatures + candidate shingle
    * sets), cached per (session, dir): rebuilding them per run measured
    * d27 about 2.5× slower at rep 3. */
  private val d27Cache = new graft.util.SessionCache[DataFrame]

  // ------------------------------------------------- DuckDB-side oracle SQL

  /** Exact-dup representatives (keep-first per md5(text)). */
  private val repsSql =
    """SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |FROM documents) WHERE rn = 1""".stripMargin

  private def hsSql(source: String) =
    s"""SELECT doc_id, list_transform(list_transform(generate_series(1, len(toks) - 2),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])),
       |  s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hs
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM ($source))
       |WHERE len(toks) >= 3""".stripMargin

  private def sigSql(source: String): String = {
    val cols = hashParams.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (CAST($a AS BIGINT)*h + $b) % $P)) AS m$i"
    }.mkString(",\n  ")
    s"SELECT doc_id,\n  $cols\nFROM (${hsSql(source)})"
  }

  private def bandsSql(source: String): String =
    (0 until B).map { j =>
      val ms = (j * R until (j + 1) * R).map(i => s"m$i").mkString(", ")
      s"SELECT doc_id, $j AS band, substr(md5(concat_ws(',', $ms)), 1, 16) AS bkey FROM sig"
    }.mkString(s"WITH sig AS (${sigSql(source)})\n", "\nUNION ALL ", "")

  private def candidatePairsSql: String =
    s"""WITH bands AS (${bandsSql(repsSql)}),
       |ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $BucketCap),
       |member AS (SELECT b.* FROM bands b JOIN ok USING (band, bkey))
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |FROM member a JOIN member b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin

  /** Verified-pair scores (the d10 result) as a reusable SQL block. */
  private def jacSql: String =
    s"""WITH cand AS ($candidatePairsSql), sh AS (${shingleSetSql("SELECT * FROM documents")})
       |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard FROM (
       |  SELECT c.a_id, c.b_id, len(list_intersect(sa.ss, sb.ss)) AS inter,
       |         len(sa.ss) AS la, len(sb.ss) AS lb
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id JOIN sh sb ON sb.doc_id = c.b_id)""".stripMargin

  private def shingleSetSql(source: String) =
    s"""SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS ss
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM ($source))
       |WHERE len(toks) >= 3""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d01_exact_dedup_keep_first",
      // keep-first per content hash with only the id projected reduces to
      // min(doc_id) per md5(text): hash aggregate (map-side partial, no
      // sort) instead of the row_number window — see q36 for the general
      // rule; full-row keep-first is min_by(struct, id), same shape
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").orderBy("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    Q("d02_prefix_dup_groups",
      (s, dir) => docs(s, dir)
        .groupBy(md5(substring(col("text"), 1, 40).cast("binary")).as("fp"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))
        .where(col("cnt") > 1)
        .orderBy("fp"),
      Some("""SELECT md5(substr(text, 1, 40)) AS fp, count(*) AS cnt, min(doc_id) AS keeper
             |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin)),

    Q("d03_token_count",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("d04_marker_count",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          expr("CAST((length(text) - length(replace(text, 'the', ''))) div 3 AS BIGINT)").as("n_the"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST((length(text) - length(replace(text, 'the', ''))) // 3 AS BIGINT) AS n_the
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("d05_lang_id",
      (s, dir) => {
        def cnt(sub: String) = s"((length(text) - length(replace(text, '$sub', ''))) div ${sub.length})"
        docs(s, dir)
          .select(col("doc_id"),
            expr(cnt("the")).as("s_en"), expr(cnt("der")).as("s_de"),
            expr(cnt("le")).as("s_fr"), expr(cnt("el")).as("s_es"))
          .select(col("doc_id"),
            expr("""CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                   |     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                   |     WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END""".stripMargin).as("pred_lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
             |FROM (SELECT doc_id,
             |  (length(text) - length(replace(text, 'the', ''))) // 3 AS s_en,
             |  (length(text) - length(replace(text, 'der', ''))) // 3 AS s_de,
             |  (length(text) - length(replace(text, 'le', ''))) // 2 AS s_fr,
             |  (length(text) - length(replace(text, 'el', ''))) // 2 AS s_es
             |FROM documents) t ORDER BY doc_id""".stripMargin)),

    Q("d06_quality_score",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
          col("n_chars"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_chars").cast("double") / col("n_tokens")).as("avg_tok_len"),
          (col("n_chars").between(100, 500) && col("n_tokens") >= 20).as("quality_ok"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_tokens, CAST(n_chars AS DOUBLE) / n_tokens AS avg_tok_len,
             |  (n_chars BETWEEN 100 AND 500 AND n_tokens >= 20) AS quality_ok
             |FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
             |      FROM documents) t ORDER BY doc_id""".stripMargin)),

    Q("d07_fingerprint",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), substring(md5(col("text").cast("binary")), 1, 16).as("fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents ORDER BY doc_id")),

    Q("d08_minhash_signature",
      // K=128 universal-hash MinHash signature per doc, emitted as a
      // comma-joined string (stable across engines' array renderings)
      (s, dir) => TextIndex.sigTable(s, dir)
        .select(col("doc_id"), concat_ws(",", col("sig").cast("array<string>")).as("sig"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, concat_ws(',', ${(0 until K).map(i => s"m$i").mkString(", ")}) AS sig
              |FROM (${sigSql("SELECT * FROM documents")}) ORDER BY doc_id""".stripMargin)),

    Q("d09_lsh_band_candidates",
      (s, dir) => candidatePairs(s, dir).orderBy("a_id", "b_id"),
      Some(s"$candidatePairsSql\nORDER BY 1, 2")),

    Q("d10_ngram_jaccard_verify",
      // exact n-gram Jaccard over the banded candidates only, read from
      // the stored verified pairs (built once per corpus digest)
      (s, dir) => verifiedPairs(s, dir).orderBy("a_id", "b_id"),
      Some(s"$jacSql\nORDER BY 1, 2")),

    Q("d20_neardup_removal_pipeline",
      // the full near-dup removal pipeline composed from the stored
      // artifacts: exact-dedup keepers, minus documents whose verified
      // Jaccard against an earlier keeper is ≥ 0.8 (the MinHash→LSH→
      // verify chain), reported as per-language corpus stats. Every stage
      // reads a stored index table; the only new work is one anti-join
      // and one groupBy.
      (s, dir) => {
        val dropIds = verifiedPairs(s, dir)
          .where(col("jaccard") >= JaccardThreshold)
          .select(col("b_id").as("doc_id")).distinct()
        docs(s, dir)
          .join(TextIndex.repIdsOf(docs(s, dir)), Seq("doc_id"), "left_semi")
          .join(dropIds, Seq("doc_id"), "left_anti")
          .select(col("lang"), size(split(col("text"), " ")).cast("bigint").as("toks"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH reps AS ($repsSql), jac AS ($jacSql),
              |dropped AS (SELECT DISTINCT b_id FROM jac WHERE jaccard >= $JaccardThreshold)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
              |FROM reps WHERE doc_id NOT IN (SELECT b_id FROM dropped)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("d22_neardup_clusters",
      // TRANSITIVE near-dup clustering: connected components over the
      // verified-pair graph (jaccard ≥ 0.8), so A~B and B~C land in one
      // cluster even when A and C never shared a band bucket — the
      // canonicalization step production dedup runs after pairwise verify
      // (keep-one-per-cluster follows by picking the min doc_id, which IS
      // the emitted component label). Composes two stored artifacts: the
      // verified-pairs index and the GraphX fixed-point machinery (g01);
      // message-passing components, no driver-side state. The oracle
      // reproduces the fixpoint with a recursive reachability CTE —
      // feasible because the pair graph is tiny relative to the corpus
      // (that asymmetry is exactly why clustering after LSH is cheap).
      (s, dir) => {
        val edges = verifiedPairs(s, dir)
          .where(col("jaccard") >= JaccardThreshold)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        graft.analytics.GraphAnalytics.connectedComponents(s, edges)
          .select(col("vid").as("doc_id"), col("component").as("cluster"))
          .orderBy("doc_id")
      },
      // MATERIALIZED (DuckDB planner hint, no semantic change): `e` is
      // referenced by every iteration of the recursive CTE and `jac` twice
      // by `e`; left inline, DuckDB re-expands the whole minhash+LSH+verify
      // pipeline per reference and the sf10 oracle run exceeds 100 GB.
      // Materialized once, it completes in ~77 s at sf10.
      Some(s"""WITH RECURSIVE jac AS MATERIALIZED ($jacSql),
              |e AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM jac WHERE jaccard >= $JaccardThreshold
              |      UNION ALL SELECT b_id, a_id FROM jac WHERE jaccard >= $JaccardThreshold),
              |nodes AS (SELECT DISTINCT a AS doc FROM e),
              |r AS (SELECT doc AS src, doc AS dst FROM nodes
              |      UNION
              |      SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a)
              |SELECT src AS doc_id, min(dst) AS cluster FROM r
              |GROUP BY src ORDER BY doc_id""".stripMargin)),

    Q("d23_pii_redaction",
      // PII scrubbing — the redaction pass every training-data pipeline
      // runs before release: emails then digit runs replaced by typed
      // placeholders, with match counts and a digest of the redacted text
      // as the audit record. Pure per-row regex work: codegen'd, no
      // shuffle, trivially corpus-parallel. The synthetic corpus has no
      // organic PII, so a deterministic PII-shaped suffix (same
      // construction in both engines) is injected to make the match
      // counts non-trivial; digit counting runs AFTER email redaction so
      // an address's digits aren't double-counted.
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com phone "), (col("doc_id") * 7 + 1000000).cast("string")).as("t"))
        .select(col("doc_id"),
          expr("CAST(size(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', 0)) AS BIGINT)").as("n_emails"),
          expr("regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>')").as("t1"))
        .select(col("doc_id"), col("n_emails"),
          expr("CAST(size(regexp_extract_all(t1, '[0-9]+', 0)) AS BIGINT)").as("n_nums"),
          md5(expr("regexp_replace(t1, '[0-9]+', '<NUM>')").cast("binary")).as("red_md5"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com phone '
             |      || CAST(doc_id * 7 + 1000000 AS VARCHAR) AS t
             |  FROM documents),
             |r1 AS (SELECT doc_id,
             |    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
             |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g') AS t1
             |  FROM t)
             |SELECT doc_id, n_emails,
             |  CAST(len(regexp_extract_all(t1, '[0-9]+')) AS BIGINT) AS n_nums,
             |  md5(regexp_replace(t1, '[0-9]+', '<NUM>', 'g')) AS red_md5
             |FROM r1 ORDER BY doc_id""".stripMargin)),

    Q("d13_bpe_tokens",
      // BPE-ish regex tokenization (letter runs | digit runs | single
      // punctuation) alongside the whitespace count of d03
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          expr("""CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS BIGINT)""")
            .as("n_bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("d14_rolling_hash_fingerprint",
      // polynomial rolling hash over the character stream (base 31, prime
      // modulus) — the order-sensitive fingerprint of the prompt's text
      // toolbox; identical fold on both engines
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          expr("""aggregate(filter(split(text, ''), c -> c != ''),
                 |  CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin)
            .as("rhash"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, list_reduce(
             |    list_prepend(CAST(7 AS BIGINT),
             |      list_transform(list_filter(string_split_regex(text, ''), c -> c != ''), c -> ascii(c))),
             |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("d15_length_percentiles",
      // exact interpolated percentiles of document length — the corpus
      // profiling step before quality-filter thresholds are chosen; both
      // engines use the same linear-interpolation definition
      (s, dir) => docs(s, dir)
        .agg(expr("percentile(n_chars, array(0.5, 0.9, 0.99))").as("ps"))
        .select(
          col("ps").getItem(0).as("p50"),
          col("ps").getItem(1).as("p90"),
          col("ps").getItem(2).as("p99")),
      Some("""SELECT ps[1] AS p50, ps[2] AS p90, ps[3] AS p99
             |FROM (SELECT quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS ps FROM documents)""".stripMargin)),

    Q("d16_curation_pipeline",
      // end-to-end training-data curation in ONE plan: exact-dedup
      // keep-first → language gate → quality gate → surviving doc ids.
      // Each stage is the oracled primitive (d01/d05/d06) composed
      // declaratively, so Catalyst fuses the per-row gates into the scan
      // and only the dedup window shuffles
      (s, dir) => {
        val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
        def cnt(sub: String) = s"((length(text) - length(replace(text, '$sub', ''))) div ${sub.length})"
        docs(s, dir)
          .withColumn("__h", md5(col("text").cast("binary")))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .withColumn("__n_tokens", size(split(col("text"), " ")).cast("bigint"))
          .where(
            expr(s"${cnt("the")} >= ${cnt("der")} AND ${cnt("the")} >= ${cnt("le")} AND ${cnt("the")} >= ${cnt("el")}") &&
              col("n_chars").between(100, 500) && col("__n_tokens") >= 20)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, text, n_chars,
             |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |         (length(text) - length(replace(text, 'the', ''))) // 3 AS s_en,
             |         (length(text) - length(replace(text, 'der', ''))) // 3 AS s_de,
             |         (length(text) - length(replace(text, 'le', ''))) // 2 AS s_fr,
             |         (length(text) - length(replace(text, 'el', ''))) // 2 AS s_es
             |  FROM documents) t
             |WHERE rn = 1 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
             |  AND n_chars BETWEEN 100 AND 500 AND n_tokens >= 20
             |ORDER BY doc_id""".stripMargin)),

    Q("d17_normalized_dedup",
      // normalization-aware dedup: lowercase, strip punctuation, collapse
      // whitespace, THEN fingerprint the leading 64 normalized chars —
      // catches trivially-mutated copies (case/punctuation edits) that
      // byte-exact dedup (d01) misses. Same single-shuffle groupBy shape
      // as d02.
      (s, dir) => {
        // r16: native early-exit normalize+truncate (equivalence
        // property-pinned) — the declarative form ran two Java-regex
        // passes + a lowercase over the WHOLE document to keep 64 chars
        // (3.3 s single-task at sf1); the fused scan stops once 64
        // normalized characters exist
        val norm64 = org.apache.spark.sql.GraftBridge.column(graft.functions.NormalizedPrefix(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 64))
        docs(s, dir)
          .select(col("doc_id"), md5(norm64.cast("binary")).as("fp"))
          .groupBy("fp")
          .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))
          .where(col("cnt") > 1)
          .orderBy("fp")
      },
      Some("""SELECT fp, cnt, keeper FROM (
             |  SELECT md5(substr(lower(regexp_replace(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'),
             |           ' +', ' ', 'g')), 1, 64)) AS fp,
             |         count(*) AS cnt, min(doc_id) AS keeper
             |  FROM documents GROUP BY 1) t
             |WHERE cnt > 1 ORDER BY fp""".stripMargin)),

    Q("d18_decontamination",
      // benchmark decontamination: corpus documents sharing ANY word-3-
      // shingle with the benchmark set (here: doc_id < 5) are flagged with
      // their overlap count. Relational shape: distinct (doc, shingle-hash)
      // pairs equi-joined on the hash — the benchmark side is tiny at any
      // real scale, so it broadcasts and the corpus side never shuffles.
      (s, dir) => {
        // per-doc array_distinct BEFORE exploding: (doc_id, h) pairs are
        // then already unique, so no global distinct shuffle is needed
        val ex = TextIndex.hashedShingles(docs(s, dir))
          .select(col("doc_id"), explode(array_distinct(col("hs"))).as("h"))
        val bench = ex.where(col("doc_id") < 5).select(col("h"), col("doc_id").as("bench_id"))
        ex.where(col("doc_id") >= 5)
          .join(broadcast(bench), "h")
          .groupBy("doc_id")
          .agg(countDistinct(col("bench_id")).as("n_bench"))
          .orderBy("doc_id")
      },
      Some(s"""WITH hs AS (${hsSql("SELECT * FROM documents")}),
              |ex AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM hs),
              |bench AS (SELECT h, doc_id AS bench_id FROM ex WHERE doc_id < 5)
              |SELECT c.doc_id, count(DISTINCT b.bench_id) AS n_bench
              |FROM ex c JOIN bench b USING (h)
              |WHERE c.doc_id >= 5
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("d19_repetition_score",
      // intra-document repetition: 1 − distinct/total word-3-shingles —
      // the boilerplate/looping-text quality signal; pure per-row array
      // arithmetic, no shuffle
      (s, dir) => TextIndex.hashedShingles(docs(s, dir))
        .select(col("doc_id"),
          (lit(1.0) - size(array_distinct(col("hs"))).cast("double") / size(col("hs"))).as("rep"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(hs)) AS DOUBLE) / len(hs) AS rep
              |FROM (${hsSql("SELECT * FROM documents")}) ORDER BY doc_id""".stripMargin)),

    Q("d21_token_packing",
      // token-budget shard packing: documents are packed greedily into
      // ~4000-token training shards per language via a cumulative-sum
      // window — shard id = (running total before this doc) div budget.
      // Partitioning by language keeps the ordered window parallel (one
      // sorted partition per language, no global sort) — the shape a
      // sharded training-data writer uses at corpus scale.
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("bigint").as("toks"))
          .withColumn("cum", sum(col("toks")).over(w))
          .withColumn("shard", expr("(cum - toks) div 4000"))
          .groupBy(col("lang"), col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
          .orderBy("lang", "shard")
      },
      Some("""SELECT lang, shard, count(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens FROM (
             |  SELECT lang, toks, (cum - toks) // 4000 AS shard FROM (
             |    SELECT lang, toks,
             |      CAST(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
             |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |    FROM (SELECT lang, doc_id,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
             |          FROM documents) t1) t2) t3
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("d11_simhash",
      // 48-bit SimHash (16 bits saturates with collisions at any real
      // corpus size) via the native one-pass expression — no token/bit
      // row explosion, no shuffle for the signature itself; the oracle
      // replicates the counter arithmetic with the explode shape
      (s, dir) => {
        import org.apache.spark.sql.GraftBridge
        val hs = docs(s, dir).select(
          col("doc_id"),
          expr("transform(split(text, ' '), t -> CAST(conv(substr(md5(t), 1, 12), 16, 10) AS BIGINT))").as("hs"))
        hs.select(
          col("doc_id"),
          GraftBridge.column(graft.functions.SimHash(GraftBridge.expression(col("hs")), 48)).as("simhash"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h48 FROM tok),
             |b AS (SELECT doc_id, bit, SUM(CASE WHEN (h48 >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS s
             |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS bit) bits
             |      GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("d24_cdc_chunk_dedup",
      // Content-defined chunking (CDC) dedup: sub-document exact dedup at
      // chunk granularity — the "shared boilerplate / quoted paragraph"
      // detector that whole-document fingerprints (d01/d07) cannot see.
      // Chunk boundaries are CONTENT-defined (a token is a boundary when
      // its 32-bit hash ≡ 0 mod G), so an insertion early in a document
      // shifts no boundary after the next cut point — the same chunks
      // re-align and still dedup, unlike fixed-size splitting. Per-row
      // fold builds the chunk list inside whole-stage codegen (chunking is
      // row-local: NO shuffle, no explode-then-window); only
      // (doc_id, chunk_md5, n_tok) ever shuffles — chunk text is hashed
      // before the exchange and never moves.
      (s, dir) => TextIndex.chunkTable(s, dir)
        .groupBy("chunk_md5")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("min_doc"),
          min(col("n_tok")).as("n_tokens"))
        .where(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("chunk_md5")),
      Some(s"""$chunksCte
              |SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
              |  min(doc_id) AS min_doc, min(n_tok) AS n_tokens
              |FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
              |ORDER BY n_docs DESC, chunk_md5""".stripMargin)),

    Q("d25_chunk_dup_ratio",
      // Per-document duplicate-content ratio over the CDC chunks — the
      // removal statistic of substring-level dedup (Lee et al. 2022,
      // "Deduplicating Training Data Makes Language Models Better"): a
      // chunk occurrence is duplicate content when the chunk first appears
      // in an EARLIER document (cross-doc only; a doc repeating its own
      // chunk is not penalized). Docs whose duplicated-token share is
      // reported feed the curation gate. Two narrow shuffles on the
      // 16-byte chunk hash (first-doc agg + back-join); token text never
      // moves.
      (s, dir) => {
        val occ = TextIndex.chunkTable(s, dir)
        val firstDoc = occ.groupBy("chunk_md5").agg(min(col("doc_id")).as("first_doc"))
        occ.join(firstDoc, "chunk_md5")
          .groupBy("doc_id")
          .agg(
            sum(when(col("first_doc") < col("doc_id"), col("n_tok")).otherwise(lit(0L))).as("dup_tokens"),
            sum(col("n_tok")).as("total_tokens"))
          .withColumn("dup_ratio", col("dup_tokens").cast("double") / col("total_tokens"))
          .where(col("dup_tokens") > 0)
          .orderBy("doc_id")
      },
      Some(s"""$chunksCte,
              |occ AS (SELECT doc_id, chunk_md5, n_tok FROM chunks),
              |fd AS (SELECT chunk_md5, min(doc_id) AS first_doc FROM occ GROUP BY 1)
              |SELECT doc_id,
              |  CAST(SUM(CASE WHEN first_doc < doc_id THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens,
              |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
              |  CAST(SUM(CASE WHEN first_doc < doc_id THEN n_tok ELSE 0 END) AS DOUBLE) / SUM(n_tok) AS dup_ratio
              |FROM occ JOIN fd USING (chunk_md5)
              |GROUP BY 1 HAVING dup_tokens > 0 ORDER BY doc_id""".stripMargin)),

    Q("d26_mixture_sample",
      // Deterministic token-budget mixture sampling — the data-mixing step
      // of a pretraining pipeline: per language, documents are ranked by a
      // hash "shuffle" (md5(doc_id) — reproducible across runs and
      // engines) and taken in that order until the language's cumulative
      // token count reaches 30% of its total (integer math: cum*10 <=
      // tot*3, no float budget drift). The cumulative sum is the
      // TWO-LEVEL distributed prefix sum: level 1 cumsums within
      // (lang, shard) where shard = the first hex char of the hash — 16-way
      // parallel per language, and shard blocks are contiguous in hash
      // order so the per-shard cumsum composes exactly; level 2 adds the
      // running offset of preceding shards' totals (a 16-rows-per-language
      // window). A single window PARTITION BY lang would serialize a
      // 100 TB language onto one task; this shape never materializes a
      // partition larger than 1/16th of a language, and widening the
      // shard prefix scales the fan-out. Totals join is a 5-row broadcast.
      (s, dir) => {
        val t = docs(s, dir).select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("bigint").as("n_tok"),
            md5(col("doc_id").cast("string")).as("h"))
          .withColumn("sh", substring(col("h"), 1, 1))
        val tot = t.groupBy("lang").agg(sum(col("n_tok")).as("tot"))
        val wIn = Window.partitionBy(col("lang"), col("sh")).orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val shardTot = t.groupBy(col("lang"), col("sh")).agg(sum(col("n_tok")).as("stot"))
        val wOff = Window.partitionBy(col("lang")).orderBy(col("sh"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = shardTot
          .withColumn("off", coalesce(sum(col("stot")).over(wOff), lit(0L)))
          .select(col("lang"), col("sh"), col("off"))
        t.withColumn("cum_in", sum(col("n_tok")).over(wIn))
          .join(broadcast(offs), Seq("lang", "sh"))
          .join(broadcast(tot), "lang")
          .where((col("cum_in") + col("off")) * 10 <= col("tot") * 3)
          .groupBy("lang")
          .agg(count(lit(1)).as("docs_sampled"), sum(col("n_tok")).as("tokens_sampled"),
            max(col("tot")).as("tokens_total"))
          .orderBy("lang")
      },
      // oracle: the mathematically-equivalent SINGLE-window form — an
      // independent derivation of the same sample, so a composition bug in
      // the two-level prefix sum cannot cancel out
      Some("""WITH t AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
             |c AS (SELECT lang, n_tok,
             |    sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(n_tok) OVER (PARTITION BY lang) AS tot FROM t)
             |SELECT lang, CAST(count(*) AS BIGINT) AS docs_sampled,
             |  CAST(sum(n_tok) AS BIGINT) AS tokens_sampled,
             |  CAST(max(tot) AS BIGINT) AS tokens_total
             |FROM c WHERE cum * 10 <= tot * 3 GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("d27_incremental_batch_dedup",
      // Incremental ingest dedup — the daily-batch path that makes dedup
      // affordable at 100 TB: a NEW batch (doc_id ≡ 0 mod 10 stands in for
      // "today's crawl") is deduped against the existing corpus WITHOUT
      // re-scanning or re-shuffling the corpus text. The corpus side reads
      // only its stored index artifacts — the md5 content-hash set, the
      // MinHash signature table, and the banded LSH buckets (capped, as in
      // d09) — all narrow key columns; per-run work is proportional to the
      // BATCH size. Decisions per batch doc: `exact_dup` (content hash hit,
      // matched to the corpus keeper), `near_dup` (band-bucket candidate
      // whose verified 3-shingle Jaccard ≥ 0.8, best match by (jaccard
      // desc, id)), else `keep`. Shingle verification fetches text only for
      // the candidate ids (semi-join pruning) — never the whole corpus.
      (s, dir) => {
        val d = docs(s, dir)
        val isBatch = col("doc_id") % 10 === 0
        val batch = d.where(isBatch)
        // corpus index artifacts: stored parquet tables (ArtifactStore),
        // built once per corpus digest and reused across sessions and
        // JVMs — see corpusIndex. A run against an existing index pays
        // only the batch-proportional tail below (sf100: 313 s build
        // vs 58 s per-batch), which is the operator's actual per-day cost.
        val (corpusHashes, member) = TextIndex.corpusIndex(s, dir)
        // batch-side per-run work: signatures computed for the BATCH docs
        // only — the full-corpus signature table is an artifact-build
        // input, not a per-batch dependency. Both batch-side checkpoints
        // are session-cached so repeated runs reuse one set of blocks
        // (see d27Cache). Re-signing the small batch beats filtering the stored signature table (r13
        // A/B: the full-table scan the unprunable modulo filter forces
        // costs ~+0.4 s at sf0.1 vs ~0.08 s to re-sign 10% of the docs);
        // a production signature store partitioned by ingest date would
        // flip that — "today's signatures" prunes to one partition.
        val bb = TextIndex.bandsFromSig(d27Cache.getOrElseUpdate(s, s"$dir#batchsig")(
          TextIndex.signatures(batch).localCheckpoint()))
        val cand = bb.join(member, Seq("band", "bkey"))
          .select(col("doc_id").as("b_id"), col("corpus_id")).distinct()
        val candIds = cand.select(col("b_id").as("doc_id"))
          .union(cand.select(col("corpus_id").as("doc_id"))).distinct()
        val sh = d27Cache.getOrElseUpdate(s, s"$dir#shingles")(
          d.join(candIds, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), split(col("text"), " ").as("toks"))
            .where(size(col("toks")) >= 3)
            .select(col("doc_id"),
              // r16: native one-pass distinct 3-gram build (see d10)
              org.apache.spark.sql.GraftBridge.column(graft.functions.DistinctTokenNgrams(
                org.apache.spark.sql.GraftBridge.expression(col("toks")), 3)).as("ss"))
            .localCheckpoint())
        val ver = cand
          .join(sh.select(col("doc_id").as("b_id"), col("ss").as("ssb")), "b_id")
          .join(sh.select(col("doc_id").as("corpus_id"), col("ss").as("ssc")), "corpus_id")
          .withColumn("inter", size(array_intersect(col("ssb"), col("ssc"))))
          .select(col("b_id"), col("corpus_id"),
            (col("inter").cast("double") / (size(col("ssb")) + size(col("ssc")) - col("inter"))).as("jaccard"))
        // best match per batch doc as a hash aggregate (min over
        // (−jaccard, corpus_id) structs ≡ the former row_number window's
        // "jaccard desc, corpus_id asc" pick, with map-side partials and
        // no sort; the double negation recovering jaccard is an exact
        // sign flip — r15, guide §2.3). NaN jaccard (where min-vs-window
        // NaN ordering would differ) is impossible by construction: both
        // shingle sides come from `sh`, which is built under
        // size(toks) >= 3, so each set has ≥ 1 element and the
        // denominator la + lb − inter ≥ max(la, lb) ≥ 1 — the "assert
        // shingle sets are non-empty" branch of the r15 ADVICE note is
        // already in force.
        val best = ver
          .groupBy(col("b_id"))
          .agg(min(struct((-col("jaccard")).as("nj"), col("corpus_id"))).as("w"))
          .select(col("b_id").as("doc_id"), col("w.corpus_id").as("near_id"),
            (-col("w.nj")).as("jaccard"))
          .where(col("jaccard") >= JaccardThreshold)
        val exact = batch.select(col("doc_id"), md5(col("text").cast("binary")).as("__h"))
          .join(corpusHashes, "__h").select("doc_id", "exact_id")
        batch.select(col("doc_id"))
          .join(exact, Seq("doc_id"), "left")
          .join(best, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("exact_id").isNotNull, lit("exact_dup"))
              .when(col("near_id").isNotNull, lit("near_dup"))
              .otherwise(lit("keep")).as("decision"),
            coalesce(col("exact_id"), col("near_id")).as("match_id"),
            when(col("exact_id").isNull, col("jaccard")).as("jaccard"))
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
              |batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
              |creps AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              |          FROM corpus) WHERE rn = 1),
              |cbands AS (${bandsSql("SELECT * FROM creps")}),
              |ok AS (SELECT band, bkey FROM cbands GROUP BY 1, 2 HAVING count(*) <= $BucketCap),
              |member AS (SELECT b.doc_id AS corpus_id, b.band, b.bkey FROM cbands b JOIN ok USING (band, bkey)),
              |bbands AS (${bandsSql("SELECT * FROM batch")}),
              |cand AS (SELECT DISTINCT bb.doc_id AS b_id, m.corpus_id
              |         FROM bbands bb JOIN member m USING (band, bkey)),
              |sh AS (${shingleSetSql("SELECT * FROM documents")}),
              |ver AS (SELECT c.b_id, c.corpus_id,
              |    CAST(len(list_intersect(sb.ss, sc.ss)) AS DOUBLE) /
              |      (len(sb.ss) + len(sc.ss) - len(list_intersect(sb.ss, sc.ss))) AS jaccard
              |  FROM cand c JOIN sh sb ON sb.doc_id = c.b_id JOIN sh sc ON sc.doc_id = c.corpus_id),
              |best AS (SELECT b_id, corpus_id, jaccard FROM (
              |    SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY jaccard DESC, corpus_id) AS rn FROM ver)
              |  WHERE rn = 1 AND jaccard >= $JaccardThreshold),
              |ch AS (SELECT md5(text) AS h, min(doc_id) AS exact_id FROM corpus GROUP BY 1),
              |ex AS (SELECT b.doc_id, ch.exact_id FROM batch b JOIN ch ON md5(b.text) = ch.h)
              |SELECT b.doc_id,
              |  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact_dup'
              |       WHEN best.corpus_id IS NOT NULL THEN 'near_dup'
              |       ELSE 'keep' END AS decision,
              |  COALESCE(ex.exact_id, best.corpus_id) AS match_id,
              |  CASE WHEN ex.exact_id IS NULL THEN best.jaccard END AS jaccard
              |FROM batch b LEFT JOIN ex USING (doc_id) LEFT JOIN best ON best.b_id = b.doc_id
              |ORDER BY doc_id""".stripMargin)),

    Q("d28_source_cap_sample",
      // Per-source document cap (the RefinedWeb/CCNet host-level curation
      // step): keep at most SourceCap docs per source, best first by a
      // deterministic quality order (longest n_chars, id tie-break). The
      // rank-≤-N filter compiles to Spark's WindowGroupLimit: every map
      // task keeps only its LOCAL top-N per source before the exchange, so
      // a 100 TB source contributes tasks×N rows to the shuffle, never its
      // full row set — gated on the physical plan in PlanQualitySpec.
      (s, dir) => {
        val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
        docs(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("rk", row_number().over(w).cast("bigint"))
          .where(col("rk") <= SourceCap)
          .orderBy("source", "rk")
      },
      Some(s"""SELECT doc_id, source, n_chars, rk FROM (
              |  SELECT doc_id, source, n_chars,
              |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
              |  FROM documents) t WHERE rk <= $SourceCap ORDER BY source, rk""".stripMargin)),

    Q("d29_quality_classifier",
      // model-based quality filtering: every token hashes into one of
      // QwBuckets weight buckets, the doc score is the MEAN bucket weight
      // (length-normalized, fasttext-style), keep = score > 0. One
      // per-row fold over the token array — no explode, no shuffle, no
      // UDF; at 100 TB this is a map-only pass whose cost is the scan.
      // The milli-weight sum is exact BIGINT arithmetic, so the only
      // double op is one final division — bit-identical in both engines.
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          expr(s"""CAST(aggregate(split(text, ' '),
                 |  CAST(0 AS BIGINT),
                 |  (acc, t) -> acc + element_at(array(${qw.mkString(", ")}),
                 |    CAST(CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % $QwBuckets + 1 AS INT))) AS BIGINT)""".stripMargin).as("s_milli"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
        .select(col("doc_id"),
          expr("CAST(s_milli AS DOUBLE) / 1000.0 / n_tokens").as("score"),
          (col("s_milli") > 0).as("keep"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(s_milli AS DOUBLE) / 1000.0 / n_tokens AS score, (s_milli > 0) AS keep
              |FROM (
              |  SELECT doc_id,
              |    CAST(list_sum(list_transform(string_split(text, ' '),
              |      t -> ([${qw.mkString(", ")}])[CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % $QwBuckets + 1 AS INT)])) AS BIGINT) AS s_milli,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              |  FROM documents) t ORDER BY doc_id""".stripMargin)),



    Q("d34_approx_percentile_audit",
      // The SKETCH path for d15's corpus profiling: at 100 TB an exact
      // percentile is a full distributed sort, while approx_percentile's
      // mergeable sketch is one map-side pass — IF its rank-error
      // contract actually holds. This audit prices that (the e07 recall
      // pattern applied to quantiles): for each percentile it emits the
      // exact value (oracle-recomputed by DuckDB's quantile_cont, the
      // parity d15 pinned) and a within_bound flag proving the sketch
      // estimate's TRUE rank interval [count(<v)+1, count(<=v)] overlaps
      // pct·N ± N/accuracy — computed exactly, so a sketch regression
      // fails the hash, not a human eyeball. The rank counts are one
      // broadcast-audit pass over the corpus; nothing else rescans.
      (s, dir) => {
        val pcts = Seq(0.5, 0.9, 0.99)
        val acc = 100 // guaranteed rank error <= N/acc (1% of rows)
        val base = docs(s, dir).select(col("n_chars").cast("double").as("x"))
        val agg = base.agg(
          expr(s"percentile(x, array(${pcts.mkString(", ")}))").as("exact"),
          expr(s"approx_percentile(x, array(${pcts.mkString(", ")}), $acc)").as("approx"),
          count(lit(1)).cast("double").as("n"))
        val rows = agg
          .select(posexplode(expr("arrays_zip(exact, approx)")), col("n"))
          .select(col("pos").as("i"), col("col.exact").as("exact_value"),
            col("col.approx").cast("double").as("approx_v"), col("n"))
          .withColumn("pct", element_at(lit(pcts.toArray), col("i") + 1))
        val counts = base.crossJoin(broadcast(rows.select(col("i"), col("approx_v"))))
          .groupBy(col("i")).agg(
            sum(when(col("x") < col("approx_v"), 1L).otherwise(0L)).cast("double").as("lo"),
            sum(when(col("x") <= col("approx_v"), 1L).otherwise(0L)).cast("double").as("hi"))
        rows.join(counts, "i")
          .select(col("pct"), col("exact_value"),
            (col("hi") >= col("pct") * col("n") - col("n") / acc &&
              col("lo") + 1 <= col("pct") * col("n") + col("n") / acc).as("within_bound"))
          .orderBy("pct")
      },
      Some("""WITH e AS (
             |  SELECT quantile_cont(CAST(n_chars AS DOUBLE), [0.5, 0.9, 0.99]) AS ps
             |  FROM documents)
             |SELECT CAST(0.5 AS DOUBLE) AS pct, ps[1] AS exact_value, TRUE AS within_bound FROM e
             |UNION ALL SELECT CAST(0.9 AS DOUBLE), ps[2], TRUE FROM e
             |UNION ALL SELECT CAST(0.99 AS DOUBLE), ps[3], TRUE FROM e
             |ORDER BY pct""".stripMargin)),

  )


  /** d28's per-source keep budget. */
  private final val SourceCap = 10

  // --------------------------------------- content-defined chunking (CDC)
  // Chunking expressions + the stored chunk/corpus-index lifecycle live
  // in [[graft.sources.TextIndex]]; only the oracle-side SQL stays here.

  /** The oracle's chunk table: same boundaries via an explicit
    * position/prefix-sum reconstruction (DuckDB has no struct-accumulator
    * fold; SUM OVER preceding rows assigns the chunk ids instead). */
  private def chunksCte: String =
    // parallel unnests zip in DuckDB: (token, position) pairs come out
    // aligned WITHOUT carrying the whole token list on every row -- the
    // toks[pos] indexing form materializes the full array per token row
    // and OOMs the oracle at sf10 (500 k docs × ~50-token lists)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(toks) AS t, unnest(generate_series(1, len(toks))) AS pos
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
       |tk AS (
       |  SELECT doc_id, pos, t,
       |    CASE WHEN CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % $ChunkGear = 0
       |         THEN 1 ELSE 0 END AS b
       |  FROM tok),
       |ck AS (
       |  SELECT doc_id, pos, t,
       |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
       |  FROM tk),
       |chunks AS (
       |  SELECT doc_id, cid, md5(string_agg(t, ' ' ORDER BY pos)) AS chunk_md5,
       |    CAST(count(*) AS BIGINT) AS n_tok
       |  FROM ck GROUP BY 1, 2)""".stripMargin
}
