package graft.sources

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The stored TEXT-side index lifecycle — every digest-keyed parquet
 * artifact the text/dedup pipeline persists, in one place (the
 * [[AnnIndex]] precedent for the vector side):
 *
 *  - `graft_sig_<digest>`   — the K-permutation MinHash signature table;
 *  - `graft_bands_<digest>` — the capped LSH bucket index of exact-dedup
 *    representatives (doc_id, band, bkey);
 *  - `graft_chunks_<digest>` — the CDC chunk-occurrence table
 *    (doc_id, chunk_md5, n_tok);
 *  - `graft_d27_hashes_<digest>` / `graft_d27_bands_<digest>` — the
 *    incremental-dedup corpus index (content-hash keeper map + capped
 *    band membership of corpus representatives).
 *
 * All go through the shared [[ArtifactStore]] protocol (versioned dirs,
 * atomic pointer, digest invalidation, orphan GC), are resolved in the
 * session-start warm batch ([[graft.services.Warm]] — gate-enforced by
 * WarmCoverageSpec), and are maintained row-equal by the streaming path
 * (the per-row build expressions here are FACTORED so StreamAgg runs the
 * identical plans over arriving rows — s08/s15's contract).
 *
 * Query semantics (which queries read which artifact, thresholds,
 * oracle SQL) stay in [[graft.queries.TextQueries]]; this object owns
 * only what a deployment would call "the index": build plans, storage
 * layout, cache lifetime, invalidation.
 */
object TextIndex {

  private def docs(s: SparkSession, dir: String): DataFrame =
    TestData.graph(s, dir).V("documents").df

  // ------------------------------------------------ MinHash-LSH parameters
  // Universal-hash constants shared with the SQL function surface
  // (graft.functions.MinHashDefaults) — identical in the Spark plans and
  // the DuckDB oracle SQL TextQueries generates from the same values.
  private[graft] final val B = 16 // bands
  private[graft] final val R = 8 // rows per band (B*R = K permutations)
  private[graft] final val BucketCap = 20 // max docs per LSH bucket (hot buckets dropped)
  private val P = graft.functions.MinHashDefaults.P // prime > 2^32
  private val hashParams: IndexedSeq[(Long, Long)] = graft.functions.MinHashDefaults.params

  /** CDC boundary gear: a token closes its chunk when its 32-bit hash ≡ 0
    * (mod ChunkGear) — expected chunk length = ChunkGear tokens. */
  private[graft] final val ChunkGear = 8

  /** Source digest of the corpus' documents table under `tag`. */
  private[graft] def srcDigest(s: SparkSession, dir: String, tag: String): String =
    ArtifactStore.sourceDigest(
      s, new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), "documents.parquet"), tag)

  // ---------------------------------------------------- build expressions

  /** Exact-duplicate representative IDS: keep-first doc_id per md5(text).
    * Narrow on purpose — the keep-first reduces to min(doc_id) per hash
    * (hash aggregate with map-side partial, no per-partition sort), and
    * shuffles only (doc_id, 16-byte hash), never the document text;
    * consumers join the ids back to whatever payload they need. */
  private[graft] def repIdsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), md5(col("text").cast("binary")).as("__h"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** doc_id + 32-bit hashes of the word-3-shingles, via the native
    * [[graft.functions.ShingleHashes]] expression (one compiled pass;
    * bit-identical to the conv/substr/md5 SQL form the oracle uses). */
  private[graft] def hashedShingles(source: DataFrame): DataFrame =
    source
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        GraftBridge.column(graft.functions.ShingleHashes(GraftBridge.expression(col("toks")))).as("hs"))

  /** doc_id + the K-permutation MinHash signature as one array column,
    * computed by the native [[graft.functions.MinHashSignature]]
    * expression — one traversal of the shingle hashes for all K
    * permutations inside whole-stage codegen, instead of K
    * transform+array_min passes with K intermediate arrays per row. */
  private[graft] def signatures(source: DataFrame): DataFrame = {
    val sigCol = GraftBridge.column(
      graft.functions.MinHashSignature(GraftBridge.expression(col("hs")), hashParams.map(_._1), hashParams.map(_._2), P))
    hashedShingles(source).select(col("doc_id"), sigCol.as("sig"))
  }

  /** The signature pipeline applied to an arbitrary (possibly STREAMING)
    * documents source — every step is a stateless select/filter, so the
    * same plan that builds the stored batch index maintains it
    * incrementally over a stream (used by s08). */
  private[graft] def streamSignatures(source: DataFrame): DataFrame = signatures(source)

  /** doc_id exploded to (band, bkey) — B rows per doc; the LSH bucket key.
    * `sig` must be materialized (checkpointed) so the B band-key
    * expressions read the stored array instead of inlining B signature
    * computations (CollapseProject would otherwise duplicate the work). */
  private[graft] def bandsFromSig(sig: DataFrame): DataFrame = {
    // r16: native one-pass BandKeys (equivalence property-pinned)
    // instead of B inlined slice→cast→concat_ws→md5→substring chains —
    // that composition compiled to a 9,078-byte codegen method (past the
    // JVM's 8,000-byte JIT cap: interpreter-run for d27's live batch
    // banding and s15's stream banding). posexplode's pos IS the band
    // index the struct form carried as lit(j).
    sig.select(col("doc_id"),
        posexplode(org.apache.spark.sql.GraftBridge.column(graft.functions.BandKeys(
          org.apache.spark.sql.GraftBridge.expression(col("sig")), B, R))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
  }

  /** s15's stream-probe seam: the banding select over arriving documents
    * — shingle → MinHash → band keys is row-local (the same stateless
    * plan [[streamSignatures]] proves for s08, extended one select
    * further), so it runs unchanged under Structured Streaming. */
  private[graft] def streamBands(source: DataFrame): DataFrame =
    bandsFromSig(signatures(source))

  // -------------------------------------------------- stored MinHash/LSH

  /** The materialized signature table: a production near-dup pipeline
    * computes MinHash signatures ONCE and stores them; the signature
    * report (d08), the banding (d09) and the verify (d10) all read the
    * stored table. */
  private[graft] def sigTable(s: SparkSession, dir: String): DataFrame =
    // a STORED parquet table (digest-keyed, shared across sessions and
    // JVMs via ArtifactStore) rather than a localCheckpoint: at sf100
    // the 5 M × 128-long signature table pins multi-GB of block-manager
    // memory as a checkpoint, while the parquet artifact costs nothing
    // until scanned — and IS the production layout the Scaladoc claims
    ArtifactStore.reader(s, s"graft_sig_${srcDigest(s, dir, "minhash")}") { path =>
      signatures(docs(s, dir)).write.mode("overwrite").parquet(path)
    }

  /** The stored LSH bucket index — (doc_id, band, bkey) band rows of the
    * exact-dedup representatives — as a digest-keyed parquet artifact,
    * the third stored table of the near-dup pipeline (signatures →
    * bands → verified pairs). Banding reads the stored signature table
    * restricted to the keeper doc_ids (a signature depends only on the
    * text, so filtering the stored table to keepers is identical to
    * re-signing them); every candidate-generation run then starts from
    * the stored buckets instead of re-hashing B band keys per document. */
  private[graft] def bandsTable(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.reader(s, s"graft_bands_${srcDigest(s, dir, "lshbands")}") { path =>
      bandsFromSig(sigTable(s, dir).join(repIdsOf(docs(s, dir)), "doc_id"))
        .write.mode("overwrite").parquet(path)
    }

  // ------------------------------------------------------- stored chunks

  /** The per-document chunk list as ONE codegen'd fold over the token
    * array: accumulator = (finished chunks, current chunk | NULL). NULL
    * (not '') marks "no open chunk" so empty tokens from repeated spaces
    * chunk identically to the oracle's string_agg reconstruction.
    * Invariant (spec'd in [[graft.ChunkingSpec]]): the chunks partition
    * the token stream — `array_join(chunks, ' ') == text`. */
  private[graft] def chunksOf(textCol: String): org.apache.spark.sql.Column = expr(
    s"""aggregate(
       |  split($textCol, ' '),
       |  named_struct('done', CAST(array() AS ARRAY<STRING>), 'cur', CAST(NULL AS STRING)),
       |  (acc, t) -> CASE
       |    WHEN CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % $ChunkGear = 0 THEN
       |      named_struct(
       |        'done', array_append(acc.done, CASE WHEN acc.cur IS NULL THEN t ELSE concat(acc.cur, ' ', t) END),
       |        'cur', CAST(NULL AS STRING))
       |    ELSE
       |      named_struct(
       |        'done', acc.done,
       |        'cur', CASE WHEN acc.cur IS NULL THEN t ELSE concat(acc.cur, ' ', t) END)
       |    END,
       |  acc -> CASE WHEN acc.cur IS NULL THEN acc.done ELSE array_append(acc.done, acc.cur) END)""".stripMargin)

  /** (doc_id, chunk_md5, n_tok) occurrence table — the hash is computed
    * BEFORE any exchange so downstream group-bys shuffle 16-byte digests,
    * never chunk text. */
  private[graft] def chunkOccurrences(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), explode(chunksOf("text")).as("chunk"))
      .select(
        col("doc_id"),
        md5(col("chunk").cast("binary")).as("chunk_md5"),
        size(split(col("chunk"), " ")).cast("bigint").as("n_tok"))

  /** The materialized chunk-occurrence table, like the MinHash signature
    * table: a production pipeline chunks the corpus ONCE and stores
    * (doc_id, chunk_md5, n_tok); the dup report (d24) and the removal
    * statistic (d25, which reads it twice — the first-doc aggregate and
    * the back-join) consume the stored artifact instead of re-folding
    * 100 TB of text per reference. */
  private[graft] def chunkTable(s: SparkSession, dir: String): DataFrame =
    // stored parquet artifact, same rationale as [[sigTable]]: the
    // sf100 chunk-occurrence table is ~250 M narrow rows — a pinned
    // checkpoint at that size taxes every later query's memory, while
    // the stored table is the production shape (chunk ONCE, reuse)
    ArtifactStore.reader(s, s"graft_chunks_${srcDigest(s, dir, "cdcchunks")}") { path =>
      chunkOccurrences(docs(s, dir)).write.mode("overwrite").parquet(path)
    }

  // -------------------------------------- stored d27 corpus index (hashes + bands)

  /** d27's stored corpus index artifacts — the content-hash keeper map and
    * the capped LSH band membership of corpus representatives — as STORED
    * PARQUET TABLES via the shared artifact protocol, exactly what "the
    * corpus's stored index" means in production: disk-backed,
    * digest-invalidated, shared across sessions and JVMs, zero
    * block-manager retention. Building them inside the query (the
    * pre-round-9 shape) made every "incremental" run corpus-proportional
    * — 338 s at sf100, of which the batch-side dedup is only a small
    * tail — and keeping them as localCheckpoint blocks OOMed the 24 g
    * driver at sf100 (the band table is B rows per corpus rep). Both
    * are plain parquet readers. */
  private[graft] def corpusIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val digest = srcDigest(s, dir, "d27idx")
    def corpus = docs(s, dir).where(!(col("doc_id") % 10 === 0))
    val corpusHashes = ArtifactStore.reader(s, s"graft_d27_hashes_$digest") { path =>
      corpus
        .select(md5(col("text").cast("binary")).as("__h"), col("doc_id"))
        .groupBy("__h").agg(min(col("doc_id")).as("exact_id"))
        .write.mode("overwrite").parquet(path)
    }
    val member = ArtifactStore.reader(s, s"graft_d27_bands_$digest") { path =>
      val cb = bandsFromSig(sigTable(s, dir).join(repIdsOf(corpus), "doc_id"))
        .localCheckpoint()
      try {
        val ok = cb.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
          .where(col("n") <= BucketCap).select("band", "bkey")
        cb.join(ok, Seq("band", "bkey"))
          .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
          .write.mode("overwrite").parquet(path)
      } finally GraftBridge.unpersistLocalCheckpoint(cb)
    }
    (corpusHashes, member)
  }

  /** s15's static join side: the stored capped corpus member table
    * (d27's LSH index artifact — (corpus_id, band, bkey) rows). */
  private[graft] def corpusMemberTable(s: SparkSession, dir: String): DataFrame =
    corpusIndex(s, dir)._2
}
