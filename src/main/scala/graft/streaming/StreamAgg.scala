package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Structured Streaming ingest over the `events` table: the reference has
 * no stream-processing semantics (SURVEY §2.9 — its "streaming" is chunked
 * result delivery), so this is the engine's forward-looking streaming
 * surface: windowed aggregation with event-time semantics over the same
 * data the batch `time` aggregation serves, producing identical buckets.
 *
 * Scale notes: `window()` tumbling buckets are epoch-aligned like the
 * batch path, so batch and streaming results are interchangeable; a
 * production deployment swaps the file source for Kafka and `complete`
 * mode for watermark+append with the same plan.
 */
object StreamAgg {

  /** Scratch root for a replay's TEMP checkpoint + sink output. These
    * live exactly as long as the replay call (deleted in its finally), so
    * checkpoint durability buys nothing — yet the WAL/commit/state-delta
    * writes behind it are a measured ~90-270 ms per micro-batch plus
    * 0.3-0.9 s per no-data finalization batch of pure filesystem traffic
    * (r16 per-batch accounting). On a local master, default to
    * memory-backed /dev/shm when writable; any other master keeps the
    * JVM temp dir, since a cluster's executors write the sink and /dev/shm
    * is RAM on a shared node. `spark.graft.stream.scratchRoot` overrides
    * both (a deployment replaying bigger-than-RAM results points it at
    * fast local disk — and a RESTARTABLE production stream uses a real
    * durable checkpointLocation, which this path never touches; restart
    * semantics stay covered by StreamRestartSpec against a real dir).
    * `None` means the JVM temp dir. */
  private[graft] def scratchRoot(master: String, configured: Option[String],
      shmWritable: Boolean): Option[java.nio.file.Path] =
    configured.map(java.nio.file.Paths.get(_)).orElse(
      if (master.startsWith("local") && shmWritable) Some(java.nio.file.Paths.get("/dev/shm"))
      else None)

  private def scratchBase(spark: SparkSession, prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = scratchRoot(spark.sparkContext.master,
      spark.conf.getOption("spark.graft.stream.scratchRoot"),
      java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
    root match {
      case Some(r) => java.nio.file.Files.createTempDirectory(r, "graft_replay_" + prefix)
      case None => java.nio.file.Files.createTempDirectory("graft_replay_" + prefix)
    }
  }

  /** The shared replay harness: run `df` to completion with
    * Trigger.AvailableNow (8 state partitions), then return the result
    * through `order`. ONE definition of the sink boilerplate — a harness
    * fix lands in every streaming query at once.
    *
    * Append-mode replays sink to PARQUET and read the files back: a
    * memory sink holds the entire result as a driver-side LocalRelation,
    * which is a collect() in disguise — at sf1 the re-parallelization
    * shipped 7.5 MB tasks (the result rode inside every task closure),
    * and at production scale it would OOM the driver. The parquet
    * round-trip keeps rows executor-side end to end, exactly how a
    * production job lands a stream into a table. Complete-mode replays
    * (already-reduced aggregates, a few dozen rows) keep the memory sink
    * — the parquet sink does not support complete mode. The result is
    * localCheckpoint()ed so the scratch files can be deleted eagerly;
    * the temp view/dir cleanup runs in a finally so a failed replay
    * leaks nothing into the shared session. */
  private[graft] def replayToMemory(spark: SparkSession, df: DataFrame, prefix: String,
      outputMode: String)(order: DataFrame => DataFrame): DataFrame =
    if (outputMode == "append") {
      val base = scratchBase(spark, prefix)
      try {
        withStatePartitions(spark, 8) {
          val q = df.writeStream
            .format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        order(spark.read.schema(df.schema).parquet(s"$base/out")).localCheckpoint()
      } finally {
        val st = java.nio.file.Files.walk(base)
        try st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally st.close()
      }
    } else {
      val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
      // complete-mode replays keep the memory sink (already-reduced
      // aggregates); the checkpoint is still explicit so it lands on the
      // scratch root above instead of Spark's implicit tmpdir default
      val base = scratchBase(spark, prefix)
      try {
        withStatePartitions(spark, 8) {
          val q = df.writeStream
            .format("memory").queryName(name)
            .option("checkpointLocation", s"$base/ckpt")
            .outputMode(outputMode)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        order(spark.table(name)).localCheckpoint()
      } finally {
        spark.catalog.dropTempView(name)
        val st = java.nio.file.Files.walk(base)
        try st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally st.close()
      }
    }

  /** Run a synchronous streaming query with a reduced state-partition
    * count: each shuffle partition becomes a state-store directory with
    * per-batch commit files, so 32 partitions of near-empty state are
    * pure filesystem overhead for these bounded replays. The session
    * conf is restored afterwards (batch queries keep their own setting);
    * a live deployment sizes this to its key cardinality instead. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** A parquet table staged as a streaming source directory (the file
    * stream source wants a flat directory of data files): a scratch
    * symlink dir keyed by a strong digest of the absolute source path (a
    * String.hashCode collision between two data dirs would silently
    * aggregate the wrong dataset). The source is either one parquet FILE
    * (the driver's testdata layout) or a DIRECTORY of part files (any
    * Spark-written table, e.g. DataGen's sf1); each data file gets its
    * own link — the file stream source does not recurse through a
    * directory symlink, which would silently replay zero rows. Stale
    * links are recreated.
    *
    * HARNESS-ONLY, hence java.nio on local tmp deliberately: this staging
    * exists to replay a local test parquet as a deterministic stream; a
    * production deployment points readStream at Kafka or a real file/
    * object-store path and never touches this. (The production-shaped
    * pieces — s07's state chain, the migration store, the ANN index —
    * all go through the Hadoop FileSystem API.) */
  private def stagedFileStream(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = spark.read.parquet(path).schema
    val target = java.nio.file.Paths.get(path).toAbsolutePath
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(target.toString.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val streamDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_" + digest)
    java.nio.file.Files.createDirectories(streamDir)
    // the data files to replay: the file itself, or the directory's
    // part files (metadata like _SUCCESS carries no rows and is skipped)
    val sources =
      if (java.nio.file.Files.isDirectory(target)) {
        val st = java.nio.file.Files.list(target)
        try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList.sorted
        finally st.close()
      } else List(target)
    require(sources.nonEmpty, s"no parquet data files under $target")
    val links = sources.map { src =>
      val link = streamDir.resolve(src.getFileName)
      if (java.nio.file.Files.isSymbolicLink(link) &&
          java.nio.file.Files.readSymbolicLink(link) != src)
        java.nio.file.Files.delete(link)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link, src)
      link
    }
    // INVARIANT the single-batch oracles depend on (e.g. s09's
    // global-DISTINCT oracle for dropDuplicatesWithinWatermark): the
    // staged dir holds exactly the source's data files and the
    // AvailableNow replay runs with no maxFilesPerTrigger cap, so ALL
    // of them drain in ONE micro-batch. A stray extra file (stale link
    // from a renamed source, outside interference) would silently
    // change the replayed dataset and invalidate those oracles.
    val staged = {
      val st = java.nio.file.Files.list(streamDir)
      try st.iterator().asScala.toList finally st.close()
    }
    require(staged.toSet == links.toSet,
      s"staged stream dir $streamDir must hold exactly the source's data files, found: $staged")
    spark.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** The events file staged as a streaming source, with `ts` conformed to
    * the catalog's declared TIMESTAMP type (graft.model.Conform — covers
    * int64-nanos, TIMESTAMP(NANOS) and NTZ writer generations alike). */
  private def stagedEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.model.Conform("events", stagedFileStream(spark, s"$dir/events.parquet"))
  }

  /** The MinHash signature index built INCREMENTALLY over a documents
    * stream (SURVEY §2.9 × the dedup pipeline): the exact stateless
    * select/filter plan that builds the stored batch signature table
    * (TextQueries d08) run as a Structured Streaming query — new
    * documents append their signatures to the index with no state at
    * all, which is why the near-dup index of a growing 100 TB corpus is
    * maintained by a stream job, not nightly rebuilds. Banding and
    * candidate joins then read the signature table batch-side
    * (stream-static, as d09 does). */
  def minhashIndexStream(spark: SparkSession, dir: String): DataFrame = {
    val docsStream = stagedFileStream(spark, s"$dir/documents.parquet")
    val sig = graft.sources.TextIndex.streamSignatures(docsStream)
      .select(col("doc_id"), concat_ws(",", col("sig").cast("array<string>")).as("sig"))
    replayToMemory(spark, sig, "stream_sig_", "append")(_.orderBy("doc_id"))
  }

  /** The inverted search index maintained on a document stream
    * (SURVEY §2.9 × the d31 search surface): per-document posting rows
    * (tok, doc_id, tf) computed as a PER-ROW expression — tf comes from
    * counting the token inside the document's own array
    * (`size(filter(toks, = tok))`), never a cross-row groupBy — so the
    * query is STATELESS, exactly like the signature stream: a growing
    * corpus's search index appends from a stream job while probes read
    * the published artifact batch-side. Same oracle family as d31: the
    * DuckDB side recomputes postings from raw text. */
  def postingIndexStream(spark: SparkSession, dir: String): DataFrame = {
    val docsStream = stagedFileStream(spark, s"$dir/documents.parquet")
    val postings = docsStream
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), explode(array_distinct(col("toks"))).as("tok"))
      .select(col("doc_id"), col("tok"),
        size(filter(col("toks"), t => t === col("tok"))).cast("bigint").as("tf"))
    replayToMemory(spark, postings, "stream_inv_", "append")(_.orderBy("tok", "doc_id"))
  }

  /** The exact-substring window-hash index maintained on a document
    * stream: the same native one-pass [[graft.functions.WindowMd5Hashes]]
    * the batch census uses, run per arriving document — stateless, like
    * the signature (s08) and posting (s11) index streams, so every
    * stored index family has a streaming maintenance path. The census
    * (duplicate counting) stays batch-side over the accumulated table,
    * exactly as banding reads the signature table. */
  def windowIndexStream(spark: SparkSession, dir: String): DataFrame = {
    val W = graft.queries.SearchQueries.SubstrW
    val docsStream = stagedFileStream(spark, s"$dir/documents.parquet")
    val w = docsStream
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= W)
      .select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.column(graft.functions.WindowMd5Hashes(
          org.apache.spark.sql.GraftBridge.expression(col("toks")), W)).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), (col("pos") + 1).as("wpos"), col("col").as("h"))
    replayToMemory(spark, w, "stream_win_", "append")(_.orderBy("doc_id", "wpos"))
  }

  /** The BM25 norms table (doc_id, dl — d35's length-normalization
    * input) maintained on a document stream: one stateless per-row
    * expression per arriving document, completing the family contract —
    * every stored search/dedup artifact (signatures s08, postings s11,
    * windows s12, norms s13) has a streaming maintenance path proven
    * row-equal to its batch build. Scoring stays batch-side over the
    * accumulated table, exactly as banding reads the signature table. */
  /** The e12 JL sketch table maintained on an embeddings stream: the
    * IDENTICAL per-row projection the stored artifact is built with
    * ([[graft.sources.AnnIndex.jlProjection]] — factored, not
    * duplicated), run per arriving vector with zero state. Completes the
    * family contract for the round's new artifact: every stored index
    * family (signatures s08, postings s11, windows s12, norms s13, JL
    * sketch s14) has a streaming maintenance path row-equal to batch.
    * Ranking stays batch-side over the accumulated table. */
  def jlSketchStream(spark: SparkSession, dir: String): DataFrame = {
    val embStream = graft.model.Conform("embeddings",
      stagedFileStream(spark, s"$dir/embeddings.parquet"))
    val sketch = graft.sources.AnnIndex.jlProjection(embStream)
    replayToMemory(spark, sketch, "stream_jl_", "append")(_.orderBy("vec_id"))
  }

  /** The PQ code table (e08's stored compressed index) maintained on an
    * embeddings stream (s16): arriving vectors are encoded by the
    * IDENTICAL stateless argmin expression the batch artifact build uses
    * ([[graft.sources.AnnIndex.pqEncodeColumns]] — factored, not
    * duplicated) against the FROZEN STORED codebooks (the e13
    * frozen-quantizer pattern: production retrains codebooks on a
    * schedule, not per ingest, so between retrains the encoder is a
    * constant), making stream and stored-artifact builds row-equal by
    * construction — asserted directly in StreamingSpec. Zero state;
    * probing (LUT + re-rank) stays batch-side over the accumulated
    * table, exactly as e08 reads the published artifact. */
  def pqCodeStream(spark: SparkSession, dir: String): DataFrame = {
    val embStream = graft.model.Conform("embeddings",
      stagedFileStream(spark, s"$dir/embeddings.parquet"))
    val cb = graft.sources.AnnIndex.collectedCodebooks(spark, dir)
    val codes = embStream.select(
      col("vec_id") +: graft.sources.AnnIndex.pqEncodeColumns(cb): _*)
    replayToMemory(spark, codes, "stream_pq_", "append")(_.orderBy("vec_id"))
  }

  /** The COMBINED IVF-PQ index (e14's probe target) maintained on an
    * embeddings stream (s17): an arriving vector's index row is its M PQ
    * codes (the s16 expression against the frozen stored codebooks) PLUS
    * its SRP bucket code at the frozen stored width — BOTH stateless
    * per-row expressions, so the row that streams in is bit-identical to
    * the stored artifact's (asserted in StreamingSpec). In production
    * the sink appends each row into its bucket's directory (a partitioned
    * streaming file sink), which is exactly the add()-path of the
    * partitioned index; probes keep directory-pruning the accumulating
    * artifact unchanged. */
  def ivfPqStream(spark: SparkSession, dir: String): DataFrame = {
    val embStream = graft.model.Conform("embeddings",
      stagedFileStream(spark, s"$dir/embeddings.parquet"))
    val cb = graft.sources.AnnIndex.collectedCodebooks(spark, dir)
    val nb = graft.sources.AnnIndex.nbitsOf(spark, dir)
    val rows = embStream.select(
      (col("vec_id") +: graft.sources.AnnIndex.pqEncodeColumns(cb)) :+
        graft.sources.AnnIndex.srpCode(nb).as("code"): _*)
    replayToMemory(spark, rows, "stream_ivfpq_", "append")(_.orderBy("vec_id"))
  }

  /** The stored dedup index serving a STREAM PROBE (s15): d27's
    * candidate-generation stage moved to ingest time. Arriving delta
    * documents (doc_id ≡ 0 mod 10, the same "today's crawl" split d27
    * prices) band their MinHash signatures row-locally — zero state —
    * and stream-static inner-join the STORED capped corpus member table
    * ([[graft.sources.TextIndex.corpusMemberTable]], d27's LSH index
    * artifact), emitting (batch_id, corpus_id, band) bucket hits as they
    * arrive. 100 TB cost shape, stated honestly: a stream-static join
    * re-plans the STATIC side every trigger, so each micro-batch pays
    * one scan of the narrow stored index (B band rows × corpus reps —
    * the corpus TEXT never participates) hash-joined against the small
    * delta; that is the same per-probe cost shape as d27's batch
    * candidate stage, amortized by the trigger interval (hourly/daily
    * crawl increments, not per-event). A deployment needing per-event
    * latency replicates the member table into a keyed store and keeps
    * this job as the batch-interval tier. Downstream verification
    * consumes the candidate stream exactly as d27's batch tail does.
    * Completes the lifecycle picture: indexes are MAINTAINED by streams
    * (s08/s11-s14) and now also SERVE streams. */
  def dedupProbeStream(spark: SparkSession, dir: String): DataFrame = {
    val docsStream = stagedFileStream(spark, s"$dir/documents.parquet")
    val delta = docsStream.where(pmod(col("doc_id"), lit(10)) === 0)
    val hits = graft.sources.TextIndex.streamBands(delta)
      .join(graft.sources.TextIndex.corpusMemberTable(spark, dir), Seq("band", "bkey"))
      .select(col("doc_id").as("batch_id"), col("corpus_id"), col("band"))
    replayToMemory(spark, hits, "stream_probe_", "append")(
      _.orderBy("batch_id", "corpus_id", "band"))
  }

  /** The stored ANN index SERVING a query STREAM (s18) — the vector-side
    * counterpart of s15's dedup probe, completing the lifecycle symmetry
    * for the vector families too: indexes are MAINTAINED by streams
    * (s14/s16/s17) and now also SERVE streams. Arriving query vectors
    * (1% of ids stand in for the query stream) are coded + normed by the
    * SAME stateless client-side quantization a batch probe runs
    * ([[graft.sources.AnnIndex.codeVectors]] at the FROZEN stored width
    * — the e13 frozen-quantizer pattern), exploded row-locally into
    * their Hamming-ball probe codes (each ball member matches exactly
    * one mask, so the equi-join needs no pair dedup — e03's identity),
    * and stream-static inner-joined against the stored coded-vector
    * index on the bucket code. Hits above the d12 cosine threshold are
    * emitted as they arrive. Zero streaming state. 100 TB cost shape,
    * stated honestly (same as s15): a stream-static join re-plans the
    * static side per trigger, so each micro-batch pays one scan of the
    * narrow code/norm columns hash-joined against the small query
    * delta; per-event latency would replicate the bucket-keyed index
    * into a keyed store and keep this job as the batch-interval tier. */
  def annProbeStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.AnnIndex
    val nb = AnnIndex.nbitsOf(spark, dir)
    val embStream = graft.model.Conform("embeddings",
      stagedFileStream(spark, s"$dir/embeddings.parquet"))
    val queries = AnnIndex.codeVectors(
        embStream.where(pmod(col("vec_id"), lit(100)) === 0), nb)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("code").as("qcode"))
    val probes = queries.select(col("q_id"), col("qvec"), col("qnorm"),
      explode(array(AnnIndex.probeMasksFor(nb).map(m =>
        col("qcode").bitwiseXOR(lit(m))): _*)).as("pcode"))
    val hits = probes
      .join(AnnIndex.codedVectors(spark, dir),
        col("code") === col("pcode") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (AnnIndex.dotNative("embedding", "qvec") / (col("norm") * col("qnorm"))).as("cosine"))
      .where(col("cosine") >= graft.sources.AnnIndex.NearDupCosine)
    replayToMemory(spark, hits, "stream_annprobe_", "append")(_.orderBy("q_id", "vec_id"))
  }

  /** The stored-artifact SIDE-INPUTS of the streaming queries above,
    * resolvable WITHOUT starting any stream — one entry per stream that
    * reads a stored family (s15 → the d27 corpus index via
    * [[graft.sources.TextIndex.corpusMemberTable]]; s16/s17 → the PQ
    * codebooks and the SRP width via [[graft.sources.AnnIndex]]).
    * WarmCoverageSpec drives these alongside the batch-query
    * constructions, so a family would stay gate-enforced even if every
    * BATCH query publishing it were deleted and only a stream kept
    * resolving it (the gate used to skip s-queries wholesale because
    * construction runs their streams — this registry is the
    * construction-path seam that closes that hole). SPEC-ENFORCED as of
    * r14 (SeamCoverageSpec): every s-query runs cold under an
    * ArtifactStore capture and its resolved family set must be covered
    * by its entry here — forgetting an entry (or deleting one whose
    * stream still resolves stored families) fails the build rather than
    * silently dodging the warm gate. */
  private[graft] def artifactSeams(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "s15_stream_dedup_probe" -> (() => { graft.sources.TextIndex.corpusMemberTable(spark, dir); () }),
    "s16_stream_pq_codes" -> (() => { graft.sources.AnnIndex.collectedCodebooks(spark, dir); () }),
    "s17_stream_ivfpq_index" -> (() => {
      graft.sources.AnnIndex.collectedCodebooks(spark, dir)
      graft.sources.AnnIndex.nbitsOf(spark, dir); () }),
    "s18_stream_ann_probe" -> (() => {
      graft.sources.AnnIndex.nbitsOf(spark, dir)
      graft.sources.AnnIndex.codedVectors(spark, dir); () }))

  def normsIndexStream(spark: SparkSession, dir: String): DataFrame = {
    val docsStream = stagedFileStream(spark, s"$dir/documents.parquet")
    val norms = docsStream
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("dl"))
    replayToMemory(spark, norms, "stream_norms_", "append")(_.orderBy("doc_id"))
  }

  /** Streaming dedup via the DEDICATED bounded-state operator,
    * `dropDuplicatesWithinWatermark`: unlike [[streamWindowedDistinct]]
    * (which bounds state by folding an event-time window into the key),
    * this keeps the NATURAL key and lets the engine expire a key's state
    * once the watermark passes its last-seen event time + delay — the
    * first-class Spark shape for at-least-once source dedup, where
    * duplicates arrive within a bounded disorder horizon. Only key
    * columns are emitted, so the replay's output SET is the distinct
    * pairs. INVARIANT the oracle depends on: the staged source is ONE
    * file and therefore ONE micro-batch — under a multi-batch replay
    * (e.g. maxFilesPerTrigger) a key recurring more than the watermark
    * delay after its first sighting would legitimately be re-emitted
    * after state expiry, and the global-DISTINCT oracle would no longer
    * apply. */
  /** The s09 plan shape on an arbitrary events stream — seam shared by
    * the oracle replay and the state-bound spec (StreamingSpec drives it
    * through a MemoryStream across many micro-batches and asserts
    * `stateOperators.numRowsTotal` plateaus: eviction observed, not
    * assumed). */
  private[graft] def dedupWithinWatermarkPlan(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "1 day")
    .select(col("user_id"), col("event_type"), col("ts"))
    .dropDuplicatesWithinWatermark("user_id", "event_type")
    .select(col("user_id"), col("event_type"))

  def streamDedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    val dd = dedupWithinWatermarkPlan(stagedEventsStream(spark, dir))
    replayToMemory(spark, dd, "stream_ddww_", "append")(_.orderBy("user_id", "event_type"))
  }

  /** The s01 plan shape on an arbitrary events stream (seam shared by the
    * oracle replay and the encoding-conformance spec, see
    * [[dedupWithinWatermarkPlan]]). */
  private[graft] def dailyBucketsPlan(ev: DataFrame): DataFrame = ev
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("cnt"),
        graft.functions.DuckDecimalCast.duckDouble(
          sum(graft.functions.DuckDecimalCast.duckDecimal6(col("value")))).as("val_sum"))
      .select(unix_millis(col("w.start")).as("bucket_ms"), col("cnt"), col("val_sum"))

  /** Daily count+sum buckets over a parquet events stream, processed with
    * Trigger.AvailableNow into an in-memory table (batch-equivalent run). */
  def dailyBuckets(spark: SparkSession, dir: String): DataFrame =
    replayToMemory(spark, dailyBucketsPlan(stagedEventsStream(spark, dir)),
      "stream_daily_", "complete")(_.orderBy("bucket_ms"))

  /** Streaming exact deduplication: the distinct (user_id, event_type)
    * pairs seen on the stream via dropDuplicates state, emitted on first
    * sight (append mode). Only the KEY columns are emitted, so the output
    * set is deterministic regardless of which physical row wins inside a
    * batch. A production deployment bounds the state with
    * `dropDuplicatesWithinWatermark`; unbounded state is fine for this
    * finite replay. */
  def streamDistinctPairs(spark: SparkSession, dir: String): DataFrame = {
    val ev = stagedEventsStream(spark, dir)
    val distinctPairs = ev.select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    replayToMemory(spark, distinctPairs, "stream_dedup_", "append")(_.orderBy("user_id", "event_type"))
  }

  /** Streaming dedup with BOUNDED state: distinct (user_id, event_type,
    * day-window) under a 1-day watermark. Unlike [[streamDistinctPairs]]
    * (whose state grows with the number of distinct keys forever), the
    * dedup key includes the event-time window, so state for windows older
    * than the watermark is evicted — the shape that survives an unbounded
    * stream. Only key columns are emitted (first-sight append), so the
    * output SET equals `SELECT DISTINCT user_id, event_type, day`. */
  /** The s04 plan shape on an arbitrary events stream (state-bound spec
    * seam, see [[dedupWithinWatermarkPlan]]). */
  private[graft] def windowedDistinctPlan(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "1 day")
    .withColumn("w", window(col("ts"), "1 day"))
    .dropDuplicates("user_id", "event_type", "w")
    .select(col("user_id"), col("event_type"), unix_millis(col("w.start")).as("day_ms"))

  def streamWindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val dd = windowedDistinctPlan(stagedEventsStream(spark, dir))
    replayToMemory(spark, dd, "stream_wdedup_", "append")(_.orderBy("user_id", "event_type", "day_ms"))
  }

  /** Streaming upsert via foreachBatch (SURVEY §2.1 — the streaming
    * analog of the insert path): each micro-batch's per-key aggregates
    * are MERGED into a versioned state table (read version N, union,
    * re-aggregate, write version N+1). Versioned directories instead of
    * in-place overwrite: a parquet table cannot be atomically overwritten
    * while being read, and versions double as the commit log — the same
    * shape a lakehouse MERGE INTO performs transactionally. Returns the
    * final state version as a DataFrame. */
  def foreachBatchUpsert(spark: SparkSession, dir: String, stateRoot: String): DataFrame = {
    val ev = stagedEventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
    def versionPath(v: Long) = s"$stateRoot/v$v"
    // the state chain is a production shape, so its bookkeeping (applied-
    // batch markers, final cleanup) goes through the Hadoop FileSystem of
    // the state root — a remote stateRoot (HDFS/S3A) works unchanged
    val rootPath = new org.apache.hadoop.fs.Path(stateRoot)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var version = 0L
    // seed: empty state (version 0)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_type STRING, cnt BIGINT"))
      .write.mode("overwrite").parquet(versionPath(0))
    val name = "stream_upsert_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // explicit scratch checkpoint (see scratchBase) instead of Spark's
    // implicit tmpdir temp checkpoint; the versioned state chain itself
    // stays on the caller's stateRoot (the production-shaped piece)
    val ckptBase = scratchBase(spark, "upsert_")
    try withStatePartitions(spark, 8) {
      val q = ev.writeStream
        .queryName(name)
        .option("checkpointLocation", s"$ckptBase/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // foreachBatch may redeliver a batch after a failure/restart —
          // an applied-batch marker makes the merge idempotent by batchId
          // (the contract the versioned MERGE shape requires)
          val marker = new org.apache.hadoop.fs.Path(rootPath, s"_applied_$batchId")
          if (!fs.exists(marker)) {
            val incoming = batch.groupBy(col("user_id"), col("event_type"))
              .agg(count(lit(1)).as("cnt"))
            val merged = spark.read.parquet(versionPath(version))
              .unionByName(incoming)
              .groupBy(col("user_id"), col("event_type"))
              .agg(sum(col("cnt")).cast("bigint").as("cnt"))
            merged.write.mode("overwrite").parquet(versionPath(version + 1))
            version += 1
            fs.create(marker, false).close()
          }
          ()
        }
        .start()
      q.awaitTermination()
    } finally {
      val st = java.nio.file.Files.walk(ckptBase)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
    // materialize the final state (localCheckpoint is eager), then clean
    // up the scratch version chain; the sort stays lazily on top of the
    // checkpointed blocks
    val result = spark.read.parquet(versionPath(version)).localCheckpoint()
    fs.delete(rootPath, true)
    result.orderBy("user_id", "event_type")
  }

  /** Stream-static join: events stream enriched against the (batch)
    * customer dimension — the standard streaming-enrichment shape. The
    * static side is broadcast, so each micro-batch is a map-side join
    * with NO state and no shuffle; at scale the dimension is re-read per
    * batch, picking up slowly-changing updates for free. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = stagedEventsStream(spark, dir)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = ev.join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("c_mktsegment"))
    replayToMemory(spark, joined, "stream_sj_", "append")(_.orderBy("event_id"))
  }

  /** Stream-stream time-interval self-join: pairs of events by the same
    * user within 5 minutes of each other. Both sides carry a watermark
    * and the join condition bounds event time, so each side's state is
    * evicted once the other side's watermark passes — the bounded-state
    * stream-stream join shape. Replayed here as one batch, making the
    * output the complete deterministic pair set.
    *
    * Known planner noise, verified benign: `StreamingJoinHelper` probes
    * EVERY `<` conjunct for a state bound, including the non-time
    * `a_id < b_id` pair-dedup term, and WARN-logs the internal error it
    * catches on it (`getStateWatermarkFromLessThenPredicate` — "Cannot
    * evaluate expression: a_id"). The executed plan still carries
    * watermark state-cleanup predicates for BOTH sides (probed on Spark
    * 4.1.2: `state cleanup [left value predicate: a_ts-1h <= W, right
    * value predicate: b_ts-1h <= W]`), so state stays bounded; moving the
    * term to a post-join filter doesn't help because predicate pushdown
    * folds it straight back into the join condition. The bench harness
    * raises that one logger to ERROR so the driver-read stderr tail stays
    * meaningful. */
  /** The s06 plan shape over two event streams (state-bound spec seam,
    * see [[dedupWithinWatermarkPlan]]). */
  private[graft] def intervalSelfJoinPlan(s1: DataFrame, s2: DataFrame): DataFrame = {
    val e1 = s1.withWatermark("ts", "1 hour")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"), col("ts").as("a_ts"))
    val e2 = s2.withWatermark("ts", "1 hour")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts").as("b_ts"))
    e1.join(e2,
      col("a_user") === col("b_user") && col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") && col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("a_id"), col("b_id"))
  }

  def streamIntervalSelfJoin(spark: SparkSession, dir: String): DataFrame = {
    val joined = intervalSelfJoinPlan(
      stagedEventsStream(spark, dir), stagedEventsStream(spark, dir))
    replayToMemory(spark, joined, "stream_ssj_", "append")(_.orderBy("a_id", "b_id"))
  }

  // ------------------------------------------------------ custom state (s10)

  /** Open-session state carried per user by [[sessionizePlan]]. */
  private[graft] case class OpenSession(startMs: Long, lastMs: Long, n: Long)

  private[graft] val SessionGapMs = 1800000L // 30 min inactivity closes a session

  /** Per-user event sessionization with CUSTOM state —
    * `flatMapGroupsWithState` + event-time timeout, the Structured
    * Streaming shape for stateful logic the built-in operators can't
    * express (a session has no fixed window: its extent depends on the
    * data). Semantics match the batch sessionization (q74): a >30-minute
    * silence closes a session. Sessions closed by an in-batch gap are
    * emitted immediately; the trailing open session per user is emitted
    * when its event-time timeout (last event + gap) falls strictly below
    * the watermark (max event time − 1 h) — Spark fires timed-out state
    * on the post-data batch the watermark advance triggers. Sessions the
    * final watermark has not passed remain open (unemitted), exactly as
    * a live deployment would hold them for the next batch.
    *
    * Scale notes: state is one 24-byte triple per ACTIVE user (bounded by
    * the timeout eviction, asserted in StreamingSpec), grouped state
    * shuffles only (user_id, ts) pairs, and late events beyond the
    * watermark are dropped before the operator. Within-watermark disorder
    * folds into the open session (min/max guards below); it can never
    * reopen an already-emitted session — the timeout only fires once the
    * watermark proves no such event can arrive.
    *
    * DECLARED disorder limit (cross-batch): events are sorted within a
    * micro-batch, but an event older than the open session's start
    * arriving in a LATER batch (t < startMs, still inside the watermark)
    * folds into that session via the min/max guards even when its gap to
    * the session interior exceeds SessionGapMs — `t - lastMs <= gap` is
    * trivially true for t < lastMs. Batch sessionization (q74) would
    * instead split there, so such input diverges from the oracle. The
    * operator therefore ASSUMES per-user in-order delivery across
    * batches within the watermark (true of the replay harness, of any
    * per-key-ordered source like a user-keyed Kafka topic, and of the
    * oracle gate); a deployment with cross-batch per-user disorder needs
    * a buffer-and-sort-on-timeout state shape (hold events, sort at
    * emission) — a deliberate non-goal here, matching the reference's
    * ordered-iterator sessionization. */
  private[graft] def sessionizePlan(spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = ev.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed last event + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single((userId, s.startMs, s.lastMs, s.n))
          } else {
            // Timestamp.getTime floors to epoch-millis — the same
            // precision the watermark machinery and the epoch_ms oracle
            // use, so gap comparisons agree across engines
            val ts = rows.map(_._2.getTime).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var cur = state.getOption
            for (t <- ts) cur = cur match {
              case Some(s) if t - s.lastMs <= SessionGapMs =>
                Some(OpenSession(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
              case Some(s) =>
                out += ((userId, s.startMs, s.lastMs, s.n))
                Some(OpenSession(t, t, 1))
              case None => Some(OpenSession(t, t, 1))
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + SessionGapMs)
            }
            out.iterator
          }
      }
      .toDF("user_id", "start_ms", "end_ms", "n_events")
  }

  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionizePlan(spark, stagedEventsStream(spark, dir))
    replayToMemory(spark, sessions, "stream_sess_", "append")(_.orderBy("user_id", "start_ms"))
  }

  /** Watermarked append-mode variant (the unbounded-stream shape): 1-hour
    * tumbling windows, 2-hour watermark. Used by the streaming spec. */
  def hourlyAppend(spark: SparkSession, events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("bucket"), col("cnt"))

  /** End-to-end watermark semantics over the events file, APPEND mode —
    * the scalable unbounded-stream shape run as a deterministic batch
    * replay: the input is staged as two files processed as separate
    * micro-batches (maxFilesPerTrigger=1) so the watermark genuinely
    * advances mid-stream, and only windows closed by the final watermark
    * (max event time − 2 h) are emitted. State is bounded by the
    * watermark — exactly what a live Kafka deployment of this plan does. */
  def hourlyWatermarked(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val ev0 = graft.model.Conform("events", spark.read.parquet(path))
    // stage-dir key includes the source file's size and mtime so a
    // regenerated input at the same path invalidates the cached split
    val target = java.nio.file.Paths.get(path).toAbsolutePath
    val attrs = java.nio.file.Files.readAttributes(target, classOf[java.nio.file.attribute.BasicFileAttributes])
    val stamp = s"wm:$target:${attrs.size}:${attrs.lastModifiedTime.toMillis}"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(stamp.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val stageDir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_stream_" + digest)
    if (!java.nio.file.Files.exists(stageDir.resolve("_done"))) {
      // deterministic two-way split at the midpoint of the time range —
      // the min/max scan runs ONLY when staging; a cached split (any
      // later run on the same source bytes, same session or not) pays
      // zero corpus passes before the replay itself
      val Array(lo, hi) = ev0.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      ev0.where(unix_micros(col("ts")) <= mid).coalesce(1)
        .write.mode("overwrite").parquet(stageDir.resolve("p1").toString)
      ev0.where(unix_micros(col("ts")) > mid).coalesce(1)
        .write.mode("overwrite").parquet(stageDir.resolve("p2").toString)
      // FileStreamSource orders files by modification time — pin p1's files
      // strictly before p2's instead of relying on write order, which a
      // coarse-mtime filesystem could tie (ties would replay p2 first and
      // drop the early windows as late data).
      def pinMtime(sub: String, millis: Long): Unit = {
        val d = stageDir.resolve(sub)
        val st = java.nio.file.Files.list(d)
        try st.forEach(f =>
          java.nio.file.Files.setLastModifiedTime(
            f, java.nio.file.attribute.FileTime.fromMillis(millis)))
        finally st.close()
      }
      val t0 = System.currentTimeMillis()
      pinMtime("p1", t0 - 120000)
      pinMtime("p2", t0 - 60000)
      java.nio.file.Files.createFile(stageDir.resolve("_done"))
    }
    val schema = spark.read.parquet(stageDir.resolve("p1").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir.toString + "/p*")
    val agg = hourlyAppend(spark, stream)
      .select(unix_millis(col("bucket")).as("bucket_ms"), col("cnt"))
    replayToMemory(spark, agg, "stream_hourly_", "append")(_.orderBy("bucket_ms"))
  }
}
