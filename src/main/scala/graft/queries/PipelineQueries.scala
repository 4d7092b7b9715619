package graft.queries

import org.apache.spark.sql.functions._
import graft.pipeline.Multimodal
import graft.sources.TestData
import graft.streaming.StreamAgg
import CoreQueries.Q

/** Multimodal + streaming entries of the pipeline surface. */
object PipelineQueries {

  val all: Seq[Q] = Seq(
    Q("m01_binary_features",
      (s, dir) => {
        val docs = TestData.graph(s, dir).V("documents").df
          .select(col("doc_id"), col("text").cast("binary").as("blob"))
        Multimodal.extractFeatures(s, docs).orderBy("doc_id")
      },
      // text is ASCII, so first_byte == ascii of the first char and the
      // blob byte length == the string length.
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len,
             |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
             |  md5(text) AS content_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("m05_attachment_hashes",
      // the reference's attachment Hasher (utils/Hash.scala:16-43:
      // Hasher("SHA-256", "MD5") streams each stored blob through a set
      // of MessageDigests for IOC/attachment records) re-expressed as
      // ONE codegen'd pass over the blob column: every algorithm's
      // digest rides the same scan — per-row, no shuffle, no re-read
      // per algorithm (the streaming-digest shape a single-node engine
      // needs is unnecessary when the blob is already a column value).
      (s, dir) => {
        val blobs = TestData.graph(s, dir).V("documents").df
          .select(col("doc_id"), col("text").cast("binary").as("blob"))
        blobs.select(col("doc_id"),
          md5(col("blob")).as("hash_md5"),
          sha2(col("blob"), 256).as("hash_sha256"))
          .orderBy("doc_id")
      },
      // text is ASCII so the blob bytes equal the string bytes
      Some("""SELECT doc_id, md5(text) AS hash_md5, sha256(text) AS hash_sha256
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("m03_blob_chunk_roundtrip",
      // chunked blob storage round-trip: split payloads into 64-byte
      // chunks, reassemble from the chunk table, prove the md5 matches the
      // original content computed independently by the oracle
      (s, dir) => {
        val blobs = TestData.graph(s, dir).V("documents").df
          .select(col("doc_id"), col("text").cast("binary").as("blob"))
        Multimodal.reassembleBlobs(Multimodal.chunkBlobs(blobs, 64))
          .select(col("doc_id"), col("n_chunks"), md5(col("blob")).as("content_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, greatest(CAST(ceil(length(text) / 64.0) AS BIGINT), 1) AS n_chunks,
             |  md5(text) AS content_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("m04_modality_routing",
      // modality dispatch: payloads routed by mime class into per-modality
      // feature pipelines (image → codec features via the per-partition
      // mapPartitions stage, audio → frame sampling, text → tokenization),
      // then unioned under one feature schema. Routing is a filter per
      // branch (partition-prunable when the lake partitions by modality);
      // each branch keeps its own batch shape, and the union returns to
      // one narrow Catalyst-planned schema.
      (s, dir) => {
        val docs = TestData.graph(s, dir).V("documents").df
          .select(col("doc_id"), col("text"),
            element_at(array(lit("image/png"), lit("audio/wav"), lit("text/plain")),
              (col("doc_id") % 3).cast("int") + 1).as("mime"))
        val img = Multimodal.extractFeatures(s,
          docs.where(col("mime") === "image/png")
            .select(col("doc_id"), col("text").cast("binary").as("blob")))
          .select(col("doc_id"), lit("image").as("modality"),
            col("byte_len").as("feat"), col("content_md5").as("detail"))
        val audio = Multimodal.sampleFrames(s,
          docs.where(col("mime") === "audio/wav")
            .select(col("doc_id"), col("text").cast("binary").as("blob")), 4)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("feat"), min(col("frame_md5")).as("detail"))
          .select(col("doc_id"), lit("audio").as("modality"), col("feat"), col("detail"))
        val txt = docs.where(col("mime") === "text/plain")
          .select(col("doc_id"), lit("text").as("modality"),
            size(split(col("text"), " ")).cast("bigint").as("feat"),
            element_at(split(col("text"), " "), 1).as("detail"))
        img.unionByName(audio).unionByName(txt).orderBy("doc_id")
      },
      Some("""WITH routed AS (SELECT doc_id, text,
             |    ['image/png','audio/wav','text/plain'][CAST(doc_id % 3 AS INT) + 1] AS mime
             |  FROM documents)
             |SELECT doc_id, 'image' AS modality, CAST(length(text) AS BIGINT) AS feat,
             |  md5(text) AS detail
             |FROM routed WHERE mime = 'image/png'
             |UNION ALL
             |SELECT doc_id, 'audio', 4,
             |  (SELECT min(md5(substr(r.text, CAST(i*length(r.text)//4 + 1 AS BIGINT),
             |     CAST((i+1)*length(r.text)//4 - i*length(r.text)//4 AS BIGINT))))
             |   FROM (SELECT unnest(generate_series(0, 3)) AS i))
             |FROM routed r WHERE mime = 'audio/wav'
             |UNION ALL
             |SELECT doc_id, 'text', CAST(len(string_split(text, ' ')) AS BIGINT),
             |  split_part(text, ' ', 1)
             |FROM routed WHERE mime = 'text/plain'
             |ORDER BY doc_id""".stripMargin)),

    Q("m02_frame_sample",
      // video/audio frame-sampling plumbing: each payload fans out to 4
      // evenly-spaced byte slices; text is ASCII so the oracle reproduces
      // the slicing with substr
      (s, dir) => {
        val docs = TestData.graph(s, dir).V("documents").df
          .select(col("doc_id"), col("text").cast("binary").as("blob"))
        Multimodal.sampleFrames(s, docs, 4).orderBy("doc_id", "frame_idx")
      },
      Some("""SELECT doc_id, CAST(i AS INT) AS frame_idx,
             |  CAST((i+1)*length(text)//4 - i*length(text)//4 AS BIGINT) AS frame_len,
             |  md5(substr(text, CAST(i*length(text)//4 + 1 AS BIGINT),
             |      CAST((i+1)*length(text)//4 - i*length(text)//4 AS BIGINT))) AS frame_md5
             |FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    Q("s01_stream_daily_buckets",
      (s, dir) => StreamAgg.dailyBuckets(s, dir),
      Some("""SELECT (epoch_ms(ts) - epoch_ms(ts) % 86400000) AS bucket_ms, count(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS val_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("s03_stream_dedup",
      // streaming exact dedup via dropDuplicates state, first-sight append
      (s, dir) => StreamAgg.streamDistinctPairs(s, dir),
      Some("SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2")),

    Q("s04_stream_windowed_dedup",
      // bounded-state streaming dedup: the dedup key includes the 1-day
      // event-time window, so watermarking evicts old windows — the
      // unbounded-stream shape, vs s03's grow-forever key state
      (s, dir) => StreamAgg.streamWindowedDistinct(s, dir),
      Some("""SELECT DISTINCT user_id, event_type,
             |  (epoch_ms(ts) - epoch_ms(ts) % 86400000) AS day_ms
             |FROM events ORDER BY 1, 2, 3""".stripMargin)),

    Q("s05_stream_static_join",
      // streaming enrichment: stream side joined to a broadcast batch
      // dimension, stateless append — the standard enrich-then-land shape
      (s, dir) => StreamAgg.streamStaticJoin(s, dir),
      Some("""SELECT event_id, c_mktsegment FROM events JOIN customer
             |  ON user_id = c_custkey ORDER BY event_id""".stripMargin)),

    Q("s06_stream_interval_join",
      // stream-stream time-interval self-join with watermark-bounded state
      (s, dir) => StreamAgg.streamIntervalSelfJoin(s, dir),
      Some("""SELECT e1.event_id AS a_id, e2.event_id AS b_id
             |FROM events e1 JOIN events e2
             |  ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
             | AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
             |ORDER BY 1, 2""".stripMargin)),

    Q("s09_stream_dedup_within_watermark",
      // the dedicated bounded-state dedup operator: natural key kept,
      // state expired by the watermark (vs s04's window-in-key encoding)
      (s, dir) => StreamAgg.streamDedupWithinWatermark(s, dir),
      Some("SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2")),

    Q("s08_stream_minhash_index",
      // the dedup signature index maintained incrementally: the d08 plan
      // (stateless shingle→MinHash selects) over a streaming documents
      // source — same oracle as the batch index, proving stream and batch
      // builds agree row-for-row
      (s, dir) => StreamAgg.minhashIndexStream(s, dir),
      TextQueries.all.find(_.name == "d08_minhash_signature").get.oracle),

    Q("s12_stream_window_index",
      // the exact-substring window index maintained incrementally: the
      // batch census's native one-pass window hashing over a streaming
      // documents source — stream and batch index builds agree
      // row-for-row (every stored index family now has a stream path)
      (s, dir) => StreamAgg.windowIndexStream(s, dir),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              |p AS (SELECT doc_id, unnest(toks) AS tok,
              |        unnest(generate_series(1, len(toks))) AS pos FROM t)
              |SELECT doc_id, pos AS wpos,
              |  md5(string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
              |        ROWS BETWEEN CURRENT ROW AND ${SearchQueries.SubstrW - 1} FOLLOWING)) AS h
              |FROM p
              |QUALIFY pos <= count(*) OVER (PARTITION BY doc_id) - ${SearchQueries.SubstrW - 1}
              |ORDER BY doc_id, wpos""".stripMargin)),

    Q("s11_stream_posting_index",
      // the d31/d32 search index maintained incrementally: per-document
      // posting rows from a stateless per-row expression over a streaming
      // documents source — stream and batch builds agree row-for-row
      (s, dir) => StreamAgg.postingIndexStream(s, dir),
      Some("""SELECT t AS tok, doc_id, CAST(count(*) AS BIGINT) AS tf
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
             |GROUP BY 1, 2 ORDER BY tok, doc_id""".stripMargin)),

    Q("s14_stream_jl_sketch",
      // e12's stored JL sketch maintained incrementally: the factored
      // batch projection over a streaming embeddings source — stream and
      // stored-artifact builds agree row-for-row, so the round's new
      // artifact family keeps the "every stored index has a stream path"
      // contract. Oracle recomputes every coordinate from raw embeddings.
      // Registry shape: the sketch is emitted as SCALAR REAL columns
      // c00..c15 (the driver's compare harness sorts rows with pandas
      // before hashing, which cannot sort an array-typed column — the
      // r10 red row); the stream itself still maintains (vec_id, pvec),
      // the stored-artifact shape, and the flatten is a free projection.
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val jlDim = graft.sources.AnnIndex.jlDim
        StreamAgg.jlSketchStream(s, dir).select(
          col("vec_id") +: (0 until jlDim).map(j => col("pvec")(j).as(f"c$j%02d")): _*)
      },
      Some {
        import graft.sources.AnnIndex.{jlCoordSql, jlDim}
        s"""SELECT vec_id,
           |  ${(0 until jlDim).map(j => f"${jlCoordSql(j)} AS c$j%02d").mkString(",\n   ")}
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }),

    Q("s16_stream_pq_codes",
      // e08's stored PQ code table maintained incrementally: arriving
      // vectors encoded by the batch build's exact argmin expression
      // against the FROZEN stored codebooks (s14's factored-expression
      // contract + e13's frozen-quantizer contract, applied to the
      // round's new artifact family) — stream and stored-artifact builds
      // are row-equal by construction; the oracle recomputes codebooks
      // AND encode from raw embeddings. Registry shape: k columns cast
      // BIGINT to match the oracle's row_number arithmetic.
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val ks = (0 until graft.sources.AnnIndex.MSub).map(m => s"k$m")
        StreamAgg.pqCodeStream(s, dir).select(
          col("vec_id") +: ks.map(k => col(k).cast("bigint").as(k)): _*)
      },
      Some(VectorOracles.pqCodesOracleSql)),

    Q("s17_stream_ivfpq_index",
      // e14's COMBINED index maintained incrementally: arriving vectors
      // emit their full index row — M PQ codes (the s16 expression,
      // frozen stored codebooks) plus the SRP bucket code at the frozen
      // stored width — both stateless per-row expressions, so the
      // streamed rows are bit-identical to the stored artifact
      // (StreamingSpec asserts it directly). Oracle recomputes codebooks,
      // encode AND bucket codes from raw embeddings.
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val ks = (0 until graft.sources.AnnIndex.MSub).map(m => s"k$m")
        StreamAgg.ivfPqStream(s, dir).select(
          col("vec_id") +: (ks.map(k => col(k).cast("bigint").as(k)) :+ col("code")): _*)
      },
      Some(VectorOracles.ivfPqOracleSql)),

    Q("s15_stream_dedup_probe",
      // the stored dedup index SERVING a stream (vs s08-s14, which
      // maintain indexes FROM streams): arriving delta docs band their
      // signatures statelessly and stream-static join the stored capped
      // corpus member table, emitting (batch_id, corpus_id, band)
      // candidate hits at ingest time — d27's candidate stage as an
      // online probe. Oracle recomputes both sides from raw text.
      (s, dir) => StreamAgg.dedupProbeStream(s, dir),
      Some(TextQueries.streamProbeOracleSql)),

    Q("s18_stream_ann_probe",
      // the stored ANN index SERVING a query stream — s15's vector-side
      // counterpart: arriving query vectors quantize statelessly at the
      // frozen width, explode into their Hamming-ball probe codes, and
      // stream-static join the stored coded-vector index; hits above the
      // d12 cosine threshold emit at ingest time. Oracle recomputes both
      // sides from raw embeddings.
      (s, dir) => StreamAgg.annProbeStream(s, dir),
      Some(VectorOracles.annProbeStreamOracleSql)),

    Q("s13_stream_norms_index",
      // the d35 norms table maintained incrementally: per-document length
      // rows from a stateless expression over a streaming documents
      // source — stream and batch builds agree row-for-row, so every
      // stored search artifact family has a streaming maintenance path
      (s, dir) => StreamAgg.normsIndexStream(s, dir),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("s10_stream_sessionize",
      // custom-state streaming: flatMapGroupsWithState sessionization
      // with event-time timeout — emitted sessions are those closed by an
      // in-batch gap (all but each user's last) or whose timeout (last
      // event + 30 min) fell strictly below the final watermark (max
      // event time − 1 h); the still-open tail sessions stay in state
      (s, dir) => StreamAgg.streamSessionize(s, dir),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS gap
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts, sum(gap) OVER (
             |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |sess AS (
             |  SELECT user_id, sid, min(epoch_ms(ts)) AS start_ms,
             |    max(epoch_ms(ts)) AS end_ms, CAST(count(*) AS BIGINT) AS n_events
             |  FROM s GROUP BY 1, 2),
             |wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events)
             |SELECT user_id, start_ms, end_ms, n_events FROM sess, wm
             |WHERE sid < (SELECT max(s2.sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
             |   OR end_ms + 1800000 < w
             |ORDER BY user_id, start_ms""".stripMargin)),

    Q("s07_stream_foreachbatch_upsert",
      // streaming write path: per-batch MERGE of key aggregates into a
      // versioned state table via foreachBatch (the insert/upsert sink)
      (s, dir) => StreamAgg.foreachBatchUpsert(s, dir),
      Some("""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("s02_stream_hourly_watermark",
      // append-mode watermark semantics, batch-replayed deterministically:
      // emitted windows are exactly those closed by the final watermark
      // (max event time − 2 h)
      (s, dir) => StreamAgg.hourlyWatermarked(s, dir),
      Some("""WITH b AS (
             |  SELECT (epoch_ms(ts) - epoch_ms(ts) % 3600000) AS bucket_ms, count(*) AS cnt
             |  FROM events GROUP BY 1),
             |wm AS (SELECT max(epoch_ms(ts)) - 7200000 AS w FROM events)
             |SELECT bucket_ms, cnt FROM b, wm WHERE bucket_ms + 3600000 <= w
             |ORDER BY bucket_ms""".stripMargin))
  )
}
