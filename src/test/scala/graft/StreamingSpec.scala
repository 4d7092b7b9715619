package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamAgg

/** Structured Streaming surface: watermarked tumbling windows behave like
  * the batch time aggregation on the same events. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  it("replay scratch defaults to /dev/shm only under a local master") {
    val shm = Some(java.nio.file.Paths.get("/dev/shm"))
    assert(StreamAgg.scratchRoot("local[4]", None, shmWritable = true) == shm)
    assert(StreamAgg.scratchRoot("local[4]", None, shmWritable = false).isEmpty)
    // a cluster master falls back to the JVM temp dir even when the
    // driver's /dev/shm is writable
    for (m <- Seq("yarn", "spark://host:7077", "k8s://https://host:6443"); w <- Seq(true, false))
      assert(StreamAgg.scratchRoot(m, None, w).isEmpty, m)
    // an explicit scratchRoot wins under any master
    for (m <- Seq("local[*]", "yarn"); w <- Seq(true, false))
      assert(StreamAgg.scratchRoot(m, Some("/data/scratch"), w) ==
        Some(java.nio.file.Paths.get("/data/scratch")), m)
  }

  it("hourlyAppend emits closed windows under watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
    val out = StreamAgg.hourlyAppend(spark, df)
    val q = out.writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()

    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 10:05:00"), 1.0), (t("2024-01-01 10:45:00"), 2.0))
    q.processAllAvailable()
    // advance event time far past the watermark so the 10:00 window closes
    mem.addData((t("2024-01-01 15:00:00"), 3.0))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 18:00:00"), 4.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("hourly_test")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    assert(rows.get("2024-01-01 10:00:00.0").contains(2L))
  }

  it("s16's stream-maintained PQ codes equal the stored batch artifact row-for-row") {
    // the frozen-quantizer stream contract: encoding arriving vectors
    // against the STORED codebooks with the batch build's exact
    // expression must reproduce the stored code table exactly — a drift
    // here would mean stream-appended index rows disagree with rebuilt
    // ones, silently corrupting e08 probes
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamAgg.pqCodeStream(spark, sfDir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val stored = graft.sources.AnnIndex.pqCodes(spark, sfDir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == stored)
  }

  it("s17's stream-maintained combined IVF-PQ rows equal the stored artifact row-for-row") {
    val sfDir = "/root/testdata/sf0.001"
    val cols = "vec_id" +: (0 until graft.sources.AnnIndex.MSub).map(m => s"k$m") :+ "code"
    val streamed = StreamAgg.ivfPqStream(spark, sfDir)
      .select(cols.head, cols.tail: _*)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // the artifact's partition column reads back as the directory key's
    // narrowest inferred type — normalize to the coder's long
    val stored = graft.sources.AnnIndex.ivfPqIndex(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id") +:
        (0 until graft.sources.AnnIndex.MSub).map(m => org.apache.spark.sql.functions.col(s"k$m")) :+
        org.apache.spark.sql.functions.col("code").cast("long").as("code"): _*)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == stored)
  }

  it("s18's streamed ANN-probe hits equal the same plan run as a batch") {
    // the serve-stream contract: the probe is stateless row-local work +
    // a stream-static join, so replaying the query vectors through the
    // streaming harness (file-stream staging, AvailableNow, parquet-sink
    // round trip) must reproduce EXACTLY the rows the identical plan
    // yields over a batch source — a difference means the streaming
    // machinery dropped/duplicated hits, independent of the value-level
    // oracle (which gates arithmetic, not replay fidelity)
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamAgg.annProbeStream(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val A = graft.sources.AnnIndex
    val nb = A.nbitsOf(spark, sfDir)
    val emb = graft.sources.TestData.graph(spark, sfDir).V("embeddings").df
    val queries = A.codeVectors(emb.where(pmod(col("vec_id"), lit(100)) === 0), nb)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("code").as("qcode"))
    val batch = queries
      .select(col("q_id"), col("qvec"), col("qnorm"),
        explode(array(A.probeMasksFor(nb).map(m =>
          col("qcode").bitwiseXOR(lit(m))): _*)).as("pcode"))
      .join(A.codedVectors(spark, sfDir),
        col("code") === col("pcode") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (A.dotNative("embedding", "qvec") / (col("norm") * col("qnorm"))).as("cosine"))
      .where(col("cosine") >= A.NearDupCosine)
      .orderBy("q_id", "vec_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  it("batch dailyBuckets matches the batch time aggregation") {
    val streamed = StreamAgg.dailyBuckets(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.queries.TimeQueries.all.find(_.name == "t01_time_agg_day").get
      .fn(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  it("s05 and s07 declare their batch-side parquet schemas: no inference job") {
    // a bare spark.read.parquet runs a schema-inference job on every call:
    // a job outside any SQL execution whose stages are named for the
    // reading line (a parquet write runs inside one). Declared reads run
    // none. A job started inside foreachBatch is named for the stream's
    // `start` line instead, so this sees the reads on the calling thread.
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.sql.execution.id") == null)
          e.stageInfos.foreach(st => sites.add(st.name))
    }
    val sfDir = "/root/testdata/sf0.001"
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(StreamAgg.streamStaticJoin(spark, sfDir).collect().nonEmpty)
      assert(StreamAgg.foreachBatchUpsert(spark, sfDir).collect().nonEmpty)
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val inferred = sites.asScala.filter(_.startsWith("parquet at StreamAgg.scala:"))
    assert(inferred.isEmpty, s"schema-inference jobs: ${inferred.mkString(", ")}")
  }

  /** Drive a plan through a MemoryStream for `chunks` micro-batches of
    * time-advancing events and return each non-empty batch's total state
    * rows (`StreamingQueryProgress.stateOperators.numRowsTotal` summed
    * over operators). Each chunk carries the SAME `keys` key set stamped
    * into a new time period, so unbounded state would grow ≈ linearly in
    * the batch number while watermark-evicted state plateaus. */
  private def stateRowsPerBatch(
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      chunks: Int, keys: Int, stepSeconds: Long,
      userIdOf: (Int, Int) => Long = (_, k) => k.toLong): Seq[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val name = "state_bound_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = plan(df).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      var eventId = 0L
      (0 until chunks).foreach { c =>
        val rows = (0 until keys).map { k =>
          eventId += 1
          (eventId, new java.sql.Timestamp(t0 + c * stepSeconds * 1000 + k),
            userIdOf(c, k), "t", 1.0)
        }
        mem.addData(rows: _*)
        q.processAllAvailable()
      }
      q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
        .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    } finally { q.stop(); spark.sql(s"DROP TABLE IF EXISTS $name") }
  }

  /** Plateau assertion: by the end of the run the state must sit at a
    * small multiple of ONE chunk's key count (the watermark horizon),
    * nowhere near `chunks × keys` (what unbounded accumulation gives —
    * streamDistinctPairs' documented shape). */
  private def assertPlateau(state: Seq[Long], keys: Int, chunks: Int, horizon: Int): Unit = {
    assert(state.size >= chunks - 1, s"expected ~$chunks measured batches, got ${state.size}: $state")
    val tail = state.takeRight(3)
    assert(tail.max <= keys.toLong * horizon,
      s"state did not plateau: tail ${tail.max} > ${keys * horizon} (horizon $horizon × $keys keys); all: $state")
    assert(state.max < keys.toLong * chunks,
      s"state grew like total input (${state.max} of ${keys * chunks}): $state")
  }

  describe("watermark eviction observed via stateOperators.numRowsTotal (round 8)") {

    it("s04 windowedDistinct state plateaus across daily chunks") {
      // same 200 keys restamped into a new day × 12 chunks: distinct
      // (key, window) pairs grow 12×, but state holds only the windows
      // the 1-day watermark still allows (~2 days + in-flight)
      val state = stateRowsPerBatch(StreamAgg.windowedDistinctPlan, 12, 200, 86400L)
      assertPlateau(state, 200, 12, horizon = 3)
    }

    it("s09 dropDuplicatesWithinWatermark state plateaus across daily chunks") {
      val state = stateRowsPerBatch(StreamAgg.dedupWithinWatermarkPlan, 12, 200, 86400L)
      assertPlateau(state, 200, 12, horizon = 3)
    }

    it("s01 dailyBuckets window-agg state plateaus across daily chunks under a watermark") {
      // the s01 aggregation shape deployed the unbounded-stream way
      // (append + 1-day watermark instead of the replay's complete mode):
      // every chunk lands in a NEW day window, so unbounded window state
      // would hold all 12 windows, while the watermark keeps only the
      // still-open horizon (~2 days + in-flight)
      val state = stateRowsPerBatch(
        df => StreamAgg.dailyBucketsPlan(df.withWatermark("ts", "1 day")), 12, 200, 86400L)
      assertPlateau(state, keys = 1, chunks = 12, horizon = 3)
    }

    it("s02 hourlyAppend window-agg state plateaus across hourly chunks") {
      // 1-hour windows, 2-hour watermark, chunks 1 hour apart: open-window
      // state holds ~3-4 windows; unbounded accumulation would hold all 12
      val state = stateRowsPerBatch(
        df => StreamAgg.hourlyAppend(spark, df), 12, 200, 3600L)
      assertPlateau(state, keys = 1, chunks = 12, horizon = 4)
    }

    it("s06 interval self-join state plateaus across hourly chunks") {
      // 1-hour watermark, 5-minute join interval, chunks 1 hour apart:
      // both sides' state hold ~2.5 chunks of rows (measured plateau:
      // exactly 1001 rows, constant from batch 3 on — horizon 6 leaves
      // the bound meaningfully below the 2400-row unbounded trajectory)
      val state = stateRowsPerBatch(
        df => StreamAgg.intervalSelfJoinPlan(df, df), 12, 200, 3600L)
      assertPlateau(state, 200, 12, horizon = 6)
    }

    it("s10 flatMapGroupsWithState sessionize: custom state evicted by event-time timeout") {
      // FRESH 200 users per daily chunk (unlike the restamped-key tests
      // above): every chunk opens 200 new single-event sessions, so
      // without the event-time timeout the custom state would hold all
      // 2400 users by the end; the timeout (last event + 30 min, fired
      // once the 1-hour watermark passes it) evicts each chunk's sessions
      // two chunks later — state plateaus at the open horizon
      val state = stateRowsPerBatch(
        df => StreamAgg.sessionizePlan(spark, df), 12, 200, 86400L,
        userIdOf = (c, k) => c.toLong * 1000 + k)
      assertPlateau(state, 200, 12, horizon = 3)
    }
  }
}
