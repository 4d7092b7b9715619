package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A stream replay leaves the shared session as it found it: it writes
  * nothing to the session conf while it runs, its state partitions follow
  * the session's `spark.sql.shuffle.partitions`, and its scratch dir is
  * gone when the call returns or throws (`StreamAgg.replay`,
  * `StreamAgg.foreachBatchUpsert`). Covers s01 (complete mode, stateful),
  * s03 (append mode, stateful) and s07 (foreachBatch upsert) at sf0.001. */
class ReplayIsolationSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val replays = Seq(
    "s01_stream_daily_buckets", "s03_stream_dedup", "s07_stream_foreachbatch_upsert")

  /** Collects every stream's progress and counts its start/termination
    * events, so a caller can wait until the bus has delivered all of a
    * replay's progress (a query's terminated event follows its last). */
  private class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    @volatile var started = 0
    @volatile var terminated = 0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized(started += 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(terminated += 1)
  }

  /** Run `body` with `spark.graft.stream.scratchRoot` pointed at a fresh,
    * empty dir; the function `body` gets lists what a call left in it. */
  private def withScratchRoot[T](body: (() => Seq[String]) => T): T =
    withScratchDir("graft_replay_root_") { root =>
      def left(): Seq[String] = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        try st.iterator().asScala.map(_.getFileName.toString).toList finally st.close()
      }
      withConf("spark.graft.stream.scratchRoot" -> root)(body(() => left()))
    }

  it("writes nothing to the session conf, keeps the session's state partitions, and deletes its scratch") {
    withScratchRoot { left =>
      val listener = new Progress
      val problems = scala.collection.mutable.ArrayBuffer.empty[String]
      spark.streams.addListener(listener)
      try replays.foreach { name =>
        val before = spark.conf.getAll
        val diffs = new ConcurrentLinkedQueue[String]()
        val done = new AtomicBoolean(false)
        val poller = new Thread(() => {
          while (!done.get) {
            val now = spark.conf.getAll
            (before.keySet ++ now.keySet).filter(k => before.get(k) != now.get(k))
              .foreach(k => diffs.add(s"$k: ${before.get(k)} -> ${now.get(k)}"))
            Thread.sleep(2)
          }
        })
        poller.setDaemon(true)
        poller.start()
        val rows = try SparkEntry.queries(name)(spark, sfDir).count()
          finally { done.set(true); poller.join() }
        if (rows == 0) problems += s"$name returned no rows"
        if (!diffs.isEmpty) problems += s"$name changed the session conf during its replay: ${diffs.asScala.toSet}"
        if (spark.conf.getAll != before) problems += s"$name left the session conf changed"
        if (left().nonEmpty) problems += s"$name left scratch behind: ${left()}"
      }
      finally {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (listener.terminated < listener.started && System.nanoTime() < deadline) Thread.sleep(20)
        spark.streams.removeListener(listener)
      }
      assert(listener.started >= replays.size && listener.terminated == listener.started,
        s"started ${listener.started}, terminated ${listener.terminated}")
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val stateful = listener.events.asScala.toSeq.flatMap(_.progress.stateOperators.toSeq)
      // s01's aggregate and s03's dedup each carry state
      if (stateful.isEmpty) problems += "no replay reported a state operator"
      val wrong = stateful.map(_.numShufflePartitions).filter(_ != partitions)
      if (wrong.nonEmpty)
        problems += s"state operators ran with ${wrong.distinct} partitions; the session holds $partitions"
      assert(problems.isEmpty, problems.mkString("\n"))
    }
  }

  it("propagates a replay's failure and still deletes its scratch") {
    withScratchRoot { left =>
      withScratchDir("graft_replay_src_") { src =>
        spark.range(0, 10).toDF("id").coalesce(1).write.parquet(s"$src/in")
        val boom = udf((id: Long) => {
          if (id >= 0) throw new IllegalStateException("replay-isolation-boom")
          id
        })
        val stream = spark.readStream.schema(spark.read.parquet(s"$src/in").schema)
          .parquet(s"$src/in").select(boom(col("id")).as("id"))
        val e = intercept[Exception] {
          graft.streaming.StreamAgg.replay(spark, stream, "isolation_boom_", "append")(identity)
        }
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(t => String.valueOf(t.getMessage).contains("replay-isolation-boom")),
          s"the UDF's error did not propagate: $e")
        assert(left().isEmpty, s"a failed replay left scratch behind: ${left()}")
      }
    }
  }
}
