package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.perfbench.SparkBridge

/** Jackson-backed JSON in and out; values are plain Java collections. */
object Json {
  val mapper = new ObjectMapper()
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def arr(xs: Iterable[Any]): java.util.List[Any] = new java.util.ArrayList[Any](xs.asJavaCollection)
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
}

/** The JVM half of the benchmark: one SparkSession, one run.
  *
  * `Harness <config.json>` reads the run's configuration written by
  * `perfbench/run.py`, then
  *   1. sets up: session, TestData load, `Warm.resolve`, and an untimed
  *      warm-up pass that runs each distinct query once on the timed
  *      phase's number of client threads, building every stored artifact
  *      into the run's own artifact roots and writing the result as
  *      parquet for the oracle check;
  *   2. runs the timed phase in rounds: in each round every client thread
  *      issues its request list in a closed loop, and the next round starts
  *      when all clients are done. One request =
  *      `SparkEntry.queries(name)(spark, dir)` then a full `noop` write;
  *   3. with tracing on, has its listeners registered for the timed phase,
  *      then runs the edge pass: each distinct root-sorted query to `noop`
  *      with and without its root Sort;
  * and dumps raw timings and listener events as JSON. Aggregation,
  * statistics and the oracle comparison happen in Python. */
object Harness {
  val KeyProp = "perfbench.key"

  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  /** Epoch seconds on the monotonic clock. */
  def epoch(nano: Long = System.nanoTime()): Double = baseEpochMs / 1e3 + (nano - baseNano) / 1e9

  final case class Req(round: Int, client: Int, name: String, key: String, start: Double,
                       built: Double, end: Double, error: Option[String]) {
    def toJava: java.util.Map[String, Any] = Json.obj(
      "round" -> round, "client" -> client, "name" -> name, "key" -> key, "start" -> start,
      "built" -> built, "end" -> end, "error" -> error.orNull)
  }

  /** The analyzed plan without its root global Sort (looking through
    * projections and aliases), or None when the root is not sorted. */
  def stripRootSort(p: LogicalPlan): Option[LogicalPlan] = p match {
    case s: Sort if s.global => Some(s.child)
    case n @ (_: Project | _: SubqueryAlias) => stripRootSort(n.children.head).map(c => n.withNewChildren(Seq(c)))
    case _ => None
  }

  private def message(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Version directories under the run's artifact roots. */
  private def artifactDirs(roots: Seq[java.io.File]): Set[String] =
    roots.flatMap(r => Option(r.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getPath)).toSet

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length

  private def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val cfg = Json.mapper.readTree(new java.io.File(args(0)))
    val launch = cfg.get("launch_ns").asLong / 1e9
    val dataDir = cfg.get("data").asText
    val runDir = cfg.get("run_dir").asText
    val cores = cfg.get("cores").asInt
    val warm = cfg.get("warm").elements().asScala.map(Json.strings).toSeq
    val rounds = cfg.get("rounds").elements().asScala.map(_.elements().asScala.map(Json.strings).toSeq).toSeq
    val trace = cfg.get("trace").asBoolean
    val roots = Seq(new java.io.File(s"$runDir/artifacts"), new java.io.File(s"$runDir/ann"))

    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.artifactDir", s"file:$runDir/artifacts")
      .config("spark.graft.ann.indexDir", s"file:$runDir/ann")
      .config("spark.graft.stream.scratchRoot", s"$runDir/stream")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val recorder = new Recorder
    val streams = new StreamRecorder
    val fns = graft.SparkEntry.queries

    def phase(key: String, p: String): Unit = {
      sc.setJobGroup(s"$key|$p", key, interruptOnCancel = false)
      sc.setLocalProperty(KeyProp, s"$key|$p")
    }
    def clearPhase(): Unit = { sc.clearJobGroup(); sc.setLocalProperty(KeyProp, null) }

    /** One request: build the DataFrame, then hand it to `sink`. */
    def request(round: Int, client: Int, name: String, key: String)(sink: DataFrame => Unit)
        : (Req, Option[DataFrame]) = {
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        phase(key, "build")
        val df = fns(name)(spark, dataDir)
        t1 = System.nanoTime()
        phase(key, "sink")
        sink(df)
        (Req(round, client, name, key, epoch(t0), epoch(t1), epoch(), None), Some(df))
      } catch {
        case NonFatal(e) =>
          (Req(round, client, name, key, epoch(t0), epoch(t1), epoch(), Some(message(e))), None)
      } finally clearPhase()
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** One thread per client, each running `body(client, name, index)` over
      * its list back to back; returns when every client is done. */
    def runClients(lists: Seq[Seq[String]])(body: (Int, String, Int) => Unit): Unit = {
      val threads = lists.zipWithIndex.map { case (list, c) =>
        val t = new Thread(() => list.zipWithIndex.foreach { case (name, i) => body(c, name, i) },
          s"perfbench-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
    }

    // ---- set-up -------------------------------------------------------
    spark.range(1000).selectExpr("sum(id)").count()
    graft.sources.TestData.graph(spark, dataDir).V("region").df.count()
    val tLoad = epoch()
    val hooks = graft.services.Warm.resolve(spark, dataDir)
    val tWarm = epoch()
    // The warm-up pass writes each result as parquet: the oracle check
    // reads it after the process exits. A request during which a version
    // directory appeared counts as an artifact build (with several clients
    // a concurrent request may share the blame).
    val warmQueue = new java.util.concurrent.ConcurrentLinkedQueue[Req]
    val buildTimes = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val beforeWarm = artifactDirs(roots)
    runClients(warm) { (c, name, i) =>
      val before = artifactDirs(roots)
      val (r, _) = request(-1, c, name, s"warm$c-$i")(
        _.write.mode("overwrite").parquet(s"$runDir/results/$name"))
      warmQueue.add(r)
      if ((artifactDirs(roots) -- before).nonEmpty) buildTimes.add(r.end - r.start)
    }
    val warmReqs = warmQueue.asScala.toSeq.sortBy(_.start)
    val beforeTimed = artifactDirs(roots)
    val built = (beforeTimed -- beforeWarm).size
    val buildS = buildTimes.asScala.sum
    val artifactBytes = roots.map(treeBytes).sum

    // ---- timed phase --------------------------------------------------
    if (trace) {
      sc.addSparkListener(recorder)
      spark.streams.addListener(streams)
    }
    val gc0 = gcMs
    val reqQueue = new java.util.concurrent.ConcurrentLinkedQueue[Req]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val tStart = epoch()
    rounds.zipWithIndex.foreach { case (clients, r) =>
      val t0 = epoch()
      runClients(clients) { (c, name, i) => reqQueue.add(request(r, c, name, s"c$c-r$r-$i")(noop)._1) }
      roundWalls += epoch() - t0
    }
    val tEnd = epoch()
    val reqs = reqQueue.asScala.toSeq.sortBy(_.start)
    val gcTimedS = (gcMs - gc0) / 1e3
    val rssMb = vmHwmMb
    val builtTimed = (artifactDirs(roots) -- beforeTimed).size
    val edge = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    if (trace) {
      // ---- edge pass: each distinct root-sorted query with and without
      // its root Sort
      rounds.flatten.flatten.distinct.zipWithIndex.foreach { case (name, i) =>
        val key = s"edge$i"
        val (_, df0) = request(-1, -1, name, key)(_ => ())
        for (df <- df0) try {
          stripRootSort(df.queryExecution.analyzed) match {
            case None => edge += Json.obj("name" -> name, "sorted" -> false)
            case Some(body) =>
              def run(k: String, d: => DataFrame): Double = {
                phase(k, "sink")
                val t0 = System.nanoTime()
                try { noop(d); (System.nanoTime() - t0) / 1e9 } finally clearPhase()
              }
              val sinkS = run(key, df)
              val bodyS = run(key + "b", SparkBridge.ofRows(spark, body))
              edge += Json.obj("name" -> name, "sorted" -> true, "sink_s" -> sinkS, "body_s" -> bodyS,
                "sink_key" -> s"$key|sink", "body_key" -> s"${key}b|sink")
          }
        } catch { case NonFatal(e) => edge += Json.obj("name" -> name, "error" -> message(e)) }
      }
      SparkBridge.drainListeners(sc)
    }

    val progress = streams.progress.asScala.toSeq.map { p =>
      Json.obj(
        "run_id" -> p.runId.toString, "key" -> recorder.runKey.getOrElse(p.runId.toString, null),
        "batch_id" -> p.batchId, "timestamp" -> p.timestamp, "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "durations" -> Json.obj(p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }: _*))
    }
    def reqList(rs: Seq[Req]) = Json.arr(rs.map(_.toJava))
    val out = Json.obj(
      "launch" -> launch, "loaded" -> tLoad, "warm_resolved" -> tWarm,
      "warm_hooks" -> hooks.size, "artifacts_built" -> built, "artifact_build_s" -> buildS,
      "artifact_bytes" -> artifactBytes, "warm" -> reqList(warmReqs),
      "timed_start" -> tStart, "timed_end" -> tEnd, "round_walls" -> Json.arr(roundWalls),
      "requests" -> reqList(reqs),
      "artifacts_built_timed" -> builtTimed, "gc_s" -> gcTimedS, "heap_peak_mb" -> heapPeakMb,
      "rss_peak_mb" -> rssMb,
      "edge" -> Json.arr(edge),
      "counters" -> Json.obj(recorder.counters.toSeq.map { case (k, v) => k -> v.toJava }: _*),
      "plans" -> Json.obj(recorder.plans.toSeq.map { case (k, v) =>
        k -> Json.arr(v.map { case (p, s, e) => Json.arr(Seq(p, s, e)) }) }: _*),
      "streams" -> Json.arr(progress))
    Json.mapper.writeValue(new java.io.File(cfg.get("out").asText), out)
    spark.stop()
  }
}

/** `Catalog <out.json>`: the registry's query names and oracle SQL. */
object Catalog {
  def main(args: Array[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Json.mapper.writeValue(new java.io.File(args(0)), Json.obj(
      "queries" -> Json.arr(graft.SparkEntry.queries.keys.toSeq.sorted),
      "oracle" -> Json.obj(oracle.toSeq.sortBy(_._1): _*)))
  }
}
