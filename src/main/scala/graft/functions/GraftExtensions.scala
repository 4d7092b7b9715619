package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Default MinHash parameterization shared by the SQL function surface and
  * the text-pipeline queries: K=128 md5-derived universal-hash pairs over
  * P (prime > 2^32), a_i < 2^30 so products stay inside signed 64-bit. */
object MinHashDefaults {
  val K = 128
  val P = 4294967311L
  /** md5-derived deterministic seed value — the single source for every
    * hash constant in the engine (MinHash a/b pairs, SRP hyperplanes). */
  def mdLong(seed: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
    BigInt(1, d.take(8)).toLong.abs
  }
  val params: IndexedSeq[(Long, Long)] =
    (0 until K).map(i => (1L + mdLong(s"graft:a:$i") % ((1L << 30) - 1), mdLong(s"graft:b:$i") % P))
}

/**
 * SparkSessionExtensions hook (`spark.sql.extensions=graft.functions.GraftExtensions`
 * at deploy time) registering the engine's native functions for SQL use
 * ([[GraftExtensions.register]] for a live session; e.g.
 * `minhash_signature(array<bigint>) → array<bigint>` with the default
 * 128-permutation parameterization) and its plan rules:
 *  - optimizer rules: [[graft.plans.RedundantDistinctRule]],
 *    [[graft.plans.FirstStructPruningRule]] and
 *    [[graft.plans.EagerCountAggregation]] (Spark's
 *    `spark.sql.optimizer.excludedRules` turns any of them off by class
 *    name);
 *  - the AQE query-stage preparation rule [[graft.plans.OneTaskPlan]]:
 *    a plan whose scans are all single-split runs as one task.
 *
 * It also defaults Spark's static `spark.sql.codegen.cache.maxEntries`,
 * the JVM-wide cache of compiled generated classes, to 4096 (Spark's
 * default is 100) by setting the system property when it is unset. One
 * pass over the query registry at sf0.01 compiles about 2,045 distinct
 * classes, so at 100 nearly every request compiles all of its classes
 * again; 4096 holds a pass twice over, room for the other plan shapes a
 * larger scale makes. A builder `.config`, `--conf` or `-D` setting of
 * the key wins. The default reaches a session built with
 * `SparkSession.builder().withExtensions(new GraftExtensions)`, because
 * the builder runs the extension before its `SparkConf` reads the
 * `spark.*` system properties. Loaded through `spark.sql.extensions`,
 * the extension is created after the SparkContext exists: such a
 * deployment sets the key itself.
 *
 * The same way, it defaults Spark's `spark.buffer.pageSize` to a quarter
 * of the JVM's G1 heap region. Spark sizes a page from the heap (64 MB
 * for a 7 GB heap on 4 cores), and G1 allocates any array of half a
 * region or more (2 MB of a 4 MB region) as a humongous object directly
 * in the old generation. Every hash aggregate and sort then takes one
 * such page per task, and Spark pools freed pages behind weak
 * references: about 500 MB of pooled pages sit in the old generation
 * until a concurrent mark clears them, and refilling the pool crosses
 * G1's marking threshold again. On the 4-core / 7 GB-heap perfbench
 * runs that loop ran a concurrent mark every 0.3 s for whole timed
 * phases in some runs and not in others. Pages under half a region are
 * ordinary young objects. Nothing is set when G1 is not the collector.
 *
 * Two more defaults, set the same way, take a stream replay's fixed
 * JVM costs away:
 *  - `spark.sql.artifact.isolation.enabled` is false. Every stream runs
 *    in a clone of its session, Spark 4.1 gives the clone a new session
 *    UUID, and with isolation on the executor gives each UUID a fresh
 *    class loader. `CodeGenerator`'s cache is keyed by (class loader,
 *    code), so every replay recompiled classes byte-identical to cached
 *    ones and then ran them un-JITted: s01 compiled 12 classes on its
 *    second call, s05 5, s13 2; with the default, 0. graft adds no
 *    session artifacts (jars, files, REPL classes); a Spark Connect
 *    deployment that needs per-session jars sets the key itself.
 *  - The `file:` scheme is bound to [[graft.util.ForkFreeLocalFileSystem]]
 *    (`spark.hadoop.fs.file.impl`) and [[graft.util.ForkFreeLocalFs]]
 *    (`spark.hadoop.fs.AbstractFileSystem.file.impl`, which FileContext,
 *    and so Spark's streaming checkpoint manager, goes through). Without
 *    Hadoop's native library every local mkdirs, create, chmod and
 *    FileContext rename forks a `chmod` or `readlink` process (about 3 ms
 *    per mkdirs, 6 ms per create, 20 ms per rename at a 2 GB live heap),
 *    paid by each checkpoint log entry, state delta, sink part file and
 *    artifact write.
 * On a 4-core box at sf0.1 (`graft.RowCount`, calls 4–5 of 5), s01 took
 * 0.87–1.00 s per call with neither default and 0.49–0.55 s with both,
 * s05 0.62–0.68 → 0.42–0.50 s and s13 0.36–0.40 → 0.20–0.26 s; each
 * default alone took off part of it.
 *
 * A deployment that loads graft through `spark.sql.extensions` sets
 * these keys itself too, for the reason above.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.defaultCodegenCache(sys.props)
    GraftExtensions.defaultPageSize(sys.props, GraftExtensions.g1RegionBytes())
    GraftExtensions.defaultSharedClassLoader(sys.props)
    GraftExtensions.defaultLocalFs(sys.props)
    GraftExtensions.functions.foreach(ext.injectFunction)
    // superkey-proven dedup removal — before the struct pruner so an
    // aggregate it eliminates is never also pruned
    ext.injectOptimizerRule(_ => new graft.plans.RedundantDistinctRule)
    // nested pruning through first(struct) dedup buffers
    ext.injectOptimizerRule(_ => new graft.plans.FirstStructPruningRule)
    // count-aggregation pushdown below joins
    ext.injectOptimizerRule(_ => new graft.plans.EagerCountAggregation)
    // tiny inputs run as one task (after EnsureRequirements, inside AQE)
    ext.injectQueryStagePrepRule(_ => graft.plans.OneTaskPlan)
  }
}

object GraftExtensions {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Sets [[CodegenCacheKey]] to 4096 in `props` unless it is already set. */
  private[graft] def defaultCodegenCache(props: scala.collection.mutable.Map[String, String]): Unit =
    props.getOrElseUpdate(CodegenCacheKey, "4096")

  val PageSizeKey = "spark.buffer.pageSize"

  /** Sets [[PageSizeKey]] to a quarter of `regionBytes` (the G1 heap
    * region) in `props` unless it is already set; 0 sets nothing. */
  private[graft] def defaultPageSize(props: scala.collection.mutable.Map[String, String],
      regionBytes: Long): Unit =
    if (regionBytes > 0) props.getOrElseUpdate(PageSizeKey, s"${regionBytes / 4}b")

  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Sets [[ArtifactIsolationKey]] to false in `props` unless it is already set. */
  private[graft] def defaultSharedClassLoader(props: scala.collection.mutable.Map[String, String]): Unit =
    props.getOrElseUpdate(ArtifactIsolationKey, "false")

  val LocalFsKey = "spark.hadoop.fs.file.impl"
  val LocalAbstractFsKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  /** Binds the `file:` scheme to [[graft.util.ForkFreeLocalFileSystem]]
    * and [[graft.util.ForkFreeLocalFs]] in `props`, each unless already set. */
  private[graft] def defaultLocalFs(props: scala.collection.mutable.Map[String, String]): Unit = {
    props.getOrElseUpdate(LocalFsKey, classOf[graft.util.ForkFreeLocalFileSystem].getName)
    props.getOrElseUpdate(LocalAbstractFsKey, classOf[graft.util.ForkFreeLocalFs].getName)
  }

  /** This JVM's G1 heap region size in bytes, or 0 when G1 is not the collector. */
  private[graft] def g1RegionBytes(): Long = {
    val vm = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    if (vm.getVMOption("UseG1GC").getValue == "true") vm.getVMOption("G1HeapRegionSize").getValue.toLong
    else 0L
  }

  private val minhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "minhash_signature(hashes: array<bigint>) takes one argument")
    MinHashSignature(args.head, MinHashDefaults.params.map(_._1), MinHashDefaults.params.map(_._2), MinHashDefaults.P)
  }
  private val simhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "simhash(hashes: array<bigint>) takes one argument")
    SimHash(args.head, 48)
  }
  private val shingleBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "shingle_hashes(tokens: array<string>) takes one argument")
    ShingleHashes(args.head)
  }
  private val dotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "decimal_dot(x: array<float>, y: array<float>) takes two arguments")
    DecimalDotProduct(args.head, args(1))
  }
  private val windowMd5Builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "window_md5_hashes(tokens: array<string>, w: int) takes two arguments")
    val w = args(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"window_md5_hashes: width must be an integer literal, got $other")
    }
    WindowMd5Hashes(args.head, w)
  }

  private val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("minhash_signature", classOf[MinHashSignature], minhashBuilder),
    ("simhash", classOf[SimHash], simhashBuilder),
    ("shingle_hashes", classOf[ShingleHashes], shingleBuilder),
    ("decimal_dot", classOf[DecimalDotProduct], dotBuilder),
    ("window_md5_hashes", classOf[WindowMd5Hashes], windowMd5Builder))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.map { case (name, cls, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)
    }

  /** Register the function set on an already-running session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, b) => GraftBridge.registerFunction(spark, name, b) }
}
