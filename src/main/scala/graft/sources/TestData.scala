package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.traversal.{EdgeTable, FkEdge, Graph, VertexTable}

/**
 * Catalog for the driver-generated TPC-H-ish star schema (TESTDATA.md,
 * FIXTURES.md §5), mapped as a labeled property graph: each table is a
 * vertex label with its natural key as `_id`; the foreign keys define
 * [[graft.traversal.FkEdge]] relationships, so every hop compiles to a
 * single equi-join with no intermediate edge table.
 *
 * Scale notes: parquet scans here are label-pruned by construction (one
 * dataset per label). `nation`/`region` are tiny dimensions — once any
 * scan of a plan has more than one split, Catalyst broadcast-joins them
 * automatically (they are far below the 10 MB autoBroadcastJoinThreshold
 * at any SF) and the big fact-to-fact joins (lineitem→orders) shuffle on
 * their join key, which is also the natural bucketing key for a
 * production deployment. A plan whose scans are all single-split (small
 * SFs) runs as one task instead ([[graft.plans.OneTaskPlan]]).
 */
object TestData {
  val vertexTables = Seq(
    "region" -> "r_regionkey",
    "nation" -> "n_nationkey",
    "customer" -> "c_custkey",
    "supplier" -> "s_suppkey",
    "part" -> "p_partkey",
    "orders" -> "o_orderkey",
    // lineitem has NO unique natural key in this synthetic data — the
    // generator plants duplicate (l_orderkey, l_linenumber) rows for the
    // dedup demos (~24% of rows share the pair) — so the surrogate
    // `_rowid` (added in graph()) concatenates enough integer/string
    // columns to be unique AND render identically in Spark and DuckDB,
    // keeping every row-identity op (dedup/filter/match) a single-column
    // equi-join.
    "lineitem" -> "_rowid",
    "events" -> "event_id",
    "documents" -> "doc_id",
    "embeddings" -> "vec_id"
  )

  /** FK edges: label, src, dst, srcKey (FK col in src), dstKey (id in dst). */
  val fkEdges = Seq(
    FkEdge("of_region", "nation", "region", "n_regionkey", "r_regionkey"),
    FkEdge("cust_nation", "customer", "nation", "c_nationkey", "n_nationkey"),
    FkEdge("supp_nation", "supplier", "nation", "s_nationkey", "n_nationkey"),
    FkEdge("placed_by", "orders", "customer", "o_custkey", "c_custkey"),
    FkEdge("of_order", "lineitem", "orders", "l_orderkey", "o_orderkey"),
    FkEdge("of_part", "lineitem", "part", "l_partkey", "p_partkey"),
    FkEdge("of_supplier", "lineitem", "supplier", "l_suppkey", "s_suppkey"),
    FkEdge("by_user", "events", "events", "user_id", "user_id") // self-keyed stream, rarely hopped
  )

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Metadata-only count from parquet footers — the analog of the
    * reference's index-served count (`indexCountQuery`,
    * janus/JanusDatabase.scala:263-269), which satisfies a bare count
    * without scanning data. Footer reads are distributed over the file
    * list, so at 100 TB this is one tiny task per file, zero row reads. */
  def metadataCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // data files only: skip markers/hidden files (_SUCCESS, .crc, …) by
    // NAME, never by judging the full path
    val files = (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p) else Array(fs.getFileStatus(p)))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
    // ship the session's Hadoop config (FS credentials etc.) to the tasks
    val confProps = conf.asScala.map(e => e.getKey -> e.getValue).toSeq
    spark.sparkContext
      .parallelize(files.toIndexedSeq, math.max(1, math.min(files.length, 32)))
      .map { f =>
        val hconf = new org.apache.hadoop.conf.Configuration(false)
        confProps.foreach { case (k, v) => hconf.set(k, v) }
        footerRows(hconf, f)
      }
      .sum().toLong
  }

  /** Row count of one parquet file, read from its footer alone. */
  private[graft] def footerRows(conf: org.apache.hadoop.conf.Configuration, file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  private val graphCache = new graft.util.SessionCache[Graph]

  private val fileSchemas = new graft.util.SessionCache[StructType]

  /** Table `name`'s schema as its parquet files store it (before
    * [[graft.model.Conform]]): the catalog's one read of the table at
    * load or, in a session that has not loaded `dir`, one read kept for
    * the session. A stream over the table's files declares it instead of
    * inferring it, which runs a Spark job every time; unlike a catalog
    * load, it writes nothing to the session conf. */
  def fileSchema(spark: SparkSession, dir: String, name: String): StructType =
    fileSchemas.getOrElseUpdate(spark, s"$dir/$name")(table(spark, dir, name).schema)

  /** Cached per (session, dir): avoids re-reading parquet footers for every
    * query construction. */
  def graph(spark: SparkSession, dir: String): Graph =
    graphCache.getOrElseUpdate(spark, dir)(buildGraph(spark, dir))

  /** Size AQE's initial shuffle-partition count to the catalog's input
    * volume: one post-shuffle partition per ~32 MB of compressed input,
    * floored at the session's parallelism and capped at 2048. Small
    * inputs keep their configured partitioning (AQE coalesces right back
    * down), but at 100×-1000× the shipped scale a fixed 32-partition
    * shuffle makes every big sort/aggregate spill — measured at sf100
    * (600 M-row lineitem): q70 102 s → 41 s, q09 194 s → 107 s just from
    * this setting. The cluster analog is sizing `shuffle.partitions` to
    * the data, which AQE then trims per-stage; only the INITIAL count is
    * raised here, so the sf0.1 bench plans are unchanged. */
  /** One post-shuffle partition per ~32 MB of compressed input, floored
    * at the session's parallelism, capped at 2048 (pure math — spec'd in
    * TestDataSpec). */
  private[graft] def partitionTarget(inputBytes: Long, floor: Long): Long =
    math.min(2048L, math.max(floor, inputBytes / (32L << 20)))

  private def sizeShufflePartitions(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes =
      try fs.getContentSummary(p).getLength
      catch { case _: java.io.IOException => 0L }
    val target = partitionTarget(bytes, spark.sparkContext.defaultParallelism.toLong)
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val current = spark.conf.getOption(key).flatMap(_.toLongOption).getOrElse(0L)
    if (target > current) spark.conf.set(key, target.toString)
  }

  private def buildGraph(spark: SparkSession, dir: String): Graph = {
    import org.apache.spark.sql.functions.expr
    // Some writer generations emit events.ts as TIMESTAMP(NANOS), which
    // Spark's parquet reader rejects by default; read nanos as long (then
    // Conform floors to micros). Inert for micro/NTZ writers.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // partitioning follows the data (see above)
    sizeShufflePartitions(spark, dir)
    val vs = vertexTables.map { case (name, id) =>
      val df0 = table(spark, dir, name)
      fileSchemas.getOrElseUpdate(spark, s"$dir/$name")(df0.schema)
      // declare the natural unique keys to the optimizer
      // (RedundantDistinctRule) — every table except lineitem, whose
      // identity is the COMPUTED `_rowid` below (a projection, not a
      // relation attribute), registered as a derived key further down
      if (name != "lineitem") graft.plans.DistinctKeys.registerTableKey(spark, s"$dir/$name.parquet", id)
      // TPC-H linenumber ∈ [1,7], so orderkey*8+linenumber is injective.
      val df =
        if (name == "lineitem")
          df0.withColumn("_rowid", expr(
            // floor() before the BIGINT cast: Spark truncates double→BIGINT
            // while DuckDB rounds, so the bare cast would diverge on any
            // non-integral quantity. floor is identical in both engines.
            "concat_ws('-', l_orderkey, l_linenumber, l_partkey, l_suppkey, CAST(floor(l_quantity) AS BIGINT), l_linestatus)"))
        else
          // Mapping-layer conformance (graft.model.Conform): project the
          // scan onto the catalog's declared types — e.g. events.ts →
          // TIMESTAMP from int64-nanos / TIMESTAMP(NANOS) / NTZ alike
          graft.model.Conform(name, df0)
      // lineitem's identity is that computed injective concat — declare it
      // as a DERIVED key so match/dedup over lineitem bindings can prove
      // superkey coverage like every attribute-keyed table
      if (name == "lineitem")
        graft.plans.DistinctKeys.registerDerivedKey(spark, s"$dir/$name.parquet", df, id)
      name -> VertexTable(name, df, id)
    }.toMap
    // one REAL edge table (distinct supplier→part supply relationships
    // derived from lineitem) so the two-join EdgeTable hop path is
    // exercised by the TPC-H graph too, not only the Modern fixture
    val supplies = EdgeTable("supplies", "supplier", "part",
      vs("lineitem").df.select(
        org.apache.spark.sql.functions.col("l_suppkey").as("_src"),
        org.apache.spark.sql.functions.col("l_partkey").as("_dst")).distinct())
    new Graph(
      spark,
      vs,
      fkEdges.map(e => e.label -> (e: graft.traversal.EdgeRel)).toMap +
        (supplies.label -> (supplies: graft.traversal.EdgeRel)))
  }
}
