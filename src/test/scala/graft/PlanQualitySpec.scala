package graft

import org.apache.spark.sql.functions._

/**
 * Plan-quality gates: the scale claims the engine makes (filter pushdown
 * to parquet, column pruning, broadcast of small dimensions) asserted on
 * the actual physical plans, so a regression that silently de-optimizes
 * a plan fails CI instead of only showing up at 100 TB.
 */
class PlanQualitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  describe("plan quality on the testdata graph") {

    it("pushes a has() filter into the parquet scan") {
      val t = graft.sources.TestData.graph(spark, sfDir)
        .V("customer").has("c_mktsegment", "BUILDING")
      val plan = t.df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters"), plan)
      assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    }

    it("prunes unused columns out of the scan") {
      val t = graft.sources.TestData.graph(spark, sfDir)
        .V("customer").value("c_name")
      val plan = t.df.queryExecution.executedPlan.toString
      // ReadSchema must contain only the projected column, not the 8-col row
      assert(plan.contains("ReadSchema: struct<c_name:string>"), plan)
    }

    it("broadcasts the small dimension side of an FK hop") {
      val t = graft.sources.TestData.graph(spark, sfDir)
        .V("customer").out("cust_nation")
      val plan = t.df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
    }

    it("q94's lineitem quantity pre-aggregation sits BELOW the customer join") {
      // TPC-H Q18 shape: the HAVING sum(l_quantity) must aggregate per
      // orderkey before the customer join — |orders|-sized rows reach the
      // join, never |lineitem|-sized. A rule (eager-agg fixpoint included)
      // that hoisted the aggregate above the join would multiply every
      // lineitem row through customer first: the sf100 q09 failure mode.
      // AQE off for the assertion: the static plan tree is what the rule
      // pipeline produced, without QueryStageExec wrappers.
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = SparkEntry.queries("q94_having_join_topk")(spark, sfDir)
        val plan = df.queryExecution.executedPlan
        def scansTable(p: SparkPlan, t: String): Boolean = p.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(t)) => f
        }.nonEmpty
        val custJoins = plan.collect {
          case j: BaseJoinExec if j.children.exists(scansTable(_, "customer")) => j
        }
        assert(custJoins.nonEmpty, s"no customer join found in\n$plan")
        custJoins.foreach { j =>
          val streamed = j.children.filterNot(scansTable(_, "customer"))
          assert(streamed.exists(c => c.collect {
            case a: BaseAggregateExec
                if a.aggregateExpressions.exists(_.toString.contains("sum(l_quantity")) => a
          }.nonEmpty), s"sum(l_quantity) aggregate not below the customer join in\n$plan")
        }
        // and nothing re-aggregates lineitem above the join: every
        // sum(l_quantity) aggregate in the whole plan is under the join
        val aggsAboveJoin = plan.collect {
          case a: BaseAggregateExec
              if a.aggregateExpressions.exists(_.toString.contains("sum(l_quantity")) &&
                a.collect { case j: BaseJoinExec if j.children.exists(scansTable(_, "customer")) => j }.nonEmpty => a
        }
        assert(aggsAboveJoin.isEmpty, s"lineitem aggregate ABOVE the customer join in\n$plan")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }

    it("a nested field-in-field aggregation reads the corpus ONCE (outer scalars ride the nested groupBy as window-finalized partials)") {
      // the dashboard shape (cases per status per priority + outer count):
      // the outer scalars must ride the two-level groupBy as partials and
      // re-aggregate from the |groups|-sized table — a second scan of the
      // base for the outer count is a 2× input cost at 100 TB
      import graft.query.{AggCompiler, AggregationParser, Properties}
      val df = graft.sources.TestData.graph(spark, sfDir).V("orders").df
      val agg = AggregationParser.parse(
        """{"_agg":"field","_field":"o_orderstatus",
          |"_select":[{"_agg":"count","_name":"cnt"},
          |           {"_agg":"sum","_field":"o_totalprice","_name":"tp"},
          |           {"_agg":"field","_field":"o_orderpriority",
          |            "_select":[{"_agg":"count","_name":"c2"}]}]}""".stripMargin,
        Properties.passthrough)
      val out = AggCompiler(df, agg, Properties.passthrough)
      out.count() // materialize so AQE resolves reused stages
      val plan = out.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(l => l.contains("Scan parquet") && l.contains("orders"))
      val reused = plan.contains("ReusedExchange") || plan.contains("table cache") ||
        plan.linesIterator.exists(_.contains("ReusedQueryStage"))
      assert(scans <= 1, s"nested aggregation scans the base $scans times:\n$plan")
      assert(reused || scans == 1, plan)
    }

    it("e10's final plan reads the materialized assignment: no cross joins, no corpus windows") {
      // the N×K assignment dots run ONCE (checkpoint); the query plan the
      // executors see is the pair join on cid plus the K-row broadcast
      // cap gate — a re-planned assignment subtree (3 corpus passes) or a
      // per-row cluster-count window would both regress 100 TB cost
      val df = SparkEntry.queries("e10_semdedup")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("BroadcastHashJoin"), plan)
    }

    it("the mog audits (e18/e19/e20) never go cartesian and window only on per-key partitions") {
      // every cross join in the audits must carry a broadcast small side
      // (the ≤80-row panel / ≤64-row codebooks — BroadcastNestedLoopJoin
      // is the intended physical shape, CartesianProduct is the 100 TB
      // killer), every window must partition by vec_id/q_id/m (a global
      // window would single-partition the corpus), and nothing may
      // SortMergeJoin (all non-corpus sides are bounded).
      for (name <- Seq("e18_mog_pq_recall", "e19_mog_trained_pq_recall", "e20_mog_residual_recall")) {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val planStr = plan.toString
        assert(!planStr.contains("CartesianProduct"), s"$name:\n$planStr")
        assert(!planStr.contains("SortMergeJoin"), s"$name:\n$planStr")
        val globalWindows = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec if w.partitionSpec.isEmpty => w
        }
        assert(globalWindows.isEmpty, s"$name has a global window:\n$planStr")
      }
    }

    it("e12's sketch pass is shuffle-free: broadcast joins only, embeddings never exchanged") {
      // the JL first pass must be a per-row map over the corpus — the
      // query sketch and the exact re-rank vector are 1-row broadcasts,
      // the candidate join is a 10-row broadcast, and the only exchange
      // is the final top-k sort of 10 rows. A SortMergeJoin or an
      // exchange carrying 'embedding'/'pvec' would shuffle the corpus
      // (or its 16-dim sketch) at 100 TB.
      val df = SparkEntry.queries("e12_jl_projection_knn")(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      val planStr = plan.toString
      assert(!planStr.contains("SortMergeJoin"), planStr)
      assert(!planStr.contains("CartesianProduct"), planStr)
      val exchanged = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.output.map(_.name)
      }.flatten
      assert(!exchanged.exists(n => n.contains("embedding") || n.contains("pvec")),
        s"corpus vectors crossed an exchange: $exchanged\n$planStr")
    }

    it("d26's corpus cumsum windows on (lang, shard), never a whole language") {
      // a PARTITION BY lang window over the corpus would serialize a
      // 100 TB language onto one task; the two-level prefix sum keeps the
      // corpus-sized window keyed by (lang, sh)
      val df = SparkEntry.queries("d26_mixture_sample")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
      assert(winLines.nonEmpty, plan)
      assert(winLines.exists(l => l.contains("lang#") && l.contains("sh#")), plan)
      // the per-shard offset table and the 5-row totals join are broadcasts
      assert(plan.contains("BroadcastHashJoin"), plan)
    }

    it("e09's probe prunes the partitioned ANN index to the probed buckets") {
      // the production ANN story: the stored index is partitioned by
      // bucket code, so a probe never opens non-probed bucket files
      val idx = graft.sources.AnnIndex.partitionedIndex(spark, sfDir)
      val probed = idx.where(col("code").isin(0L, 3L, 5L))
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("code"), plan)
      // directory-level pruning, not post-scan filtering: the probed scan
      // must open strictly fewer files than the full index holds
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.count()
        df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
        }.getOrElse(fail("no FileSourceScanExec leaf in\n" + df.queryExecution.executedPlan))
      }
      assert(filesRead(probed) < idx.inputFiles.length.toLong,
        s"probed=${filesRead(probed)} full=${idx.inputFiles.length}")
    }

    it("coded-vector checkpoint loaded from the stored index keeps a sane partition count") {
      // The sf10-only defect this pins: the stored index spans 2^nbits
      // code DIRECTORIES, the scan gives ~one partition per small file,
      // and localCheckpoint FREEZES that layout — without the coalesce,
      // every downstream stage of every full-scan consumer (Lloyd, d12)
      // pays thousands of near-empty tasks per action (measured at sf10:
      // e05 steady ~6× slower than recomputing). A fresh session forces
      // the load path (its codedCache entry is empty while the artifact
      // from the e09 gate above is live).
      graft.sources.AnnIndex.partitionedIndex(spark, sfDir) // ensure stored
      val s2 = spark.newSession()
      val coded = graft.sources.AnnIndex.codedVectors(s2, sfDir)
      val parts = coded.rdd.getNumPartitions
      assert(parts <= s2.sparkContext.defaultParallelism,
        s"checkpointed coded table froze $parts partitions (files of the " +
          s"partitioned artifact?) — expected <= ${s2.sparkContext.defaultParallelism}")
    }

    // AQE wraps the tree in AdaptiveSparkPlanExec / QueryStageExec —
    // unwrap to reach the executed file scans and their numFiles metrics
    def executedScans(df: org.apache.spark.sql.DataFrame)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val scans = collection.mutable.Buffer.empty[org.apache.spark.sql.execution.FileSourceScanExec]
      foreachNode(df.queryExecution.executedPlan) {
        case (f: org.apache.spark.sql.execution.FileSourceScanExec, _) => scans += f
        case _ => ()
      }
      scans.toSeq
    }

    // the stored posting tables are partitioned by token-hash bucket; a
    // probe must directory-prune to its terms' buckets AND push the term
    // filter into the surviving scans — per-query cost is the terms'
    // posting lists, never the corpus
    Seq("d31_inverted_index_search", "d32_phrase_search").foreach { name =>
      it(s"$name's probe prunes the posting index to its terms' buckets") {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
        assert(plan.contains("tok"), plan)
        df.collect()
        val scans = executedScans(df)
        assert(scans.nonEmpty, "no FileSourceScanExec leaf in\n" + plan)
        // every index scan opened strictly fewer directories than the
        // artifact holds (64 bucket dirs at any corpus size)
        scans.foreach { f =>
          assert(f.metrics("numFiles").value < 64L,
            s"probe read ${f.metrics("numFiles").value} files — no directory pruning")
        }
      }
    }

    it("d35_bm25_search prunes the posting index and keeps the norms scans narrow") {
      // BM25 reads TWO stored artifacts: the bucket-partitioned posting
      // table (must directory-prune to the query terms' buckets, exactly
      // like d31) and the unpartitioned norms table (doc_id, dl) — whose
      // scans must stay 2-column narrow (no text ever reaches the plan)
      val df = graft.SparkEntry.queries("d35_bm25_search")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
      df.collect()
      val scans = executedScans(df)
      val (posting, norms) = scans.partition(
        _.relation.partitionSchema.fieldNames.contains("bucket"))
      assert(posting.nonEmpty, "no bucket-partitioned posting scan in\n" + plan)
      posting.foreach { f =>
        assert(f.metrics("numFiles").value < 64L,
          s"posting probe read ${f.metrics("numFiles").value} files — no directory pruning")
      }
      assert(norms.nonEmpty, "no norms scan in\n" + plan)
      norms.foreach { f =>
        val cols = f.schema.fieldNames.toSet
        assert(cols.subsetOf(Set("doc_id", "dl")),
          s"norms scan reads ${cols.mkString(",")} — expected only doc_id/dl")
      }
    }

    it("prunes partitions when a table is partitioned by its filter column") {
      // the SURVEY §4 claim "label filter = partition pruning for free",
      // demonstrated: documents written partitioned by lang, filtered scan
      // reads only the matching partition directories
      withScratchDir("graft_partpr") { dir =>
        graft.sources.TestData.graph(spark, sfDir).V("documents").df
          .write.partitionBy("lang").mode("overwrite").parquet(s"$dir/docs")
        val filtered = spark.read.parquet(s"$dir/docs").where(col("lang") === "en")
        val plan = filtered.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
        assert(filtered.count() > 0)
      }
    }

    it("reads JSON- and ORC-backed vertex tables through the same traversal surface") {
      // storage-agnostic catalog, continued: the same VertexTable slot
      // accepts any DataFrame-producing source — JSON (schema-on-read
      // ingest) and ORC (the other columnar format a lake migration meets)
      withScratchDir("graft_srcfmt") { dir =>
        val nation = graft.sources.TestData.graph(spark, sfDir).V("nation").df
        nation.write.mode("overwrite").json(s"$dir/nation_json")
        nation.write.mode("overwrite").orc(s"$dir/nation_orc")
        for (df <- Seq(
            spark.read.schema(nation.schema).json(s"$dir/nation_json"),
            spark.read.orc(s"$dir/nation_orc"))) {
          val g = new graft.traversal.Graph(
            spark,
            Map("nation" -> graft.traversal.VertexTable("nation", df, "n_nationkey")),
            Map.empty)
          assert(g.V("nation").has("n_regionkey", 0).toDF.count() === 5)
        }
      }
    }

    it("reads a CSV-backed vertex table through the same traversal surface") {
      // the catalog is storage-agnostic: any DataFrame-producing source
      // slots in as a VertexTable (parquet is just the default)
      withScratchDir("graft_csv") { dir =>
        graft.sources.TestData.graph(spark, sfDir).V("nation").df
          .write.option("header", "true").mode("overwrite").csv(s"$dir/nation")
        val csvDf = spark.read.option("header", "true").option("inferSchema", "true")
          .csv(s"$dir/nation")
        val g = new graft.traversal.Graph(
          spark,
          Map("nation" -> graft.traversal.VertexTable("nation", csvDf, "n_nationkey")),
          Map.empty)
        assert(g.V("nation").has("n_regionkey", 0).toDF.count() === 5)
      }
    }

    it("reads an evolved-schema table (added column) through mergeSchema") {
      // lake reality at 100 TB: partitions written before a schema change
      // lack the new column; the catalog must read old+new together with
      // nulls for the missing column, not fail or drop partitions
      withScratchDir("graft_evolve") { dir =>
        import spark.implicits._
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
          .write.parquet(s"$dir/t/batch=1")
        Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "extra")
          .write.parquet(s"$dir/t/batch=2")
        val df = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
        val g = new graft.traversal.Graph(
          spark,
          Map("t" -> graft.traversal.VertexTable("t", df, "id")),
          Map.empty)
        val rows = g.V("t").toDF.orderBy("id")
          .collect().map(r => (r.getLong(0), Option(r.get(2)))).toSeq
        assert(rows == Seq(1L -> None, 2L -> None, 3L -> Some(30L), 4L -> Some(40L)))
      }
    }

    // q71/q88/e09 gates are registered below, parameterized over AQE
    // (round-8 hardening: AQE re-plans could resurrect pruned exchanges)

    it("keeps the trained-IVF centroid passes map-side or broadcast") {
      // e06: the corpus-side centroid ASSIGNMENT is a map-side literal
      // argmin since r15 (AnnIndex.cosAssignCol — no centroid join at
      // all, no window), and every remaining corpus × small-table join
      // (the probe-bucket semi-join, the query attach) must broadcast;
      // an unhinted one would show up as a CartesianProduct or
      // SortMergeJoin over the corpus, and a reappearing Window means
      // the assignment regressed to the crossJoin+rank shape
      val df = graft.queries.VectorQueries.all.find(_.name == "e06_ivf_lloyd_ann").get
        .fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val broadcasts = "Broadcast(NestedLoop|Hash)Join".r.findAllIn(plan).size
      assert(broadcasts >= 2, s"expected >=2 broadcast joins, got $broadcasts\n$plan")
      assert(plan.contains("codebook_argmin"), s"map-side argmin assignment missing:\n$plan")
      assert(!plan.contains("Window"), s"assignment regressed to a window:\n$plan")
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }

    it("e08 probes the STORED PQ index — no corpus encode in the probe plan") {
      // r11's last per-session corpus pass, closed in r12: the codebooks
      // and the wide code table are digest-keyed artifacts, so the probe
      // plan must contain (a) scans of both stored artifacts, (b) NO
      // window (the encode argmin and the codebook seeding rank were the
      // windows — their reappearance means the probe is re-encoding), and
      // (c) no explode of the corpus into sub-vector rows
      graft.sources.AnnIndex.pqCodes(spark, sfDir) // ensure stored
      val df = graft.SparkEntry.queries("e08_pq_adc_ann")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_pq_codes_"), plan)
      assert(!plan.contains("Window"), s"corpus encode leaked into the e08 probe:\n$plan")
      assert(!plan.toLowerCase.contains("posexplode") && !plan.contains("Generate"),
        s"sub-vector explode leaked into the e08 probe:\n$plan")
      // all M LUT joins + the re-rank join are broadcasts
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    }

    it("e14 directory-prunes the combined IVF-PQ index and never re-encodes") {
      // the FAISS-IVFPQ shape: candidate selection is PartitionFilters on
      // the stored combined artifact (PQ codes partitioned by bucket) —
      // no join for candidates, no Window (encode) anywhere in the probe
      val idx = graft.sources.AnnIndex.ivfPqIndex(spark, sfDir) // ensure stored
      val df = graft.SparkEntry.queries("e14_ivfpq_ann")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_ivfpq_"), plan)
      // a NON-EMPTY partition filter on code: every scan of a partitioned
      // table prints "PartitionFilters: []", so bare contains() would
      // pass with zero pruning (review finding r12)
      assert("PartitionFilters: \\[[^\\]]*code".r.findFirstIn(plan).isDefined,
        s"no non-empty partition filter on code in\n$plan")
      assert(!plan.contains("Window"), s"corpus encode leaked into the e14 probe:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
      // directory-level teeth: the executed probe must open strictly
      // fewer files than the index holds (the e09 gate's discipline)
      df.count()
      // executedScans unwraps AQE (the probe plan has joins → adaptive root)
      val probedFiles = executedScans(df).collect {
        case f if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq_")) =>
          f.metrics("numFiles").value
      }
      assert(probedFiles.nonEmpty && probedFiles.head < idx.inputFiles.length.toLong,
        s"probed=${probedFiles.headOption} full=${idx.inputFiles.length}")
    }

    it("e16 directory-prunes the residual code table and never re-runs the residual pipeline") {
      // the residual-IVFPQ probe reads THREE stored artifacts (trained
      // centroids, residual codebooks, residual codes); the probe plan
      // must directory-prune the cid-partitioned code table (literal
      // isin from the bounded client-side coarse probe) and contain no
      // Window (the assignment argmax / codebook rank / encode argmin
      // are windows — any of them in the probe means the residual
      // pipeline is being re-run per query)
      val codes = graft.sources.AnnIndex.rpqCodes(spark, sfDir) // ensure stored
      val df = graft.SparkEntry.queries("e16_residual_pq_ann")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_rpq_codes_"), plan)
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
        s"no non-empty partition filter on cid in\n$plan")
      assert(!plan.contains("Window"), s"residual pipeline leaked into the e16 probe:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
      // directory-level teeth: NProbe of KCent buckets → strictly fewer
      // files opened than the index holds
      df.count()
      val probedFiles = executedScans(df).collect {
        case f if f.relation.location.rootPaths.exists(_.toString.contains("graft_rpq_codes_")) =>
          f.metrics("numFiles").value
      }
      assert(probedFiles.nonEmpty && probedFiles.head < codes.inputFiles.length.toLong,
        s"probed=${probedFiles.headOption} full=${codes.inputFiles.length}")
    }

    it("partitioned ANN artifacts hold one file per code directory") {
      // without repartition(code) before partitionBy(code), every write
      // task emits a file into every directory it holds rows for —
      // tasks × 2^nbits tiny files (sf10: 55k files / 4096 dirs, ~6 s
      // probes); the write contract is exactly one file per bucket
      for (df <- Seq(graft.sources.AnnIndex.partitionedIndex(spark, sfDir),
                     graft.sources.AnnIndex.ivfPqIndex(spark, sfDir),
                     graft.sources.AnnIndex.rpqCodes(spark, sfDir))) {
        val files = df.inputFiles
        val dirs = files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
        assert(files.length == dirs.length,
          s"${files.length} files over ${dirs.length} code dirs — small-file regression")
      }
    }

    it("single-query ANN probes source the query vector from the compact table") {
      // the sourcing contract (VectorQueries header): the 1-row query
      // fetch is a PUSHED-DOWN vec_id filter on embeddings.parquet, never
      // a filter over the stored code-partitioned index (which would open
      // every code directory at production layout to find one row)
      Seq("e02_ann_srp_probe", "e07_ann_recall_metric", "e08_pq_adc_ann",
          "e09_ann_partitioned_probe").foreach { q =>
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"),
          s"$q: no pushed-down compact-source query fetch in\n$plan")
      }
    }

    it("never ships document or chunk text through an exchange (d24/d25)") {
      // the CDC discipline: chunking is row-local, digests are computed
      // BEFORE the shuffle — a plan regression that exchanges 'text',
      // 'chunk' or the token array would move the corpus at 100 TB
      val saved = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try Seq("d24_cdc_chunk_dedup", "d25_chunk_dup_ratio").foreach { q =>
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        val exchanged = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.child.output.map(_.name)
        }
        assert(exchanged.nonEmpty, s"$q: expected at least one shuffle")
        exchanged.foreach { cols =>
          assert(!cols.exists(Set("text", "chunk", "toks")),
            s"$q shuffles a text-bearing column: $cols")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
    }

    it("pushes d28's per-source cap to a map-side window group limit") {
      // the rank-≤-N filter must compile to WindowGroupLimit (Partial
      // before the exchange): each task ships at most N rows per source
      // into the shuffle — without it, a 100 TB source moves whole
      val df = graft.SparkEntry.queries("d28_source_cap_sample")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), plan)
      assert(plan.contains("Partial"), plan)
    }

    it("d27's batch dedup never ships raw text through an exchange") {
      // the incremental-ingest discipline: content hashes and band keys
      // are computed BEFORE any shuffle, and candidate shingle sets are
      // semi-join-pruned and checkpointed at build time — the executed
      // plan may exchange digests, band keys and candidate shingle SETS,
      // but never the raw corpus text or token arrays
      val saved = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = graft.SparkEntry.queries("d27_incremental_batch_dedup")(spark, sfDir)
        val exchanged = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.child.output.map(_.name)
        }
        assert(exchanged.nonEmpty, "expected at least one shuffle")
        exchanged.foreach { cols =>
          assert(!cols.exists(Set("text", "toks")),
            s"d27 shuffles a text-bearing column: $cols")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
    }

    it("keeps per-row pipeline expressions inside whole-stage codegen") {
      val df = graft.sources.TestData.graph(spark, sfDir)
        .V("documents").df
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val spans = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(spans.nonEmpty, df.queryExecution.executedPlan.toString)
    }

    it("never re-evaluates an argmin inside a Filter (the KnownNotNull guard fold, e05/e06 + mog audits)") {
      // the map-side literal argmins (coarse assignment cid, PQ-encode
      // k0..k3) become JOIN KEYS downstream, so the optimizer adds
      // isnotnull(k) guards and pushes them below the projection — which
      // re-evaluates the full 8-64-dot argmin per row (guide §4.4's
      // duplicated-evaluation problem, JVM side; the r15 before-plans
      // show it). CodebookArgmin is declared non-nullable, so those
      // guards FOLD at analysis time; this pins the folded shape on
      // the FINAL executed (AQE) plans so a Catalyst upgrade can't
      // silently resurrect the double evaluation.
      for (name <- Seq("e05_ivf_coarse_ann", "e06_ivf_lloyd_ann",
          "e18_mog_pq_recall", "e19_mog_trained_pq_recall", "e20_mog_residual_recall")) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect() // collect() drives THIS queryExecution (count() would
                     // spawn a new one and leave this AQE plan un-finalized)
        val offenders = collection.mutable.Buffer.empty[String]
        foreachNode(df.queryExecution.executedPlan) {
          case (f: org.apache.spark.sql.execution.FilterExec, _)
              if f.condition.exists(e =>
                e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayMin] ||
                e.isInstanceOf[graft.functions.CodebookArgmin] ||
                e.isInstanceOf[graft.functions.DecimalDotProduct]) =>
            offenders += s"$name: Filter re-evaluates an argmin/dot: ${f.condition.toString.take(200)}"
          case _ => ()
        }
        assert(offenders.isEmpty, offenders.mkString("\n"))
      }
    }

    it("keeps the literal argmin projections inside whole-stage codegen with JIT-compilable methods") {
      // guide §1.2/§4 per-task work: the map-side literal argmin is the
      // engine's hottest projection (every ANN assignment/encode). Two
      // silent ways to lose its compiled-code half: (a) the Project falls
      // out of the WholeStageCodegen span at planning, (b) the span
      // compiles to a method past the JVM's 8000-byte JIT cap (or Spark's
      // hugeMethodLimit, which would revert the whole span to interpreted
      // row-at-a-time eval). Pin both, on the executed FINAL plans.
      def argminSpans(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        df.collect() // drives THIS queryExecution so AQE finalizes stages
        var bare = List.empty[String]
        var spans = List.empty[org.apache.spark.sql.execution.WholeStageCodegenExec]
        foreachNode(df.queryExecution.executedPlan) {
          case (w: org.apache.spark.sql.execution.WholeStageCodegenExec, _) => spans = w :: spans
          case (pr: org.apache.spark.sql.execution.ProjectExec, inCodegen)
              if !inCodegen && pr.projectList.exists(_.exists(_.isInstanceOf[graft.functions.CodebookArgmin])) =>
            bare = s"$name: argmin Project OUTSIDE whole-stage codegen" :: bare
          case _ => ()
        }
        assert(bare.isEmpty, bare.mkString("\n"))
        val argminSpans = spans.filter(_.collect {
          case pr: org.apache.spark.sql.execution.ProjectExec
              if pr.projectList.exists(_.exists(_.isInstanceOf[graft.functions.CodebookArgmin])) => pr
        }.nonEmpty)
        assert(argminSpans.nonEmpty, s"$name: no argmin projection found in any codegen span")
        argminSpans.foreach { w =>
          val (_, code) = w.doCodeGen()
          val (_, stats) = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile(code)
          assert(stats.maxMethodCodeSize < 8000,
            s"$name: argmin span method is ${stats.maxMethodCodeSize} bytecode bytes (JIT cap 8000)")
        }
      }
      // the probe shape (K = 8 centroids; e05/e06) and the stored-encode
      // shape (MSub x KSub literal dots; e20's residual encode)
      argminSpans(SparkEntry.queries("e05_ivf_coarse_ann")(spark, sfDir), "e05")
      argminSpans(SparkEntry.queries("e20_mog_residual_recall")(spark, sfDir), "e20")
      // the WIDEST shipped argmin (K = 64, the mog audits' coarse stage)
      // runs behind a localCheckpoint, so its plan is not in any final
      // query plan — pin the identical expression shape directly
      val cents64 = (0 until 64).map { i =>
        (i.toLong, IndexedSeq.tabulate(64)(j => ((i * 64 + j) % 17 - 8) / 8.0f), 1.0)
      }
      val wide = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), graft.sources.AnnIndex.cosAssignCol(cents64).as("cid"))
      argminSpans(wide, "k64-assign")
    }

    it("no whole-stage-codegen span compiles past the JVM's 8000-byte JIT cap (representative registry queries)") {
      // r16 full-registry codegen sweep found two spans past the
      // cap — the mog encode+LUT fusion (15.9 KB) and d27's inlined
      // band-key chain (9.1 KB) — both of which ran INTERPRETER-SIDE
      // while the plan looked fine. Both are fixed by native expressions
      // (CodebookArgmin, BandKeys); this pins the cap on the queries
      // that held the worst spans plus the known codegen-heavy shapes so
      // a regression (a new inlined literal chain, a Catalyst change
      // un-splitting a method) fails CI instead of silently falling out
      // of JIT.
      // q54's superkey-eliminated plan can legitimately run span-free
      // (whole-plan LocalTableScan/broadcast shapes) — the cap assertion
      // still applies to any span it does have
      for (name <- Seq("d27_incremental_batch_dedup", "e18_mog_pq_recall",
          "e20_mog_residual_recall", "q54_match_pattern", "d35_bm25_search")) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        var spans = List.empty[org.apache.spark.sql.execution.WholeStageCodegenExec]
        foreachNode(df.queryExecution.executedPlan) {
          case (w: org.apache.spark.sql.execution.WholeStageCodegenExec, _) => spans = w :: spans
          case _ => ()
        }
        if (name != "q54_match_pattern")
          assert(spans.nonEmpty, s"$name: no codegen spans found")
        spans.foreach { w =>
          val (_, code) = w.doCodeGen()
          val (_, stats) = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile(code)
          assert(stats.maxMethodCodeSize < 8000,
            s"$name: span method is ${stats.maxMethodCodeSize} bytecode bytes (JIT cap 8000): ${w.child.nodeName}")
        }
      }
    }
  }

  /** Walk EVERY physical node, descending through the leaf-like wrappers
    * TreeNode.collect stops at: AdaptiveSparkPlanExec (final plan),
    * query stages, reused exchanges, and whole-stage-codegen spans.
    * Without this, a collect over an executed AQE plan silently sees only
    * the root wrapper. `f` also gets whether the node runs inside a
    * codegen span: below a WholeStageCodegenExec and above its
    * InputAdapters, with no stage boundary in between. */
  private def foreachNode(p: org.apache.spark.sql.execution.SparkPlan, inCodegen: Boolean = false)(
      f: (org.apache.spark.sql.execution.SparkPlan, Boolean) => Unit): Unit = {
    f(p, inCodegen)
    val (cg, kids): (Boolean, Seq[org.apache.spark.sql.execution.SparkPlan]) = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => (false, Seq(a.executedPlan))
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => (false, Seq(q.plan))
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => (false, Seq(r.child))
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => (true, w.children)
      case i: org.apache.spark.sql.execution.InputAdapter => (false, i.children)
      case other => (inCodegen, other.children)
    }
    kids.foreach(foreachNode(_, cg)(f))
  }

  /** Run `body` with AQE forced on (including skew-join and partition
    * coalescing, the re-planners most likely to disturb a gated shape)
    * or forced off; session conf restored afterwards. */
  private def withAqe[T](on: Boolean)(body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, on.toString))
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The FINAL physical plan: under AQE the pre-execution executedPlan is
    * only the initial plan inside AdaptiveSparkPlanExec — drive the query
    * to completion first so re-optimized stages are what gets asserted. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  describe("plan gates hold with AQE re-planning active AND with AQE off (round 8)") {
    Seq(true, false).foreach { aqe =>

      it(s"eliminates q71's six-way match dedup via lineitem's derived key (aqe=$aqe)") {
        withAqe(aqe) {
          // RedundantDistinctRule + the derived `_rowid` key: the binding
          // dedup of the six-way match is provably a no-op, so the final
          // plan carries NO first() buffers at all — and with the dedup
          // gone, the `_rowid` concat itself is dead code, so the columns
          // only IT consumed (l_quantity, l_linestatus) drop out of the
          // fact scan. At 100 TB this removes the match's only
          // data-sized shuffle.
          val t = graft.sources.TestData.graph(spark, sfDir).V("lineitem").matchPattern("l",
            ("l", _.out("of_order"), "o"),
            ("o", _.out("placed_by"), "c"),
            ("c", _.out("cust_nation"), "n"),
            ("l", _.out("of_supplier"), "s"),
            ("s", _.out("supp_nation"), "n"),
            ("n", _.out("of_region"), "r"))
          val filtered = t.where(
            t.sel("r", "r_name") === "ASIA" &&
              t.sel("o", "o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
              t.sel("o", "o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
          val out = filtered.group(
            filtered.sel("n", "n_name").as("n_name"),
            sum(filtered.sel("l", "l_extendedprice")).as("revenue"))
          val plan = finalPlan(out)
          assert(!plan.contains("first("), plan.take(4000))
          assert(!plan.contains("l_tax"), "l_tax survived somewhere:\n" + plan.take(4000))
          assert(!plan.contains("l_quantity"),
            "_rowid's private columns must die with the eliminated dedup:\n" + plan.take(4000))
        }
      }

      it(s"prunes RETAINED match-dedup buffers to referenced struct fields (aqe=$aqe)") {
        withAqe(aqe) {
          // FirstStructPruningRule still owns the dedups that survive the
          // superkey proof — an unbound-intermediate pattern duplicates
          // bindings, so its dedup stays, and its first() buffers must
          // carry pruned structs (the consumers' fields), never full rows.
          val t = graft.sources.TestData.graph(spark, sfDir).V("customer").matchPattern("c",
            ("c", _.in("placed_by").out("placed_by"), "c2"))
          val out = t.project(
            "a" -> t.sel("c", "c_custkey"), "a_name" -> t.sel("c", "c_name"),
            "b" -> t.sel("c2", "c_custkey")).toDF
          val plan = finalPlan(out)
          assert(plan.matches("(?s).*first\\(__ps___as_c#\\d+.*"), plan.take(4000))
          assert(!plan.matches("(?s).*first\\(__as_[a-z0-9]+#\\d+.*"), plan.take(4000))
          val psDecls = "named_struct\\([^)]*\\) AS __ps_".r.findAllIn(plan).toSeq
          assert(psDecls.nonEmpty && psDecls.exists(_.contains("c_custkey")), plan.take(4000))
          assert(psDecls.forall(d => !d.contains("c_mktsegment") && !d.contains("c_acctbal")),
            psDecls.mkString("\n"))
        }
      }

      it(s"eliminates the superkey-proven match dedup entirely (q54, aqe=$aqe)") {
        withAqe(aqe) {
          // RedundantDistinctRule: q54's three single-hop patterns over
          // key-registered tables cannot duplicate binding tuples, so the
          // executed plan must carry NO dedup aggregate at all — at sf10
          // that aggregate was a 600 M-row zero-reduction shuffle (254×
          // the sf1 time; THE super-linear outlier of the scale step-up)
          val t0 = graft.sources.TestData.graph(spark, sfDir).V("customer")
            .where(col("c_acctbal") > 9000)
            .matchPattern("c",
              ("c", _.out("cust_nation"), "n"),
              ("n", _.in("supp_nation"), "s"),
              ("s", _.out("supp_nation"), "n"))
          val out = t0.where(t0.sel("c", "c_acctbal") < t0.sel("s", "s_acctbal"))
            .project("c_custkey" -> t0.sel("c", "c_custkey"), "s_suppkey" -> t0.sel("s", "s_suppkey"))
            .sortBy(col("c_custkey"), col("s_suppkey")).toDF
          val plan = finalPlan(out)
          assert(!plan.contains("Aggregate"), plan.take(4000))
          assert(!plan.contains("first("), plan.take(4000))
        }
      }

      it(s"takes the shuffled-hash path for the salted skew join (q88, aqe=$aqe)") {
        withAqe(aqe) {
          // q88's whole point is spreading a hot key across partitions — a
          // silently re-planned broadcast join would make the salt a no-op
          val df = graft.queries.JoinQueries.all.find(_.name == "q88_skew_salted_join").get
            .fn(spark, sfDir)
          val plan = finalPlan(df)
          assert(plan.contains("ShuffledHashJoin"), plan)
          assert(!plan.contains("BroadcastHashJoin"), plan)
        }
      }

      it(s"hash-joins the band join without sorting the exploded side (q77, aqe=$aqe)") {
        withAqe(aqe) {
          // sorting the 3×-exploded probe stream for a sort-merge join is
          // wasted work at any scale (measured: the sf100 spill knee,
          // SCALE_sf100.md) — the hint must hold the shuffled-hash path
          val df = graft.queries.JoinQueries.all.find(_.name == "q77_range_join_bucketed").get
            .fn(spark, sfDir)
          val plan = finalPlan(df)
          assert(plan.contains("ShuffledHashJoin"), plan)
          assert(!plan.contains("SortMergeJoin"), plan)
        }
      }

      it(s"e09's probe prunes the partitioned ANN index (aqe=$aqe)") {
        withAqe(aqe) {
          val idx = graft.sources.AnnIndex.partitionedIndex(spark, sfDir)
          val probed = idx.where(col("code").isin(0L, 3L, 5L))
          val plan = finalPlan(probed)
          assert(plan.contains("PartitionFilters") && plan.contains("code"), plan)
          val files = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
          }.getOrElse(fail("no FileSourceScanExec leaf in\n" + plan))
          assert(files < idx.inputFiles.length.toLong,
            s"probed=$files full=${idx.inputFiles.length}")
        }
      }
    }
  }
}
