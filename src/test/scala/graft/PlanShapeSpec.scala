package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, RegExpExtract}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FilterExec, FormattedMode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-SHAPE regression gates for the flagship queries (round-10
  * verdict item 4): `tools/gen_plans.scala` renders these plans into
  * PLANS.md for humans, but nothing failed if a shape rotted — a Spark
  * conf change silently demoting q03's broadcasts to shuffles, or a
  * refactor un-pushing q02's scan filters, would keep every correctness
  * row green while the 100 TB plan quietly degraded. Each test here pins
  * the property PLANS.md narrates, on the same formatted explain text,
  * so a flagship plan regression fails the suite instead of waiting for
  * a bench diff.
  *
  * The assertions run on the PLANNED (pre-execution) plan at sf0.001 —
  * the same static-planning decisions a cluster driver makes; AQE can
  * only improve on them at runtime (demote a shuffle to broadcast,
  * never the reverse for these shapes).
  */
class PlanShapeSpec extends SparkTestBase {
  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(FormattedMode)
  }

  /** The static (pre-AQE) physical plan, as a TREE — partitioning and
    * expression assertions walk nodes instead of grepping explain text.
    * (An earlier text form counted lines containing both "Exchange" and
    * "hashpartitioning"; FormattedMode puts the partitioning on a
    * separate `Arguments:` detail line, so those gates matched nothing
    * and passed vacuously — ADVICE r11.)
    */
  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  /** Exchange nodes of the PREPARED (but not executed) plan: exchanges
    * are inserted by EnsureRequirements during executedPlan preparation
    * — `sparkPlan` has none, so partitioning gates must walk the
    * prepared tree (the unexecuted AdaptiveSparkPlanExec's initial
    * plan; AQE can only coalesce these at runtime, never add one).
    */
  private def shuffles(name: String): Seq[ShuffleExchangeExec] = {
    val prepared =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    collectAll(prepared).collect { case e: ShuffleExchangeExec => e }
  }

  /** Collect every node of an EXECUTED adaptive plan, descending through
    * query-stage boundaries (QueryStageExec reports no children, so a
    * plain collect stops at materialized stages).
    */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    p +: kids.flatMap(collectAll)
  }

  private def hasExpr(p: SparkPlan, want: Class[_]): Boolean =
    p.exists(_.expressions.exists(_.exists(e => want.isInstance(e))))

  /** A SinglePartition exchange is a single-reducer RED FLAG unless it
    * feeds a global scalar aggregate (grouping keys empty): there the
    * map side has already collapsed each partition to ONE partial row,
    * so the lone reducer folds #partitions rows — constant work at any
    * data size (q56's count(*) total is this shape).
    */
  private def badSingleReducers(ex: Seq[ShuffleExchangeExec]): Seq[ShuffleExchangeExec] =
    ex.filter(_.outputPartitioning == SinglePartition).filterNot(_.child match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      case _ => false
    })

  test("q02: both scan filters reach parquet as PushedFilters") {
    val p = plan("q02_filter_pushdown")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters: ["))
      .mkString("\n")
    assert(pushed.nonEmpty, "no PushedFilters section in the scan:\n" + p)
    assert(!pushed.contains("PushedFilters: []"),
      "scan pushed NO filters:\n" + pushed)
  }

  test("q03: star join broadcasts every dimension, no cartesian") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"),
      "star join lost its broadcasts:\n" + p)
    assert(!p.contains("CartesianProduct"), "cartesian product in q03")
    assert(!p.contains("SortMergeJoin"),
      "a dimension fell back to a sort-merge shuffle join:\n" + p)
  }

  test("q12: LSH band join never plans an all-pairs join") {
    val p = plan("q12_minhash_pairs")
    assert(!p.contains("CartesianProduct"),
      "minhash candidate generation degenerated to O(N^2):\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "minhash candidate generation planned a nested-loop join:\n" + p)
  }

  test("q72: z-order box pushes BOTH dimensions to the scan") {
    val p = plan("q72_zorder_scan")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters: ["))
      .mkString("\n")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_partkey"),
      "z-order box predicates not pushed to parquet:\n" + pushed)
  }

  test("q81: shuffle-shard computes through a single hash exchange") {
    val ex = shuffles("q81_shuffle_shard")
    assert(ex.nonEmpty, "no shuffle exchange at all — plan changed shape?")
    val hashEx = ex.count(_.outputPartitioning.isInstanceOf[HashPartitioning])
    // one computation exchange on shard; the trailing presentation
    // ORDER BY adds a rangepartitioning exchange, which is allowed
    assert(hashEx <= 1,
      s"q81 grew to $hashEx hash exchanges (expected <= 1):\n" +
        ex.map(_.outputPartitioning).mkString("\n"))
    assert(badSingleReducers(ex).isEmpty,
      "q81 planned a single-reducer stage")
  }

  test("q41: benchmark side of the decontamination join is broadcast") {
    val p = plan("q41_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "q41 lost its broadcast (bench side now shuffles):\n" + p)
  }

  test("q32: NO Expand anywhere — each exact distinct is its own " +
      "single-distinct aggregate") {
    // The r11 lesson escalated by the r12 verdict: two countDistincts
    // in one Aggregate trigger the multi-distinct rewrite — an Expand
    // (x3 rows) into a ~|rows|-group partial aggregate whose 100x
    // spill behavior is nondeterministic (20–108 s spread,
    // BENCH_100X_r12). Split per column, each distinct plans a plain
    // two-phase dedup with no Expand node at all. This gate replaces
    // the old fuse guard (which only pinned that sketches never share
    // the Expand's Aggregate): the Expand itself must be GONE.
    val p32 = physical("q32_sketch_profile")
    assert(!p32.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.ExpandExec]),
      "q32 planned an Expand — an exact-distinct aggregate regressed " +
        "to the multi-distinct rewrite:\n" + p32)
    // and the sketches still live in their own clean per-flag aggregate
    val p = plan("q32_sketch_profile")
    assert(p.contains("ObjectHashAggregate"),
      "sketch aggregates vanished from q32:\n" + p)
    val objBlocks = p.split("\n\n").flatMap(_.split("\n\\(")).filter(b =>
      b.contains("ObjectHashAggregate") && b.contains("Keys"))
    assert(objBlocks.nonEmpty, "no ObjectHashAggregate detail blocks:\n" + p)
    objBlocks.foreach { b =>
      val keysLine = b.linesIterator.find(_.trim.startsWith("Keys")).get
      assert(!keysLine.contains("l_orderkey") &&
        !keysLine.contains("l_partkey") && !keysLine.contains("gid"),
        "sketch aggregate fused with distinct-rewrite keys:\n" + b)
    }
  }

  test("q65: per-column profile passes — no Expand, one-column scans") {
    // q65 carries the same lesson as q32 (per-column single-distinct
    // aggregates, unioned) but had no plan gate: a refactor fusing the
    // six profiles back into one wide multi-distinct aggregate would
    // re-grow the Expand and make every pass scan every profiled
    // column, with all correctness rows green. Pin both properties.
    val p65 = physical("q65_column_profile")
    assert(!p65.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.ExpandExec]),
      "q65 planned an Expand — profile aggregates re-fused:\n" + p65)
    val reads = plan("q65_column_profile").linesIterator
      .filter(_.contains("ReadSchema: "))
      .map(_.trim).toSeq
    assert(reads.nonEmpty, "no ReadSchema lines in q65's plan")
    // every per-column pass must prune its parquet scan to exactly the
    // one profiled column: a struct<> with a comma means a scan reads
    // more than one (orders columns are all scalar types)
    reads.foreach { r =>
      assert(!r.contains(","),
        "a q65 profile pass scans more than one column: " + r)
    }
  }

  test("q56/q69: scale-safe forms plan no single-reducer stage") {
    val ex56 = shuffles("q56_quality_deciles_scale")
    assert(ex56.nonEmpty, "q56 planned no exchanges — shape changed?")
    assert(badSingleReducers(ex56).isEmpty,
      "q56 planned a single-reducer stage over grouped data:\n" +
        badSingleReducers(ex56).mkString("\n"))
    val ex69 = shuffles("q69_source_cap")
    assert(ex69.nonEmpty, "q69 planned no exchanges — shape changed?")
    assert(badSingleReducers(ex69).isEmpty,
      "q69 planned a single-reducer stage over grouped data:\n" +
        badSingleReducers(ex69).mkString("\n"))
    assert(physical("q69_source_cap")
      .collect { case w: WindowExec => w }.isEmpty,
      "q69 regressed from the TopK aggregate to a window")
  }

  test("q07/q17: parse projections sit ABOVE the presentation sort") {
    // The r11 lesson (BUILD_NOTES round 11): a global orderBy's range
    // exchange SAMPLES its child to pick partition bounds, re-executing
    // the child plan once — with the parse below the sort, the sampling
    // pass pays the multi-regex parse / JSON walk a second time (q07
    // 4.2→1.5 s, q17 0.9→0.44 s when moved above). Nothing else fails
    // if a refactor pushes the parse back under the Sort, so pin it.
    def check(name: String, expr: Class[_], what: String): Unit = {
      val p = physical(name)
      assert(hasExpr(p, expr), s"$name: no ${expr.getSimpleName} anywhere " +
        "in the plan — parser changed? update this gate")
      val sorts = p.collect { case s: SortExec if s.global => s }
      assert(sorts.nonEmpty, s"$name: presentation sort vanished")
      sorts.foreach { s =>
        assert(!hasExpr(s.child, expr),
          s"$name: $what slid below the global sort — the range " +
            "exchange's sampling pass will execute it twice:\n" + s)
      }
    }
    // r17: the parse is the fused PlayParsed struct expression (one
    // evaluation per row); the pinned invariant is unchanged — the parse
    // must sit ABOVE the global sort, or the range exchange's sampling
    // pass executes it twice.
    check("q07_play_parse",
      classOf[graft.functions.expressions.PlayParsed], "the play parse")
    check("q17_json_extract", classOf[GetJsonObject], "the JSON extract")
  }

  /** Run the query to completion and collect every node of the
    * FINALIZED adaptive plan. collect() drives THIS Dataset's
    * QueryExecution (a write would plan a fresh one and leave this
    * AdaptiveSparkPlanExec un-executed); every gated query returns a
    * handful of rows at sf0.001.
    */
  private def executedNodes(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    collectAll(df.queryExecution.executedPlan)
  }

  test("q03/q41: EXECUTED (AQE-final) plans keep their broadcasts") {
    // The static gates above assert planning-time decisions; AQE can
    // re-plan at runtime, so drive both queries to completion and
    // assert the final adaptive plan still joined by broadcast.
    val n03 = executedNodes("q03_revenue_by_nation")
    assert(n03.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "q03 executed plan lost its broadcast joins")
    assert(!n03.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q03 executed plan fell back to a sort-merge join")
    val n41 = executedNodes("q41_decontaminate")
    assert(n41.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "q41 executed plan lost its broadcast join")
  }

  test("q12/q88: EXECUTED plans keep their map-side shapes") {
    // q12: candidate generation must stay an equi-join at RUNTIME too —
    // AQE or a stats change electing a nested-loop join would be O(N²)
    // at scale while every correctness row stays green.
    val n12 = executedNodes("q12_minhash_pairs")
    assert(!n12.exists(p =>
        p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "q12 executed plan degenerated to an all-pairs join")
    // q88: the bloom prescreen must survive into the executed plan as a
    // pre-join filter expression (the filter bytes ride as a literal)
    val n88 = executedNodes("q88_bloom_decontaminate")
    assert(n88.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]))),
      "q88 executed plan lost its might_contain prescreen")
  }

  /** One pre-AQE physical plan per declared BATCH query, built once and
    * shared by the full-surface audits below. Streaming drains are
    * excluded: their declared frames are reads of drained output.
    * q91 is excluded for the same reason — its declared frame is a
    * collected 6-row state snapshot (LocalTableScan), so auditing it is
    * vacuous; its decode segments are gated by the dedicated map-only
    * decode test below.
    */
  private lazy val surveyedPlans: Map[String, SparkPlan] =
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.contains("streamed") || n == "q71_incremental_clusters"
        || n == "q91_quarantine_loop")
      .map(n => n -> physical(n)).toMap

  test("q90/q91: total decode is map-only — no exchange ever feeds the " +
      "mapPartitions decoder") {
    // The decode family's contract (same as q21/q47): blob BYTES never
    // shuffle. A refactor inserting an exchange below the decoder would
    // move the full binary corpus across the network at 100 TB while
    // every correctness row stays green — the aggregate above the
    // decoder shuffles 3 meta rows instead.
    val prepared = SparkEntry.queries("q90_decode_errors")(spark, sf)
      .queryExecution.executedPlan
    val decoders = collectAll(prepared).collect {
      case m: org.apache.spark.sql.execution.MapPartitionsExec => m
    }
    assert(decoders.nonEmpty, "q90 lost its mapPartitions decoder")
    decoders.foreach { m =>
      val below = m.children.flatMap(collectAll)
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeExec]),
        "an exchange crept BELOW q90's decoder — blob bytes would shuffle")
    }
    // q91's staged decode segment (cycle 1): a pure map from blob scan to
    // parquet stage — ZERO exchanges anywhere in the decode plan.
    import spark.implicits._
    val corrupted = graft.multimodal.Multimodal.documentBlobs(spark, sf)
      .map { r =>
        if (r.media_id % 7 == 0) r.copy(content = r.content.take(5)) else r
      }
    val stagePlan = graft.multimodal.Multimodal.decodeMetaTotal(corrupted)
      .toDF().queryExecution.executedPlan
    assert(!collectAll(stagePlan).exists(_.isInstanceOf[ShuffleExchangeExec]),
      "q91's decode stage must be map-only end to end")
    // q91's repair segment: blobs ⋉ quarantined-keys must plan as an
    // EQUI left-semi join (hash or sort-merge — AQE picks). A nested-loop
    // or cartesian degeneration would pair every blob with every
    // quarantined key: O(corpus × corruption) blob-byte compares at
    // 100 TB while correctness stays green at test SF.
    val quarKeys = Seq(7L, 14L, 21L).toDF("media_id")
    val repairPlan = graft.multimodal.Multimodal.documentBlobs(spark, sf)
      .toDF().join(quarKeys, Seq("media_id"), "left_semi")
      .queryExecution.executedPlan
    val repairNodes = collectAll(repairPlan)
    assert(!repairNodes.exists(p =>
        p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "q91's repair semi-join degenerated to an all-pairs join")
    assert(repairNodes.exists(p =>
        p.isInstanceOf[BroadcastHashJoinExec] ||
        p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      "q91's repair semi-join must be an equi join")
  }

  test("quarantine-route normalization: one media_id exchange with a " +
      "map-side partial max_by below it — no Expand, no Window, no " +
      "ObjectHashAggregate fallback") {
    // r15 verdict item 3: the error-wins max_by over a wide struct is
    // exactly the aggregate shape that can silently degrade as columns
    // widen. This gates the PRODUCTION expression
    // (Multimodal.normalizedDecisions — the same frame every route
    // batch writes): the plan must stay ONE shuffle of map-side
    // COMBINED partials. Physically Spark plans it as SortAggregate —
    // a hash aggregate is unattainable here (max_by's buffer carries
    // the candidate row; variable-length buffers are not
    // UnsafeRow-mutable) and ObjectHashAggregate would both require a
    // typed-imperative aggregate and sort-fallback past 128 in-memory
    // groups. The properties that matter at 100 TB are pinned instead:
    // partial BELOW the exchange (shuffle moves one combined row per
    // (partition, key), not the raw batch), no Expand blow-up, no
    // unpartitioned Window, single exchange keyed on media_id.
    import spark.implicits._
    val decoded = Seq(
      (1L, "image", 10L, Option.empty[String]),
      (1L, "image", 10L, Option("TruncatedBlob")),
      (2L, "audio", 20L, Option.empty[String]))
      .toDF("media_id", "media_type", "n_bytes", "error")
    val prepared = graft.multimodal.Multimodal.normalizedDecisions(decoded)
      .queryExecution.executedPlan
    val nodes = collectAll(prepared)
    val ex = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size == 1, s"normalization must shuffle exactly once, got ${ex.size}")
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.exists(_.references.map(_.name)
            .exists(_ == "media_id")),
          "normalization exchange must hash on media_id")
      case other => fail(s"normalization exchange partitioning was $other")
    }
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
    val aggs = nodes.collect { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, "normalization lost its aggregate")
    assert(!aggs.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      "normalization fell back to ObjectHashAggregate — sort-based past " +
        "128 in-memory groups (the q32-Expand failure class)")
    val belowExchange = collectAll(ex.head.child)
    assert(belowExchange.exists {
        case a: BaseAggregateExec => a.aggregateExpressions.exists(
          _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
        case _ => false
      },
      "no partial aggregate below the exchange — the shuffle would move " +
        "every raw batch row instead of one combined row per (task, key)")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]),
      "an Expand crept into the normalization")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "normalization must be an aggregate, not a window sort")
  }

  test("MergeTable staged rewrite: ONE bucket-hash exchange feeds both " +
      "the winner window and the partitioned write") {
    // r16: the merge's dominant per-batch cost was TWO full shuffles of
    // the merged rows (the winner window's keys-exchange, then the
    // bucket repartition for the one-file-per-bucket-dir layout). The
    // single-shuffle rewrite hash-partitions on __bucket once and the
    // window partitions by (__bucket, keys) — a clustering the bucket
    // hashing already satisfies, since the bucket is a pure function of
    // the keys. This pins it: exactly one exchange, keyed on __bucket,
    // with the window ABOVE it and no second exchange between them — a
    // regression re-doubles every MergeTable merge's shuffle volume
    // (q87/q91/q92/q93 and the PipelineMain quarantine stage) while all
    // correctness rows stay green.
    import spark.implicits._
    import graft.merge.MergeTable
    val bucket = MergeTable.bucketColumn(Seq("k"), 8)
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .withColumn(MergeTable.BucketCol, bucket)
    val delta = Seq((2L, "c"), (3L, "d")).toDF("k", "v")
      .withColumn(MergeTable.BucketCol, bucket)
    val prepared = MergeTable.rewritePlan(base, delta, Seq("k"))
      .queryExecution.executedPlan
    val nodes = collectAll(prepared)
    val ex = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size == 1,
      s"staged rewrite must shuffle exactly once, got ${ex.size}:\n$prepared")
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.exists(_.references.map(_.name)
            .exists(_ == MergeTable.BucketCol)),
          "rewrite exchange must hash on the bucket column")
      case other => fail(s"rewrite exchange partitioning was $other")
    }
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.size == 1, "staged rewrite must have exactly one window")
    assert(windows.head.partitionSpec.nonEmpty,
      "winner window lost its partitioning")
    assert(collectAll(windows.head.child).contains(ex.head),
      "the winner window must sit ABOVE the bucket exchange (riding its " +
        "shuffle), not below it")
  }

  test("full-surface join/window/sort audit: no cartesian, no " +
      "unpartitioned window, no interior global sort, every " +
      "nested-loop join has a bounded build side") {
    // Companion to the Expand audit: the other plan shapes that stay
    // green at sf0.1 while degenerating at 100 TB. Across EVERY
    // declared batch query:
    //   1. no CartesianProductExec — an all-pairs join anywhere is
    //      O(N^2) at scale regardless of what the rows mean;
    //   2. no WindowExec with an empty partitionSpec — an
    //      unpartitioned window is a single-reducer stage over the
    //      full frame (the q56-family lesson, now enforced globally);
    //   3. no global Sort below the top single-child presentation
    //      chain — an interior global sort is a range exchange + full
    //      re-sort in the MIDDLE of the computation, and its sampling
    //      pass re-executes the child plan (the q07/q17 lesson, ditto);
    //   4. BroadcastNestedLoopJoins only where the population says, and
    //      every Cross-typed one must build from a GLOBAL aggregate —
    //      a provably one-row scalar side (avg/percentile thresholds
    //      joined onto the corpus). The Inner/LeftOuter ones are the
    //      ANN/top-k probe sets (q14/q16/q44/q57: tens of probe rows by
    //      construction) and the decile/bucket boundary frames
    //      (q43/q56: rows = bucket count) — bounded by construction,
    //      pinned by count so a new unbounded BNL cannot hide.
    surveyedPlans.toSeq.sortBy(_._1).foreach { case (name, p) =>
      assert(p.collect { case c: org.apache.spark.sql.execution.joins
          .CartesianProductExec => c }.isEmpty,
        s"$name planned a cartesian product")
      assert(p.collect { case w: WindowExec
          if w.partitionSpec.isEmpty => w }.isEmpty,
        s"$name planned an UNPARTITIONED window — single-reducer at scale")
      val presentation = {
        def chain(n: SparkPlan): Seq[SparkPlan] =
          n +: (if (n.children.size == 1) chain(n.children.head) else Nil)
        chain(p).toSet
      }
      val inner = p.collect {
        case s: SortExec if s.global && !presentation.contains(s) => s
      }
      assert(inner.isEmpty,
        s"$name planned an INTERIOR global sort (range exchange + " +
          s"sampling re-execution mid-computation): ${inner.map(_.sortOrder)}")
    }
    val bnls = surveyedPlans.toSeq.sortBy(_._1).flatMap { case (name, p) =>
      p.collect { case b: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => name -> b }
    }
    val population = bnls.groupBy(_._1).view.mapValues(_.size).toMap
    val expected = Map(
      "q14_cosine_topk" -> 1, "q16_ann_ivf" -> 1, "q31_tfidf_keywords" -> 1,
      "q43_quality_buckets" -> 2, "q44_euclidean_topk" -> 1,
      "q56_quality_deciles_scale" -> 2, "q57_ann_recall" -> 2,
      "q61_mix_weights" -> 2, "q66_histogram" -> 1,
      "q77_minhash_family_gate" -> 2)
    assert(population == expected,
      "the nested-loop join population changed — got " +
        population.toSeq.sorted + ". A NEW BNL means a join lost its " +
        "equi-keys or a side outgrew the broadcast: prove the build " +
        "side is bounded (scalar aggregate / probe set / boundary " +
        "frame), then update this audit.")
    bnls.foreach { case (name, b) =>
      if (b.joinType.sql == "CROSS") {
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
          case _ => b.left
        }
        assert(build.exists {
            case a: org.apache.spark.sql.execution.aggregate
              .BaseAggregateExec => a.groupingExpressions.isEmpty
            case _ => false
          },
          s"$name: a Cross nested-loop join's build side is not a " +
            "global (one-row) aggregate — unbounded broadcast:\n" + build)
      }
    }
  }

  test("full-surface Expand audit: every Expand is semantic or " +
      "match-set-bounded — never a corpus-scale multi-distinct") {
    // The r13 lesson generalized: a multi-distinct rewrite's Expand
    // (x(distincts+1) rows into a ~|input|-group partial aggregate) is
    // only safe when its input is already bounded. Sweep EVERY declared
    // batch query's physical plan and pin the complete Expand
    // population, classified:
    //   - semantic Expands — rollup/cube/grouping-sets (q23/q37/q52,
    //     partial groups ∝ final groups x levels), sliding-window
    //     expansion (q49, groups ∝ time buckets x types), unpivot
    //     (q70, pure row reshaping) — all bounded by construction;
    //   - match-set multi-distincts — q41/q88 count distinct shingles
    //     and bench docs per contaminated doc; their Expand input is
    //     the decontamination JOIN's output (contamination volume),
    //     never the raw corpus, which the subtree assertion pins.
    // A future edit that adds a multi-distinct over a raw scan (the
    // exact shape the r12 verdict caught in q32) changes this
    // population and fails the set equality below — forcing the same
    // split-aggregate treatment q32 got, or a conscious allowlist
    // update with the same bounded-input justification.
    // Streaming drains are excluded: their declared frames are reads
    // of drained output (no aggregation plans to audit), and distinct
    // aggregates are unsupported in streaming anyway.
    val withExpand = surveyedPlans.toSeq.sortBy(_._1).flatMap {
      case (name, p) =>
        val expands = p.collect {
          case e: org.apache.spark.sql.execution.ExpandExec => e
        }
        if (expands.isEmpty) None else Some(name -> expands)
      }.toMap
    val semantic = Set("q23_revenue_rollup", "q37_status_cube",
      "q49_sliding_rollup", "q52_grouping_sets", "q70_metric_unpivot")
    val matchSet = Set("q41_decontaminate", "q88_bloom_decontaminate")
    assert(withExpand.keySet == semantic ++ matchSet,
      "the Expand population changed — new: " +
        (withExpand.keySet -- semantic -- matchSet).toSeq.sorted +
        ", vanished: " +
        ((semantic ++ matchSet) -- withExpand.keySet).toSeq.sorted +
        ". A NEW Expand is a multi-distinct or grouping-set rewrite: " +
        "prove its input is bounded (match set / final-group scale) " +
        "or split it per-column like q32, then update this audit.")
    matchSet.foreach { n =>
      withExpand(n).foreach { e =>
        assert(e.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BaseJoinExec]),
          s"$n: a multi-distinct Expand sits over a RAW SCAN instead " +
            "of the decontamination match join — its partial aggregate " +
            "now grows with the corpus, the exact q32 failure shape:\n" + e)
      }
    }
  }

  /** Prepared (pre-AQE, exchanges inserted) plan nodes per surveyed
    * batch query — the Exchange-level companion to [[surveyedPlans]]
    * (`sparkPlan` has no exchanges; see [[shuffles]]). Built lazily,
    * once, and shared by the audit below.
    */
  private lazy val surveyedPrepared: Map[String, Seq[SparkPlan]] =
    surveyedPlans.keys.toSeq.sorted.map { n =>
      n -> collectAll(
        SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
    }.toMap

  test("full-surface single-reducer + typed-imperative aggregate " +
      "audit: no true SinglePartition stage anywhere; every " +
      "ObjectHashAggregate bounded-keyed and population-pinned") {
    // The last two scale-sensitive plan shapes not yet swept globally:
    //   1. a SinglePartition exchange whose child is NOT a global
    //      scalar aggregate funnels the whole frame through one task —
    //      fine at sf0.1, the cluster-wide bottleneck at 100 TB. The
    //      benign form (map side pre-collapsed to one partial row per
    //      partition, reducer folds #partitions rows) is exactly what
    //      [[badSingleReducers]] exempts; everything else fails here.
    //   2. ObjectHashAggregates hold a per-group OBJECT buffer (HLL
    //      registers, QuantileSummaries, TopK heaps, collect_set sets)
    //      and fall back to sort-based aggregation under group-count
    //      pressure — safe only while their grouping keys are bounded
    //      (probe sets, flags, languages; the r11 57-s lesson was a
    //      sketch whose PARTIAL stage inherited a distinct rewrite's
    //      ~|rows| grouping). Pin the complete population per query,
    //      and reject outright any OHA grouped by a multi-distinct
    //      rewrite's `gid` — the in-plan signature of that fusion.
    // A population change forces the same conversation the BNL and
    // Expand audits force: prove the new node's grouping is bounded,
    // then update the pin.
    surveyedPrepared.toSeq.sortBy(_._1).foreach { case (name, nodes) =>
      val bad = badSingleReducers(nodes.collect {
        case e: ShuffleExchangeExec => e })
      assert(bad.isEmpty,
        s"$name plans a TRUE single-reducer exchange (children: " +
          bad.map(_.child.nodeName).mkString(", ") +
          ") — the whole frame funnels through one task at scale")
    }
    val ohas = surveyedPrepared.toSeq.sortBy(_._1).flatMap {
      case (name, nodes) => nodes.collect {
        case a: org.apache.spark.sql.execution.aggregate
          .ObjectHashAggregateExec => name -> a
      }
    }
    val population = ohas.groupBy(_._1).view.mapValues(_.size).toMap
    val expected = Map(
      "q14_cosine_topk" -> 2, "q16_ann_ivf" -> 4,
      "q32_sketch_profile" -> 2, "q44_euclidean_topk" -> 2,
      "q51_source_lists" -> 4, "q57_ann_recall" -> 6,
      "q63_filtered_topk" -> 2, "q69_source_cap" -> 2)
    assert(population == expected,
      "the ObjectHashAggregate population changed — got " +
        population.toSeq.sorted + ". A new object-buffer aggregate " +
        "allocates per-group state and sort-spills under group-count " +
        "pressure: prove its grouping keys are bounded (probe set / " +
        "enum-scale), then update this audit.")
    ohas.foreach { case (name, a) =>
      assert(!a.groupingExpressions.exists(_.name == "gid"),
        s"$name: an ObjectHashAggregate is grouped by a multi-distinct " +
          "rewrite's gid — an object buffer per ~|rows| partial group, " +
          "the exact r11 57-s/OOM fusion shape")
    }
  }

  test("q32/q35: exact-percentile counts pass is computed ONCE (shared " +
      "exchange) and the broadcast side is k-filtered") {
    // r19 rewrite: blk made non-nullable (coalesce wrapper), so the
    // block join infers no one-sided isnotnull(blk) scan filter — both
    // consumers of the per-value counts frame are canonically equal
    // through the (g, kind, vd) exchange, and the scan+stack+count pass
    // plans ONE exchange reused by the other branch (r18's plans show it
    // duplicated). Gated with AQE off: the static ReuseExchangeAndSubquery
    // rule applies the same canonicalized equality AQE's runtime stage
    // cache uses, so the property is visible pre-execution.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // (query, expected lineitem scans): q35 = the percentile machinery
      // alone → exactly 1 scan; q32 adds the sketch aggregate + the two
      // per-column distinct passes (each deliberately pruned to its own
      // column set) → 4, down from 5 in r18.
      Seq("q35_quantiles" -> 1, "q32_sketch_profile" -> 4).foreach {
        case (n, wantScans) =>
          val all = collectAll(
            SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan)
          val reused = all.collect { case r: ReusedExchangeExec => r }
          assert(reused.nonEmpty,
            s"$n: the counts-frame exchange must be REUSED, not recomputed")
          val scans = all.collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec
                if s.tableIdentifier.isEmpty &&
                  s.relation.location.rootPaths.exists(
                    _.toString.contains("lineitem")) => s
          }
          assert(scans.size == wantScans,
            s"$n: expected $wantScans lineitem scans, got ${scans.size}")
          // the k-targeting filter must sit on the broadcast side: a
          // relevance predicate mentioning bcnt above the block window
          val bhj = all.collect { case j: BroadcastHashJoinExec => j }
          assert(bhj.nonEmpty, s"$n: block attach must stay a broadcast join")
          val buildFilters = all.collect { case b: BroadcastExchangeExec => b }
            .flatMap(b => collectAll(b).collect { case f: FilterExec => f })
          assert(buildFilters.exists(_.condition.references
              .exists(a => a.name == "bcnt" || a.name == "blk_before")),
            s"$n: the broadcast side must carry the bcnt/blk_before " +
              s"relevance filter, got ${buildFilters.map(_.condition.sql)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q68: forward fill plans with NO join, one window on per-hour " +
      "rows, and grid-scale rows crossing only the presentation sort") {
    // r18 rewrite: LOCF on per-hour rows + map-side explode replaced the
    // generated-grid left-join + grid-scale window (10x probe: the grid
    // is 11x the per-hour rows; the two removed exchanges were ~9.4 s of
    // the query's 16.6 s there). Gate the properties that made it fast.
    val name = "q68_hourly_resample"
    assert(!plan(name).contains("Join"),
      "the grid join must stay gone — explode generates covered hours")
    val all = collectAll(
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
    val wins = all.collect { case w: WindowExec => w }
    assert(wins.size == 1,
      s"both fill frames must share ONE window exec, got ${wins.size}")
    val gens = all.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.size == 1, s"one explode, got ${gens.size}")
    assert(gens.head.exists { case _: WindowExec => true; case _ => false },
      "the explode must sit ABOVE the window: the fill runs on per-hour " +
        "rows, never on exploded grid rows")
    val ex = shuffles(name)
    // grid-scale rows cross the wire exactly once — the presentation
    // range sort; every hash exchange below carries per-hour/event rows
    val (range, hash) = ex.partition(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
    assert(range.size == 1, s"one presentation range exchange, got ${range.size}")
    assert(hash.size <= 2,
      s"agg + window exchanges only, got ${hash.size}")
    hash.foreach(h => assert(!h.exists {
      case _: org.apache.spark.sql.execution.GenerateExec => true
      case _ => false
    }, "no hash exchange may carry exploded grid rows"))
    assert(badSingleReducers(ex).isEmpty)
  }

  test("q88: might_contain prescreen sits map-side, before the join") {
    val p = plan("q88_bloom_decontaminate")
    assert(p.contains("might_contain"),
      "bloom prescreen missing from the plan:\n" + p)
    assert(p.contains("Join"), "no join in q88's plan:\n" + p)
    assert(!p.contains("CartesianProduct"), "cartesian product in q88")
  }
}
