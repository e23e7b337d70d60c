package graft

import graft.queries.PipelineOps
import org.apache.spark.sql.functions._

/** Invariants for the training-data-pipeline operators (PipelineOps). */
class PipelineOpsSpec extends SparkTestBase {

  test("docChunks reassembles to the original text") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val rebuilt = PipelineOps.docChunks(spark, sf)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
          .getField("chunk_text")).as("rebuilt"))
    val bad = docs.join(rebuilt, Seq("doc_id"))
      .filter(col("text") =!= col("rebuilt"))
      .count()
    assert(bad === 0L)
  }

  test("docChunks chunk sizes: full chunks except possibly the last") {
    val chunks = PipelineOps.docChunks(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val bad = chunks
      .withColumn("last_idx", max(col("chunk_idx")).over(w))
      .filter((col("chunk_idx") < col("last_idx") &&
        col("n_chunk_tokens") =!= PipelineOps.chunkTokens) ||
        col("n_chunk_tokens") > PipelineOps.chunkTokens ||
        col("n_chunk_tokens") < 1)
      .count()
    assert(bad === 0L)
  }

  test("stratifiedSample keeps every non-downsampled-language doc and ~25% of en") {
    val docs = Tables.documents(spark, sf)
    val sampled = PipelineOps.stratifiedSample(spark, sf)
    val others = Seq("en", "es", "de")
    val totalOther = docs.filter(!col("lang").isin(others: _*)).count()
    val keptOther = sampled.filter(!col("lang").isin(others: _*)).count()
    assert(keptOther === totalOther)
    val totalEn = docs.filter(col("lang") === "en").count().toDouble
    val keptEn = sampled.filter(col("lang") === "en").count().toDouble
    // md5-uniform: expect 0.25 +- a generous binomial tolerance
    assert(keptEn / totalEn > 0.15 && keptEn / totalEn < 0.35)
  }

  test("stratifiedSample is deterministic across runs") {
    val a = PipelineOps.stratifiedSample(spark, sf).collect().toSeq
    val b = PipelineOps.stratifiedSample(spark, sf).collect().toSeq
    assert(a === b)
  }

  test("decontaminate flags only non-benchmark docs, with real overlap") {
    val res = PipelineOps.decontaminate(spark, sf)
    assert(res.filter(col("doc_id") % 50 === 0).count() === 0L)
    assert(res.filter(col("n_shared_shingles") < 1 || col("n_bench_docs") < 1)
      .count() === 0L)
  }

  test("intervalJoin bucketed plan equals the naive range join") {
    import graft.queries.Exact.sumD
    val ev = Tables.events(spark, sf).withColumn("us", unix_micros(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("u"), col("us").as("eus"))
    val naive = errors.join(ev.select(col("user_id").as("u"),
        col("us").as("cus"), col("value")),
        Seq("u"), "left")
      .withColumn("in_range",
        col("cus") >= col("eus") - PipelineOps.windowUs && col("cus") < col("eus"))
      .groupBy(col("event_id"))
      .agg(count(when(col("in_range"), 1)).as("n_prior_10m"),
        coalesce(sumD(when(col("in_range"), col("value"))), lit(0.0)).as("value_10m"))
    val bucketed = PipelineOps.intervalJoin(spark, sf)
    assert(bucketed.count() === naive.count())
    val joined = bucketed.join(naive.withColumnsRenamed(
      Map("n_prior_10m" -> "n2", "value_10m" -> "v2")), Seq("event_id"))
    assert(joined.filter(col("n_prior_10m") =!= col("n2") ||
      col("value_10m") =!= col("v2")).count() === 0L)
  }

  test("qualityBuckets: deciles are balanced and monotone in score") {
    val res = PipelineOps.qualityBuckets(spark, sf)
    val n = res.count()
    val sizes = res.groupBy(col("decile")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === (1 to 10).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
    // decile boundaries respect the (n_tokens, doc_id) order
    val cross = res.as("a").join(res.as("b"),
        col("a.decile") < col("b.decile") &&
        col("a.n_tokens") > col("b.n_tokens"))
      .count()
    assert(cross === 0L)
    assert(n === Tables.documents(spark, sf).count())
  }

  test("euclideanTopK: rank-1 neighbour agrees with exact double arithmetic") {
    val res = PipelineOps.euclideanTopK(spark, sf)
    assert(res.filter(col("rank") === 1).count() === 10L)
    // distances are non-decreasing in rank per probe
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("rank"))
    val bad = res.withColumn("prev", lag(col("dist"), 1).over(w))
      .filter(col("prev").isNotNull && col("dist") < col("prev"))
      .count()
    assert(bad === 0L)
    // cross-check one probe's top-1 against a full-precision double scan
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val probe = emb.find(_._1 == 0L).get._2
    val best = emb.filter(_._1 != 0L).map { case (id, v) =>
      val d = math.sqrt(v.zip(probe).map { case (a, b) =>
        (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum)
      (id, d)
    }.minBy { case (id, d) => (d, id) }
    val got = res.filter(col("probe_id") === 0 && col("rank") === 1)
      .select(col("cand_id"), col("dist")).head()
    assert(got.getLong(0) === best._1)
    assert(math.abs(got.getDouble(1) - best._2) < 1e-4)
  }

  test("curationPipeline composes its stages consistently") {
    val res = PipelineOps.curationPipeline(spark, sf)
    val docs = Tables.documents(spark, sf)
    // total docs surviving <= docs in the token-length quality band
    val inBand = docs.filter(
      size(split(col("text"), " ")).between(20, 90)).count()
    val kept = res.agg(sum(col("n_docs"))).head().getLong(0)
    assert(kept > 0 && kept <= inBand)
    // chunk accounting: chunks = ceil(tokens/32) summed per group means
    // chunks <= tokens/32 + docs and chunks >= tokens/32
    val bad = res.filter(
      col("total_chunks") * PipelineOps.chunkTokens <
        col("total_tokens") ||
        col("total_chunks") > (col("total_tokens") / PipelineOps.chunkTokens)
          + col("n_docs"))
      .count()
    assert(bad === 0L)
    // downsampled languages keep at most their sampling share of the band
    val enBand = docs.filter(col("lang") === "en" &&
      size(split(col("text"), " ")).between(20, 90)).count()
    val enKept = res.filter(col("lang") === "en")
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(enKept <= (enBand * 0.4).toLong + 1)
  }

  test("fast minhash path recovers the md5 family's verified near-dups") {
    import graft.queries.TextOps
    val fast = TextOps.minhashPairsFast(spark, sf)
    val exact = TextOps.minhashPairs(spark, sf)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val exactN = exact.count()
    val found = exact.join(fast.select(col("doc_a"), col("doc_b")),
      Seq("doc_a", "doc_b"), "left_semi").count()
    // different hash families -> different candidate sets, but both are
    // 16-minhash/8-band LSH and both exact-verify: high-jaccard pairs
    // land in a shared band with overwhelming probability
    assert(exactN == 0 || found >= (exactN * 0.8).toLong,
      s"fast path recovered $found of $exactN md5-family pairs")
    // precision is exact by construction: every emitted pair really has
    // jaccard >= 0.5 (reuse the frame - the pipeline is the suite's most
    // expensive, don't run it twice)
    assert(fast.filter(col("jaccard") < 0.5).count() === 0L)
  }

  test("datasetSplit partitions the corpus with ~80/10/10 shares") {
    val res = PipelineOps.datasetSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val total = res.map(_._2).sum
    assert(total === Tables.documents(spark, sf).count())
    val byShare = res.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val train = byShare("train").toDouble / total
    assert(train > 0.7 && train < 0.9, s"train share $train")
    assert(byShare.keySet === Set("train", "val", "test"))
  }

  test("sequencePack: packs are contiguous per lang and conserve tokens") {
    val res = PipelineOps.sequencePack(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), size(split(col("text"), " ")).as("n"))
    // token conservation per lang
    val got = res.groupBy(col("lang")).agg(sum(col("pack_tokens")).as("t"))
    val want = docs.groupBy(col("lang")).agg(sum(col("n")).as("t2"))
    assert(got.join(want, Seq("lang")).filter(col("t") =!= col("t2")).count() === 0L)
    // pack ids are 0..max contiguous per lang
    val ids = res.select(col("lang"), col("pack_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    ids.values.foreach { ps =>
      val sorted = ps.map(_._2).sorted
      assert(sorted.head === 0L)
      assert(sorted.zipWithIndex.forall { case (p, i) => p == i })
    }
    // every pack except a lang's last holds at least the budget minus one
    // max-size document (the approximate-packing guarantee)
    val maxDoc = docs.agg(max(col("n"))).head().getInt(0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val bad = res.withColumn("last", max(col("pack_id")).over(w))
      .filter(col("pack_id") < col("last") &&
        col("pack_tokens") < PipelineOps.packBudget - maxDoc)
      .count()
    assert(bad === 0L)
  }

  test("sketch profile approximations stay within documented error of exact") {
    // q32 emits its accuracy contract directly (sketch vs exact twin in
    // one aggregation, booleans the oracle states as TRUE) — the spec
    // asserts every contract bit holds per group
    val rows = graft.queries.Profiling.sketchProfile(spark, sf).collect()
    assert(rows.length == 3) // one per l_returnflag
    rows.foreach { r =>
      (1 until r.length).foreach { i =>
        assert(r.getBoolean(i),
          s"contract column $i false for flag ${r.getString(0)}")
      }
    }
  }

  test("curated corpus publishes partitioned by lang, compacts, reads back identically") {
    val dir = tempDir("graft-corpus").toString
    val out = s"$dir/corpus"
    val curated = PipelineOps.stratifiedSample(spark, sf)
    curated.write.partitionBy("lang").parquet(out)
    val back = spark.read.parquet(out)
      .select(curated.columns.map(col): _*)
    assert(back.exceptAll(curated).count() === 0L)
    assert(curated.exceptAll(back).count() === 0L)
    // partition pruning reaches the scan
    val pruned = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected lang partition filter in:\n$scan")
    // maintenance: compaction preserves every row (layout flattens)
    graft.ops.ScaleOps.compact(spark, out, targetBytes = 1L << 20)
    val compacted = spark.read.parquet(out).select(curated.columns.map(col): _*)
    assert(compacted.exceptAll(curated).count() === 0L)
    assert(curated.exceptAll(compacted).count() === 0L)
  }

  test("minhash estimated jaccard brackets the exact jaccard loosely") {
    import graft.queries.TextOps
    val est = TextOps.minhashEstimatedJaccard(spark, sf)
      .withColumnRenamed("est_jaccard", "est")
    val exact = TextOps.minhashPairs(spark, sf)
    // same candidate set by construction
    assert(est.count() === exact.count())
    val joined = est.join(exact, Seq("doc_a", "doc_b"))
    // estimator error bound: 16 components -> loose tolerance; near-dups
    // (jaccard ~1) must estimate high, disjoint pairs must estimate low
    val bad = joined.filter(
      (col("jaccard") > 0.9 && col("est") < 0.5) ||
        (col("jaccard") < 0.1 && col("est") > 0.5))
      .count()
    assert(bad === 0L)
  }

  test("q43/q56 scale deciles: equal the window formulation, no unpartitioned window") {
    import graft.queries.PipelineOps
    // the textbook formulation lives HERE, as the cross-check — the
    // declared surface (q43 and q56 both) runs the partitioned-window
    // decomposition
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens"), col("doc_id"))
    val windowForm = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        percent_rank().over(w).as("pr"),
        ntile(10).over(w).as("decile"))
    val scale = PipelineOps.qualityBucketsAtScale(spark, sf)
    assert(scale.exceptAll(windowForm).count() === 0L)
    assert(windowForm.exceptAll(scale).count() === 0L)
    // q43 IS the scale path now
    val q43 = PipelineOps.qualityBuckets(spark, sf)
    assert(q43.exceptAll(scale).count() === 0L)
    // every Window node in the declared plan must be key-partitioned —
    // the global single-task sort is exactly what this plan exists to
    // avoid (logical plan: physical WindowExec hides inside AQE wrapper)
    val windows = scale.queryExecution.optimizedPlan.collect {
      case win: org.apache.spark.sql.catalyst.plans.logical.Window => win
    }
    assert(windows.nonEmpty) // the per-value row_number survives
    windows.foreach { win =>
      assert(win.partitionSpec.nonEmpty,
        s"unpartitioned window in q56 plan:\n$win")
    }
  }

  test("q69 source cap: TopK reduction, no per-source-width window") {
    val capped = PipelineOps.sourceCapSample(spark, sf)
    // skew-safety is the plan shape: map-side partial ObjectHashAggregate
    // with k-row buffers across the shuffle — a Window would rank every
    // row of the biggest source in one task
    val plan = capped.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Window"), plan)
    // bit-identical to the window formulation it replaces
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8), col("doc_id"))
    val windowed = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PipelineOps.sourceCap)
      .select(col("doc_id"), col("source"), col("rk"))
    assert(capped.exceptAll(windowed).count() === 0L)
    assert(windowed.exceptAll(capped).count() === 0L)
  }
}
