package graft

import graft.ops.ScaleOps
import org.apache.spark.sql.functions._

/** Skew salting and bucketing: results must equal the unsalted plans;
  * bucketed joins must be exchange-free.
  */
class ScaleOpsSpec extends SparkTestBase {
  import spark.implicits._

  // skewed frame: key 0 holds 90% of rows
  private def skewed = (1 to 10000).map { i =>
    (if (i % 10 == 0) i % 7 else 0L, i.toDouble)
  }.toDF("k", "v")

  test("saltedAggregate equals plain aggregate") {
    val plain = skewed.groupBy("k")
      .agg(count(lit(1)).as("n"), sum($"v".cast("decimal(18,2)")).as("total"))
    val salted = ScaleOps.saltedAggregate(skewed, Seq(col("k")), 16,
      partial = Seq(count(lit(1)).as("c"), sum($"v".cast("decimal(18,2)")).as("s")),
      fin = Seq(sum(col("c")).as("n"), sum(col("s")).as("total")))
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoin equals plain join") {
    val dim = (0L to 6L).map(k => (k, s"name_$k")).toDF("k", "name")
    val plain = skewed.join(dim, Seq("k")).select("k", "v", "name")
    val salted = ScaleOps.saltedJoin(skewed, dim, "k", 8).select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("sampleHotKeys finds exactly the planted hot key") {
    // key 0 holds 9000 of 10000 rows; every other key ≤ ~150
    val hot = ScaleOps.sampleHotKeys(skewed, "k",
      rowThreshold = 1000L, fraction = 1.0, maxKeys = 16)
    assert(hot == Seq(0L), s"hot set: $hot")
    // threshold above every key's count: nothing is hot
    assert(ScaleOps.sampleHotKeys(skewed, "k", 20000L, 1.0, 16).isEmpty)
  }

  test("hybrid saltedJoin: only the hot branch carries the salt; cold joins plain") {
    val dim = (0L to 6L).map(k => (k, s"name_$k")).toDF("k", "name")
    val hybrid = ScaleOps.saltedJoin(skewed, dim, "k", 8,
      hotRowThreshold = 1000L, sampleFraction = 1.0)
    val planJoins = hybrid.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Join")).toSeq
    // two join branches union'd: exactly one joins on (k, __salt), the
    // cold branch joins on k alone — no salt column, no replication
    assert(planJoins.count(_.contains("__salt")) == 1,
      s"expected exactly one salted join:\n${planJoins.mkString("\n")}")
    assert(planJoins.exists(l => !l.contains("__salt")),
      s"expected a plain cold-branch join:\n${planJoins.mkString("\n")}")
    val plain = skewed.join(dim, Seq("k")).select("k", "v", "name")
    val got = hybrid.select("k", "v", "name")
    assert(got.count() == plain.count())
    assert(got.exceptAll(plain).count() == 0 && plain.exceptAll(got).count() == 0)
  }

  test("hybrid saltedJoin preserves left/semi/anti semantics across the branch split") {
    import spark.implicits._
    // dim misses key 3 and the null key; big has null-key rows that the
    // cold branch must keep exactly once under left/anti
    val big = (skewed.select($"k".cast("long").as("k"), $"v") union
      Seq((null.asInstanceOf[java.lang.Long], -1.0)).toDF("k", "v")
        .select($"k".cast("long").as("k"), $"v"))
    val dim = Seq(0L, 1L, 2L, 4L, 5L, 6L).map(k => (k, s"name_$k")).toDF("k", "name")
    for (jt <- Seq("left", "left_semi", "left_anti")) {
      val plain = big.join(dim, Seq("k"), jt)
      val hybrid = ScaleOps.saltedJoin(big, dim, "k", 8,
        joinType = jt, hotRowThreshold = 1000L, sampleFraction = 1.0)
      assert(hybrid.count() == plain.count(), s"$jt count")
      assert(hybrid.exceptAll(plain).count() == 0 &&
        plain.exceptAll(hybrid).count() == 0, s"$jt rows")
    }
  }

  test("q76 hybrid skew query equals its plain formulation") {
    val q76 = graft.queries.ScaleQueries.hybridSkewJoin(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(when(col("user_id") < 10, col("user_id")).otherwise(lit(-1L))
        .cast("long").as("k"), col("value"))
    val plain = ev.groupBy(concat(lit("grp_"), col("k").cast("string")).as("grp"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.sumD(col("value")).as("total_value"))
    assert(q76.exceptAll(plain).count() == 0 && plain.exceptAll(q76).count() == 0)
  }

  test("compact: many small files -> few files, same rows") {
    val dir = tempDir("graft-compact").toString + "/t"
    val df = (1 to 5000).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 32)
    val n = ScaleOps.compact(spark, dir, targetBytes = 1L << 20)
    val after = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == n && after < before / 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000)
    assert(back.agg(sum("id")).head().getLong(0) == 5000L * 5001 / 2)
  }

  test("compact recovers a directory stranded at .old by a killed run; every row survives") {
    val base = tempDir("graft-compact-rec")
    val dir = base.resolve("t")
    val df = (1 to 3000).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
    df.repartition(16).write.parquet(dir.toString)
    // a compact killed between its two renames: live moved to t.old, the
    // staged rewrite never renamed in
    val stranded = base.resolve("t" + graft.merge.Swap.OldSuffix)
    java.nio.file.Files.move(dir, stranded)
    java.nio.file.Files.createDirectories(base.resolve("t.compact"))
    val n = ScaleOps.compact(spark, dir.toString, targetBytes = 1L << 20)
    val back = spark.read.parquet(dir.toString)
    assert(back.count() == 3000)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    assert(new java.io.File(dir.toString).listFiles()
      .count(_.getName.endsWith(".parquet")) == n)
    assert(base.toFile.listFiles().map(_.getName).toSet == Set("t"),
      "no backup, staging or hidden copy may remain")
  }

  test("compact shrink plans shuffle-free (coalesce); grow/skew keep repartition") {
    val base = tempDir("graft-cplan").toString
    val df = (1 to 5000).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
    // shrink, near-uniform files -> coalesce: no exchange in the plan
    df.repartition(64).write.parquet(s"$base/uniform")
    val (shrink, n1) = ScaleOps.compactFrame(spark, s"$base/uniform", 1L << 20)
    assert(n1 < 64)
    val shrinkPlan = shrink.queryExecution.executedPlan.toString
    assert(!shrinkPlan.contains("Exchange"), s"shrink should not shuffle:\n$shrinkPlan")
    assert(shrinkPlan.contains("Coalesce"), shrinkPlan)
    // growing the file count cannot coalesce -> repartition (exchange)
    df.coalesce(1).write.parquet(s"$base/one")
    val (grow, _) = ScaleOps.compactFrame(spark, s"$base/one", 1L)
    assert(grow.queryExecution.executedPlan.toString.contains("Exchange"))
    // skewed inputs (one file far over the mean) redistribute too
    df.repartition(40).write.parquet(s"$base/skew")
    df.limit(4000).coalesce(1).write.mode("append").parquet(s"$base/skew")
    val (skew, _) = ScaleOps.compactFrame(spark, s"$base/skew", 1L << 20)
    assert(skew.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("hive-partitioned write prunes partitions at scan time") {
    val dir = tempDir("graft-prune").toString + "/t"
    Tables.orders(spark, sf)
      .withColumn("order_month",
        date_format(col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("order_month").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("order_month") === "1997-01")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter present and no pushed data-filter needed
    assert(plan.contains("PartitionFilters: [isnotnull(order_month"), plan)
    assert(pruned.count() ==
      Tables.orders(spark, sf)
        .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1997-01").count())
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    ScaleOps.writeBucketed(li, "li_b", 4, Seq("l_orderkey"), Seq("l_orderkey"))
    ScaleOps.writeBucketed(o, "o_b", 4, Seq("o_orderkey"), Seq("o_orderkey"))
    val joined = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    // and it still returns the right rows
    assert(joined.count() ==
      li.join(o, col("l_orderkey") === col("o_orderkey")).count())
  }

  test("q73 bucketed-join query: only the segment aggregate shuffles") {
    val q = graft.queries.ScaleQueries.bucketedJoin(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // one hash exchange for the 5-group aggregate; the custkey join itself
    // is exchange-free because both tables are pre-bucketed on its key
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected 1 exchange (the aggregate):\n$plan")
    // and the result equals the plain-table formulation bit for bit
    val plain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        graft.queries.Exact.sumD(col("o_totalprice")).as("revenue"))
    assert(q.exceptAll(plain).count() == 0 && plain.exceptAll(q).count() == 0)
  }

  test("q74/q75 salted query entries equal their plain formulations") {
    val q74 = graft.queries.ScaleQueries.saltedTypeTotals(spark, sf)
    val plain74 = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.sumD(col("value")).as("total_value"))
    assert(q74.exceptAll(plain74).count() == 0 && plain74.exceptAll(q74).count() == 0)

    val q75 = graft.queries.ScaleQueries.saltedBrandRevenue(spark, sf)
    val plain75 = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        graft.queries.Exact.sumD(col("l_extendedprice")).as("revenue"))
    assert(q75.exceptAll(plain75).count() == 0 && plain75.exceptAll(q75).count() == 0)
  }

  test("cappedBandJoin drops super-frequent buckets, keeps the rest exactly") {
    import spark.implicits._
    // bucket "hot" holds 50 ids (C(50,2)=1225 junk pairs), two small
    // buckets hold 3 and 2
    val hot = (1L to 50L).map(i => (i, "hot"))
    val small = Seq((101L, "s1"), (102L, "s1"), (103L, "s1"),
      (201L, "s2"), (202L, "s2"))
    val bandKeys = (hot ++ small).toDF("doc_id", "bucket")
    val capped = ScaleOps.cappedBandJoin(bandKeys, "doc_id", Seq("bucket"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((101L, 102L), (101L, 103L), (102L, 103L), (201L, 202L))
    assert(capped === want)
    // with a cap above every bucket size, nothing is dropped
    val uncapped = ScaleOps.cappedBandJoin(bandKeys, "doc_id", Seq("bucket"), 50)
    assert(uncapped.count() === (50L * 49 / 2 + 4))
  }

  test("cappedBandJoin with a generous cap reproduces the minhash candidate set") {
    // real band keys from the q12 pipeline shape
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("t")) - 3),
          i => array_join(slice(col("t"), i + 1, lit(3)), " ")).as("shingles"))
    val sig0 = array_min(transform(col("shingles"), s => md5(concat(lit("0:"), s))))
    val sig1 = array_min(transform(col("shingles"), s => md5(concat(lit("1:"), s))))
    val bandKeys = docs.select(col("doc_id"),
      md5(concat_ws("|", sig0, sig1)).as("bucket"))
    val plain = bandKeys.select(col("bucket"), col("doc_id").as("a"))
      .join(bandKeys.select(col("bucket"), col("doc_id").as("b")), Seq("bucket"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val capped = ScaleOps.cappedBandJoin(bandKeys, "doc_id", Seq("bucket"), 1000)
    assert(capped.count() === plain.count())
    assert(capped.exceptAll(plain).count() === 0L)
  }

  test("plannedScanWidth matches Spark's planned scan partitioning") {
    // narrow plans over file scans: metadata-only estimate == actual width
    for (df <- Seq(
        Tables.documents(spark, sf),
        Tables.lineitem(spark, sf).filter(col("l_quantity") > 10)
          .select("l_orderkey", "l_quantity"),
        Tables.events(spark, sf).select("event_id", "ts"))) {
      val est = ScaleOps.plannedScanWidth(df)
      assert(est.isDefined)
      assert(est.get === df.rdd.getNumPartitions)
    }
    // wide plan: no estimate (falls back to physical planning inside rebalance)
    val agg = Tables.orders(spark, sf).groupBy("o_orderstatus").count()
    assert(ScaleOps.plannedScanWidth(agg).isEmpty)
    // rebalance still widens a skinny scan and leaves a wide frame alone
    val want = spark.sparkContext.defaultParallelism
    assert(ScaleOps.rebalance(Tables.documents(spark, sf))
      .rdd.getNumPartitions === want)
    assert(ScaleOps.rebalance(agg, knownPartitions = want * 2)
      .queryExecution.logical === agg.queryExecution.logical)
  }

  test("plannedScanWidth declines partitioned trees (falls back to planning)") {
    // the split arithmetic ignores partition filters, so a partitioned
    // layout must return None rather than overstate the width
    val dir = tempDir("graft-psw").toString + "/t"
    Tables.orders(spark, sf)
      .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("m").parquet(dir)
    val part = spark.read.parquet(dir).filter(col("m") === "1997-01")
    assert(ScaleOps.plannedScanWidth(part).isEmpty)
    // rebalance still works through the physical-planning fallback
    assert(ScaleOps.rebalance(part).rdd.getNumPartitions >= 1)
  }

  test("q28 banded simhash join: no cartesian product, equals brute force") {
    val banded = graft.queries.Relational2.simhashHammingPairs(spark, sf)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // brute-force reference (the pre-round-4 formulation)
    val sig = graft.queries.TextOps.simhash(spark, sf)
    val brute = sig.select(col("doc_id").as("doc_a"), col("simhash").as("h_a"))
      .crossJoin(sig.select(col("doc_id").as("doc_b"), col("simhash").as("h_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= graft.queries.Relational2.simhashMaxHamming)
      .select("doc_a", "doc_b", "hamming")
    assert(banded.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(banded).count() == 0)
  }

  test("PersistRegistry bounds live entries and LRU-evicts") {
    import spark.implicits._
    val before = graft.ops.PersistRegistry.liveCount(spark)
    val tags = (0 until graft.ops.PersistRegistry.MaxEntries + 4)
      .map(i => s"test-reg:$i")
    tags.foreach { t =>
      graft.ops.PersistRegistry.cached(t, Seq((t, 1)).toDF("tag", "v")).count()
    }
    assert(graft.ops.PersistRegistry.liveCount(spark)
      <= graft.ops.PersistRegistry.MaxEntries)
    // re-registering an evicted tag works (recompute + re-persist)
    val back = graft.ops.PersistRegistry.cached(tags.head,
      Seq((tags.head, 1)).toDF("tag", "v"))
    assert(back.count() == 1)
    graft.ops.PersistRegistry.invalidatePrefix(spark, "test-reg:")
    assert(graft.ops.PersistRegistry.liveCount(spark) <= before + 0 +
      graft.ops.PersistRegistry.MaxEntries) // non-test entries untouched
  }

  test("clusterForSkipping yields disjoint per-file key ranges; unclustered does not") {
    val base = tempDir("graft-skip").toString
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"))
    // clustered layout: disjoint per-file user_id ranges
    ScaleOps.clusterForSkipping(ev, s"$base/clustered", 8, Seq("user_id"))
    val stats = ScaleOps.fileStats(spark, s"$base/clustered", "user_id")
      .sortBy(_._2)
    assert(stats.size >= 2, s"expected multiple files, got $stats")
    stats.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 <= b._2, s"overlapping ranges: $a vs $b")
      case _ =>
    }
    // control: round-robin layout scatters the full range into every file
    ev.repartition(8).write.mode("overwrite").parquet(s"$base/scattered")
    val sc = ScaleOps.fileStats(spark, s"$base/scattered", "user_id")
    val (gmin, gmax) = (sc.map(_._2).min, sc.map(_._3).max)
    assert(sc.forall { case (_, lo, hi) =>
      hi - lo > (gmax - gmin) / 4 }, "control layout unexpectedly clustered")
    // results identical either way
    assert(spark.read.parquet(s"$base/clustered").count() == ev.count())
  }

  test("withZValue: Morton interleave bit-exact on known values") {
    // 2 cols, 2 bits, values already spanning [0,3]: scaling is identity
    val df = Seq((0L, 0L), (3L, 0L), (0L, 3L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
    val z = ScaleOps.withZValue(df, Seq("x", "y"), bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // x contributes even bit positions, y odd: z = interleave(x, y)
    assert(z((0L, 0L)) == 0L)
    assert(z((3L, 0L)) == 5L)  // 0b0101
    assert(z((0L, 3L)) == 10L) // 0b1010
    assert(z((3L, 3L)) == 15L) // 0b1111
    assert(z((2L, 1L)) == 6L)  // x=0b10 -> bits {2}=4; y=0b01 -> bits {1}=2
  }

  test("Z-order layout prunes on BOTH columns; lexicographic only on the first") {
    val base = tempDir("graft-zord").toString
    // full 256x256 grid: x and y independent and uniform
    val grid = spark.range(0, 65536L)
      .select((col("id") % 256).as("x"), (col("id") / 256).as("y"))
    ScaleOps.writeZOrdered(grid, s"$base/zorder", n = 16, Seq("x", "y"))
    ScaleOps.clusterForSkipping(grid, s"$base/lexico", 16, Seq("x", "y"))
    // pruning power = mean fraction of files whose [min,max] contains a
    // probe point (lower is better); probe both dimensions
    def overlapFrac(dir: String, column: String): Double = {
      val stats = ScaleOps.fileStats(spark, dir, column)
      assert(stats.size >= 8, s"expected many files in $dir, got ${stats.size}")
      val probes = (8L until 256L by 16L).toSeq
      probes.map { v =>
        stats.count { case (_, lo, hi) => lo <= v && v <= hi }.toDouble / stats.size
      }.sum / probes.size
    }
    val (zx, zy) = (overlapFrac(s"$base/zorder", "x"), overlapFrac(s"$base/zorder", "y"))
    val (lx, ly) = (overlapFrac(s"$base/lexico", "x"), overlapFrac(s"$base/lexico", "y"))
    // lexicographic: perfect on x, useless on y (every file spans all y)
    assert(lx <= 0.20, s"lexicographic leading-column pruning weak: $lx")
    assert(ly >= 0.90, s"control not scattered on y: $ly")
    // z-order: a 16-file z-range grid is ~4x4, so a point filter on either
    // column should overlap ~1/4 of files — far below the no-pruning 1.0
    assert(zx <= 0.45, s"z-order x pruning weak: $zx")
    assert(zy <= 0.45, s"z-order y pruning weak: $zy")
    // layout change loses no rows
    assert(spark.read.parquet(s"$base/zorder").count() == 65536L)
  }

  test("q72 layout: the declared box scan reads fewer files than the table holds") {
    import graft.queries.LayoutOps
    val dir = LayoutOps.zorderedLineitem(spark, sf)
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 8, s"expected a multi-file layout, got $files files")
    // footer technique: a file is READ only if its per-file stats overlap
    // the box on BOTH dimensions — everything else is skipped by parquet
    // row-group stats pruning (same stats the Spark scan consults)
    val shipLoUs = java.time.LocalDate.parse(LayoutOps.ShipLo)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    val shipHiUs = java.time.LocalDate.parse(LayoutOps.ShipHi)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    val pkStats = ScaleOps.fileStats(spark, dir, "l_partkey")
      .map { case (f, lo, hi) => f -> (lo, hi) }.toMap
    val sdStats = ScaleOps.fileStats(spark, dir, "l_shipdate")
      .map { case (f, lo, hi) => f -> (lo, hi) }.toMap
    assert(pkStats.size == files && sdStats.size == files)
    val read = pkStats.keys.count { f =>
      val (plo, phi) = pkStats(f)
      val (slo, shi) = sdStats(f)
      phi >= LayoutOps.PartLo && plo <= LayoutOps.PartHi &&
        shi >= shipLoUs && slo < shipHiUs
    }
    assert(read < files, s"box scan would read all $files files — no pruning")
    // and the layout changes I/O only: the box aggregate over the
    // clustered copy equals the same aggregate over the plain table
    val got = LayoutOps.zorderBoxScan(spark, sf).collect().map(_.toSeq).toSeq
    val want = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= to_timestamp(lit(LayoutOps.ShipLo)) &&
        col("l_shipdate") < to_timestamp(lit(LayoutOps.ShipHi)) &&
        col("l_partkey").between(LayoutOps.PartLo, LayoutOps.PartHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.sumD(col("l_quantity")).as("sum_qty"),
        graft.queries.Exact.sumD(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }
}
