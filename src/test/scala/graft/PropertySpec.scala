package graft

import graft.functions.PlayFunctions
import graft.merge.Merge
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2): play-grammar parser
  * totality/correctness over generated plays, merge idempotence, key
  * uniqueness, union-by-name null-fill. Uses raw ScalaCheck generators
  * with fixed seeds (scalatestplus bridge is not among the allowed deps).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val teams = Vector("Boston", "Chicago", "Miami", "Utah", "Cleveland",
    "LA Lakers", "New York", "San Antonio", "Golden State")
  private val phraseGen = Gen.oneOf("leads", "trails", "now leads", "now trails",
    "tied", "now tied")

  private case class PlayCase(team: String, opp: String, phrase: String,
      q: Int, min: Int, sec: Int, a: Int, b: Int, made: Boolean,
      pts: Int, dist: Int, teamWon: Boolean)

  private val playGen: Gen[PlayCase] = for {
    ti <- Gen.choose(0, teams.size - 1)
    dj <- Gen.choose(1, teams.size - 1) // winner==loser is degenerate: the
                                        // score-side pick is ambiguous there
    t = teams(ti); o = teams((ti + dj) % teams.size)
    p <- phraseGen
    q <- Gen.choose(1, 4); mi <- Gen.choose(0, 11); se <- Gen.choose(0, 59)
    a <- Gen.choose(0, 150); b <- Gen.choose(0, 150)
    made <- Gen.oneOf(true, false); pts <- Gen.choose(2, 3)
    d <- Gen.choose(0, 30); w <- Gen.oneOf(true, false)
  } yield PlayCase(t, o, p, q, mi, se, a, b, made, pts, d, w)

  private def render(c: PlayCase): (String, String, String) = {
    val suffix = Map(1 -> "st", 2 -> "nd", 3 -> "rd", 4 -> "th")(c.q)
    val play = s"${c.q}$suffix Q, ${c.min}:%02d.0 remaining<br>".format(c.sec) +
      s"First Last ${if (c.made) "made" else "missed"} ${c.pts}-pointer from ${c.dist} ft<br>" +
      s"${c.team} ${c.phrase} ${c.a}-${c.b}"
    val (winner, loser) = if (c.teamWon) (c.team, c.opp) else (c.opp, c.team)
    (play, winner, loser)
  }

  test("parser matches grammar semantics on arbitrary generated plays") {
    for (seed <- 1L to 5L) {
      val cases = sample(Gen.listOfN(120, playGen), seed);
      {
        val rows = cases.map { c =>
          val (play, w, l) = render(c)
          (play, w, l, c)
        }
        val df = rows.map { case (p, w, l, _) => (p, w, l) }
          .toDF("play", "winner", "loser")
          .withColumn("quarter", PlayFunctions.quarter(col("play")))
          .withColumn("outcome", PlayFunctions.outcome(col("play")))
          .withColumn("attempt", PlayFunctions.attempt(col("play")))
          .withColumn("distance", PlayFunctions.distance(col("play")))
          .withColumn("team", PlayFunctions.team(col("play")))
          .withColumn("ws", PlayFunctions.winnerScore(col("winner"), col("team"), col("play")))
          .withColumn("ls", PlayFunctions.loserScore(col("loser"), col("team"), col("play")))
        val got = df.collect()
        got.zip(rows).foreach { case (r, (_, _, _, c)) =>
          assert(r.getAs[String]("quarter") == c.q.toString)
          assert(r.getAs[String]("outcome") == (if (c.made) "made" else "missed"))
          assert(r.getAs[String]("attempt") == s"${c.pts}-pointer")
          assert(r.getAs[String]("distance") == s"${c.dist}ft")
          assert(r.getAs[String]("team") == c.team)
          val (expW, expL) =
            if (c.phrase.endsWith("tied")) (c.a.toString, c.a.toString)
            else if (c.teamWon) (c.a.toString, c.b.toString)
            else (c.b.toString, c.a.toString)
          assert(r.getAs[String]("ws") == expW, s"case $c")
          assert(r.getAs[String]("ls") == expL, s"case $c")
        }
      }
    }
  }

  private val rowGen = for {
    g <- Gen.choose(1, 30); t <- Gen.choose(0, 20); q <- Gen.choose(1, 4)
    payload <- Gen.alphaStr.map(_.take(8))
  } yield (s"g$g", s"$t:00.0", q.toString, payload)

  test("merge: idempotent, unique keys, null-fill") {
    for (seed <- 1L to 3L) {
      val s = sample(Gen.listOfN(40, rowGen), seed)
      val d = sample(Gen.listOfN(25, rowGen), seed + 100);
      {
        val season = s.toDF("game_id", "time_remaining", "quarter", "payload")
        val delta = d.toDF("game_id", "time_remaining", "quarter", "payload")
          .withColumn("batch_tag", lit("fresh"))
        val m = Merge.mergeDeterministic(season, delta)
        // unique keys
        assert(m.groupBy("game_id", "time_remaining", "quarter").count()
          .filter(col("count") > 1).count() == 0)
        // idempotent: merging the delta again changes nothing
        val m2 = Merge.mergeDeterministic(m, delta)
        assert(m2.exceptAll(m).count() == 0 && m.exceptAll(m2).count() == 0)
        // null-fill: season-only keys have null batch_tag
        val seasonOnly = season.select("game_id", "time_remaining", "quarter")
          .exceptAll(delta.select("game_id", "time_remaining", "quarter"))
          .distinct().count()
        assert(m.filter(col("batch_tag").isNull).count() == seasonOnly)
      }
    }
  }

  test("winnowing fingerprints are stable under small edits (the near-dup invariant)") {
    import graft.functions.expressions.RabinKarpHashes.rollingHashes
    import org.apache.spark.sql.functions._
    val words = Vector("data", "spark", "merge", "query", "row", "join",
      "batch", "table", "scan", "key")
    val textGen = Gen.listOfN(60, Gen.choose(0, words.size - 1))
      .map(_.map(words).mkString(" "))
    def fps(texts: Seq[String]) = {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), rollingHashes("text", 8).as("h"))
        .select(col("doc_id"), array_distinct(transform(
          sequence(lit(1), size(col("h")) - 3),
          i => array_min(slice(col("h"), i, lit(4))))).as("fp"))
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    }
    for (seed <- 1L to 3L) {
      val texts = sample(Gen.listOfN(10, textGen), seed)
      val edited = texts.map(_ + " appended")
      val a = fps(texts)
      val b = fps(edited)
      for (i <- texts.indices) {
        val (fa, fb) = (a(i.toLong), b(i.toLong))
        val overlap = fa.intersect(fb).size.toDouble / fa.size
        // a suffix edit only disturbs fingerprints near the edit point
        assert(overlap >= 0.8, s"seed=$seed doc=$i overlap=$overlap")
      }
      // and distinct documents rarely share fingerprint sets wholesale
      val cross = a(0L).intersect(a(1L)).size.toDouble / a(0L).size
      assert(cross < 1.0)
    }
  }

  test("quantized cosine is symmetric and bounded") {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.functions.col
    val vecGen = Gen.listOfN(16, Gen.choose(-1000000, 1000000))
      .map(_.map(_.toFloat / 1000000f).toArray)
    for (seed <- 1L to 3L) {
      val pairs = sample(Gen.listOfN(20, Gen.zip(vecGen, vecGen)), seed)
      val df = pairs.toDF("a", "b")
      val got = df.select(
        cosineQuantized(quantize(col("a")), quantize(col("b"))).as("ab"),
        cosineQuantized(quantize(col("b")), quantize(col("a"))).as("ba"))
        .collect()
      got.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1)) // exact symmetry
        assert(r.getDouble(0) >= -1.0000001 && r.getDouble(0) <= 1.0000001)
      }
    }
  }

  test("chunking: count formula, reassembly, and fill for arbitrary token counts") {
    import graft.queries.PipelineOps.chunkTokens
    val docGen = Gen.choose(1, 500).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(5))))
    for (seed <- 1L to 3L) {
      val docs = sample(Gen.listOfN(30, docGen), seed).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val df = docs.toDF("doc_id", "text")
      val dir = tempDir("graft-prop").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val chunks = graft.queries.PipelineOps.docChunks(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      val byDoc = chunks.groupBy(_._1)
      docs.foreach { case (id, text) =>
        val n = text.split(" ").length
        val cs = byDoc(id).sortBy(_._2)
        assert(cs.length == (n + chunkTokens - 1) / chunkTokens)
        assert(cs.map(_._3).mkString(" ") == text) // reassembly
        cs.init.foreach(c => assert(c._4 == chunkTokens)) // full chunks
        assert(cs.last._4 == n - chunkTokens * (cs.length - 1))
      }
    }
  }

  test("hex-threshold sampling: string compare equals numeric compare") {
    val hexGen = Gen.listOfN(8, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)
    for (seed <- 1L to 5L) {
      val pairs = sample(Gen.listOfN(200, Gen.zip(hexGen, hexGen)), seed)
      pairs.foreach { case (a, b) =>
        assert((a < b) == (java.lang.Long.parseLong(a, 16) <
          java.lang.Long.parseLong(b, 16)),
          s"hex-string order must equal numeric order: $a vs $b")
      }
    }
  }

  test("cappedBandJoin equals the model: all pairs minus over-cap buckets") {
    val rowGen = Gen.zip(Gen.choose(1L, 60L), Gen.choose(0, 7).map(b => s"b$b"))
    for (seed <- 1L to 3L) {
      val rows = sample(Gen.listOfN(120, rowGen), seed).distinct
      val cap = 12
      val want = rows.groupBy(_._2).filter(_._2.size <= cap).values.flatMap { g =>
        val ids = g.map(_._1).distinct
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      val got = graft.ops.ScaleOps.cappedBandJoin(
        rows.toDF("doc_id", "bucket"), "doc_id", Seq("bucket"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  test("SQL-registered play functions match the Column API") {
    PlayFunctions.registerSql(spark)
    val play = "3rd Q, 7:15.0 remaining<br>Jayson Tatum made 3-pointer from 26 ft<br>Boston now leads 88-80"
    Seq((play, "Boston", "Miami")).toDF("play", "winner", "loser")
      .createOrReplaceTempView("plays_t")
    val r = spark.sql(
      """SELECT play_quarter(play) q, play_time_remaining(play) tr,
        |  play_shots_by(play) sb, play_outcome(play) o, play_attempt(play) at,
        |  play_distance(play) d, play_team(play) t,
        |  play_winner_score(winner, play_team(play), play) ws,
        |  play_loser_score(loser, play_team(play), play) ls
        |FROM plays_t""".stripMargin).collect()(0)
    assert(r.toSeq == Seq("3", "7:15.0", "Jayson Tatum", "made", "3-pointer",
      "26ft", "Boston", "88", "80"))
  }

  test("mixWeights invariants: cap source keeps everything, sampled <= total, rates in (0,1]") {
    val rows = graft.queries.PipelineOps.mixWeights(spark, sf).collect()
    assert(rows.nonEmpty)
    val capTokens = rows.map(_.getLong(2)).min
    rows.foreach { r =>
      val (nDocs, srcTokens, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val (sDocs, sTokens) = (r.getLong(4), r.getLong(5))
      assert(rate > 0.0 && rate <= 1.0)
      assert(sDocs <= nDocs && sTokens <= srcTokens)
      if (srcTokens == capTokens) // the equalization target keeps all docs
        assert(sDocs == nDocs && sTokens == srcTokens)
    }
  }

  test("repetition ratio is in [0,1) and zero iff all n-grams distinct") {
    val rows = graft.queries.TextOps.repetitionStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d, ratio) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      assert(d >= 1 && d <= n)
      assert(ratio >= 0.0 && ratio < 1.0)
      assert((ratio == 0.0) == (n == d))
    }
  }

  test("connected-components labeling is idempotent") {
    // labeling the star edges of a labeling reproduces it
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 1L), (7L, 8L), (2L, 8L))
      .toDF("a", "b")
    val l1 = graft.ops.ConnectedComponents.label(edges)
    val l2 = graft.ops.ConnectedComponents.label(
      l1.select(col("node").as("a"), col("label").as("b")))
    val m1 = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
  }

  test("z-value matches a straightforward scala reference for arbitrary shapes") {
    // the Column-algebra Morton pipeline (min/max scale then bit
    // interleave) must equal the same arithmetic written naively in
    // scala — same IEEE ops, so the comparison is bit-exact
    val caseGen = for {
      k <- Gen.choose(1, 3)
      bits <- Gen.choose(2, 8)
      n <- Gen.choose(2, 60)
      rows <- Gen.listOfN(n, Gen.listOfN(k, Gen.choose(-1000L, 1000L)))
    } yield (k, bits, rows)
    for (seed <- 1L to 8L) {
      val (k, bits, rows) = sample(caseGen, seed)
      val cols = (0 until k).map(j => s"c$j")
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq(_)), 2),
        org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.LongType))))
      val got = graft.ops.ScaleOps.withZValue(df, cols, bits)
        .collect().map(r => cols.map(c => r.getAs[Long](c)).toList -> r.getAs[Long]("__z")).toMap
      val lim = (1L << bits) - 1
      val lo = (0 until k).map(j => rows.map(_(j)).min.toDouble)
      val hi = (0 until k).map(j => rows.map(_(j)).max.toDouble)
      def scaledRef(x: Long, j: Int): Long =
        if (hi(j) <= lo(j)) 0L
        else math.min(lim, math.max(0L,
          math.floor((x.toDouble - lo(j)) / (hi(j) - lo(j)) * lim.toDouble).toLong))
      def zRef(vals: List[Long]): Long =
        (0 until bits).flatMap { i =>
          vals.zipWithIndex.map { case (v, j) =>
            ((scaledRef(v, j) >> i) & 1L) << (i * k + j)
          }
        }.sum
      rows.foreach { r =>
        assert(got(r) == zRef(r), s"seed=$seed k=$k bits=$bits row=$r")
      }
    }
  }

  test("MergeTable: arbitrary delta sequences equal a driver-side map fold") {
    val deltaGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 30L), Gen.alphaStr.map(_.take(6))))
    for (seed <- 1L to 4L) {
      val path = tempDir("graft-mtprop").toString + "/t"
      val model = scala.collection.mutable.Map.empty[Long, String]
      for (round <- 0 until 4) {
        // unique keys within a delta (mergeDeterministic's within-source
        // tie-break is value-lexicographic, not arrival-order — a model
        // with last-write-wins within one delta would diverge)
        val delta = sample(deltaGen, seed * 100 + round)
          .groupBy(_._1).map { case (key, vs) => (key, vs.map(_._2).max) }.toSeq
        graft.merge.MergeTable.merge(
          delta.toDF("k", "v"), path, Seq("k"), nBuckets = 4)
        delta.foreach { case (key, v) => model(key) = v }
        val got = graft.merge.MergeTable.read(spark, path)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == model.toMap, s"seed=$seed round=$round")
      }
    }
  }
}
