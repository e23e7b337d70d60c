package graft

import graft.functions.PlayFunctions._
import graft.ingest.Ingest
import org.apache.spark.sql.functions.{col, concat, lit}

/** Table-driven parity tests for F1–F9 against the play grammar
  * (FIXTURES.md A3), covering every branch of the score parser:
  * one-/two-word cities × leads/trails/now-leads/now-trails/tied/now-tied
  * × winner-is-team / winner-is-opponent.
  */
class PlayFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def play(team: String, phrase: String, score: String = "10-15",
      clock: String = "1st Q, 11:30.0 remaining",
      shot: String = "LeBron James missed 3-pointer from 25 ft") =
    s"$clock<br>$shot<br>$team $phrase $score"

  private def parseOne(winner: String, loser: String, p: String) = {
    val df = Seq((winner, loser, p)).toDF("winner", "loser", "play")
      .withColumn("quarter", quarter(col("play")))
      .withColumn("time_remaining", timeRemaining(col("play")))
      .withColumn("shots_by", shotsBy(col("play")))
      .withColumn("outcome", outcome(col("play")))
      .withColumn("attempt", attempt(col("play")))
      .withColumn("distance", distance(col("play")))
      .withColumn("team", team(col("play")))
      .withColumn("winner_score", winnerScore(col("winner"), col("team"), col("play")))
      .withColumn("loser_score", loserScore(col("loser"), col("team"), col("play")))
    df.collect()(0)
  }

  test("F1-F7: clock and shot segment") {
    val r = parseOne("Boston", "Miami", play("Boston", "leads"))
    assert(r.getAs[String]("quarter") == "1")
    assert(r.getAs[String]("time_remaining") == "11:30.0")
    assert(r.getAs[String]("shots_by") == "LeBron James")
    assert(r.getAs[String]("outcome") == "missed")
    assert(r.getAs[String]("attempt") == "3-pointer")
    assert(r.getAs[String]("distance") == "25ft")
  }

  test("F1: quarter digit for each period") {
    for ((c, q) <- Seq("1st" -> "1", "2nd" -> "2", "3rd" -> "3", "4th" -> "4")) {
      val r = parseOne("Boston", "Miami",
        play("Boston", "leads", clock = s"$c Q, 0:05.0 remaining"))
      assert(r.getAs[String]("quarter") == q)
    }
  }

  test("F5/F6: made and 2-pointer variants") {
    val r = parseOne("Boston", "Miami", play("Boston", "leads",
      shot = "Stephen Curry made 2-pointer from 8 ft"))
    assert(r.getAs[String]("outcome") == "made")
    assert(r.getAs[String]("attempt") == "2-pointer")
    assert(r.getAs[String]("shots_by") == "Stephen Curry")
    assert(r.getAs[String]("distance") == "8ft")
  }

  test("F8: one-word vs two-word city names") {
    for (t <- Seq("Boston", "Chicago", "Miami", "Utah"))
      assert(parseOne(t, "X", play(t, "leads")).getAs[String]("team") == t)
    for (t <- Seq("LA Lakers", "New York", "San Antonio", "Golden State"))
      assert(parseOne(t, "X", play(t, "leads")).getAs[String]("team") == t)
  }

  // F9 branch matrix. Score phrase is always "10-15": A=10, B=15.
  private val f9Cases = for {
    t <- Seq("Boston", "LA Lakers")
    phrase <- Seq("leads", "trails", "now leads", "now trails", "tied", "now tied")
    winnerIsTeam <- Seq(true, false)
  } yield (t, phrase, winnerIsTeam)

  test("F9: winner/loser score across all branches") {
    for ((t, phrase, winnerIsTeam) <- f9Cases) {
      val (w, l) = if (winnerIsTeam) (t, "Opponent") else ("Opponent", t)
      val r = parseOne(w, l, play(t, phrase))
      val (expW, expL) =
        if (phrase.endsWith("tied")) ("10", "10")
        else if (winnerIsTeam) ("10", "15")
        else ("15", "10")
      assert(r.getAs[String]("winner_score") == expW,
        s"winner_score for ($t, $phrase, winnerIsTeam=$winnerIsTeam)")
      assert(r.getAs[String]("loser_score") == expL,
        s"loser_score for ($t, $phrase, winnerIsTeam=$winnerIsTeam)")
    }
  }

  test("ingest transform: envelope → flattened derived frame") {
    val json = """{"game_id":"202501150CLE","year":"2025","month":"01",
      |"day":"15","winner":"Cleveland","loser":"LA Lakers","x":"118",
      |"y":"167","play":"PLAY"}""".stripMargin.replace("\n", "")
      .replace("PLAY", play("LA Lakers", "trails"))
    val env = Seq(("k1", json)).toDF("key", "value")
    val out = Ingest.transform(env).collect()(0)
    assert(out.getAs[String]("game_id") == "202501150CLE")
    assert(out.getAs[String]("team") == "LA Lakers")
    assert(out.getAs[String]("quarter") == "1")
    // LA Lakers (the loser) trails: loser==team → A side
    assert(out.getAs[String]("loser_score") == "10")
    assert(out.getAs[String]("winner_score") == "15")
    // schema parity with the reference output (FIXTURES.md A3)
    assert(Ingest.transform(env).columns.toSeq == Seq("game_id", "year",
      "month", "day", "winner", "loser", "x", "y", "play", "time_remaining",
      "quarter", "shots_by", "outcome", "attempt", "distance", "team",
      "winner_score", "loser_score"))
  }

  test("dirty play string degrades to nulls, never throws (ANSI-safe)") {
    val r = parseOne("A", "B", "garbage no segments")
    assert(r.getAs[String]("quarter") == "g") // first char of first token
    assert(r.getAs[String]("time_remaining") == "segments")
    assert(r.isNullAt(r.fieldIndex("shots_by")))
    assert(r.isNullAt(r.fieldIndex("team")))
    assert(r.isNullAt(r.fieldIndex("winner_score")))
    val r2 = parseOne("A", "B", "")
    assert(r2.isNullAt(r2.fieldIndex("winner_score")))
  }

  test("PlayParsed: fused one-pass parse equals the composed F1-F9 columns, field by field") {
    import graft.functions.expressions.PlayParsed.playParsed
    val grammar = for {
      (t, phrase, winnerIsTeam) <- f9Cases
      score <- Seq("10-15", "0-0", "150-3")
    } yield {
      val (w, l) = if (winnerIsTeam) (t, "Opponent") else ("Opponent", t)
      (w, l, play(t, phrase, score))
    }
    val dirty = Seq[(String, String, String)](
      ("A", "B", "garbage no segments"),
      ("A", "B", ""),
      ("A", "B", " "),
      ("A", "B", "one<br>two"),
      ("A", "B", "<br><br>"),
      ("A", "B", "1st Q<br>x<br>"),
      ("A", "B", "q<br>Solo<br>Boston leads 10"), // dash-less score
      ("A", "B", "q<br>a b<br>LA"), // two-word city with no second token
      ("A", "B", "q<br>made missed 2-pointer 3-pointer<br>Boston tied 7-9"),
      ("A", "B", "q<br>nothing to extract here<br>Boston mumbles 1-2"),
      ("A", "B", "q<br>x<br>New York now leads 33-44"),
      (null, "B", play("Boston", "leads")), // null winner → B side
      ("A", null, play("LA Lakers", "now trails")),
      (null, null, play("Boston", "tied")))
    val df = (grammar ++ dirty).zipWithIndex
      .map { case ((w, l, p), i) => (i.toLong, w, l, p) }
      .toDF("id", "winner", "loser", "play")
    val p = col("play")
    val composed = df
      .withColumn("team", team(p))
      .select(col("id"), timeRemaining(p), quarter(p), shotsBy(p),
        outcome(p), attempt(p), distance(p), col("team"),
        winnerScore(col("winner"), col("team"), p),
        loserScore(col("loser"), col("team"), p))
      .collect().map(r => r.getLong(0) ->
        (1 to 9).map(i => if (r.isNullAt(i)) null else r.getString(i))).toMap
    val fused = df
      .select(col("id"), playParsed(p, col("winner"), col("loser")).as("s"))
      .select(col("id"), col("s.time_remaining"), col("s.quarter"),
        col("s.shots_by"), col("s.outcome"), col("s.attempt"),
        col("s.distance"), col("s.team"), col("s.winner_score"),
        col("s.loser_score"))
      .collect().map(r => r.getLong(0) ->
        (1 to 9).map(i => if (r.isNullAt(i)) null else r.getString(i))).toMap
    val all = (grammar ++ dirty)
    for (id <- fused.keys.toSeq.sorted)
      assert(fused(id) == composed(id),
        s"case $id ${all(id.toInt)}: fused=${fused(id)} composed=${composed(id)}")
    // null play → whole struct null (composed: each column null)
    val np = Seq((1L, null.asInstanceOf[String], "W", "L"))
      .toDF("id", "play", "winner", "loser")
      .select(playParsed(col("play"), col("winner"), col("loser")).as("s"))
      .collect()(0)
    assert(np.isNullAt(0))
    // stays inside whole-stage codegen
    val ranged = spark.range(50)
      .select(concat(lit("1st Q, 0:0"), col("id").cast("string"),
        lit(".0 remaining<br>A B made 2-pointer from 5 ft<br>Boston leads 1-2"))
        .as("play"))
      .select(playParsed(col("play"), lit("Boston"), lit("X")).as("s"))
    assert(ranged.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(ranged.count() == 50)
  }

  test("typed layer: typed twins added, legacy string columns untouched") {
    val json = """{"game_id":"g1","year":"2025","month":"01","day":"15",
      |"winner":"Cleveland","loser":"LA Lakers","x":"118","y":"167",
      |"play":"PLAY"}""".stripMargin.replace("\n", "")
      .replace("PLAY", play("LA Lakers", "trails"))
    val out = Ingest.typedLayer(
      Ingest.transform(Seq(("k", json)).toDF("key", "value"))).collect()(0)
    assert(out.getAs[Int]("x_i") == 118 && out.getAs[Int]("y_i") == 167)
    assert(out.getAs[Int]("winner_score_i") == 15)
    assert(out.getAs[Int]("quarter_i") == 1)
    assert(out.getAs[java.sql.Date]("game_date").toString == "2025-01-15")
    assert(out.getAs[Double]("seconds_remaining") == 11 * 60 + 30.0)
    // legacy shape preserved
    assert(out.getAs[String]("x") == "118")
    assert(out.getAs[String]("time_remaining") == "11:30.0")
    // dirty rows: nulls, not failures
    val dirty = Ingest.typedLayer(
      Ingest.transform(Seq(("k", "{not json")).toDF("key", "value"))).collect()(0)
    assert(dirty.isNullAt(dirty.fieldIndex("seconds_remaining")))
    assert(dirty.isNullAt(dirty.fieldIndex("game_date")))
  }

  test("observedTransform counts malformed/unparseable rows in one pass") {
    val good = """{"game_id":"g1","year":"2025","month":"01","day":"15",
      |"winner":"Boston","loser":"Miami","x":"1","y":"2","play":"PLAY"}"""
      .stripMargin.replace("\n", "").replace("PLAY", play("Boston", "leads"))
    val dirtyPlay = good.replace(play("Boston", "leads"), "no segments here")
    val env = Seq(("k1", good), ("k2", "{not json"), ("k3", dirtyPlay))
      .toDF("key", "value")
    val (out, obs) = Ingest.observedTransform(env)
    out.write.mode("overwrite")
      .parquet(tempDir("graft-obs").toString + "/out")
    val m = obs.get
    assert(m("rows_total") == 3L)
    assert(m("rows_malformed_json") == 1L)
    assert(m("rows_unparseable_play") == 1L)
  }

  test("ingest transform: malformed JSON → null struct fields (PERMISSIVE)") {
    val env = Seq(("k1", "{not json")).toDF("key", "value")
    val out = Ingest.transform(env).select("game_id", "play").collect()(0)
    assert(out.isNullAt(0) && out.isNullAt(1))
  }
}
