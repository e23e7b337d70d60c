package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make long_dot_product SQL-callable in a session
  * built with the extensions installed. Builds a sibling session over the
  * (possibly shared) SparkContext — never stops it, other suites reuse it.
  */
class ExtensionsSpec extends AnyFunSuite {
  test("long_dot_product injected via SparkSessionExtensions") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a STATIC conf — ignored when the builder
      // reuses a shared test SparkContext — so drive the function through
      // the programmatic route and separately verify the reflective
      // contract the config-string route depends on.
      val ctor = Class.forName("graft.GraftExtensions").getDeclaredConstructor()
      ctor.newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // set up like every graft session: this may be the JVM's first
      // SparkContext, and its first `file:` FileSystem is cached for all
      graft.fs.ForkFree.install(spark.sparkContext.hadoopConfiguration)
      val r = spark.sql(
        "SELECT long_dot_product(array(2L, 3L), array(5L, 7L)) AS d")
        .collect()(0).getLong(0)
      assert(r == 31L)
      // wrong arity surfaces the builder's message, not an index error
      val err = intercept[Exception] {
        spark.sql("SELECT long_dot_product(array(1L))").collect()
      }
      assert(err.getMessage.contains("exactly 2 arguments"), err.getMessage)
      // rolling_hashes: k-gram count and the Rabin-Karp recurrence value
      val rh = spark.sql("SELECT rolling_hashes('abcd', 3) AS h")
        .collect()(0).getSeq[Long](0)
      assert(rh.length == 2) // "abcd" has two 3-grams
      val p = 1000000007L
      val expect = (('a' * 131L * 131L + 'b' * 131L + 'c') % p,
        ('b' * 131L * 131L + 'c' * 131L + 'd') % p)
      assert((rh(0), rh(1)) == expect)
      // any constant-foldable integral k is accepted — a folded function
      // call, an arithmetic expression, a BIGINT cast — not only a bare
      // IntegerType literal
      for (kExpr <- Seq("length('abc')", "2 + 1", "CAST(3 AS BIGINT)",
          "CAST(3 AS SMALLINT)")) {
        val folded = spark.sql(s"SELECT rolling_hashes('abcd', $kExpr) AS h")
          .collect()(0).getSeq[Long](0)
        assert((folded(0), folded(1)) == expect, kExpr)
      }
      // non-constant k still rejected with the builder's message
      val err2 = intercept[Exception] {
        spark.sql("SELECT rolling_hashes('abcd', x) FROM VALUES (3) AS t(x)")
          .collect()
      }
      assert(err2.getMessage.contains("constant integer"), err2.getMessage)
      // winnow_fingerprints: one complete window over 'abcd' with k=3,w=2
      // → min of the two 3-gram hashes, as a single-element distinct set
      val wf = spark.sql("SELECT winnow_fingerprints('abcd', 3, 2) AS fp")
        .collect()(0).getSeq[Long](0)
      assert(wf == Seq(Seq(expect._1, expect._2).min), wf)
      val errW = intercept[Exception] {
        spark.sql("SELECT winnow_fingerprints('abcd', 3)").collect()
      }
      assert(errW.getMessage.contains("exactly 3 arguments"), errW.getMessage)
      // word_ngrams: bigrams are substrings between space boundaries
      val ng = spark.sql("SELECT word_ngrams('a bb  c', 2) AS g")
        .collect()(0).getSeq[String](0)
      assert(ng == Seq("a bb", "bb ", " c"), ng)
      // overflow edge: k+w near Int.MaxValue must take the empty branch
      // (the guard is long arithmetic), never spin or throw
      val big = spark.sql(
        "SELECT winnow_fingerprints('abcdefgh', 2147483647, 2) AS fp")
        .collect()(0).getSeq[Long](0)
      assert(big.isEmpty, big)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
