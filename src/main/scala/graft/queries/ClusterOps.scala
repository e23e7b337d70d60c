package graft.queries

import graft.Tables
import graft.ops.ConnectedComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate clustering — the step after candidate-pair generation that
  * every production dedup actually ships: near-dup PAIRS (q12) say "a≈b",
  * but removal needs CLUSTERS, because near-duplication is transitive in
  * practice (a≈b, b≈c ⇒ keep one of {a,b,c}). Pairs → connected
  * components → one canonical doc per component (min doc_id), every other
  * member dropped.
  *
  * Plan shape: the pair pipeline is q12's banded LSH equi-join (never
  * O(N²)); clustering is [[graft.ops.ConnectedComponents]] — O(log n)
  * alternating-star rounds of keyed shuffles; the final membership/size
  * attachment is one window partitioned by cluster (bounded by cluster
  * size, never a global sort). Nothing here collects edges to the driver.
  *
  * The oracle recomputes the same clusters declaratively: the shared
  * [[TextOps.pairsCte]] feeds a recursive transitive closure
  * (`WITH RECURSIVE`), labeling each doc with min(reachable doc_id) — so
  * the hash-compare proves the distributed star-contraction loop computes
  * exactly the graph-theoretic components.
  */
object ClusterOps {

  /** Near-dup pairs with exact Jaccard >= this form the dedup edges. */
  val clusterJaccard = 0.5

  /** Converged label sets, bounded and reused: [[ConnectedComponents
    * .label]]'s result is backed by a materialized checkpoint whose
    * lineage is truncated, so it can neither be dropped-and-recomputed
    * nor left to accumulate one pinned RDD per invocation. This LRU keeps
    * the last [[LabelCacheMax]] labelings (keyed by dir, fingerprinted
    * against the documents parquet so rewrites rebuild), releasing
    * evicted checkpoints via [[ConnectedComponents.release]] — repeated
    * q58 runs also skip the whole pair-generation + CC loop.
    *
    * Lifetime contract: a frame returned by [[dupClusters]] is backed by
    * this cache's checkpoint and is only guaranteed executable while its
    * entry is live. Eviction (more than [[LabelCacheMax]] distinct dirs
    * touched, or a fingerprint miss after a rewrite) releases the
    * checkpointed RDD, and because the checkpoint truncated lineage a
    * held frame fails with a missing-block error rather than recomputing.
    * Execute (write/collect) the result before labeling many other dirs;
    * the engine's own drivers (Verify, Bench, specs) all do.
    */
  val LabelCacheMax = 8

  private val labelCache = new graft.ops.SessionLru[DataFrame](
    LabelCacheMax, ConnectedComponents.release, releaseOnRaceLoss = true)

  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.ops.SessionLru.pathFingerprint(spark, s"$dir/documents.parquet")
    val labels = labelCache.getOrBuild(spark, dir, fp) {
      val edges = TextOps.neardupPairs(spark, dir)
        .filter(col("jaccard") >= clusterJaccard)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      ConnectedComponents.label(edges)
    }.select(col("node").as("doc_id"), col("label").as("root"))
    val members = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
    members
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain ending in `labels(doc_id, cluster_id)` — the
    * recursive transitive closure both q58's and q71's oracles project
    * from, so the two can never desynchronize. */
  private val labelsCte: String =
    s"""${TextOps.pairsCte},
       |edges AS (
       |  SELECT doc_a AS ea, doc_b AS eb FROM pairs WHERE jaccard >= $clusterJaccard
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs WHERE jaccard >= $clusterJaccard
       |),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
       |),
       |labels AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
       |)""".stripMargin

  val dupClustersSql: String =
    s"""WITH RECURSIVE $labelsCte
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_canonical
       |FROM labels
       |ORDER BY doc_id""".stripMargin

  /** Incremental clustering — the "updating datasets" form of q58: fold
    * newly arrived documents into an existing clustering WITHOUT
    * re-pairing the old corpus against itself. The old membership
    * collapses to its star edges (member → cluster min, |old docs| −
    * |clusters| rows), the caller supplies only the candidate pairs that
    * involve a new document (one LSH probe of the new docs against the
    * band-key index — cost ∝ |new|, not |corpus|²), and one CC pass over
    * (stars ∪ new pairs) relabels. Because the old component is already a
    * star forest, the alternation re-converges in O(1) extra rounds per
    * merge chain; a new doc bridging two old clusters correctly merges
    * them under the smaller minimum. Result is identical to re-running
    * the batch clustering on the full corpus (spec-asserted).
    */
  def mergeClusters(oldMembers: DataFrame, allDocs: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val stars = oldMembers.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
    val labels = ConnectedComponents
      .label(stars.union(newEdges.select(col("a"), col("b"))))
      .select(col("node").as("doc_id"), col("label").as("root"))
    allDocs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** The sharper incremental form [[mergeClusters]] rounds up to: relabel
    * ONLY the components a new edge touches. Untouched components cannot
    * change (merges propagate exclusively through new edges), so instead
    * of re-running CC over the whole star forest, collapse just the
    * touched clusters to their stars and run CC over (touched stars ∪ new
    * edges). Cost is ∝ |new edges| + |touched clusters|, independent of
    * corpus size: the only full pass is the members scan for the
    * semi-join, which broadcasts the (tiny) touched-root set and stays
    * map-only — no corpus-wide shuffle, no corpus-wide CC.
    *
    * Returns the REPLACEMENT rows: (doc_id, cluster_id) for every doc
    * whose membership may have changed — exactly the delta a keyed MERGE
    * (e.g. [[graft.merge.MergeTable]]) wants. Docs not returned are
    * guaranteed unchanged. The result passes through CC's checkpoint;
    * callers free it with [[ConnectedComponents.release]] once written.
    */
  def touchedRelabel(oldMembers: DataFrame, newEdges: DataFrame): DataFrame = {
    val endpoints = newEdges.select(col("a").as("doc_id"))
      .union(newEdges.select(col("b").as("doc_id"))).distinct()
    // root of each endpoint under the OLD clustering (fresh docs absent
    // from members root to themselves and ride in on their own edges)
    val touchedRoots = endpoints
      .join(oldMembers, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("root"))
      .distinct()
    val touchedStars = oldMembers
      .join(broadcast(touchedRoots),
        col("cluster_id") === col("root"), "left_semi")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
    val labels = ConnectedComponents
      .label(touchedStars.union(newEdges.select(col("a"), col("b"))))
      .select(col("node").as("doc_id"), col("label").as("root"))
    // every node CC labeled (its component min may have changed) plus
    // every endpoint (a fresh singleton gets its own-id row)
    endpoints.join(labels, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** q71: the incremental "updating datasets" clustering under the oracle
    * gate. Folds the corpus in two halves through the streaming sink's
    * per-batch fold ([[graft.streaming.Streaming.clusterBatch]] — LSH
    * probe of new docs against the accumulated band index, touched-
    * component relabel, MergeTable membership upsert) and reads back the
    * maintained membership. The oracle is q58's recursive-CTE transitive
    * closure projected to (doc_id, cluster_id): the hash-compare proves
    * fold-equals-batch on real corpus data, not only on the spec's
    * synthetic splits.
    */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    // the folded state is staged once per documents-fixture content
    val state = graft.streaming.Stage(spark, s"$dir/documents.parquet",
        "q71-fold") { st =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      graft.streaming.Streaming.clusterBatch(
        docs.filter(col("doc_id") % 2 === 0), 0L, st, clusterJaccard, nBuckets = 16)
      graft.streaming.Streaming.clusterBatch(
        docs.filter(col("doc_id") % 2 === 1), 1L, st, clusterJaccard, nBuckets = 16)
    }
    graft.streaming.Streaming.clusterMembership(spark, state)
      .orderBy(col("doc_id"))
  }

  val incrementalClustersSql: String =
    s"""WITH RECURSIVE $labelsCte
       |SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q58_dup_clusters" -> (dupClusters _),
    "q71_incremental_clusters" -> (incrementalClusters _))

  val oracle: Map[String, String] = Map(
    "q58_dup_clusters" -> dupClustersSql,
    "q71_incremental_clusters" -> incrementalClustersSql)
}
