package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scale smoke for the streaming clustering sink: fold the documents
  * table through N micro-batches (`Streaming.clusterBatch`, the exact
  * per-batch path of `clusterSink`), assert fold-equals-batch against
  * q58's one-shot clustering, and print per-batch timings.
  *
  *   sbt "runMain graft.tools.ClusterSmoke /root/testdata/sf0.1 50 8"
  *
  * The timings are the evidence for the incremental-cost claim: per-batch
  * time must stay roughly flat as the accumulated corpus grows (cost ∝
  * batch + touched clusters), not grow linearly with it. The state-dir
  * counts are the evidence for the bounded-state claim: with
  * `compactEvery` = K, docs/ and bandkeys/ each hold ≤ K + 2 entries
  * (base + up to K unfolded priors + the current batch) no matter how
  * many micro-batches have run.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = GraftSession("graft-cluster-smoke")
    val state = java.nio.file.Files.createTempDirectory("graft-csmoke").toString
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def stateDirs(sub: String): Int =
      Option(new java.io.File(s"$state/$sub").listFiles())
        .map(_.count(f => f.isDirectory && !f.getName.endsWith(".next") &&
          !f.getName.endsWith(graft.merge.Swap.OldSuffix))).getOrElse(0)
    val perBatch = (0 until nBatches).map(b => GraftSession.cost {
      graft.streaming.Streaming.clusterBatch(
        docs.filter(col("doc_id") % nBatches === b), b.toLong, state,
        graft.queries.ClusterOps.clusterJaccard, nBuckets = 16,
        compactEvery = compactEvery)
      // compactEvery <= 0 disables folding (maybeFold's own early
      // return), so the bounded-state claim doesn't apply — skip the
      // bound rather than fail a configuration the tool accepts
      if (compactEvery > 0) {
        val dd = stateDirs("docs")
        require(dd <= compactEvery + 2 && stateDirs("bandkeys") <= compactEvery + 2,
          s"state dirs unbounded: docs=$dd after batch $b")
      }
    }.wallSec)
    val foldSec = perBatch.sum
    val t1 = System.nanoTime()
    val batch = graft.queries.ClusterOps.dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batchSec = (System.nanoTime() - t1) / 1e9
    val got = graft.streaming.Streaming.clusterMembership(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    println(f"CLUSTERSMOKE equal=${got == batch} n=${got.size} " +
      f"nontrivial=${got.count { case (d, c) => d != c }} " +
      f"fold=${foldSec}%.2fs batch=${batchSec}%.2fs " +
      f"docsDirs=${stateDirs("docs")} bkDirs=${stateDirs("bandkeys")} " +
      "perBatch=" + perBatch.map(s => f"$s%.2f").mkString(","))
    require(got == batch, "fold-equals-batch violated")
    spark.stop()
  }
}
