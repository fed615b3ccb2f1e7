package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Dev harness: the committed recall-vs-nProbe artifact for the IVF
  * family (VERDICT r11 "What's missing #4") — the number a user needs
  * to PICK nProbe. For one trained index on the corpus embeddings it
  * sweeps nProbe over the cluster range and reports, per cell:
  *
  *  - `ivfProbe` (via [[Similarity.ivfTopKWithIndex]]): recall@k
  *    against exact [[Similarity.cosineTopK]] neighbors of a
  *    deterministic query slice, plus wall seconds;
  *  - `knnPropagateWithIndex`: label agreement with the brute-force
  *    [[Labels.knnPropagate]] (fraction of corpus vectors receiving
  *    the same propagated label) and candidate coverage (fraction
  *    with any vote at all), plus wall seconds.
  *
  * nProbe = nClusters rows are the built-in sanity check: both
  * numbers must be 1.0 there (spec-pinned identity). One JSON line →
  * RECALL_r{N}.json; absolute times carry the usual host-steal caveat
  * (calib before/after included — compare cells within one run).
  *
  * {{{ SPARK_GRAFT_SF_DIR=... sbt "runMain graft.RecallSweep" }}}
  */
object RecallSweep {

  private def force(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = 5
    val nClusters = 16
    val spark = GraftSession.local(GraftSession.envCpus(32))

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .localCheckpoint()
    val nVec = emb.count()
    // Deterministic ~10% query slice (id-arithmetic, replayable).
    val queries = emb.filter(col("vec_id") % 11 === 0).localCheckpoint()
    val nQ = queries.count()

    val index = Similarity.buildIvfIndex(emb, nClusters = nClusters)

    // Ground truths (brute force), forced once before timing cells.
    val exact = Similarity.cosineTopK(emb, queries, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val exactPairs = exact.count()
    val brute = Labels.knnPropagate(emb, emb, k)
      .select(col("vec_id"), col("label_knn")).localCheckpoint()
    brute.count()

    Bench.calibLap(); Bench.calibLap()
    val c0 = Bench.calibLap()

    val cells = Seq(1, 2, 4, 8, 16).map { nProbe =>
      // --- ivfProbe recall@k ---
      val probeDf = Similarity.ivfTopKWithIndex(index, queries, k, nProbe)
        .select(col("query_id"), col("neighbor_id"))
      val tProbe = force(probeDf)
      val hit = probeDf.join(exact, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val recall = hit.toDouble / exactPairs.toDouble

      // --- knnPropagateWithIndex label agreement + coverage ---
      val knnDf = Labels.knnPropagateWithIndex(index, emb, emb, k, nProbe)
      val tKnn = force(knnDf)
      val agg = knnDf.as("a")
        .join(brute.as("b"), col("a.vec_id") === col("b.vec_id"))
        .agg(
          avg(when(col("a.label_knn") === col("b.label_knn"), 1.0)
            .otherwise(0.0)).as("agree"),
          avg(when(col("a.votes") > 0, 1.0).otherwise(0.0)).as("coverage"))
        .collect().head
      f"""{"n_probe":$nProbe,"ivf_recall_at_$k":${recall}%.4f,""" +
        f""""ivf_probe_s":$tProbe%.3f,""" +
        f""""knn_label_agreement":${agg.getDouble(0)}%.4f,""" +
        f""""knn_coverage":${agg.getDouble(1)}%.4f,"knn_s":$tKnn%.3f}"""
    }

    val c1 = Bench.calibLap()
    println(
      s"""{"metric":"recall_vs_nprobe","k":$k,"n_clusters":$nClusters,""" +
        s""""n_vectors":$nVec,"n_queries":$nQ,"cells":[${cells.mkString(",")}],""" +
        f""""calib":{"before":$c0%.4f,"after":$c1%.4f},"sf":"$sfDir"}""")
    spark.stop()
  }
}
