package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Dev harness: the ONE parameterized alternating-lap A/B runner
  * (consolidating the per-round AbRound5–10 mains, whose committed
  * artifacts AB_r5–10.json remain the record of those measurements).
  *
  * Protocol — the only cross-spelling comparison that works on this
  * host (5–10% ambient CPU steal; cross-run absolutes swing up to 3×,
  * verify-skill notes): all variants run in ONE JVM, warmed once,
  * then lap-interleaved in registry order; report per-variant lap
  * arrays + minima + the fixed-ALU calib before/after, one JSON line.
  *
  * {{{ SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Ab <ab-name> [laps]" }}}
  */
object Ab {

  /** One A/B experiment: a name and its variants (name → a thunk that
    * builds AND fully executes the measured work). */
  final case class Experiment(
      metric: String,
      variants: SparkSession => Seq[(String, () => Unit)],
      /** Optional pre-flight run once before timing; throw to abort
        * (e.g. a result-identity check that licenses the comparison). */
      preflight: SparkSession => Unit = _ => ())

  private def force(df: DataFrame): Unit = {
    df.queryExecution.toRdd.count(): Unit
  }

  // -------------------------------------------------------------------------
  // Registry: current-round experiments. Superseded rounds' experiments
  // are deleted with their conclusions recorded in AB_r*.json + PERF_r*.
  // -------------------------------------------------------------------------

  /** r10→r11 `sim_outliers` drift attribution (VERDICT r10 What's
    * wrong #2): the r9 when-chain spelling vs the r10 native
    * matrix_row_dot, each as (a) the full gate query including the
    * per-call IVF train and (b) the outlier projection alone over ONE
    * pre-built index — if the full-path ratio moves while the
    * projection ratio sits at ~1, the drift lives in the train laps
    * (or was ambient), not the r10 rewrite. */
  /** The r9 outlier spelling, verbatim (when-chain of per-cluster
    * vec_dot against array literals — O(k) branch tests per row).
    * ONE definition shared by the timed variant and the identity
    * preflight, so they cannot desynchronize. */
  private def outlierScoresR9(index: Similarity.IvfIndex): DataFrame = {
    val cosOwn = index.centroids.zipWithIndex.map { case (c, i) =>
        (i, Similarity.dot(col("e"), array(c.map(lit).toIndexedSeq: _*)))
      }.foldLeft(Option.empty[Column]) { case (acc, (i, d)) =>
        Some(acc.fold(when(col("cid") === i, d))(_.when(col("cid") === i, d)))
      }.fold(lit(Double.NaN))(_.otherwise(lit(Double.NaN)))
    index.assigned
      .select(col("vec_id"), col("cid"),
        graft.functions.VecMath.vec_unit(col("embedding")).as("e"))
      .select(col("vec_id"), col("cid"),
        (lit(1.0) - cosOwn).as("outlier_score"))
  }

  private def simOutliers(spark: SparkSession): Seq[(String, () => Unit)] = {
    val emb = spark.read.parquet(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        + "/embeddings.parquet")
    val shared = Similarity.buildIvfIndex(emb, nClusters = 16)
    force(shared.assigned)

    Seq(
      "full_r10" -> (() => force(Similarity.outlierScores(
        Similarity.buildIvfIndex(emb, nClusters = 16)))),
      "full_r9" -> (() => force(outlierScoresR9(
        Similarity.buildIvfIndex(emb, nClusters = 16)))),
      "proj_r10" -> (() => force(Similarity.outlierScores(shared))),
      "proj_r9" -> (() => force(outlierScoresR9(shared))),
      "train_only" -> (() => force(
        Similarity.buildIvfIndex(emb, nClusters = 16).assigned)))
  }

  /** r11 kNN-propagation cost attribution: the bounded CollectTopK
    * fold vs the r10 collect_list+sort+slice spelling (element-
    * identical, LabelsSpec), plus the IVF-pruned production path at
    * nProbe = 4/16. Hypothesis check for VERDICT r10 Next #1's "bench
    * row dropping materially": if bounded ≈ collect_list, the row is
    * dominated by the O(N·S·dim) scoring join, not the aggregation
    * buffer — the fold's win is bounded MEMORY, and the wall-time
    * lever at scale is candidate pruning (the IVF variant). */
  private def knnFold(spark: SparkSession): Seq[(String, () => Unit)] = {
    val emb = spark.read.parquet(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        + "/embeddings.parquet").localCheckpoint()
    def oldSpelling(): DataFrame = {
      val corpus = emb.select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("norm"))
      val seeds = corpus.select(col("vec_id").as("nid"),
        col("label").as("nlabel"), col("embedding").as("n_emb"),
        col("norm").as("n_norm"))
      val topk = corpus.join(broadcast(seeds), col("vec_id") =!= col("nid"))
        .select(col("vec_id"), col("label"),
          struct(
            (-round(graft.functions.VecMath.vec_dot(
              col("embedding"), col("n_emb")) /
              (col("norm") * col("n_norm")), 6)).as("neg_cos"),
            col("nid"), col("nlabel")).as("cand"))
        .groupBy(col("vec_id"), col("label"))
        .agg(slice(array_sort(collect_list(col("cand"))), 1, 5).as("topk"))
      val votesArr = transform(col("topk"), x => x("nlabel"))
      val tally = transform(array_distinct(votesArr), l =>
        struct((-size(filter(votesArr, v => v === l))).as("neg_votes"),
          l.as("lab")))
      topk.select(col("vec_id"), col("label").as("label_given"),
        array_min(tally).getField("lab").as("label_knn"),
        (-array_min(tally).getField("neg_votes")).cast("long").as("votes"))
    }
    val index = Similarity.buildIvfIndex(emb, nClusters = 16)
    Seq(
      "bounded_fold" -> (() => force(Labels.knnPropagate(emb, emb, 5))),
      "collect_list_r10" -> (() => force(oldSpelling())),
      "ivf_nprobe4" -> (() => force(
        Labels.knnPropagateWithIndex(index, emb, emb, 5, nProbe = 4))))
  }

  private val registry: Map[String, Experiment] = Map(
    "knn_fold" -> Experiment("ab_r11_knn_fold", knnFold),
    "sim_outliers" -> Experiment("ab_r11_sim_outliers", simOutliers,
      preflight = { spark =>
        // Identity license: the two spellings must score identically
        // (1 − cos at full double precision) before timing means much.
        val emb = spark.read.parquet(
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
            + "/embeddings.parquet").limit(2000)
        val idx = Similarity.buildIvfIndex(emb, nClusters = 8)
        val diff = Similarity.outlierScores(idx).as("a")
          .join(outlierScoresR9(idx)
            .select(col("vec_id"), col("outlier_score")).as("b"), "vec_id")
          .filter(col("a.outlier_score") =!= col("b.outlier_score"))
          .count()
        require(diff == 0, s"r9/r10 outlier spellings disagree on $diff rows")
      }))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"usage: Ab <${registry.keys.mkString("|")}> [laps]"))
    val exp = registry.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown A/B '$name' (have: ${registry.keys.mkString(", ")})"))
    val laps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus(32))

    exp.preflight(spark)
    val variants = exp.variants(spark)

    Bench.calibLap(); Bench.calibLap()
    val c0 = Bench.calibLap()
    variants.foreach(_._2()) // warm every path once
    val times = variants.map { case (n, _) => n -> Array.fill(laps)(0.0) }
    for (i <- 0 until laps; ((_, thunk), j) <- variants.zipWithIndex) {
      val t0 = System.nanoTime()
      thunk()
      times(j)._2(i) = (System.nanoTime() - t0) / 1e9
    }
    val c1 = Bench.calibLap()

    val vjson = times.map { case (n, ts) =>
      f""""$n":{"min_s":${ts.min}%.3f,"laps":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString(",")
    println(
      f"""{"metric":"${exp.metric}","variants":{$vjson},"laps":$laps,"calib":{"before":$c0%.4f,"after":$c1%.4f},"sf":"$sfDir"}""")
    spark.stop()
  }
}
