package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity operators: cosine arithmetic as declarative
  * column expressions, brute-force top-k as the exact baseline, and a
  * random-hyperplane LSH index as the scale path.
  *
  * Input frames carry `vec_id BIGINT` and `embedding ARRAY<FLOAT>`.
  *
  * Scale posture: brute force is O(Q·N) and only sane for bounded
  * query sets (it broadcasts the query side); the LSH path buckets the
  * corpus into `tables × 2^planesPerTable` cells so candidate
  * generation is an equi-join on bucket keys — shuffle-partitionable,
  * skew-safe under AQE, never all-pairs.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (deterministic:
    * same order every run, every partitioning). Backed by the native
    * codegen'd [[graft.functions.VecDot]] expression — bit-identical
    * to `aggregate(zip_with(...))` but a primitive loop inside
    * WholeStageCodegen instead of per-element lambda interpretation. */
  def dot(a: Column, b: Column): Column = graft.functions.VecMath.vec_dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** (vec_id, embedding, norm): L2 norm computed ONCE per vector, so
    * pairwise stages do one dot per pair instead of three. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      graft.functions.VecMath.vec_norm(col("embedding")).as("norm"))

  /** Hash-spread a NARROW scan before a CPU-dense stage — see
    * [[Spread.ifNarrow]] for the full rationale (single-split small
    * scans + AQE byte-targeted coalescing both serialize CPU-dense
    * stages; a no-op at scale). Every downstream aggregate in this
    * family is order-free and ranks break ties on distinct ids, so
    * the spread cannot change a result bit. */
  private[ops] def spreadIfNarrow(df: DataFrame,
      key: String = "vec_id"): DataFrame = Spread.ifNarrow(df, col(key))

  /** Column-keyed variant (frames whose spread key is an expression,
    * e.g. a URL column on a pages frame). */
  private[ops] def spreadIfNarrow(df: DataFrame, key: Column): DataFrame =
    Spread.ifNarrow(df, key)

  /** (vec_id, embedding, e): unit-normalized double copy of the
    * embedding — one native pass ([[graft.functions.VecMath.vec_unit]],
    * bit-identical to the norm-then-transform HOF spelling it
    * replaced, spec-pinned), so every cosine path starts from a tight
    * codegen'd loop instead of an interpreted per-element lambda. */
  private def unitized(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      graft.functions.VecMath.vec_unit(col("embedding")).as("e"))

  /** All near-duplicate pairs with cosine ≥ threshold (exact,
    * corpus×corpus — the verification baseline; use the LSH path to
    * generate candidates at scale). Output: (id_a, id_b, cos_sim). */
  def cosineDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = withNorm(spreadIfNarrow(emb))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.norm") * col("b.norm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k
    * nearest others by cosine (ties broken by neighbor id). The query
    * side is broadcast — O(Q·N) with no shuffle of the corpus.
    * Output: (query_id, neighbor_id, rank, cos_sim). */
  def cosineTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // No spread here, deliberately: the scored volume is |corpus|·|Q|
    // with a BOUNDED query batch — at gate scale the exchange costs
    // more than the single-task scoring it parallelizes (bench:
    // sim_topk 0.34→0.63 s with the spread; reverted).
    val scored = withNorm(emb).as("n")
      .join(broadcast(withNorm(queries).as("q")),
        col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("n.vec_id").as("neighbor_id"),
        round(dot(col("q.embedding"), col("n.embedding")) /
          (col("q.norm") * col("n.norm")), 6).as("cos_sim"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Embedding dedup with a size dispatch: corpora at most
    * `maxExactRows` vectors take the exact all-pairs compare (cheapest
    * plan when N² fits one shuffle — and the only recall-1-by-
    *-construction plan); anything larger takes the banded-LSH
    * candidate path ([[lshDupPairs]]) so NO quadratic plan ever runs
    * at scale. The dispatch count doubles as a sanity action on the
    * input and is one cheap job; both branches share the output schema
    * and exact verified cosine, so at recall-1 LSH parameters the
    * branches are result-identical (the gate pins this: sf0.01 runs
    * exact, sf0.1 runs LSH, both against the same exact oracle).
    *
    * The input is lazily persisted so the dispatch `count()` doubles
    * as the materializing action — an expensive upstream lineage is
    * computed once, not once for the count and again in the chosen
    * branch. */
  def dupPairsAuto(emb: DataFrame, threshold: Double, dim: Int,
      maxExactRows: Long = 1000,
      tables: Int = 40, planesPerTable: Int = 4,
      persist: Persistence = Persistence.Local): DataFrame = {
    val e = persist.lazily(emb)
    if (e.count() <= maxExactRows) cosineDupPairs(e, threshold)
    else lshDupPairs(e, threshold, dim, tables, planesPerTable, persist)
  }

  /** Near-duplicate pairs with cosine ≥ threshold, at scale: candidate
    * pairs come from shared random-hyperplane LSH buckets (equi-join on
    * bucket keys — never all-pairs), then are verified with the exact
    * cosine. Same output schema as [[cosineDupPairs]]; recall < 1,
    * rising with `tables` (spec-tested against the exact baseline). */
  def lshDupPairs(emb: DataFrame, threshold: Double, dim: Int,
      tables: Int = 16, planesPerTable: Int = 4,
      persist: Persistence = Persistence.Local): DataFrame = {
    // Materialized once: both self-join sides reuse the bucket frame,
    // which otherwise re-hashes every vector against all hyperplanes
    // per side.
    val b = persist(lshBuckets(spreadIfNarrow(emb), tables, planesPerTable,
      dim))
    val cand = b.as("x")
      .join(b.as("y"),
        col("x.table_idx") === col("y.table_idx") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val e = withNorm(emb)
    cand
      .join(e.select(col("vec_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm")), col("id_a") === col("vec_id")).drop("vec_id")
      .join(e.select(col("vec_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm")), col("id_b") === col("vec_id")).drop("vec_id")
      .select(col("id_a"), col("id_b"),
        round(dot(col("a_emb"), col("b_emb")) /
          (col("a_norm") * col("b_norm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  // -------------------------------------------------------------------------
  // IVF (inverted-file) index: spherical k-means coarse quantizer.
  // -------------------------------------------------------------------------

  /** Train `nClusters` spherical k-means centroids over the corpus.
    *
    * Deterministic: init = the `nClusters` vectors with the smallest
    * xxhash64(vec_id) (a seeded, order-free sample); each Lloyd
    * iteration assigns by max dot against broadcast centroids and
    * recomputes means with the [[graft.functions.VectorAgg.vec_avg]]
    * partial-aggregatable vector aggregator — the only shuffle carries
    * ONE (sum-vector, count) buffer per cluster, independent of corpus
    * size. The model (k×dim doubles) is collected to the driver: it is
    * an index artifact, not a data path.
    *
    * Vectors are unit-normalized first, so max-dot = max-cosine and
    * centroid means are renormalized (spherical k-means). */
  def trainIvfCentroids(
      emb: DataFrame, nClusters: Int, iters: Int = 3): Array[Array[Double]] = {
    val unit = unitized(emb).drop("embedding")
    var centroids: Array[Array[Double]] = unit
      .orderBy(xxhash64(col("vec_id").cast("string")))
      .limit(nClusters)
      .select(col("e")).collect()
      .map(_.getSeq[Double](0).toArray)
    (1 to iters).foreach { _ =>
      val means = unit
        .withColumn("cid", nearestCentroid(col("e"), centroids))
        .groupBy(col("cid"))
        .agg(graft.functions.VectorAgg.vec_avg(col("e")).as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      centroids = centroids.indices.map { c =>
        means.get(c) match {
          case Some(v) =>
            val n = math.sqrt(v.map(x => x * x).sum)
            if (n > 0) v.map(_ / n) else centroids(c)
          case None => centroids(c) // empty cluster keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** Index of the nearest centroid by dot product (vectors should be
    * unit-normalized). Ties break toward the lower cluster id.
    * `private[graft]`: [[graft.streaming.StreamingSemanticDedup]]
    * assigns arriving vectors with this SAME column expression, so
    * ingest-time and batch cluster maps agree by construction. */
  private[graft] def nearestCentroid(unitVec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(dot(unitVec, array(c.map(lit).toIndexedSeq: _*)).as("d"),
        lit(-i).as("negid"))
    }
    -array_max(array(scored.toIndexedSeq: _*)).getField("negid")
  }

  /** A trained IVF index: the centroid model (k×dim doubles, a driver
    * artifact) plus the corpus bucketed by nearest centroid. Build it
    * ONCE, probe it per query batch — at 100 TB the assigned corpus is
    * the artifact you persist (partitioned by `cid`) next to the
    * embeddings; retraining per query batch would rescan the corpus
    * `iters + 1` times for nothing. */
  final case class IvfIndex(
      centroids: Array[Array[Double]], assigned: DataFrame)

  /** Train the quantizer and bucket the corpus — see [[IvfIndex]].
    * `persist` materializes the assignment (Local/Reliable), so later
    * probes never re-derive it. */
  def buildIvfIndex(emb: DataFrame, nClusters: Int = 16, iters: Int = 3,
      persist: Persistence = Persistence.Local): IvfIndex = {
    val centroids = trainIvfCentroids(emb, nClusters, iters)
    IvfIndex(centroids, persist(assignToCentroids(emb, centroids)))
  }

  /** `private[graft]`: the IVF-append spec derives a rebuild-
    * equivalent assigned frame with a frozen model through this. */
  private[graft] def assignToCentroids(
      emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    unitized(spreadIfNarrow(emb))
      .withColumn("cid", nearestCentroid(col("e"), centroids))
      .drop("e")

  /** IVF approximate cosine top-k: corpus vectors are bucketed by
    * nearest centroid; each query probes its `nProbe` closest clusters
    * and exactly re-ranks only those buckets. Candidate generation is
    * an equi-join on cluster id — shuffle-partitionable, never
    * all-pairs; expected work per query is `nProbe/nClusters` of the
    * corpus. Same output schema as [[cosineTopK]]; recall < 1
    * (spec-tested against brute force). Trains per call; production
    * reuses a [[buildIvfIndex]] artifact via [[ivfTopKWithIndex]]. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
      nClusters: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame = {
    val centroids = trainIvfCentroids(emb, nClusters, iters)
    ivfProbe(centroids, assignToCentroids(emb, centroids), queries, k, nProbe)
  }

  /** [[ivfTopK]] against a pre-built [[IvfIndex]].
    *
    * Picking nProbe: RECALL_r12.json (graft.RecallSweep, 16 clusters,
    * k = 5, sf0.1) measures recall@5 of 0.26 / 0.38 / 0.58 / 0.82 /
    * 1.00 at nProbe 1/2/4/8/16 — on near-uniform SYNTHETIC vectors,
    * IVF's worst case; real clustered embeddings concentrate true
    * neighbors in fewer cells, so re-run the sweep on the deployment
    * corpus and pick the knee. nProbe = nClusters is exact by
    * construction (spec-pinned). */
  def ivfTopKWithIndex(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame =
    ivfProbe(index.centroids, index.assigned, queries, k, nProbe)

  /** Write an [[IvfIndex]] to storage: the centroid model as a tiny
    * parquet table and the assigned corpus PARTITIONED BY `cid` — the
    * layout that makes probing scale: a query batch touching `nProbe`
    * of `k` clusters reads only those directories
    * (`nProbe/k` of the corpus bytes) instead of filtering a full
    * scan. This is the durable artifact a 100 TB pipeline builds once
    * and probes for weeks; [[Persistence.Reliable]] inside a session
    * is the ephemeral cousin. A one-row `params/` (n_clusters, dim)
    * commits the build: first-deleted, last-written ([[IndexParams]]),
    * so [[appendToIvfIndex]] and [[loadIvfIndex]] refuse a half-written
    * rebuild. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    IndexParams.commit(path,
      Seq((index.centroids.length,
          index.centroids.headOption.map(_.length).getOrElse(0)))
        .toDF("n_clusters", "dim")) {
      spark.createDataFrame(
          index.centroids.zipWithIndex.toSeq
            .map { case (c, i) => (i, c.toSeq) })
        .toDF("cid", "centroid")
        .repartition(1) // k×dim doubles: one tiny file
        .write.mode("overwrite").parquet(path + "/centroids")
      // Cluster by the partition value before the partitioned write
      // (guide §6): each cid's rows land in one task, so a save emits
      // one file per cluster instead of tasks×clusters small files that
      // every later probe lists and opens.
      index.assigned.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(path + "/assigned")
    }
  }

  /** Rolling append to a [[saveIvfIndex]] artifact — the daily-ingest
    * half of the ANN workflow: arriving embeddings are assigned with
    * the FROZEN centroid model (the same
    * [[nearestCentroid]] column expression every probe and the
    * streaming semantic dedup use, so ingest-time and batch cluster
    * maps agree by construction) and appended to the `assigned/`
    * corpus, with no base re-scan and no retrain. Probes against the
    * grown index see the delta immediately; append ≡ rebuild-with-
    * the-same-centroids for probe results (spec-pinned — all
    * artifacts are plain parquet and probes read whole directories).
    *
    * The ONLY index reads in this path are the one-row params guard
    * and the k×dim centroid model (PlanShapeSpec pins that the delta
    * write never scans `assigned/`). The caller must not append
    * vec_ids already present (the corpus is a bag — duplicates would
    * double-report as their own neighbors). Not atomic: a crash
    * mid-append can leave a partial delta (re-append after an
    * anti-join of the batch ids against the index).
    *
    * Retrain note: the frozen model means cluster BALANCE decays as
    * the corpus drifts — [[clusterStats]] on the grown index is the
    * monitor; rebuild when a cluster's share says so. */
  def appendToIvfIndex(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val centroids = readCentroidModel(spark, path)
    assignToCentroids(emb, centroids).repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(path + "/assigned")
  }

  /** Loud artifact guard shared by append and load: params must exist
    * (they commit last — absence means a dead rebuild or a
    * pre-params artifact) and must match the centroid matrix shape.
    * Both tables are read with the schemas [[saveIvfIndex]] writes. */
  private def readCentroidModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] = {
    val saved = IndexParams.read(spark, path, "n_clusters INT, dim INT",
      "saveIvfIndex")
    val centroids = spark.read.schema("cid INT, centroid ARRAY<DOUBLE>")
      .parquet(path + "/centroids")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(
      saved == org.apache.spark.sql.Row(centroids.length,
        centroids.headOption.map(_.length).getOrElse(0)),
      s"index at $path: params say (n_clusters, dim) = $saved but the " +
        s"centroid model has (${centroids.length}, " +
        s"${centroids.headOption.map(_.length).getOrElse(0)}) — " +
        "mismatched artifacts assign garbage clusters; rebuild with " +
        "saveIvfIndex")
    centroids
  }

  /** Cluster-balanced ("semantic diversity") sampling: cap every IVF
    * cluster at `perCluster` vectors, chosen deterministically by the
    * portable hash uniform ([[Sampling.stratifiedCap]]). Where a
    * uniform sample over-represents the corpus's dense regions, this
    * keeps an equal-sized slice of each semantic cluster — the
    * embedding-aware counterpart of per-source balancing, and the
    * standard cheap proxy for coverage-maximizing selection. Output
    * is the assigned frame (vec_id, embedding, cid) plus
    * `stratum_rank`; one shuffle on cid. */
  def diversitySample(index: IvfIndex, perCluster: Int,
      seed: String = "graft"): DataFrame =
    Sampling.stratifiedCap(index.assigned, col("cid"), col("vec_id"),
      perCluster, seed)

  /** Embedding-space outlier score per vector:
    * `1 − cos(embedding, centroid(cid))` against the vector's OWN
    * cluster centroid. Corrupt, mis-embedded, or off-distribution
    * vectors sit far from every centroid and score high — the
    * embedding-side counterpart of the text quality gate (filter with
    * `outlier_score > τ`). Pure projection over the assigned frame:
    * the centroid model rides as a row-major literal matrix and the
    * native [[graft.functions.VecMath.matrix_row_dot]] evaluates ONE
    * O(dim) dot per row regardless of cluster count — no join, no
    * shuffle, and no plan growth with k (the when-chain spelling this
    * replaces tested k branches per row). An empty index scores every
    * row NaN (and `assigned` is empty anyway). */
  def outlierScores(index: IvfIndex): DataFrame = {
    val dim = index.centroids.headOption.map(_.length).getOrElse(0)
    val flat = index.centroids.flatten
    index.assigned
      .select(col("vec_id"), col("cid"),
        graft.functions.VecMath.vec_unit(col("embedding")).as("e"))
      .select(col("vec_id"), col("cid"),
        (lit(1.0) - graft.functions.VecMath.matrix_row_dot(
          col("e"), col("cid"), flat, dim)).as("outlier_score"))
  }

  /** Reload a [[saveIvfIndex]] artifact (params-guarded — a
    * half-written rebuild fails loudly here, not as a garbage probe).
    * The assigned frame comes back partition-pruned by `cid`; probes
    * are bit-identical to the in-session index (spec-pinned). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex =
    IvfIndex(readCentroidModel(spark, path),
      spark.read.parquet(path + "/assigned")
        .select(col("vec_id"), col("embedding"), col("cid")))

  private def ivfProbe(centroids: Array[Array[Double]], corpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nProbe nearest centroids per query: k small, so rank centroid
    // dots in an array expression and explode the top slice (negid →
    // dot-ties break toward the LOWER cid after the reverse — the
    // [[nearestCentroid]] convention, so probing and assignment agree
    // on ties).
    val probeCols = centroids.zipWithIndex.map { case (c, i) =>
      struct(dot(col("e"), array(c.map(lit).toIndexedSeq: _*)).as("d"),
        lit(-i).as("negid"))
    }
    val spreadCorpus = spreadIfNarrow(corpus)
    val probed = unitized(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(transform(
          slice(reverse(array_sort(array(probeCols.toIndexedSeq: _*))),
            1, nProbe),
          x => -x.getField("negid"))).as("cid"))
    val qn = graft.functions.VecMath.vec_norm(col("q_emb"))
    val nn = graft.functions.VecMath.vec_norm(col("embedding"))
    probed.join(spreadCorpus, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("embedding")) / (qn * nn), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplanes from a fixed LCG (stable across
    * runs/executors — required for re-runnable pipelines). */
  private def planes(count: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val it = Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
    Seq.fill(count)(Seq.fill(dim)(if (it.next() < 0) -1.0 else 1.0))
  }

  /** Random-hyperplane LSH bucket keys: `tables` independent tables,
    * each keyed by `planesPerTable` sign bits. Returns (vec_id,
    * table_idx, bucket). All buckets of a vector are computed by ONE
    * native expression pass over the plane matrix
    * ([[org.apache.spark.sql.graft.LshBuckets]]) — the per-plane
    * declarative spelling built a ~tables×planesPerTable expression
    * forest of array literals that outgrew codegen and dominated the
    * ANN queries' runtime. Bucket values are bit-identical. */
  def lshBuckets(emb: DataFrame, tables: Int, planesPerTable: Int,
      dim: Int, seed: Long = 42L): DataFrame = {
    val flat = planes(tables * planesPerTable, dim, seed).flatten.toIndexedSeq
    emb.select(col("vec_id"),
        posexplode(graft.functions.lsh_buckets(
          col("embedding"), flat, tables, planesPerTable)))
      .toDF("vec_id", "table_idx", "bucket")
  }

  /** Approximate cosine top-k: candidates = vectors sharing any LSH
    * bucket with the query, re-ranked exactly. Same output schema as
    * [[cosineTopK]]; recall < 1 (spec-tested against brute force). */
  def annTopK(emb: DataFrame, queries: DataFrame, k: Int, dim: Int,
      tables: Int = 16, planesPerTable: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusB = lshBuckets(spreadIfNarrow(emb), tables, planesPerTable, dim)
    val queryB = lshBuckets(queries, tables, planesPerTable, dim)
    val cand = queryB.as("qb")
      .join(corpusB.as("nb"),
        col("qb.table_idx") === col("nb.table_idx") &&
          col("qb.bucket") === col("nb.bucket") &&
          col("qb.vec_id") =!= col("nb.vec_id"))
      .select(col("qb.vec_id").as("query_id"), col("nb.vec_id").as("neighbor_id"))
      .distinct()
    val qn = withNorm(queries)
    val nn = withNorm(emb)
    cand
      .join(qn.select(col("vec_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm")), col("query_id") === col("vec_id")).drop("vec_id")
      .join(nn.select(col("vec_id"), col("embedding").as("n_emb"),
        col("norm").as("n_norm")), col("neighbor_id") === col("vec_id")).drop("vec_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("q_emb"), col("n_emb")) /
          (col("q_norm") * col("n_norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× memory cut for serving/indexing a 100 TB embedding
    * table (float32 → int8 codes + one float scale per vector;
    * dequantize ≈ `code * scale`). Codes are
    * `floor(x·127/max|x| + 0.5)` ∈ [−127, 127] — explicit floor(+0.5)
    * rather than an engine `round`, so every engine reproduces the
    * exact codes (IEEE double ops only) and the gate can hash them.
    * Zero-shuffle: one codegen'd HOF projection per row; emits the
    * code vector itself plus a portable md5 of the code string, the L1
    * mass, and the rounded scale. All-zero vectors quantize to all
    * zeros with scale 0. */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings, then within each
    * cluster drop every vector whose cosine to a LOWER-id cluster-mate
    * reaches `threshold` — near-semantic-duplicates that exact and
    * lexical dedup both miss (paraphrases, translations, templated
    * rewrites). The whole point of the cluster stage is scale: the
    * pairwise compare is quadratic only WITHIN a cluster (expected
    * N²/k work instead of N²), and the pair stage is an equi-join on
    * cluster id — shuffle-partitionable, never corpus×corpus.
    *
    * This production entry runs over a trained [[IvfIndex]] (build
    * once, dedup and probe from the same artifact). Clusters larger
    * than `maxClusterSize` are deterministically sub-split by a hash
    * of `vec_id` before pairing, so no task's pair work exceeds
    * cap² regardless of how lopsided the clustering came out — the
    * trade is declared, not silent: a dup pair straddling two
    * sub-splits of one oversized cluster is missed (removals under
    * the cap are a SUBSET of uncapped removals — spec-pinned law),
    * which matches SemDeDup's own within-cluster-only blindness one
    * level down.
    *
    * Output: (vec_id, cid, keep) — `keep = false` iff some lower-id
    * vector in the same (sub-)cluster has cosine ≥ threshold. The
    * keep-lowest rule is a deterministic stand-in for the paper's
    * arbitrary representative choice; the lowest id in every cluster
    * is always kept. */
  def semanticDedup(index: IvfIndex, threshold: Double,
      maxClusterSize: Long = 1000000L): DataFrame = {
    val sizes = index.assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("csz"))
    // k rows — rides broadcast; each vector learns its cluster's
    // sub-split fan-out without a corpus-wide window.
    val assigned = index.assigned
      .join(broadcast(sizes), Seq("cid"))
      .withColumn("scid", concat_ws("#", col("cid"),
        pmod(xxhash64(col("vec_id")),
          greatest(lit(1L), ceil(col("csz") / lit(maxClusterSize.toDouble))
            .cast("long")))))
      .select(col("vec_id"), col("embedding"), col("cid"), col("scid"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("norm"))
    semanticVerdict(assigned, threshold)
  }

  /** [[semanticDedup]] with a fully deterministic, cross-engine-
    * replayable clustering: the centroids are the embeddings of the
    * `nClusters` LOWEST vec_ids (no Lloyd iterations — a float
    * fixed-point the oracle can't replay), and assignment is argmax
    * cosine ROUNDED to 6 decimals with ties toward the lower centroid
    * id, so an independent engine reproduces the exact cluster map
    * and therefore the exact keep verdicts. Same downstream pair
    * stage and output schema as the production path; this is the
    * correctness gate's spelling (`dedup_semantic`), while real
    * pipelines use the trained-index entry. */
  def semanticDedupSeeded(emb: DataFrame, threshold: Double,
      nClusters: Int, persist: Persistence = Persistence.Local): DataFrame =
    semanticVerdict(seededAssign(emb, nClusters, persist), threshold)

  /** The seeded deterministic cluster assignment shared by
    * [[semanticDedupSeeded]] and [[semanticPairsSeeded]]. */
  private def seededAssign(emb: DataFrame, nClusters: Int,
      persist: Persistence): DataFrame = {
    val seeds = emb.orderBy(col("vec_id")).limit(nClusters)
      .select(col("embedding").cast("array<double>")).collect()
      .map { r =>
        val v = r.getSeq[Double](0).toArray
        (v, math.sqrt(v.map(x => x * x).sum))
      }
    val scored = seeds.zipWithIndex.map { case ((sv, sn), i) =>
      struct(round(dot(col("embedding"), array(sv.map(lit).toIndexedSeq: _*)) /
          (col("norm") * lit(sn)), 6).as("d"),
        lit(-i).as("negid"))
    }
    persist(withNorm(spreadIfNarrow(emb))
      .withColumn("_best", array_max(array(scored.toIndexedSeq: _*)))
      .withColumn("cid", (-col("_best").getField("negid")).cast("int"))
      // Cosine to the OWN centroid (the argmax d) — free here, and
      // what [[clusterStatsSeeded]] aggregates per cluster.
      .withColumn("d_own", col("_best").getField("d"))
      .withColumn("scid", col("cid").cast("string"))
      .drop("_best"))
  }

  /** Embedding-space cluster health: one row per cluster with its
    * population, exact-decimal cosine mass to the own centroid
    * (`sum_cos`, the 6-dp assignment cosines summed in
    * DECIMAL(38,6) — order-independent, so engine-exact), the derived
    * tightness `mean_cos` (one IEEE division), and corpus `share`.
    * The embedding-side sibling of [[Profiling.hotKeys]]: a cluster
    * holding 30% of the corpus says "raise nClusters or lower
    * `maxClusterSize` before the pair stage"; a low `mean_cos`
    * cluster is the junk drawer whose members deserve the
    * [[outlierScores]] gate first. Seeded deterministic clustering
    * (the `dedup_semantic` gate's spelling) so an independent engine
    * replays every row; [[clusterStats]] is the trained-index twin.
    *
    * Scale: ONE map-side-combinable aggregation on cid (k rows out);
    * the total behind `share` re-aggregates the k-row counts frame,
    * not the corpus. */
  def clusterStatsSeeded(emb: DataFrame, nClusters: Int,
      persist: Persistence = Persistence.Local): DataFrame =
    clusterStatsFrom(seededAssign(emb, nClusters, persist))

  /** [[clusterStatsSeeded]] over a trained [[buildIvfIndex]] artifact
    * (production path — Lloyd centroids are a float fixed-point no
    * SQL oracle replays, so this twin is spec-pinned instead). The
    * own-centroid cosine is the same zero-shuffle
    * [[graft.functions.VecMath.matrix_row_dot]] projection
    * [[outlierScores]] uses, rounded to the seeded spelling's 6 dp. */
  def clusterStats(index: IvfIndex): DataFrame = {
    val dim = index.centroids.headOption.map(_.length).getOrElse(0)
    val flat = index.centroids.flatten
    clusterStatsFrom(index.assigned
      .select(col("vec_id"), col("cid"),
        graft.functions.VecMath.vec_unit(col("embedding")).as("e"))
      .withColumn("d_own",
        round(graft.functions.VecMath.matrix_row_dot(
          col("e"), col("cid"), flat, dim), 6)))
  }

  private def clusterStatsFrom(assigned: DataFrame): DataFrame = {
    val counts = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d_own").cast("decimal(38,6)")).as("_sc"))
    val total = counts.agg(sum(col("n_vecs")).as("_nt"))
    counts.crossJoin(broadcast(total))
      .select(col("cid"), col("n_vecs"),
        col("_sc").cast("double").as("sum_cos"),
        (col("_sc").cast("double") / col("n_vecs")).as("mean_cos"),
        (col("n_vecs").cast("double") / col("_nt")).as("share"))
  }

  /** Shared verdict stage: pairs within each (sub-)cluster, exact
    * verified cosine, keep = "no lower-id mate at or above the
    * threshold". One shuffle on the cluster key; the anti-join side
    * is the distinct dup-id set (far smaller than the corpus). */
  /** The verdict machinery's pair sub-stage, exposed: within-
    * (sub-)cluster vector pairs at or above the cosine threshold —
    * (id_a < id_b, cos_sim at 6dp). Same one-shuffle equi-join on the
    * cluster key; consumers that need the EDGES rather than the keep
    * verdicts (cross-split leakage audits, duplicate-cluster
    * analysis) compose from here. */
  private def semanticPairs(assigned: DataFrame, threshold: Double): DataFrame =
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.scid") === col("b.scid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.norm") * col("b.norm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** [[semanticDedupSeeded]]'s pair edges (deterministic seeded
    * clustering — the oracle-replayable spelling): every within-
    * cluster pair with cosine ≥ threshold. */
  def semanticPairsSeeded(emb: DataFrame, threshold: Double,
      nClusters: Int, persist: Persistence = Persistence.Local): DataFrame =
    semanticPairs(seededAssign(emb, nClusters, persist), threshold)

  private def semanticVerdict(assigned: DataFrame, threshold: Double): DataFrame = {
    val dups = semanticPairs(assigned, threshold)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(!col("is_dup"), lit(true)).as("keep"))
  }

  /** Embedding-corpus QA: the one-row health check run BEFORE any
    * index build or pair stage trusts the vectors. Counts
    * (`n_vecs`), zero vectors (`n_zero` — unscoreable by every
    * cosine op here), non-finite contamination (`n_nonfinite` — one
    * NaN element poisons every dot it touches), the dimension range
    * (`dim_min`/`dim_max` — ragged dims mean a broken embedder or a
    * mixed model version), and the 6-dp norm quartiles
    * (`norm_q25/q50/q75` — a healthy same-model corpus is tightly
    * banded; a wide spread says mixed models or truncated rows).
    *
    * Scale: one projection pass + one aggregate for the counts; the
    * quantiles ride [[graft.ops.Ranking.groupQuantiles]]' distinct-
    * rank lookup (no sort task, no value-map state). Norms are
    * squared/summed per row in fixed element order and rounded to
    * 6 dp, the sim-family convention — fully oracle-portable. */
  def embeddingHealth(emb: DataFrame): DataFrame = {
    val base = emb.select(
      size(col("embedding")).cast("long").as("dim"),
      round(graft.functions.VecMath.vec_norm(
        expr("transform(embedding, x -> CAST(x AS DOUBLE))")), 6)
        .as("nrm"),
      expr("""CASE WHEN exists(embedding, x -> isnan(CAST(x AS DOUBLE))
             |  OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))
             |THEN 1L ELSE 0L END""".stripMargin).as("bad"))
    val counts = base.agg(count(lit(1)).as("n_vecs"),
      sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
      sum(col("bad")).as("n_nonfinite"),
      min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"))
    val quart = graft.ops.Ranking.groupQuantiles(
        base.select(col("nrm")), "nrm", Seq(0.25, 0.5, 0.75), Nil,
        fanout = 16)
      .agg(min(when(col("q") === 0.25, col("value"))).as("norm_q25"),
        min(when(col("q") === 0.5, col("value"))).as("norm_q50"),
        min(when(col("q") === 0.75, col("value"))).as("norm_q75"))
    counts.crossJoin(broadcast(quart))
  }

  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q", expr(
        "transform(v, x -> IF(mx = 0.0D, 0L, CAST(floor(x * 127 / mx + 0.5D) AS BIGINT)))"))
      .select(col("vec_id"),
        round(col("mx") / 127d, 6).as("scale"),
        md5(expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')")).as("q_md5"),
        expr("aggregate(q, 0L, (a, x) -> a + abs(x))").as("q_l1"),
        col("q"))
}
