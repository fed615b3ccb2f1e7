package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Ingest-time SEMANTIC near-duplicate detection — the streaming twin
  * of [[graft.ops.Similarity.semanticDedup]], for the pipeline that
  * wants paraphrase-level dups quarantined BEFORE they land in the
  * corpus rather than in the nightly batch pass.
  *
  * Deployment shape: the IVF centroid model is a FROZEN artifact (a
  * [[graft.ops.Similarity.buildIvfIndex]] /
  * [[graft.ops.Similarity.loadIvfIndex]] product — k×dim doubles on
  * the driver, shipped with the plan). Each arriving embedding is
  * assigned to its nearest centroid with the SAME column expression
  * the batch path uses ([[graft.ops.Similarity.nearestCentroid]] over
  * the native `vec_unit`), so ingest-time and batch cluster maps
  * agree by construction; a stateful per-cluster store then compares
  * the arrival against the cluster's residents by EXACT cosine — the
  * same `round(dot/(na·nb), 6) ≥ τ` arithmetic as the batch verdict
  * stage, replicated bit-for-bit in the fold (including Spark SQL's
  * NaN-is-largest comparison semantics for degenerate zero-norm
  * vectors) — and emits a [[SemanticDupHit]] per match.
  *
  * Unlike the banded MinHash store ([[StreamingDedup]]), clusters are
  * DISJOINT: a pair is emitted at most once, and the state key space
  * is the BOUNDED cluster count (a model constant, not corpus-shaped),
  * so `flatMapGroupsWithState`'s per-batch full-key timeout scan —
  * the scale caveat that made StreamingDedup a transformWithState
  * engine — costs O(nClusters) here and `flatMapGroupsWithState`
  * suffices.
  *
  * Scale posture: state per cluster is (vec_id, ev_ms, vector, norm)
  * per resident — expired by the watermark and capped at
  * `maxClusterResidents` (the streaming sibling of the batch path's
  * `maxClusterSize` sub-split: a degenerate hot cluster compares each
  * arrival against at most `cap` residents, evicting the oldest;
  * recall loss touches only clusters larger than the cap within one
  * horizon). Comparison is O(residents · dim) per arrival — the IVF
  * premise (near-dups share a cluster, unrelated vectors don't) keeps
  * residents per cluster ~N/k within the horizon.
  *
  * Late vectors (event time behind the watermark) are dropped,
  * mirroring `dropDuplicatesWithinWatermark`. When arrivals come in
  * vec_id order with everything in-horizon and no cap eviction, the
  * set of emitted `id_b`s equals the batch operator's `keep = false`
  * set against the same index (parity spec-pinned).
  */
object StreamingSemanticDedup {

  /** One assigned arrival: the vector rides as a raw double copy plus
    * its norm so the fold can replay the batch verdict arithmetic
    * exactly. PRIMITIVE Array[Double] for the same encoder reason as
    * [[StreamingDedup.BandEvent]]'s signature. */
  final case class VecEvent(
      vec_id: Long, eventTime: java.sql.Timestamp, ev_ms: Long,
      emb: Array[Double], norm: Double, cid: Int)

  /** A vector resident in a cluster store. */
  final case class SeenVec(
      vec_id: Long, ev_ms: Long, emb: Array[Double], norm: Double)

  final case class ClusterState(vecs: List[SeenVec])

  /** An emitted semantic near-dup: `id_a` < `id_b`, `cos_sim` the
    * batch-identical 6-decimal cosine, `eventTime` the later vector's
    * arrival. */
  final case class SemanticDupHit(
      id_a: Long, id_b: Long, cos_sim: Double,
      eventTime: java.sql.Timestamp)

  /** Assign a vector stream (`vec_id`, `embedding`, `eventTime`) to
    * the frozen centroid model, watermarked. Assignment shares the
    * batch path's column expression, cosine ingredients ship as an
    * exact double copy + norm of the ORIGINAL embedding (float→double
    * conversion is exact, so the fold's dot/norm arithmetic is
    * bit-identical to the batch verdict's). */
  def assigned(vecs: DataFrame, centroids: Array[Array[Double]],
      watermarkDelay: String = "10 minutes"): DataFrame =
    vecs
      .select(col("vec_id"), col("eventTime"),
        unix_millis(col("eventTime")).as("ev_ms"),
        col("embedding").cast("array<double>").as("emb"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("norm"),
        graft.ops.Similarity.nearestCentroid(
          graft.functions.VecMath.vec_unit(col("embedding")), centroids)
          .as("cid"))
      .withWatermark("eventTime", watermarkDelay)

  /** The batch verdict stage's cosine, replicated exactly: one
    * left-to-right dot, ONE divide by the norm product, Spark's
    * `round(_, 6)` (BigDecimal HALF_UP). */
  private[graft] def cosRound6(a: SeenVec, e: VecEvent): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.emb.length, e.emb.length)
    while (i < n) { s += a.emb(i) * e.emb(i); i += 1 }
    val c = s / (a.norm * e.norm)
    if (java.lang.Double.isNaN(c) || java.lang.Double.isInfinite(c)) c
    else java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Spark SQL `>=` on doubles: NaN compares LARGER than everything
    * (so a zero-norm pair's NaN cosine passes any threshold — the
    * batch verdict's behavior, mirrored, not endorsed; feed the
    * stream through a quality gate to drop unembeddable rows). */
  private def geSparkSql(x: Double, thr: Double): Boolean =
    java.lang.Double.isNaN(x) || x >= thr

  /** The pure per-cluster transition (same contract as
    * [[StreamingDedup.foldBucket]]): compare each in-horizon arrival,
    * in deterministic (time, id) order, against current residents;
    * append it; past `cap`, evict the OLDEST resident. */
  private[graft] def foldCluster(live: List[SeenVec],
      events: Iterator[VecEvent], wm: Long, threshold: Double,
      cap: Int): (List[SemanticDupHit], List[SeenVec]) = {
    var cur = live
    var n = cur.length
    val hits = List.newBuilder[SemanticDupHit]
    events.toSeq.sortBy(e => (e.ev_ms, e.vec_id)).foreach { e =>
      if (e.ev_ms >= wm) {
        cur.foreach { s =>
          if (s.vec_id != e.vec_id) {
            val c = cosRound6(s, e)
            if (geSparkSql(c, threshold)) {
              val (a, b) =
                if (s.vec_id < e.vec_id) (s.vec_id, e.vec_id)
                else (e.vec_id, s.vec_id)
              hits += SemanticDupHit(a, b, c, e.eventTime)
            }
          }
        }
        cur = SeenVec(e.vec_id, e.ev_ms, e.emb, e.norm) :: cur
        n += 1
        if (n > cap) {
          val oldest = cur.minBy(s => (s.ev_ms, s.vec_id))
          cur = cur.filterNot(s =>
            s.vec_id == oldest.vec_id && s.ev_ms == oldest.ev_ms)
          n = cur.length
        }
      }
    }
    (hits.result(), cur)
  }

  private def processCluster(threshold: Double, cap: Int)(
      cid: Int, events: Iterator[VecEvent],
      state: GroupState[ClusterState]): Iterator[SemanticDupHit] = {
    val wm = state.getCurrentWatermarkMs()
    val live = state.getOption.map(_.vecs).getOrElse(Nil).filter(_.ev_ms >= wm)
    val (hits, kept) = foldCluster(live, events, wm, threshold, cap)
    if (kept.isEmpty) state.remove()
    else {
      state.update(ClusterState(kept))
      state.setTimeoutTimestamp(kept.map(_.ev_ms).min + 1)
    }
    hits.iterator
  }

  /** Wire the stateful cluster store over an [[assigned]] stream.
    * Output mode: Append (hits are final when emitted). */
  def run(assignedVecs: DataFrame, threshold: Double,
      maxClusterResidents: Int = 1024): Dataset[SemanticDupHit] = {
    implicit val eEnc = Encoders.product[VecEvent]
    implicit val sEnc = Encoders.product[ClusterState]
    implicit val hEnc = Encoders.product[SemanticDupHit]
    implicit val kEnc = Encoders.scalaInt
    assignedVecs
      .as[VecEvent]
      .groupByKey(_.cid)
      .flatMapGroupsWithState[ClusterState, SemanticDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        processCluster(threshold, maxClusterResidents))
  }
}
