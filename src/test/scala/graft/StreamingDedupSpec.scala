package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDedup

/** Ingest-time near-dup detection (stateful MinHash-LSH buckets on
  * transformWithState): stream agrees with the batch banded-candidate
  * computation on the same corpus, and the watermark horizon both
  * expires residents and drops late documents. */
case class StreamingDoc(doc_id: Long, ms: Long, text: String)

class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val t0 = 1650557501028L

  private def toDocFrame(df: DataFrame): DataFrame =
    df.select(col("doc_id"), timestamp_millis(col("ms")).as("eventTime"),
      col("text"))

  // Near-dup families: 1/4 identical, 2 = 1 with ONE word changed at
  // the tail (3 of 18 trigrams touched → J = 15/21 ≈ 0.71, inside the
  // (0.5, 1) estimator band); 3/5 unrelated noise.
  private val base = "the quick brown fox jumps over the lazy dog tonight " +
    "while the pale moon rises slowly over the quiet sleeping"
  private val corpus = Seq(
    StreamingDoc(1, t0, base + " village"),
    StreamingDoc(2, t0 + 1000, base + " harbor"),
    StreamingDoc(3, t0 + 2000, "completely unrelated text about spark catalyst planning"),
    StreamingDoc(4, t0 + 3000, base + " village"),
    StreamingDoc(5, t0 + 4000, "another unrelated document mentioning minhash signatures only"))

  test("[tws] streaming hits match the batch banded-candidate estimate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingDoc]
    val out = StreamingDedup.run(StreamingDedup.banded(toDocFrame(mem.toDF())))
    val q = out.writeStream.format("memory").queryName("sdedup_parity")
      .outputMode("append").start()
    try {
      // Two batches (split mid-corpus): hits must not depend on
      // batch boundaries.
      mem.addData(corpus.take(2): _*)
      q.processAllAvailable()
      mem.addData(corpus.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("sdedup_parity")
        .select("id_a", "id_b", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet // set: dedupes per-band re-emissions

      // Batch expectation from the SAME banded frame (watermark is
      // a no-op in batch): pairs sharing any band, estimator from
      // the full signatures.
      val banded = StreamingDedup.banded(toDocFrame(
        corpus.toDF("doc_id", "ms", "text")))
      val sigs = banded.select(col("doc_id"), col("sig")).distinct()
        .as[(Long, Array[Long])].collect().toMap
      val expected = banded.as("x")
        .join(banded.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct()
        .as[(Long, Long)].collect().toSet
        .map((p: (Long, Long)) =>
          (p._1, p._2, StreamingDedup.estJaccard(sigs(p._1), sigs(p._2))))
        .filter(_._3 >= 0.5)

      assert(got == expected)
      // Sanity on the fixture itself: the identical pair estimates
      // 1.0, the near pair sits in [0.5, 1), the unrelated docs
      // appear in no hit.
      assert(got.exists(h => h._1 == 1 && h._2 == 4 && h._3 == 1.0))
      assert(got.exists(h => h._1 == 1 && h._2 == 2 && h._3 >= 0.5 && h._3 < 1.0))
      assert(!got.exists(h => h._1 == 3 || h._2 == 3 || h._1 == 5 || h._2 == 5))
    } finally q.stop()
  }

  test("[tws] watermark horizon expires residents; docs beyond it never pair") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingDoc]
    val out = StreamingDedup.run(StreamingDedup.banded(toDocFrame(mem.toDF()),
      watermarkDelay = "10 minutes"))
    val q = out.writeStream.format("memory").queryName("sdedup_evict")
      .outputMode("append").start()
    try {
      val text = "the quick brown fox jumps over the lazy dog tonight"
      mem.addData(StreamingDoc(1, t0, text))
      q.processAllAvailable()
      // Advance the watermark 20 min past doc 1 (horizon 10 min)
      // with an unrelated doc, then replay the same content: doc 1
      // has been evicted, so NO pair forms across the horizon.
      mem.addData(StreamingDoc(2, t0 + 1200000,
        "completely unrelated text about spark catalyst planning"))
      q.processAllAvailable()
      mem.addData(StreamingDoc(3, t0 + 1201000, text))
      q.processAllAvailable()
      assert(spark.table("sdedup_evict").count() == 0)
      // Positive control: the same content arriving INSIDE the
      // horizon of doc 3 pairs immediately.
      mem.addData(StreamingDoc(4, t0 + 1202000, text))
      q.processAllAvailable()
      val hits = spark.table("sdedup_evict")
        .select("id_a", "id_b", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(hits == Set((3L, 4L, 1.0)))
    } finally q.stop()
  }

  // ---- Ingest-time sentence dedup ------------------------------------

  test("[tws] sentence dedup: ordered arrival matches batch dedupSentences; boundary-independent") {
    implicit val sqlCtx = spark.sqlContext
    // Shared boilerplate across docs plus per-doc content; doc 2
    // also repeats a sentence internally (the batch winner rule
    // dedupes within a doc too).
    val sentCorpus = Seq(
      StreamingDoc(1, t0, "The quick fox runs. All rights reserved. Unique one here."),
      StreamingDoc(2, t0 + 1000, "All rights reserved. Another thought entirely. All rights reserved."),
      StreamingDoc(3, t0 + 2000, "Fresh content only! The quick fox runs."))
    val batchDocs = sentCorpus.map(d => (d.doc_id, d.text))
      .toDF("doc_id", "text")
    val expected = graft.ops.Dedup.dedupSentences(batchDocs)
      .select("doc_id", "text", "n_sentences", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap

    // Two arrival shapes, same verdicts: one doc per micro-batch,
    // then everything in one batch (the fold's deterministic
    // (time, doc, idx) order makes batch boundaries irrelevant
    // for ordered event times).
    val splits: Seq[Seq[Seq[StreamingDoc]]] =
      Seq(sentCorpus.map(Seq(_)), Seq(sentCorpus))
    splits.zipWithIndex.foreach { case (batches, bi) =>
      val mem = MemoryStream[StreamingDoc]
      val name = s"ssent_$bi"
      val q = StreamingDedup.sentenceDedup(
          StreamingDedup.sentenceArrivals(toDocFrame(mem.toDF())))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val verdicts = spark.table(name)
        .select("doc_id", "sent_idx", "sentence", "kept")
        .as[(Long, Long, String, Boolean)].collect().toSeq

      // Rebuild each doc from kept verdicts -> must equal the
      // batch operator's rebuilt text; duplicate counts agree.
      sentCorpus.foreach { d =>
        val mine = verdicts.filter(_._1 == d.doc_id)
        val rebuilt = mine.filter(_._4).sortBy(_._2).map(_._3).mkString(" ")
        val (_, bText, bSent, bRemoved) = expected(d.doc_id)
        assert(rebuilt == bText, s"doc ${d.doc_id} rebuilt text")
        assert(mine.size.toLong == bSent, s"doc ${d.doc_id} sentence count")
        assert(mine.count(!_._4).toLong == bRemoved, s"doc ${d.doc_id} removed count")
      }
    }
  }

  test("[tws] sentence dedup horizon: claims expire past the watermark; late arrivals drop") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingDoc]
    val name = "ssent_hz"
    val q = StreamingDedup.sentenceDedup(
        StreamingDedup.sentenceArrivals(toDocFrame(mem.toDF()),
          watermarkDelay = "10 minutes"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val text = "All rights reserved."
      mem.addData(StreamingDoc(1, t0, text)) // first claim
      q.processAllAvailable()
      // Inside the horizon: duplicate of doc 1's claim.
      mem.addData(StreamingDoc(2, t0 + 1000, text))
      q.processAllAvailable()
      // Advance the watermark 20 min past the claim (horizon 10)
      // with an unrelated doc — the watermark a batch USES is the
      // one the previous batch established.
      mem.addData(StreamingDoc(5, t0 + 1200000,
        "Completely different sentence."))
      q.processAllAvailable()
      // The claim has expired: the sentence is fresh again. The
      // same batch carries a LATE copy (behind the watermark)
      // that must drop silently.
      mem.addData(StreamingDoc(3, t0 + 1201000, text),
        StreamingDoc(4, t0 + 2000, text))
      q.processAllAvailable()
      val got = spark.table(name)
        .filter(col("sentence") === text)
        .select("doc_id", "kept", "winner_doc_id")
        .as[(Long, Boolean, Long)].collect().toSet
      assert(got == Set((1L, true, 1L), (2L, false, 1L), (3L, true, 3L)))
    } finally q.stop()
  }

  test("[tws] hot-bucket cap bounds residents: each arrival pairs with at most cap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingDoc]
    val out = StreamingDedup.run(StreamingDedup.banded(toDocFrame(mem.toDF())),
      maxBucketResidents = 3)
    val q = out.writeStream.format("memory").queryName("sdedup_cap")
      .outputMode("append").start()
    try {
      // Six IDENTICAL docs flood one bucket family; cap = 3 keeps
      // the 3 most-recent residents, so arrival i pairs with
      // min(i−1, 3) docs — a sliding-window pair pattern, 12 pairs
      // total, NOT the quadratic 15 — and every doc still pairs
      // with its successors (downstream clustering reconnects the
      // family).
      val text = "the quick brown fox jumps over the lazy dog tonight"
      // Two batches: cap eviction must persist across batches.
      mem.addData((1 to 4).map(i => StreamingDoc(i, t0 + i * 1000, text)): _*)
      q.processAllAvailable()
      mem.addData((5 to 6).map(i => StreamingDoc(i, t0 + i * 1000, text)): _*)
      q.processAllAvailable()
      val got = spark.table("sdedup_cap")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val expected = Set(
        (1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L),
        (2L, 5L), (3L, 5L), (4L, 5L), (3L, 6L), (4L, 6L), (5L, 6L))
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming semantic dedup: id-ordered arrival reproduces the batch keep=false set; cluster maps agree") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSemanticDedup
    // Two planted directions: 1/2/4 along x (pairwise cos > 0.99),
    // 3/5 along y (cos ≈ 0.985) — both families above τ = 0.9, the
    // cross-family cosines far below it.
    val vecs = Seq(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0.995f, 0.1f, 0f),
      3L -> Seq(0f, 1f, 0f),
      4L -> Seq(0.98f, 0.2f, 0f),
      5L -> Seq(0.05f, 0.99f, 0.1f))
    val batchEmb = vecs.toDF("vec_id", "embedding")
    val index = graft.ops.Similarity.buildIvfIndex(batchEmb, nClusters = 2)
    val batch = graft.ops.Similarity.semanticDedup(index, 0.9)
      .as[(Long, Int, Boolean)].collect()
    val batchDups = batch.filter(!_._3).map(_._1).toSet
    val batchCids = batch.map(r => r._1 -> r._2).toMap

    val mem = MemoryStream[(Long, Long, Seq[Float])]
    val assigned = StreamingSemanticDedup.assigned(
      mem.toDF().toDF("vec_id", "ms", "embedding")
        .select(col("vec_id"), timestamp_millis(col("ms")).as("eventTime"),
          col("embedding")),
      index.centroids)
    val q = StreamingSemanticDedup.run(assigned, 0.9)
      .writeStream.format("memory").queryName("sem_dedup_stream")
      .outputMode("append").start()
    try {
      // vec_id order across a batch split: hits must not depend on
      // boundaries, and "later arrival vs resident" then mirrors the
      // batch rule "dup iff a lower-id mate ≥ τ in the same cluster".
      val arrivals = vecs.zipWithIndex.map { case ((id, e), i) =>
        (id, t0 + i * 1000L, e)
      }
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*)
      q.processAllAvailable()
      val hits = spark.table("sem_dedup_stream")
        .as[StreamingSemanticDedup.SemanticDupHit].collect()
      assert(hits.map(_.id_b).toSet == batchDups)
      assert(batchDups.nonEmpty && batchDups.subsetOf(Set(2L, 4L, 5L)))
      // Every hit's cosine clears τ with batch-identical rounding.
      assert(hits.forall(h => h.cos_sim >= 0.9 && h.id_a < h.id_b))
      // Ingest-time assignment (the shared nearestCentroid expression)
      // agrees with the index's cluster map.
      val cidCheck = batchEmb
        .select(col("vec_id"),
          graft.ops.Similarity.nearestCentroid(
            graft.functions.VecMath.vec_unit(col("embedding")),
            index.centroids).as("cid"))
        .as[(Long, Int)].collect().toMap
      assert(cidCheck == batchCids)
    } finally q.stop()
  }

  test("streaming semantic dedup: late vectors drop; watermark expires residents") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSemanticDedup
    val index = graft.ops.Similarity.buildIvfIndex(
      Seq(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f)).toDF("vec_id", "embedding"),
      nClusters = 1)
    val mem = MemoryStream[(Long, Long, Seq[Float])]
    val assigned = StreamingSemanticDedup.assigned(
      mem.toDF().toDF("vec_id", "ms", "embedding")
        .select(col("vec_id"), timestamp_millis(col("ms")).as("eventTime"),
          col("embedding")),
      index.centroids, watermarkDelay = "10 minutes")
    val q = StreamingSemanticDedup.run(assigned, 0.9)
      .writeStream.format("memory").queryName("sem_dedup_horizon")
      .outputMode("append").start()
    try {
      // Vector 1 arrives; a far-future vector advances the watermark
      // past 1's expiry; an identical copy of 1 then arrives INSIDE
      // the new horizon (so it is processed) but 1's residency has
      // expired -> no hit; finally a LATE copy behind the watermark is
      // dropped entirely.
      val hour = 3600L * 1000
      mem.addData((1L, t0, Seq(1f, 0f)))
      q.processAllAvailable()
      mem.addData((9L, t0 + 3 * hour, Seq(0f, 1f)))
      q.processAllAvailable()
      mem.addData((4L, t0 + 3 * hour + 1000, Seq(1f, 0f)))
      q.processAllAvailable()
      mem.addData((5L, t0 + 1000, Seq(1f, 0f))) // behind watermark: dropped
      q.processAllAvailable()
      val hits = spark.table("sem_dedup_horizon")
        .as[StreamingSemanticDedup.SemanticDupHit].collect()
      assert(hits.isEmpty)
    } finally q.stop()
  }
}
