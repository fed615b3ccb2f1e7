package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Ingest-time NEAR-duplicate detection over a document firehose —
  * the streaming counterpart of [[graft.ops.Dedup.minhashLshPairs]],
  * for the curation stage where waiting for the nightly batch dedup
  * means a day of duplicate storage and training-shard churn.
  *
  * Pipeline: per-doc MinHash signature (one native pass,
  * [[graft.functions.minhash_signature]]) → banded LSH keys (the SAME
  * band arithmetic as the batch path, so a document lands in the same
  * buckets at ingest and in batch re-dedup) → a stateful bucket store
  * (`transformWithState` keyed by (band_idx, band_hash), RocksDB state
  * store) that compares each arriving doc's signature against the docs
  * currently resident in its buckets and emits a [[NearDupHit]] per
  * match.
  *
  * Similarity here is the SIGNATURE-estimated Jaccard (fraction of
  * agreeing components — the textbook MinHash estimator, unbiased,
  * stderr ≈ 1/√numHashes); exact verification needs the shingle sets
  * and belongs to the batch path. Use the stream to QUARANTINE likely
  * dups at ingest, the batch [[graft.ops.Dedup]] pipeline to
  * adjudicate.
  *
  * Scale posture: state per bucket is one (doc_id, ev_ms, signature)
  * triple per resident doc — never the text — expired by the
  * watermark, so total state is bounded by
  * `bands × (docs per horizon) × numHashes` longs regardless of
  * corpus size; buckets are hash-partitioned across executors by the
  * (band_idx, band_hash) grouping key. Within a bucket, comparison is
  * O(residents) per arrival — the LSH premise (near-dups collide,
  * unrelated docs don't) keeps residents per bucket tiny; a
  * degenerate corpus (one bucket swallowing everything) degrades to
  * the same quadratic any LSH does, bounded here by the horizon.
  *
  * A colliding pair is emitted once PER SHARED BAND (buckets are
  * independent state keys and cannot coordinate): consumers dedupe on
  * (id_a, id_b) — trivial at pair volume. Late documents (event time
  * behind the watermark) are dropped, mirroring
  * `dropDuplicatesWithinWatermark`; a doc is compared only against
  * docs whose event time is still within the horizon.
  */
object StreamingDedup {

  /** One (document × band) arrival: the fanned-out unit of work.
    * `sig` rides along so the bucket can estimate Jaccard without
    * ever seeing the text. PRIMITIVE Array[Long], deliberately: the
    * encoder moves a primitive array as one flat copy, where a
    * Seq[Long] boxes all 64 components on every state get/put —
    * measured as the GC superlinearity that collapsed throughput at
    * 50k-doc batches (800k arrivals × 64 boxed longs ≈ 50M objects
    * per micro-batch). */
  final case class BandEvent(
      doc_id: Long, eventTime: java.sql.Timestamp, ev_ms: Long,
      sig: Array[Long], band_idx: Int, band_hash: Long)

  /** A doc resident in a bucket: id, arrival time (for watermark
    * expiry), signature (for the estimator). */
  final case class SeenDoc(doc_id: Long, ev_ms: Long, sig: Array[Long])

  /** An emitted near-dup candidate: `id_a` < `id_b`, `est_jaccard`
    * the signature-estimated similarity, `eventTime` the later doc's
    * arrival (so downstream watermarked ops keep working). */
  final case class NearDupHit(
      id_a: Long, id_b: Long, est_jaccard: Double,
      eventTime: java.sql.Timestamp)

  /** Fan a document stream (`doc_id`, `text`, `eventTime`) out to one
    * row per LSH band, watermarked. All signature/band arithmetic is
    * shared with the batch path ([[graft.ops.Dedup.minhashBandCols]]),
    * so stream and batch agree bucket-for-bucket. */
  def banded(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .select(col("doc_id"), col("eventTime"),
        unix_millis(col("eventTime")).as("ev_ms"),
        graft.functions.minhash_signature(
          array_distinct(graft.functions.word_shingles(col("text"), n)),
          numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("eventTime"), col("ev_ms"), col("sig"),
        posexplode(array(
          graft.ops.Dedup.minhashBandCols(col("sig"), numHashes, bands): _*)))
      .toDF("doc_id", "eventTime", "ev_ms", "sig", "band_idx", "band_hash")
      .withWatermark("eventTime", watermarkDelay)

  /** Fraction of agreeing signature components — the unbiased MinHash
    * Jaccard estimator. */
  private[graft] def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var m = 0
    var i = 0
    val len = math.min(a.length, b.length)
    while (i < len) { if (a(i) == b(i)) m += 1; i += 1 }
    if (len == 0) 0.0 else m.toDouble / len
  }

  /** Result of folding one batch of arrivals into a bucket: the hits
    * to emit, the surviving residents, the residents appended this
    * fold, and whether the cap evicted anyone (the engine uses the last
    * two to pick an append-only state write). */
  private[graft] final case class BucketFold(
      hits: List[NearDupHit], kept: List[SeenDoc], added: List[SeenDoc],
      capEvicted: Boolean)

  /** The pure per-bucket transition (the StatefulCep.foldEvents
    * pattern: state logic kept apart from the state API):
    * compare each in-horizon arrival, in deterministic (time, id)
    * order, against current residents; append it; if the bucket
    * exceeds `cap`, evict the OLDEST resident ((ev_ms, doc_id) min).
    *
    * The cap is the hot-bucket skew guard — the streaming sibling of
    * the batch path's shingle df-cap: degenerate content (empty docs,
    * boilerplate templates) collapses into one bucket, and an uncapped
    * bucket makes both the comparison work and the emitted pairs per
    * arrival grow linearly with cluster size (quadratic over the
    * stream — measured as linear per-batch time growth in StreamBench
    * before the cap). Capped, an arrival compares against at most
    * `cap` residents; recall loss touches only clusters larger than
    * `cap` within one horizon — every member still pairs with the cap
    * most-recent ones, so downstream clustering still connects the
    * family. Late docs (behind the watermark) are dropped, mirroring
    * dropDuplicatesWithinWatermark. */
  private[graft] def foldBucket(live: List[SeenDoc], events: Iterator[BandEvent],
      wm: Long, minEst: Double, cap: Int): BucketFold = {
    var cur = live
    var n = cur.length
    val hits = List.newBuilder[NearDupHit]
    val added = List.newBuilder[SeenDoc]
    var capEvicted = false
    events.toSeq.sortBy(e => (e.ev_ms, e.doc_id)).foreach { e =>
      if (e.ev_ms >= wm) {
        cur.foreach { s =>
          if (s.doc_id != e.doc_id) {
            val est = estJaccard(s.sig, e.sig)
            if (est >= minEst) {
              val (a, b) =
                if (s.doc_id < e.doc_id) (s.doc_id, e.doc_id)
                else (e.doc_id, s.doc_id)
              hits += NearDupHit(a, b, est, e.eventTime)
            }
          }
        }
        cur = SeenDoc(e.doc_id, e.ev_ms, e.sig) :: cur
        n += 1
        added += SeenDoc(e.doc_id, e.ev_ms, e.sig)
        if (n > cap) {
          val oldest = cur.minBy(s => (s.ev_ms, s.doc_id))
          cur = removeFirst(cur, oldest)
          n -= 1
          capEvicted = true
        }
      }
    }
    BucketFold(hits.result(), cur, added.result(), capEvicted)
  }

  // Matches by (doc_id, ev_ms), not case-class equality: the sig field
  // is a primitive array (reference-compared), and the eviction target
  // is identified by its key anyway.
  private def removeFirst(xs: List[SeenDoc], x: SeenDoc): List[SeenDoc] =
    xs match {
      case Nil => Nil
      case h :: t =>
        if (h.doc_id == x.doc_id && h.ev_ms == x.ev_ms) t
        else h :: removeFirst(t, x)
    }

  /** The bucket store: residents live in a typed [[ListState]]; each
    * bucket keeps ONE event-time timer at its oldest resident's expiry,
    * and the no-expiry input path APPENDS new residents without
    * rewriting the bucket. `enc` is derived once on the driver in
    * [[run]], not in `init` (see the [[StatefulCep]] per-task cost
    * note). */
  private class DedupProcessor(minEst: Double, cap: Int, enc: Encoder[SeenDoc])
      extends StatefulProcessor[(Int, Long), BandEvent, NearDupHit] {

    @transient private var docs: ListState[SeenDoc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      docs = getHandle.getListState[SeenDoc]("bucketDocs", enc, TTLConfig.NONE)

    /** Rewrite the bucket (or clear it) and keep exactly one armed
      * timer at the oldest survivor's expiry. */
    private def commit(kept: List[SeenDoc],
        oldTimer: Option[Long]): Unit = {
      oldTimer.foreach(getHandle.deleteTimer)
      if (kept.isEmpty) docs.clear()
      else {
        docs.put(kept.toArray)
        getHandle.registerTimer(kept.map(_.ev_ms).min + 1)
      }
    }

    override def handleInputRows(
        key: (Int, Long), rows: Iterator[BandEvent],
        tv: TimerValues): Iterator[NearDupHit] = {
      val wm = tv.getCurrentWatermarkInMs()
      val resident = docs.get().toList
      val live = resident.filter(_.ev_ms >= wm)
      val fold = foldBucket(live, rows, wm, minEst, cap)
      val oldTimer =
        if (resident.isEmpty) None else Some(resident.map(_.ev_ms).min + 1)
      if (!fold.capEvicted && live.length == resident.length &&
          fold.added.nonEmpty &&
          oldTimer.forall(t => t <= fold.added.map(_.ev_ms).min + 1)) {
        // Fast path (the common one: nothing expired, no cap
        // eviction, oldest resident unchanged): append-only — no
        // bucket rewrite, armed timer stays valid.
        docs.appendList(fold.added.toArray)
        if (oldTimer.isEmpty)
          getHandle.registerTimer(fold.added.map(_.ev_ms).min + 1)
      } else {
        commit(fold.kept, oldTimer)
      }
      fold.hits.iterator
    }

    override def handleExpiredTimer(
        key: (Int, Long), tv: TimerValues,
        timer: ExpiredTimerInfo): Iterator[NearDupHit] = {
      val wm = tv.getCurrentWatermarkInMs()
      // The expired timer IS the armed one — no delete needed.
      commit(docs.get().toList.filter(_.ev_ms >= wm), None)
      Iterator.empty
    }
  }

  /** Wire the stateful bucket store over a [[banded]] stream. Output
    * mode: Append (hits are final the moment they are emitted).
    * Requires the RocksDB state store.
    *
    * SCALE: timers are range-scanned by expiry, so eviction costs
    * O(expired) and a quiet micro-batch pays only for the buckets it
    * touches. A group-state timeout instead scans EVERY state key per
    * micro-batch — per-batch cost grows with total resident buckets,
    * not batch size (measured as linear batch-time growth in
    * StreamBench) — which is why this store is built on
    * `transformWithState`. */
  def run(bandedDocs: DataFrame, minEstJaccard: Double = 0.5,
      maxBucketResidents: Int = 512): Dataset[NearDupHit] = {
    implicit val eEnc = Encoders.product[BandEvent]
    implicit val hEnc = Encoders.product[NearDupHit]
    implicit val kEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    bandedDocs
      .as[BandEvent]
      .groupByKey(e => (e.band_idx, e.band_hash))
      .transformWithState(
        new DedupProcessor(minEstJaccard, maxBucketResidents, Encoders.product[SeenDoc]),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- Ingest-time sentence-level dedup ------------------------------

  /** One (document × sentence) arrival. `sent_hash` (the md5 of the
    * sentence, the batch path's own grouping granularity made
    * collision-safe at 128 bits) is the state key; `sentence` rides
    * through to the verdict so consumers can rebuild kept text, but
    * never enters state. */
  final case class SentArrival(
      doc_id: Long, eventTime: java.sql.Timestamp, ev_ms: Long,
      sent_idx: Long, sent_hash: String, sentence: String)

  /** The resident first claim on a sentence: who said it first.
    * Three primitives — the entire per-sentence state. */
  final case class SentClaim(doc_id: Long, sent_idx: Long, ev_ms: Long)

  /** One verdict per in-horizon arrival: `kept` iff this occurrence
    * is the sentence's first within the watermark horizon; duplicates
    * carry the claiming occurrence so downstream provenance can point
    * at the retained copy. */
  final case class SentVerdict(
      doc_id: Long, sent_idx: Long, sentence: String, kept: Boolean,
      winner_doc_id: Long, winner_sent_idx: Long,
      eventTime: java.sql.Timestamp)

  /** Fan a document stream (`doc_id`, `eventTime`, `text`) out to one
    * row per sentence, watermarked. The split is
    * [[graft.ops.TextAnalysis.chunkSentences]]'s OWN sentinel-insertion
    * column (shared code), so stream and batch segment text
    * identically — a sentence deduped at ingest is exactly a sentence
    * the nightly [[graft.ops.Dedup.dedupSentences]] would have
    * grouped. */
  def sentenceArrivals(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .select(col("doc_id"), col("eventTime"),
        unix_millis(col("eventTime")).as("ev_ms"),
        posexplode(graft.ops.TextAnalysis.sentenceSplitCol(col("text")))
          .as(Seq("sent_idx", "sentence")))
      .filter(length(trim(col("sentence"))) > 0)
      .select(col("doc_id"), col("eventTime"), col("ev_ms"),
        col("sent_idx").cast("long").as("sent_idx"),
        md5(col("sentence")).as("sent_hash"), col("sentence"))
      .withWatermark("eventTime", watermarkDelay)

  /** The pure per-sentence transition (the [[foldBucket]] pattern):
    * arrivals fold in deterministic (time, doc, idx) order; the first
    * in-horizon occurrence of a
    * sentence takes the claim and is `kept`, every later one within
    * the horizon is a duplicate of that claim. Late arrivals (behind
    * the watermark) are dropped. With ordered arrival (event time
    * monotone in doc_id) the kept set equals the batch
    * `dedupSentences` winner rule — min (doc_id, sent_idx) per
    * sentence — which is what the parity spec pins. */
  private[graft] def foldSentences(claim: Option[SentClaim],
      events: Iterator[SentArrival],
      wm: Long): (List[SentVerdict], Option[SentClaim]) = {
    var cur = claim.filter(_.ev_ms >= wm)
    val out = List.newBuilder[SentVerdict]
    events.toSeq.sortBy(e => (e.ev_ms, e.doc_id, e.sent_idx)).foreach { e =>
      if (e.ev_ms >= wm) {
        cur match {
          case None =>
            cur = Some(SentClaim(e.doc_id, e.sent_idx, e.ev_ms))
            out += SentVerdict(e.doc_id, e.sent_idx, e.sentence,
              kept = true, e.doc_id, e.sent_idx, e.eventTime)
          case Some(c) =>
            out += SentVerdict(e.doc_id, e.sent_idx, e.sentence,
              kept = false, c.doc_id, c.sent_idx, e.eventTime)
        }
      }
    }
    (out.result(), cur)
  }

  /** The claim lives in a typed ValueState with ONE event-time timer
    * at its expiry, so a quiet micro-batch pays only for expired claims
    * (the [[DedupProcessor]] rationale); `enc` comes from
    * [[sentenceDedup]] for the same reason. */
  private class SentenceDedupProcessor(enc: Encoder[SentClaim])
      extends StatefulProcessor[String, SentArrival, SentVerdict] {

    @transient private var claim: ValueState[SentClaim] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      claim = getHandle.getValueState[SentClaim]("sentClaim", enc, TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[SentArrival],
        tv: TimerValues): Iterator[SentVerdict] = {
      val wm = tv.getCurrentWatermarkInMs()
      val resident = Option(claim.get())
      val (verdicts, kept) = foldSentences(resident, rows, wm)
      if (kept != resident) {
        resident.foreach(r => getHandle.deleteTimer(r.ev_ms + 1))
        kept match {
          case Some(c) =>
            claim.update(c)
            getHandle.registerTimer(c.ev_ms + 1)
          case None => claim.clear()
        }
      }
      verdicts.iterator
    }

    override def handleExpiredTimer(
        key: String, tv: TimerValues,
        timer: ExpiredTimerInfo): Iterator[SentVerdict] = {
      // Clear only a claim the watermark actually passed: if this
      // batch's input already replaced the claim with a fresh one (and
      // deleted this timer concurrently), the fresh claim must survive
      // — the DedupProcessor guard.
      val wm = tv.getCurrentWatermarkInMs()
      if (Option(claim.get()).exists(_.ev_ms < wm)) claim.clear()
      Iterator.empty
    }
  }

  /** Ingest-time exact sentence dedup over a [[sentenceArrivals]]
    * stream — the streaming face of
    * [[graft.ops.Dedup.dedupSentences]], for the boilerplate problem
    * that cannot wait for the nightly batch: navigation chrome, legal
    * footers, and templated headers arrive thousands of times an hour,
    * and every copy stored is a copy the batch job must later find and
    * cut. Emits one [[SentVerdict]] per arriving sentence (Append —
    * verdicts are final): `kept` rebuilds the deduped document
    * downstream; `!kept` carries the claim to point provenance at.
    *
    * Contract vs batch: dedup WITHIN THE WATERMARK HORIZON (the
    * `dropDuplicatesWithinWatermark` posture) — a sentence unseen for
    * longer than the delay is treated as fresh again; exact
    * forever-dedup stays a batch job. State per distinct in-horizon
    * sentence is one 3-long claim keyed by the 128-bit content hash —
    * text never enters state, and total state is bounded by distinct
    * sentences per horizon regardless of stream length. A hot
    * sentence (the boilerplate this exists for) needs no resident cap:
    * unlike the pairwise bucket store, folding is O(arrivals) per
    * batch with one verdict each — no quadratic term to guard.
    *
    * Requires the RocksDB state store. */
  def sentenceDedup(arrivals: DataFrame): Dataset[SentVerdict] = {
    implicit val eEnc = Encoders.product[SentArrival]
    implicit val vEnc = Encoders.product[SentVerdict]
    implicit val kEnc = Encoders.STRING
    arrivals
      .as[SentArrival]
      .groupByKey(_.sent_hash)
      .transformWithState(new SentenceDedupProcessor(Encoders.product[SentClaim]),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
