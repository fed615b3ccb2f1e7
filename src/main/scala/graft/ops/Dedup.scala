package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact, n-gram Jaccard (inverted-index), MinHash+LSH,
  * and SimHash.
  *
  * Scale posture (100 TB): nothing here is all-pairs. Exact dedup is
  * one hash shuffle on a 128-bit fingerprint (not the full text);
  * n-gram Jaccard generates candidates through an inverted shingle
  * index; MinHash/SimHash bound candidate generation by banded
  * signatures so the only quadratic work is within tiny buckets. All
  * signatures are plain columns, so every stage is a standard
  * partial-aggregatable groupBy/join that AQE can re-plan.
  *
  * Input frames must carry `doc_id BIGINT` and `text STRING`.
  */
object Dedup {

  /** The shared exact-dedup pipeline: group by a caller-supplied
    * 128-bit fingerprint column so the shuffle key is fixed-width
    * regardless of document length (both spellings below must stay on
    * ONE plan — ADVICE r13). */
  private def exactByFingerprint(docs: DataFrame, fp: Column): DataFrame =
    docs
      .select(col("doc_id"), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))

  /** Exact duplicates after whitespace/case normalization. Groups by a
    * 128-bit md5 fingerprint of the normalized text so the shuffle key
    * is fixed-width regardless of document length. Output: one row per
    * distinct content — keeper id (min), copy count, fingerprint. */
  def exact(docs: DataFrame): DataFrame =
    exactByFingerprint(docs, md5(TextOps.normalized(col("text"))))

  /** [[exact]] with UNICODE normalization folded into the
    * fingerprint: crawls spell the same text in composed and
    * decomposed forms (and, with `form = "NFKC"`, full-width /
    * ligature presentation variants) that byte-level exact dedup can
    * never merge. NFC is the lossless default; NFKC is the
    * aggressive dedup-canonicalization choice. Same plan shape as
    * [[exact]] — the normalization is one more codegen'd projection
    * step before the md5, zero extra cost on already-normal text
    * (the isNormalized fast path). */
  def exactUnicode(docs: DataFrame, form: String = "NFC"): DataFrame =
    exactByFingerprint(docs, md5(TextOps.normalized(
      graft.functions.unicode_normalize(col("text"), form))))

  /** Streaming twin of [[exact]] for ingest-time dedup of a document
    * firehose: emit the FIRST occurrence of each normalized-content
    * fingerprint, drop duplicates arriving within the watermark
    * horizon (`dropDuplicatesWithinWatermark` — state is one 128-bit
    * fingerprint per distinct content, expired by the watermark, so
    * state size is bounded by the horizon, not the corpus). Exact
    * global dedup of the accumulated corpus remains the batch
    * [[exact]]'s job; this bounds what reaches storage in the first
    * place. Input must carry an `eventTime` TIMESTAMP column
    * alongside `doc_id`/`text`. */
  def exactStreaming(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", md5(TextOps.normalized(col("text"))))
      .withWatermark("eventTime", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Corpus-level LINE dedup (the C4/CCNet boilerplate cleanup):
    * every line that appears more than once ACROSS the corpus keeps
    * only its first occurrence (smallest (doc_id, line_idx)); all
    * later copies are cut and the documents reassembled. This is what
    * strips repeated headers/footers/nav text that per-document dedup
    * can never see. Output: (doc_id, text, n_lines, n_removed) — every
    * input doc appears, a fully-boilerplate doc with empty text.
    *
    * Lines whose trimmed length is below `minLineChars` (default:
    * blank lines) are exempt — always kept (the C4 behavior; it also
    * keeps the single hottest key, the blank line, out of the dedup
    * shuffle entirely). Hot CONTENT lines are handled by the winner
    * aggregation's map-side combine (see inline note) — no key ever
    * colocates all its copies. Two shuffles total: the line-keyed
    * aggregate, then the doc_id reassembly; order inside the
    * reassembled doc is restored by an explicit array_sort on
    * (line_idx) — never by collect order. */
  def dedupLines(docs: DataFrame, minLineChars: Int = 1): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("idx", "line")))
    val trivial = lines.filter(char_length(trim(col("line"))) < minLineChars)
    // First occurrence per distinct line = min (doc_id, idx), computed
    // as a partial-aggregated groupBy, NOT a window: a window partition
    // colocates and sorts EVERY copy of a hot boilerplate line on one
    // task (the exact skew this operator exists to remove), whereas the
    // aggregate map-side-combines each input partition down to one
    // candidate per distinct line before the shuffle — the reduce side
    // of the hottest line receives at most one row per map task. (The
    // struct buffer makes Spark plan this as a partial SortAggregate,
    // not a hash aggregate — each map task sorts its own slice, which
    // is distributed linearithmic work; the skew property is the
    // partial combine, and PlanShapeSpec pins partial_min in the
    // plan.) The winner rows ARE the kept occurrences, so nothing
    // ever joins back on the hot key either.
    val winners = lines.filter(char_length(trim(col("line"))) >= minLineChars)
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"), col("line"))
    val kept = trivial.select(col("doc_id"), col("idx"), col("line"))
      .union(winners)
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("line")))),
        x => x.getField("line")), "\n").as("text"),
      count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\n", -1)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Corpus-level SENTENCE dedup — [[dedupLines]]'s sibling at
    * sentence granularity ([[TextAnalysis.chunkSentences]]'s portable
    * boundary rule): every sentence that appears more than once
    * across the corpus keeps only its first occurrence (smallest
    * (doc_id, sent_idx)) and documents are reassembled from their
    * kept sentences joined with single spaces (boundary whitespace is
    * normalized — the standard trade of sentence-level boilerplate
    * removal; prose duplicated mid-line, which line dedup can never
    * see, is what this catches). Output: (doc_id, text, n_sentences,
    * n_removed), every input doc present.
    *
    * Same skew posture as [[dedupLines]]: the winner per distinct
    * sentence is a partial-aggregated min-struct groupBy, never a
    * window — the hottest boilerplate sentence reaches its reducer as
    * one candidate per map task, and winners ARE the kept rows (no
    * join back on the hot key). The per-doc sentence count shares the
    * chunk subtree with the winner branch. */
  def dedupSentences(docs: DataFrame): DataFrame = {
    val sents = TextAnalysis.chunkSentences(docs)
      .select(col("doc_id"), col("sent_idx"), col("sentence"))
    val winners = sents
      .groupBy(col("sentence"))
      .agg(min(struct(col("doc_id"), col("sent_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.sent_idx").as("sent_idx"),
        col("sentence"))
    val rebuilt = winners.groupBy(col("doc_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("sent_idx"), col("sentence")))),
        x => x.getField("sentence")), " ").as("text"),
      count(lit(1)).as("n_kept"))
    val counts = sents.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"))
    docs.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        (coalesce(col("n_sentences"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** (doc_id, shingle, n_sh) inverted index: distinct shingles per
    * doc, with the per-doc distinct-shingle count on every row.
    *
    * `shingle` is the 64-BIT HASH of the gram
    * ([[graft.functions.word_shingle_hashes]], one native pass —
    * xxhash64 of the exact gram string the declarative spelling
    * builds, spec-pinned), not the string: the index is the largest
    * intermediate the n-gram dedup family materializes, and every
    * downstream stage (df aggregation, candidate self-join,
    * verification join) keys on it — 8-byte long keys cut the cache,
    * shuffle, and hash-compare cost of all of them vs ~n-word strings.
    * A 64-bit collision merges two grams and can only ADD a candidate
    * / inflate one intersection count by 1 (~G²/2⁶⁴ for G distinct
    * grams — negligible below ~10⁹ grams, and the same trade the
    * MinHash signatures already make; at 100 TB gram cardinality,
    * pass `hashBits = 128` — see [[shingleKeyArray]] — before
    * trusting exact counts).
    *
    * The input is first hash-repartitioned by doc_id: text corpora
    * often arrive as few large files, and shingling is the CPU-dense
    * stage, so it must be spread across all cores/executors rather
    * than inherit the file-split parallelism. `n_sh` is `size` of the
    * pre-explode ARRAY — free in the same projection, where a
    * window-function recount would SORT the exploded index per doc;
    * carrying it through the candidate join removes the two
    * size-lookup joins — and their full re-shingling branches — from
    * the pair pipeline.
    *
    * The result is materialized: every caller uses it in 2-3 plan
    * branches (self-join sides, verification), and without
    * materialization Spark re-runs the whole tokenize→shingle pipeline
    * per branch. At corpus scale this is the intermediate you would
    * persist (or write) anyway; [[Persistence]] picks local vs
    * reliable storage. */
  private def shingleIndexWithSize(docs: DataFrame, n: Int,
      persist: Persistence, hashBits: Int = 64,
      shingler: Shingler = Shingler.Word): DataFrame =
    persist(Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        shingleKeyArray(col("text"), n, hashBits, shingler).as("sh_arr"))
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle"),
        size(col("sh_arr")).as("n_sh")))

  /** The distinct shingle-KEY array at the configured hash width —
    * the `hashBits` switch of the n-gram dedup family:
    *   - 64 (default): `xxhash64(gram)` longs — right up to ~10⁹
    *     distinct grams (collision note above);
    *   - 128: STRUCT(h1, h2) of two independently-seeded xxhash64
    *     runs over the same gram bytes (seeds 42 and 1042) — the
    *     repo's own scale note's escalation for 100 TB gram
    *     cardinality (~10¹²⁺ grams), where 64-bit birthday mass is no
    *     longer negligible and exact counts must survive it. Struct
    *     keys flow through every downstream stage unchanged — the
    *     df aggregation, candidate self-join, and verification join
    *     all key on the opaque `shingle` column — at 2× key bytes;
    *   - 32: the low 32 bits of xxhash64 — NOT for production (a few
    *     10⁴ grams already collide); it exists so specs can engineer
    *     real collisions cheaply and demonstrate the width/exactness
    *     trade the other two tiers make (OpsSpec does exactly that).
    * Distinctness is per KEY, so a collision at a narrow width merges
    * grams before counting — precisely the error the spec surfaces
    * and the wider width removes. */
  private def shingleKeyArray(text: Column, n: Int, hashBits: Int,
      shingler: Shingler = Shingler.Word): Column =
    hashBits match {
      case 64 => array_distinct(shingler.gramHashes(text, n))
      case 128 =>
        // One native pass (tokenize + gram-concat once, hash twice) —
        // the arrays_zip-of-two-runs spelling tokenized and rebuilt
        // every gram string twice, doubling the CPU-dense shingling
        // stage. Bit-identical output (spec-pinned).
        array_distinct(shingler match {
          case Shingler.Word => graft.functions.word_shingle_hash_pairs(text, n)
          case Shingler.Char => graft.functions.char_shingle_hash_pairs(text, n)
        })
      case 32 =>
        array_distinct(transform(shingler.gramHashes(text, n),
          h => h.bitwiseAND(lit(0xFFFFFFFFL))))
      case other =>
        throw new IllegalArgumentException(
          s"hashBits must be 32, 64, or 128, got $other")
    }

  /** Near-duplicate pairs by exact word-n-gram Jaccard similarity.
    * Candidates come from the inverted shingle index (only docs that
    * SHARE a shingle are compared — never all-pairs); similarity is
    * |A∩B| / (|A|+|B|−|A∩B|) over distinct shingles.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * `maxShingleDf` caps the document frequency of shingles used for
    * CANDIDATE GENERATION: a shingle appearing in more than that many
    * documents contributes ~df²/2 candidate pairs — one boilerplate
    * header shared by 1M documents turns the self-join quadratic
    * inside that shingle's bucket, the one skew path that would not
    * survive 100 TB. Near-dup pairs at meaningful thresholds share
    * plenty of RARE shingles, so the cap costs little recall — but a
    * pair whose overlap is EXCLUSIVELY hot shingles generates no
    * candidate and is missed entirely. Reported Jaccard values are
    * exact (verification runs on the FULL index); the PAIR SET is
    * complete only when every near-dup pair shares at least one
    * below-cap shingle (OpsSpec pins the gate corpus' max df below
    * the gate cap, so the gate's shared exact oracle holds by
    * construction, not by luck). Uncapped, the single-pass
    * join+count plan is used (no separate verification pass).
    *
    * Set arithmetic runs over 64-bit gram hashes (see
    * [[shingleIndexWithSize]]): "exact" Jaccard means exact over the
    * hashed gram sets — identical to string-gram Jaccard unless two
    * distinct grams collide (~G²/2⁶⁴; the gate corpora are
    * collision-free, so the DuckDB string-gram oracles still
    * hash-match). */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      maxShingleDf: Int = Int.MaxValue,
      persist: Persistence = Persistence.Local,
      maxBroadcastHotShingles: Long = DefaultMaxBroadcastHotShingles,
      hashBits: Int = 64,
      shingler: Shingler = Shingler.Word): DataFrame =
    pairsFromIndex(shingleIndexWithSize(docs, n, persist, hashBits, shingler),
      threshold, maxShingleDf, persist, maxBroadcastHotShingles)

  /** [[ngramJaccardPairs]] over a materialized TOKEN INDEX — a frame
    * carrying `doc_id` and a `toks` [[graft.functions.word_tokens]]
    * column, already spread across the cluster (Curation.pipeline's
    * shared base): shingles come from [[graft.functions.array_shingles]]
    * with zero re-tokenize and zero extra repartition, and are
    * byte-identical to the text path, so results match exactly. */
  def ngramJaccardPairsFromTokens(tokensFrame: DataFrame, n: Int,
      threshold: Double, maxShingleDf: Int = Int.MaxValue,
      persist: Persistence = Persistence.Local,
      maxBroadcastHotShingles: Long = DefaultMaxBroadcastHotShingles): DataFrame = {
    val sh = persist(tokensFrame
      .select(col("doc_id"),
        array_distinct(graft.functions.array_shingle_hashes(col("toks"), n)).as("sh_arr"))
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle"),
        size(col("sh_arr")).as("n_sh")))
    pairsFromIndex(sh, threshold, maxShingleDf, persist,
      maxBroadcastHotShingles)
  }

  /** N-gram CONTAINMENT pairs — the asymmetric near-dup test Jaccard
    * structurally misses: a document quoted whole inside a much
    * larger wrapper (boilerplate-expanded mirrors, digest pages,
    * quote-the-article spam) shares nearly all of the SMALLER side's
    * grams while the union is dominated by the wrapper, so
    * `jaccard = common/union` stays low but
    * `containment = common / min(|A|, |B|)` is ~1. Returns
    * `(id_a, id_b, containment)` for pairs at or above `threshold`
    * (`id_a < id_b`; gram sets are distinct-shingle sets at the same
    * hash widths / shingler modes as [[ngramJaccardPairs]]).
    *
    * `maxShingleDf` caps candidate fan-out exactly as in the Jaccard
    * family: grams seen in more than `maxShingleDf` docs are dropped
    * from the INTERSECTION count while denominators keep the full
    * distinct-gram counts — containment can only be UNDER-stated by
    * the cap (safe direction), and a gate spells the cap into its
    * oracle. Scale shape: one distinct-gram index, one df-capped
    * self-join, one count aggregation — candidate-bounded, no
    * all-pairs. */
  def ngramContainmentPairs(docs: DataFrame, n: Int, threshold: Double,
      maxShingleDf: Int = Int.MaxValue,
      persist: Persistence = Persistence.Local,
      hashBits: Int = 64,
      shingler: Shingler = Shingler.Word): DataFrame = {
    val sh = shingleIndexWithSize(docs, n, persist, hashBits, shingler)
    val joinable =
      if (maxShingleDf == Int.MaxValue) sh
      else {
        // Materialized once (persist.lazily) — the hot list is
        // referenced by BOTH sides of the self-join below; an
        // unpersisted subtree would re-aggregate the whole index
        // twice. (Deliberately the simple exact spelling: the Jaccard
        // path's broadcast dispatch + upper-bound pruning machinery
        // stays single-copy over there; this filter is a plain
        // left_outer either way.)
        val hot = persist.lazily(sh.groupBy(col("shingle"))
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") > maxShingleDf)
          .select(col("shingle")))
        // left_outer + null filter (not left_anti): identical
        // semantics on the deduplicated hot list, stream-safe spelling
        // kept consistent with the rest of the family.
        sh.join(hot.withColumn("_hot", lit(true)), Seq("shingle"),
            "left_outer")
          .filter(col("_hot").isNull)
          .select(col("doc_id"), col("shingle"), col("n_sh"))
      }
    // Deliberately no SHUFFLE_HASH hint (r15 A/B, alternated JVMs):
    // forcing the shuffled-hash join here measured 1.25× SLOWER
    // (0.55 → 0.69 s at sf0.1) — this self-join's downstream
    // aggregation benefits from the sort-merge join's sorted output,
    // unlike the Jaccard candidate joins, which improved 0.77–0.92×.
    // Sort-merge kept.
    joinable.as("x")
      .join(joinable.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("x.n_sh")).as("n_a"), first(col("y.n_sh")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** The df-capped branch's candidate SELF-join takes a `SHUFFLE_HASH`
    * hint (r15 optimization, guide §3.1): a shuffled-hash join skips
    * the per-partition sort a sort-merge join pays on BOTH sides of the
    * candidate generation — the family's largest shuffle. Its build
    * side is one post-shuffle partition of the shingle index, held in
    * memory and never spilled. AQE coalesces partitions by bytes but
    * splits one only past its skew threshold (256 MB and 5× the median
    * by default), so below that a hot shingle's rows all land in one
    * build partition: what bounds the build side is the cap, since
    * every shingle left in the capped index has at most `maxShingleDf`
    * rows. The uncapped branch has no such bound (a boilerplate
    * shingle's every occurrence lands in one build partition), so it
    * keeps the sort-merge join, which spills. Measured on the alternated-JVM A/B
    * (see OPTIMIZATION_r15.md): ngram-family rows, all capped, improve
    * double-digit percent with no incremental/e2e regression — the r14
    * GLOBAL preferSortMergeJoin experiment was mixed precisely because
    * it also rewrote the write-bound rows, which this per-site hint
    * leaves alone. */
  private def pairsFromIndex(sh: DataFrame, threshold: Double,
      maxShingleDf: Int, persist: Persistence,
      maxBroadcastHotShingles: Long): DataFrame = {
    if (maxShingleDf == Int.MaxValue) {
      sh.as("x")
        .join(sh.as("y"),
          col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_common"),
          first(col("x.n_sh")).as("n_a"), first(col("y.n_sh")).as("n_b"))
        .select(col("id_a"), col("id_b"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      // The df>cap ("hot") shingle list, materialized once (eager, its
      // own small job). Its cardinality is bounded by
      // index_rows / cap — each hot shingle owns > cap index rows — so
      // it is orders smaller than the index; whether it is SMALL
      // ENOUGH TO BROADCAST is still corpus-dependent, so the cheap
      // count on the cached frame dispatches between two spellings
      // rather than trusting a plan-time estimate (a checkpointed
      // frame's optimizer stats are the unhelpful default size).
      // Lazy + count: the dispatch count below doubles as the
      // materializing action — one job, not checkpoint-then-count.
      val hot = persist.lazily(sh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxShingleDf)
        .select(col("shingle")))
      val candIdx =
        if (hot.count() <= maxBroadcastHotShingles) {
          // Broadcast flag join: narrow, so the index's doc_id
          // partitioning survives and the per-doc hot count — needed
          // by the upper-bound pruning below — is a ZERO-EXCHANGE
          // window sum riding each index row into the pair
          // aggregation. The join spelling below paid a shingle
          // shuffle for the anti-join, a semi-join + per-doc
          // aggregation for the counts, and two per-pair joins to
          // attach them.
          sh.join(broadcast(hot.withColumn("is_hot", lit(1))),
              Seq("shingle"), "left")
            .withColumn("n_hot",
              sum(coalesce(col("is_hot"), lit(0))).over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(col("doc_id"))))
            .filter(col("is_hot").isNull)
            .select(col("doc_id"), col("shingle"), col("n_sh"), col("n_hot"))
        } else {
          // Hot list too big to broadcast (pathological template
          // corpus): equi-join spelling — anti-join drops hot rows,
          // per-doc hot counts come from the semi-join-selected sliver
          // and are re-attached by a doc_id join (AQE broadcasts it
          // when small enough at runtime).
          val hotCnt = sh.join(hot, Seq("shingle"), "left_semi")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hot"))
          sh.join(hot, Seq("shingle"), "left_anti")
            .join(hotCnt, Seq("doc_id"), "left")
            .select(col("doc_id"), col("shingle"), col("n_sh"),
              coalesce(col("n_hot"), lit(0L)).as("n_hot"))
        }
      // Candidate scoring doubles as pruning: the capped join already
      // yields the capped-common count cc, and the true common count
      // can exceed it by at most min(hot_a, hot_b) (a shared hot
      // shingle is still one shingle in each doc) — so
      //   J ≤ (cc + min(h_a, h_b)) / (n_a + n_b − (cc + min(h_a, h_b)))
      // is a sound upper bound from capped data alone. Pruning on it
      // cuts candidates from "shares ANY rare shingle" (~n²-ish on
      // template-heavy corpora) to near the true pair count before the
      // exact verification join; survivors are verified on the FULL
      // index, so reported Jaccard stays exact.
      val scored = candIdx.as("x")
        .join(candIdx.as("y").hint("SHUFFLE_HASH"),
          col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("cc"),
          first(col("x.n_sh")).as("n_a"), first(col("y.n_sh")).as("n_b"),
          first(col("x.n_hot")).as("ha"), first(col("y.n_hot")).as("hb"))
      val ubCommon = col("cc") + least(col("ha"), col("hb"))
      val cand = scored
        .filter(ubCommon.cast("double") /
          (col("n_a") + col("n_b") - ubCommon) >= threshold)
        .select(col("id_a"), col("id_b"))
      verifyJaccard(cand, sh, threshold, persist)
    }
  }

  /** Hot-shingle lists up to this many entries ride as a broadcast
    * (8-byte hashes → ≤ ~32 MB); above it the capped pair pipeline
    * falls back to the equi-join spelling. Injectable through
    * [[ngramJaccardPairs]] so the fallback spelling is spec-reachable
    * (forced with 0) without a >4M-hot-shingle corpus. */
  private[graft] val DefaultMaxBroadcastHotShingles = 4L << 20

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle index (n_sh rides on the index rows — no separate size
    * branches). Shared by the MinHash-LSH and df-capped n-gram paths.
    *
    * THE INDEX SIDE IS NEVER A BROADCAST BUILD. The index is a
    * localCheckpoint whose logical stats are carried over from the
    * PRE-checkpoint plan — a few MB of parquet that the shingle
    * explode multiplied a thousandfold — so the static planner
    * happily picked the corpus-sized index as the hash-build side of
    * both joins (observed: a driver OOM at 16× corpus in the r11
    * char-gram ScaleSlope run; the same plan merely wasted memory at
    * gate scale). The candidate frame is materialized (the size
    * dispatch needs a count and three plan branches consume it) and
    * size-dispatched. The common case — a selective candidate set —
    * stays candidate-proportional END TO END: the first join
    * broadcasts the candidates (build side = pairs-many rows, the
    * full index STREAMS through with no shuffle), and the second
    * join's index side is first semi-restricted to the candidate
    * `id_b` docs by another candidate broadcast, so the closing
    * sort-merge join shuffles two candidate-proportional frames, not
    * the corpus-sized index (broadcast hints don't propagate up
    * through a Join node, so without the restriction the second join
    * would sort-merge the FULL index however tiny the candidate set —
    * ADVICE r11). A pathological candidate flood falls back to
    * merge-hinted sort-merge joins of the full index. Index-side
    * merge hints ride in all branches so no statistics estimate can
    * ever re-elect an index frame as a hash-build side (an explicit
    * broadcast hint on the other side outranks it where present). */
  private def verifyJaccard(
      cand: DataFrame, idx: DataFrame, threshold: Double,
      persist: Persistence = Persistence.Local,
      maxBroadcastCand: Long = 4L << 20): DataFrame = {
    val c0 = persist.lazily(cand)
    val selective = c0.count() <= maxBroadcastCand
    val (c, idxB) =
      if (selective)
        (broadcast(c0),
          idx.join(broadcast(c0.select(col("id_b").as("doc_id")).distinct()),
            Seq("doc_id"), "left_semi"))
      else (c0, idx)
    c
      .join(idx.as("a").hint("merge"), col("id_a") === col("a.doc_id"))
      .join(idxB.as("b").hint("merge"),
        col("id_b") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-duplicate pairs: every doc that
    * appears in a pair is labeled with the smallest doc_id reachable
    * through the pair graph — the canonical "cluster keeper" for
    * keep-one-per-duplicate-cluster dedup. Output: (doc_id,
    * component_id).
    *
    * Iterative min-label propagation as DataFrame joins, with
    * `localCheckpoint` cutting the growing lineage so the next job
    * replans from materialized labels (the standard Spark pattern for
    * iterative graph algorithms). Two levers keep the SERIAL job count
    * — the wall-clock driver at small per-round data — low:
    *
    *  - `stepsPerJob` propagation rounds are chained into one
    *    materialized job (default 2): convergence is tested on the
    *    LAST chained step only, which is sound — a run is converged
    *    iff its final step changed nothing — so the easy 3-round
    *    corpus (propagate, settle, verify) pays 2 jobs instead of 3,
    *    and a corpus that settles in round 2 pays 1.
    *  - the symmetric edge list is hash-partitioned on its join key
    *    `b` BEFORE the checkpoint, so every round's edge join reuses
    *    that exchange instead of reshuffling the (2×pairs) frame.
    *
    * Duplicate clusters are near-cliques in practice, so the plain
    * propagation converges in 2-3 rounds; from round 3 on, each round
    * also path-halves (label ← label[label], pointer jumping), so an
    * adversarial chain of length L converges in O(log L) further
    * rounds instead of O(L) — `maxIters` rounds reach chains of
    * ~2^(maxIters−3) without paying the extra join on the easy
    * corpora that never get there.
    *
    * SMALL-GRAPH FAST PATH: when the (long-keyed) edge list is at most
    * `maxDriverEdges` rows — known from the count that materializes it,
    * not a plan-time guess — the component labeling is a driver-side
    * union-find over the collected edges, returned as a local
    * relation. This is the broadcast-join trade, not a scalability
    * leak: the edge list of a NEAR-DUP graph is orders smaller than
    * the corpus (pairs, not docs), the driver pass is one job plus an
    * O(E α(E)) loop instead of 2-4 serial distributed rounds (each a
    * full shuffle-stage of latency), and the label set it returns is
    * exactly the propagation fixed point. Corpora whose duplicate
    * graphs outgrow the bound take the distributed loop automatically;
    * `maxDriverEdges = 0` forces it (the equivalence spec runs both).
    *
    * The default bound (1M edges) budgets REAL driver footprint, not
    * just edge bytes: collected Tuple2 rows (~40 B each), the LongMap
    * (~2 ids/edge × 2 arrays, power-of-two sized), and the sorted
    * label/output copies — ~150-250 MB peak at 1M edges / 2M ids,
    * safe on a default driver heap. Raise it only with driver memory
    * to match (~200 MB per additional million edges, transient). */
  def components(pairs: DataFrame, maxIters: Int = 20,
      persist: Persistence = Persistence.Local,
      stepsPerJob: Int = 2, maxDriverEdges: Long = 1L << 20): DataFrame = {
    require(stepsPerJob >= 1, "stepsPerJob must be >= 1")
    // A null endpoint links no document: dropped before the dispatch,
    // so both paths see the same graph (as in pageRankFixedPoint).
    val e0 = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    val longKeyed = e0.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val e =
      if (longKeyed && maxDriverEdges > 0) {
        // Lazy + count: the dispatch count doubles as the materializing
        // action, and the distributed loop reuses the same checkpoint.
        val eMat = persist.lazily(e0)
        if (eMat.count() <= maxDriverEdges)
          return driverComponents(eMat)
        eMat
      } else e0
    // Materialize the edge list once: every propagation round joins
    // against it, and without the checkpoint each round would re-derive
    // the (possibly expensive) pair-generation pipeline behind `pairs`.
    // Lazy: round 1's convergence count materializes edge list and
    // initial labels inside its own job (no separate upfront jobs).
    val sym = persist.lazily(
      e.union(e.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("b")))
    var labels = persist.lazily(sym.select(col("a").as("id")).distinct()
      .withColumn("component_id", col("id")))

    // One propagation round from `lbl` (id, component_id) to
    // (id, new_label, old_label); old_label is lbl's component_id, so
    // a zero-delta step means `lbl` was already a fixed point.
    def step(lbl: DataFrame, halve: Boolean): DataFrame = {
      val nbrMin = sym
        .join(lbl.select(col("id").as("nbr"), col("component_id").as("nbr_label")),
          col("b") === col("nbr"))
        .groupBy(col("a")).agg(min(col("nbr_label")).as("nbr_min"))
      val propagated = lbl
        .join(nbrMin, col("id") === col("a"), "left")
        .select(col("id"),
          least(col("component_id"), coalesce(col("nbr_min"), col("component_id")))
            .as("new_label"),
          col("component_id").as("old_label"))
      if (!halve) propagated
      else
        // Path halving: labels always point to smaller ids, so
        // label[label] is defined and ≤ label — one extra join
        // shortcuts chains exponentially.
        propagated
          .join(lbl.select(col("id").as("pid"), col("component_id").as("plabel")),
            col("new_label") === col("pid"), "left")
          .select(col("id"),
            least(col("new_label"), coalesce(col("plabel"), col("new_label")))
              .as("new_label"),
            col("old_label"))
    }

    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val steps = math.min(stepsPerJob, maxIters - it)
      var cur = labels
      var last: DataFrame = null
      for (s <- 0 until steps) {
        last = step(cur, halve = it + s >= 2)
        cur = last.select(col("id"), col("new_label").as("component_id"))
      }
      // Lazy checkpoint: the convergence count below is the action
      // that materializes the whole chained job — one job per
      // `stepsPerJob` rounds, not one per round.
      val next = persist.lazily(last)
      changed = next.filter(col("new_label") =!= col("old_label")).count()
      labels = next.select(col("id"), col("new_label").as("component_id"))
      it += steps
    }
    // Unconverged labels are WRONG labels (split clusters → extra
    // copies kept downstream); failing loudly beats returning them.
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          s"($changed labels still changing); raise maxIters — duplicate " +
          "chains longer than the iteration bound are present")
    labels.select(col("id").as("doc_id"), col("component_id"))
  }

  /** Driver union-find over a collected long-keyed edge list; returns
    * the same (doc_id, component_id = min reachable id) fixed point as
    * the distributed loop, as a local relation (broadcast-sized by the
    * [[components]] dispatch contract). Union-by-min-root plus path
    * compression in `find` — near-linear in practice. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val out = unionFindLabels(edges.as[(Long, Long)].collect())
    spark.createDataset(out.toIndexedSeq).toDF("doc_id", "component_id")
  }

  /** Union-find labeling of an edge list: (id, min id reachable) for
    * every id that appears in an edge, sorted by id. Union-by-min-root
    * plus path compression in `find`. Exposed for the property spec
    * (random graphs vs a reference BFS labeling). */
  private[graft] def unionFindLabels(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.sorted.map(id => (id, find(id)))
  }

  /** Corpus-governance rollup of the near-dup verdicts: per source,
    * how many documents exist, how many lose their cluster's
    * keep-one election ([[components]] min-id winners — the same
    * drop set [[keepOnePerCluster]] removes), and the duplication
    * fraction. The one-page number that decides which source gets
    * cross-source dedup before mixing ("src3 is 40% internal dups —
    * dedup it or downweight it in [[Sampling.mixtureSample]]").
    * Exact integers + one division; the drop set is
    * selectivity-tiny, so the corpus-side cost is one left join
    * against it plus one map-side-combinable groupBy(source). */
  def dupRateBySource(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val dropped = components(pairs)
      .filter(col("component_id") =!= col("doc_id"))
      .select(col("doc_id"))
      .withColumn("_dup", lit(true))
    docs.select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs")).as("dup_frac"))
  }

  /** The dedup decision applied: keep each cluster's keeper (smallest
    * reachable doc_id) and every document that appears in no pair.
    * This is the frame a training pipeline actually consumes. */
  def keepOnePerCluster(docs: DataFrame, pairs: DataFrame,
      persist: Persistence = Persistence.Local): DataFrame = {
    val losers = components(pairs, persist = persist)
      .filter(col("component_id") =!= col("doc_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The `bands` banded LSH keys of a MinHash signature column:
    * band b = xxhash64 of its `numHashes / bands` signature components
    * joined with ",". Shared by the batch [[minhashLshPairs]] and the
    * streaming [[graft.streaming.StreamingDedup]] so a document hashes
    * to the SAME buckets at ingest time and in batch re-dedup. */
  private[graft] def minhashBandCols(
      sig: Column, numHashes: Int, bands: Int): Seq[Column] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    (0 until bands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*))
        .as(s"band$b")
    }
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: per-doc signature in ONE native pass
    * ([[graft.functions.minhash_signature]]: `numHashes` permutation
    * minima of `(a_i·x + b_i) mod (2^31−1)` over xxhash64'd shingles,
    * fixed-LCG coefficients — bit-identical to the old explode +
    * 64-`min`-aggregate spelling, spec-pinned, but with no signature
    * shuffle at all) → signatures cut into `bands` banded keys → docs
    * sharing any banded key become candidates → candidates verified
    * with exact n-gram Jaccard. Output: (id_a, id_b, jaccard) — same
    * schema/semantics as [[ngramJaccardPairs]], recall < 1 traded for
    * never scanning non-colliding pairs. */
  def minhashLshPairs(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      persist: Persistence = Persistence.Local,
      shingler: Shingler = Shingler.Word): DataFrame = {
    // The materialized shingle index feeds BOTH sides of the
    // verification join; signatures are recomputed from the raw text
    // (one native pass/doc beats re-aggregating the exploded index).
    val idx = shingleIndexWithSize(docs, n, persist, shingler = shingler)
    val banded = bandedFrame(minhashSignatures(docs, n, numHashes, shingler),
      numHashes, bands)
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // Verify candidates with exact Jaccard against the full index.
    verifyJaccard(cand, idx, threshold, persist)
  }

  /** (doc_id, sig) one-pass native MinHash signatures. */
  private def minhashSignatures(docs: DataFrame, n: Int,
      numHashes: Int, shingler: Shingler = Shingler.Word): DataFrame = {
    Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.minhash_signature(
          array_distinct(shingler.grams(col("text"), n)), numHashes)
          .as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** (doc_id, band_idx, band_hash) exploded banded LSH keys of a
    * signature frame. */
  private def bandedFrame(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    sig.select(
        col("doc_id") +: minhashBandCols(col("sig"), numHashes, bands): _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*)))
      .toDF("doc_id", "band_idx", "band_hash")

  /** Persist a MinHash dedup index for INCREMENTAL ingest — the 100 TB
    * production workflow: the accumulated corpus is indexed once (or
    * appended to), and each arriving batch dedups against the index
    * via [[dedupAgainstIndex]] without ever re-scanning corpus text.
    * Three artifacts under `path`:
    *
    *  - `bands/`  — exploded banded LSH keys, written partitioned by
    *    `bucket = band_hash mod bandBuckets`, so the probe join is an
    *    equi-join on a partition column (dynamic partition pruning can
    *    skip corpus buckets a small batch never touches);
    *  - `sigs/` — (doc_id, sig) for signature-estimated verification;
    *  - `shingles/` — the hashed-gram index (doc_id, shingle, n_sh)
    *    for EXACT-Jaccard verification (~tokens-sized: pay it for
    *    exact reported scores, or probe with `exactVerify = false`
    *    and skip it).
    *
    * All three are plain parquet — `mode=overwrite` rebuilds; rolling
    * appends write the delta with `mode=append` after dedup. A
    * `params/` frame records (n, numHashes, bands, bandBuckets,
    * shingler — the gram mode, so a CJK corpus can run the same
    * ingest loop on codepoint grams); [[dedupAgainstIndex]] validates
    * its own parameters against it and fails LOUDLY on mismatch —
    * mismatched banding or gram mode would otherwise silently match
    * nothing, the inverted failure direction for a dedup guard.
    * `params/` is the commit marker, first-deleted and last-written
    * ([[IndexParams]] holds the protocol and its rationale). */
  def saveDedupIndex(docs: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, bandBuckets: Int = 64,
      shingler: Shingler = Shingler.Word,
      persist: Persistence = Persistence.Local): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    IndexParams.commit(path,
      Seq((n, numHashes, bands, bandBuckets, shingler.name)).toDF(
        "n", "num_hashes", "bands", "band_buckets", "shingler"))(
      writeIndexArtifacts(docs, path, n, numHashes, bands, bandBuckets,
        mode = "overwrite", shingler, persist))
  }

  /** The schema [[saveDedupIndex]] writes `params/` with; an index from
    * before gram-mode tracking has no `shingler` column, which this
    * schema reads as null. */
  private val paramsDdl =
    "n INT, num_hashes INT, bands INT, band_buckets INT, shingler STRING"

  /** Rolling append to a [[saveDedupIndex]] artifact — the daily
    * half of the incremental workflow: after a batch is deduped
    * against the index, its SURVIVORS (docs kept) are appended so the
    * next batch also dedups against them, with no corpus re-scan and
    * no index rebuild. Validates the index params first (same loud
    * guard as the probe); the caller must not append doc_ids already
    * present (the index is a bag — duplicates would double-report).
    *
    * Append ≡ rebuild for probe results (spec-pinned): all three
    * artifacts are plain parquet and the probe reads whole
    * directories, so delta files are indistinguishable from rebuild
    * output. Not atomic across the three artifacts — a production
    * deployment should stage deltas and publish them with a
    * rename/commit protocol; a crash mid-append here can leave a
    * partially-appended batch (re-run after deduping the batch ids
    * against the index again). */
  def appendToDedupIndex(docs: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, bandBuckets: Int = 64,
      shingler: Shingler = Shingler.Word,
      persist: Persistence = Persistence.Local): Unit = {
    validateIndexParams(docs.sparkSession, path, n, numHashes, bands,
      bandBuckets, shingler)
    writeIndexArtifacts(docs, path, n, numHashes, bands, bandBuckets,
      mode = "append", shingler, persist)
  }

  /** The three index-artifact frames (shingles / sigs / banded keys)
    * derived from `docs` alone: what a build writes, and the batch side
    * of [[dedupAgainstIndex]]. Exposed so PlanShapeSpec can pin that
    * a rolling APPEND's write jobs never scan the existing index (the
    * only index read in the append path is the one-row params guard). */
  private[graft] def indexArtifactFrames(docs: DataFrame, n: Int,
      numHashes: Int, bands: Int, bandBuckets: Int,
      shingler: Shingler = Shingler.Word,
      persist: Persistence = Persistence.Local): (DataFrame, DataFrame, DataFrame) = {
    // ONE CPU-dense shingling pass feeds all three artifacts (r14
    // optimization: the shingle/sig/band write jobs each re-scanned
    // the corpus and re-tokenized it — the most expensive stage of an
    // index build ran three times). The checkpointed distinct-GRAM
    // array is the shared intermediate; each artifact hashes it
    // exactly as its former standalone derivation did
    // (word_shingle_hashes ≡ transform(word_shingles, xxhash64),
    // spec-pinned; distinct-by-gram-then-by-hash keeps the same first
    // occurrence per hash value), so all three frames stay
    // bit-identical. Signatures are checkpointed too: the band write
    // would otherwise recompute the full MinHash pass sigs already
    // paid.
    // Plain keyed repartition, deliberately NOT Spread.keyed: the
    // index build is write-bound, not compute-bound (A/B measured:
    // pinning 32 partitions cost 12–37% on the incremental rows —
    // more tasks and 32× the artifact files per write), so the
    // AQE-coalesced width is the right one here.
    // `persist` picks where the shared intermediates live (r15,
    // advisor finding): Local (default) is executor-local
    // localCheckpoint — fast, right for single-node/gate runs, but its
    // blocks are unreplicated with lineage truncated, so at 100 TB an
    // executor loss makes the index build unrecoverable. Cluster
    // builds should pass Persistence.Reliable (checkpoint dir on
    // HDFS/object store) — the index IS the artifact you would persist
    // to reliable storage anyway. Results are identical either way
    // (spec-pinned).
    val gramsF = persist(docs.repartition(col("doc_id"))
      .select(col("doc_id"),
        array_distinct(shingler.grams(col("text"), n)).as("grams")))
    val shingles = gramsF
      .select(col("doc_id"),
        array_distinct(transform(col("grams"), g => xxhash64(g)))
          .as("sh_arr"))
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle"),
        size(col("sh_arr")).as("n_sh"))
    val sig = persist(gramsF
      .select(col("doc_id"),
        graft.functions.minhash_signature(col("grams"), numHashes).as("sig"))
      .filter(col("sig").isNotNull))
    val banded = bandedFrame(sig, numHashes, bands)
      .withColumn("bucket", pmod(col("band_hash"), lit(bandBuckets)).cast("int"))
    (shingles, sig, banded)
  }

  /** The three index artifacts (shingles / sigs / banded keys) for
    * `docs`, written under `path` — `overwrite` for a rebuild,
    * `append` for a rolling delta. */
  private def writeIndexArtifacts(docs: DataFrame, path: String, n: Int,
      numHashes: Int, bands: Int, bandBuckets: Int, mode: String,
      shingler: Shingler = Shingler.Word,
      persist: Persistence = Persistence.Local): Unit = {
    val (shingles, sig, banded) =
      indexArtifactFrames(docs, n, numHashes, bands, bandBuckets, shingler,
        persist)
    shingles.write.mode(mode).parquet(s"$path/shingles")
    sig.write.mode(mode).parquet(s"$path/sigs")
    // Cluster the band rows by their partition value before the
    // partitioned write (r14 optimization, guide §6): without it
    // every write task holds rows of ~every bucket, emitting up to
    // tasks×buckets tiny files per build — paid again by every probe
    // that lists and opens bands/. After the repartition each bucket's
    // rows sit in one task, so a build writes exactly one file per
    // bucket. The shuffle moves band KEYS (doc_id + two longs), never
    // text — metadata-sized at any corpus scale.
    banded.repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$path/bands")
  }

  /** Loud params check shared by the probe and the rolling append:
    * mismatched banding or gram mode silently matches nothing — the
    * inverted failure direction for a dedup guard. */
  private def validateIndexParams(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, n: Int, numHashes: Int, bands: Int,
      bandBuckets: Int, shingler: Shingler = Shingler.Word): Unit = {
    val row = IndexParams.read(spark, indexPath, paramsDdl, "saveDedupIndex")
    val saved = org.apache.spark.sql.Row(
      row.getAs[Int]("n"), row.getAs[Int]("num_hashes"),
      row.getAs[Int]("bands"), row.getAs[Int]("band_buckets"))
    require(
      saved == org.apache.spark.sql.Row(n, numHashes, bands, bandBuckets),
      s"index at $indexPath was saved with (n, numHashes, bands, " +
        s"bandBuckets) = $saved but the caller asked for " +
        s"(${n}, ${numHashes}, ${bands}, ${bandBuckets}) — mismatched " +
        "banding silently matches nothing; rebuild or re-parameterize")
    // Gram mode: an index predating mode tracking (null here) is a
    // word index, the only mode that existed.
    val savedMode =
      Option(row.getAs[String]("shingler")).getOrElse(Shingler.Word.name)
    require(savedMode == shingler.name,
      s"index at $indexPath was built with $savedMode shingles but the " +
        s"caller asked for ${shingler.name} — mismatched gram " +
        "modes silently match nothing; rebuild or re-parameterize")
  }

  /** Near-duplicate matches of a NEW batch against a
    * [[saveDedupIndex]] artifact: candidates from shared banded keys
    * (equi-join against the bucket-partitioned band index — the batch
    * is never compared to non-colliding corpus docs), then verified
    * with exact n-gram Jaccard against the stored shingle index
    * (`exactVerify = true`, same arithmetic as [[minhashLshPairs]])
    * or the cheaper signature-agreement estimate (`false`: mean of
    * equal signature components — unbiased for true Jaccard, ±1σ ≈
    * sqrt(J(1−J)/numHashes); no shingle index read). Output:
    * (doc_id, dup_of, jaccard) — batch doc × corpus doc.
    *
    * The batch side is [[indexArtifactFrames]] of `newDocs`, the very
    * frames a build writes, so probe and index cannot disagree on a
    * hash; it shares the build's intermediates and so its `persist`.
    * Each artifact is read back with its batch frame's schema (no
    * schema-inference job). */
  def dedupAgainstIndex(newDocs: DataFrame, indexPath: String,
      threshold: Double = 0.5, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, bandBuckets: Int = 64, exactVerify: Boolean = true,
      persist: Persistence = Persistence.Local,
      shingler: Shingler = Shingler.Word): DataFrame = {
    val spark = newDocs.sparkSession
    validateIndexParams(spark, indexPath, n, numHashes, bands, bandBuckets,
      shingler)
    val (newIdx, sig, banded) = indexArtifactFrames(newDocs, n, numHashes,
      bands, bandBuckets, shingler, persist)
    def artifact(name: String, like: DataFrame) =
      spark.read.schema(like.schema).parquet(s"$indexPath/$name")
    val cand = banded.as("x")
      .join(artifact("bands", banded).as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("dup_of"))
      .distinct()
    if (exactVerify) {
      cand
        .join(newIdx.as("a"), col("new_id") === col("a.doc_id"))
        .join(artifact("shingles", newIdx).as("b"),
          col("dup_of") === col("b.doc_id") &&
            col("a.shingle") === col("b.shingle"))
        .groupBy(col("new_id"), col("dup_of"))
        .agg(count(lit(1)).as("n_common"),
          first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"))
        .select(col("new_id").as("doc_id"), col("dup_of"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      cand
        .join(sig.select(col("doc_id").as("new_id"), col("sig").as("sig_a")),
          Seq("new_id"))
        .join(artifact("sigs", sig)
            .select(col("doc_id").as("dup_of"), col("sig").as("sig_b")),
          Seq("dup_of"))
        .select(col("new_id").as("doc_id"), col("dup_of"),
          (aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v).cast("double") / numHashes)
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** 64-bit SimHash fingerprints: every token votes ±1 on each bit of
    * its xxhash64; fingerprint bit b is set iff the vote sum is
    * positive. One native pass per document
    * ([[graft.functions.simhash_bands]]); the four 16-bit band keys
    * ARE the fingerprint, reassembled little-endian — no groupBy, no
    * shuffle at all. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.simhash_bands(TextOps.tokens(col("text"))).as("b"))
      .filter(col("b").isNotNull)
      .select(col("doc_id"),
        (0 until 4).map(k =>
          shiftleft(element_at(col("b"), k + 1).cast("long"), 16 * k))
          .reduce(_.bitwiseOR(_)).as("simhash"))

  /** Near-duplicate pairs by winnowed rolling-hash fingerprint overlap
    * (MOSS-style): docs sharing any fingerprint become candidates via
    * an inverted fingerprint index (never all-pairs); a pair is kept
    * when the containment  |FP(a) ∩ FP(b)| / min(|FP(a)|,|FP(b)|)  is
    * ≥ `threshold`. Robust to local edits (any shared run of
    * `window + winnow − 1` normalized chars guarantees a shared
    * print). Output: (id_a, id_b, containment) with id_a < id_b. */
  def fingerprintPairs(
      docs: DataFrame,
      window: Int = 16,
      winnow: Int = 8,
      threshold: Double = 0.5,
      persist: Persistence = Persistence.Local): DataFrame =
    containmentPairs(Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.rolling_fingerprint(
          TextOps.normalized(col("text")), window, winnow))).as("fp")),
      threshold, persist)

  /** (doc_id, fp) distinct fingerprints → near-dup pairs by containment
    * |∩| / min(|FP(a)|, |FP(b)|) ≥ threshold, candidates via the
    * inverted fingerprint index (docs sharing any print — never
    * all-pairs). The print frame is materialized once; both self-join
    * sides reuse it. */
  private def containmentPairs(prints: DataFrame, threshold: Double,
      persist: Persistence): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = persist(prints
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy(col("doc_id")))))
    fp.as("x")
      .join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        first(col("x.n_fp")).as("n_a"), first(col("y.n_fp")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** (doc_id, band0..band3) → near-duplicate pairs: docs sharing any
    * band become candidates (equi-join on the banded key — never
    * all-pairs), kept when the full-fingerprint Hamming distance
    * (= Σ per-band popcount of XOR) is ≤ `maxHamming`. The fingerprint
    * frame is materialized once — candidate generation and both
    * verification joins reuse it. */
  // private[ops]: Multimodal.dhashPairs feeds perceptual-hash bands
  // through the same candidate/verify machinery.
  private[ops] def bandedHammingPairs(fp4: DataFrame, maxHamming: Int,
      persist: Persistence): DataFrame = {
    val f = persist(fp4)
    val banded = f.select(col("doc_id"),
      posexplode(array((0 until 4).map(k => col(s"band$k")): _*)))
      .toDF("doc_id", "band_idx", "band_val")
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val hamming = (0 until 4).map(k =>
      bit_count(col(s"a.band$k").bitwiseXOR(col(s"b.band$k")))).reduce(_ + _)
    cand
      .join(f.as("a"), col("id_a") === col("a.doc_id"))
      .join(f.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-doc band0..band3 from the one-pass native
    * [[graft.functions.simhash_bands]] expression: votes never leave
    * the stack, so there is no explode and no per-doc 64-column
    * aggregate — hashing happens inside the scan projection. The
    * repartition spreads the CPU-dense hashing across all cores
    * (corpora often arrive as few large files); null-text docs drop,
    * matching the old explode behavior. */
  private def simhashBandCols(docs: DataFrame, portable: Boolean): DataFrame =
    Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.simhash_bands(TextOps.tokens(col("text")), portable)
          .as("bands"))
      .filter(col("bands").isNotNull)
      .select(col("doc_id") +:
        (0 until 4).map(k => element_at(col("bands"), k + 1).as(s"band$k")): _*)

  /** SimHash near-duplicate pairs: 16-bit banded buckets generate
    * candidates; pairs kept when full-fingerprint Hamming distance ≤
    * `maxHamming`. Production path — tokens hashed with xxhash64. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6,
      persist: Persistence = Persistence.Local): DataFrame =
    bandedHammingPairs(simhashBandCols(docs, portable = false), maxHamming, persist)

  /** [[simhashPairs]] with an oracle-portable token hash: the 64 hash
    * bits come from the first 8 md5 bytes, read as four 16-bit
    * big-endian chunks — an arithmetic any ANSI-SQL engine can
    * reproduce (`('0x' || substring(md5(t), 1+4k, 4))::INT`), unlike
    * xxhash64. Same vote/band/Hamming pipeline as the production
    * variant (both are [[graft.functions.simhash_bands]] under a hash
    * flag), so an external oracle hash-matching this twin verifies the
    * whole simhash semantics; xxhash64 stays the production hash. */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int = 6,
      persist: Persistence = Persistence.Local): DataFrame =
    bandedHammingPairs(simhashBandCols(docs, portable = true), maxHamming, persist)

  /** [[fingerprintPairs]] with the oracle-portable md5 gram hash
    * ([[graft.functions.md5_winnow_fingerprint]]): same winnowing
    * selection rule as the rolling-hash production path, but the hash
    * arithmetic — `md5(substring(s, i, window))`, lexicographic min
    * per winnow window with rightmost ties — is reproducible by any
    * ANSI-SQL engine, so this twin carries a full DuckDB oracle. The
    * rolling hash stays the production path (O(n) vs O(n·window)
    * hashing). */
  def fingerprintPairsPortable(
      docs: DataFrame,
      window: Int = 16,
      winnow: Int = 8,
      threshold: Double = 0.5,
      persist: Persistence = Persistence.Local): DataFrame =
    containmentPairs(Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.md5_winnow_fingerprint(
          TextOps.normalized(col("text")), window, winnow))).as("fp")),
      threshold, persist)

  /** Substring-level duplicated spans (the span analogue of the
    * suffix-array dedup in Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", word-granular): for each document,
    * the maximal word ranges every position of which starts a word
    * `n`-gram that also occurs in at least one OTHER document. Doc- and
    * pair-level dedup ([[exact]], [[minhashLshPairs]]) miss this case —
    * two long documents sharing one boilerplate paragraph are nowhere
    * near global-similarity thresholds, yet the paragraph is still
    * memorization fuel; span dedup finds exactly the shared bytes so a
    * downstream pass can cut them. A span `[span_start, span_end)`
    * (word indices into [[TextOps.tokens]]' tokenization) is a maximal
    * interval-union of the `[p, p+n)` word ranges of the document's
    * cross-doc-duplicated grams — so spans are disjoint and
    * non-touching by construction, and every word inside one is
    * covered by some duplicated n-gram.
    *
    * Plan, in shuffle order: (1) one gram-keyed groupBy finds
    * cross-doc grams — `min(doc_id) != max(doc_id)` is the
    * countDistinct(doc_id)>1 test but fully map-side combinable (two
    * longs per gram, never a distinct-set); (2) an equi-join of the
    * positions frame against that gram set (zipfian hot grams — a
    * boilerplate n-gram in every doc — skew one reducer; AQE skew
    * splits it, and the positions frame carries 8-byte gram hashes,
    * never gram strings, via [[graft.functions.word_shingle_hashes]]);
    * (3) a per-document window merges consecutive duplicated start
    * positions into maximal spans (gaps-and-islands; state bounded by
    * one document's length). Collisions (~G²/2⁶⁴) can only ADD a
    * spurious span — conservative for a dedup guard, and absent on
    * gate corpora, so the string-gram DuckDB oracle matches exactly.
    *
    * Picking `maxGramOcc`: profile first — [[Profiling.hotKeys]] over
    * the exploded gram frame (or `keyStats`'s `top_cnt`) shows whether
    * a boilerplate gram dominates; set the cap just above the heaviest
    * gram you still want span-reported (the OpsSpec hot-gram-cap test
    * pins the at-the-cap / below-the-cap behavior). */
  def duplicatedSpans(docs: DataFrame, n: Int = 8,
      persist: Persistence = Persistence.Local,
      maxGramOcc: Long = Long.MaxValue,
      shingler: Shingler = Shingler.Word): DataFrame = {
    require(n >= 1, s"gram length must be positive, got $n")
    require(maxGramOcc >= 2, s"maxGramOcc must allow a duplicate, got $maxGramOcc")
    val gramHash = shingler.gramHashes(col("text"), n)
    // Materialized: both the gram aggregate and the position join
    // consume this frame — unpersisted, Spark would tokenize+shingle
    // the whole corpus twice. Under Shingler.Char, `pos`/span bounds
    // are CODEPOINT offsets into the normalized text (n_words counts
    // codepoints) — the unit CJK span dedup needs.
    val pos = persist(Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"), posexplode(gramHash).as(Seq("pos", "g"))))
    // maxGramOcc is the zipfian insurance (ngramJaccardPairs'
    // maxShingleDf analogue): a boilerplate gram occurring everywhere
    // is dropped from the dup set — its positions then never converge
    // on one reducer — at the documented cost that a span is reported
    // only where at least one BELOW-cap gram covers it. The occurrence
    // count rides the same partial aggregate (a third long per gram).
    val crossDocGrams = pos
      .groupBy(col("g"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"),
        count(lit(1)).as("occ"))
      .filter(col("d0") =!= col("d1") &&
        (if (maxGramOcc == Long.MaxValue) lit(true) else col("occ") <= maxGramOcc))
      .select(col("g"))
    // Interval union via gaps-and-islands: a new island starts when
    // the gap to the previous duplicated gram start exceeds n (the
    // [p,p+n) word intervals no longer touch). Both windows share one
    // (doc_id, pos) sort — a single exchange + sort in the plan.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos").asc)
    pos
      .join(crossDocGrams, "g")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0).otherwise(1))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_words"))
  }

  /** End-to-end substring dedup: REMOVES cross-doc duplicated spans
    * with per-GRAM first-occurrence-wins semantics. A word is cut iff
    * it is covered by a cross-doc-duplicated `n`-gram whose owning
    * document (the minimum doc_id containing that gram) is not this
    * one — equivalently, each duplicated gram's copy in its lowest-id
    * document is the one kept. Note the keep guarantee is per gram,
    * not per RUN of text: when ownership chains overlap (doc A owns
    * gram g₁ over words of a run whose other grams are owned by an
    * even-lower doc), the covered sub-run can be cut from every
    * document that carries it — so a shared run is never kept twice,
    * but a chained-overlap sub-run may survive zero times. Documents
    * that only ever originate content are untouched. Output: one row
    * per input document with the rebuilt text (in [[TextOps.tokens]]'
    * normalized token space, single-space joined — the representation
    * token pipelines consume anyway), original word count, and words
    * cut.
    *
    * `verify = true` adds an exact-content check before any text is
    * removed: candidate positions (the gram-HASH matches) are joined
    * back to their documents, the actual `n`-token slice is
    * re-materialized, and the cross-doc/ownership test is re-derived
    * on the slice CONTENT — so a 64-bit gram-hash collision
    * (~G²/2⁶⁴, the one way this operator could delete innocent text
    * at corpus scale) is caught and the spurious cut suppressed. The
    * extra cost is bounded by the CANDIDATE set, not the corpus: one
    * doc_id equi-join to fetch slices plus one content-keyed shuffle
    * of candidate positions (~n words each). On a collision-free
    * corpus the output is bit-identical to `verify = false`.
    *
    * Plan = [[duplicatedSpans]] plus: the gram aggregate carries
    * `min(doc_id)` as the owner (same two-long partial aggregate),
    * cut spans collect per doc (a document's own span list is small —
    * KBs even for pathological docs), and the rebuild is ONE
    * broadcast-size-agnostic equi-join back to the corpus followed by
    * a zero-shuffle higher-order-function projection: no per-word
    * explode ever re-shuffles the corpus. */
  def cutDuplicatedSpans(docs: DataFrame, n: Int = 8,
      persist: Persistence = Persistence.Local,
      verify: Boolean = false,
      shingler: Shingler = Shingler.Word): DataFrame =
    shingler match {
      case Shingler.Word =>
        cutDuplicatedSpansImpl(docs, n, persist, verify,
          graft.functions.word_shingle_hashes(_, _))
      case Shingler.Char =>
        // Codepoint mode: units are the codepoints of the normalized
        // text (same index space as char_shingle_hashes positions,
        // spec-pinned), rebuilt with an empty joiner. n_words counts
        // codepoints.
        cutDuplicatedSpansImpl(docs, n, persist, verify,
          graft.functions.char_shingle_hashes(_, _),
          units = t => filter(split(TextOps.normalized(t), ""),
            x => x =!= lit("")),
          sep = "")
    }

  /** [[cutDuplicatedSpans]] with the gram-hash function injectable so
    * the adversarial spec can force hash collisions (a real 64-bit
    * collision is not constructible in a test) and pin that `verify`
    * suppresses the spurious cut. */
  private[graft] def cutDuplicatedSpansImpl(docs: DataFrame, n: Int,
      persist: Persistence, verify: Boolean,
      gramHash: (Column, Int) => Column,
      units: Column => Column = graft.functions.word_tokens(_),
      sep: String = " "): DataFrame = {
    require(n >= 1, s"gram length must be positive, got $n")
    val pos = persist(Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"), posexplode(
        gramHash(col("text"), n)).as(Seq("pos", "g"))))
    val owners = pos
      .groupBy(col("g"))
      .agg(min(col("doc_id")).as("owner"), max(col("doc_id")).as("mx"))
      .filter(col("owner") =!= col("mx"))
      .select(col("g"), col("owner"))
    // Candidate duplicated positions. Unverified: trust the 64-bit
    // gram hash. Verified: re-materialize each candidate's actual
    // n-token slice and repeat the cross-doc + min-doc-owner test on
    // the content itself. Restricting the content test to candidates
    // loses nothing: content-equal slices are hash-equal, so every
    // occurrence of a truly-duplicated gram is already a candidate
    // (the owner doc's own rows included — the doc_id > owner filter
    // is applied only AFTER ownership is settled).
    val dupPos = if (!verify) {
      pos.join(owners, "g")
        .filter(col("doc_id") > col("owner"))
        .select(col("doc_id"), col("pos"))
    } else {
      val toks = docs.select(col("doc_id"), units(col("text")).as("toks"))
      val content = pos.join(owners, "g")
        .join(toks, "doc_id")
        .select(col("doc_id"), col("pos"),
          array_join(slice(col("toks"), col("pos") + 1, lit(n)), sep).as("gc"))
      val contentOwners = content
        .groupBy(col("gc"))
        .agg(min(col("doc_id")).as("cowner"), max(col("doc_id")).as("cmx"))
        .filter(col("cowner") =!= col("cmx"))
        .select(col("gc"), col("cowner"))
      content.join(contentOwners, "gc")
        .filter(col("doc_id") > col("cowner"))
        .select(col("doc_id"), col("pos"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val cutSpans = dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0).otherwise(1))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("cut_spans"))
    docs
      .join(cutSpans, Seq("doc_id"), "left")
      .withColumn("toks", units(col("text")))
      .withColumn("kept", when(col("cut_spans").isNull, col("toks")).otherwise(
        expr(s"filter(toks, (tk, i) -> NOT exists(cut_spans, sp -> sp.s <= i AND i < sp.e))")))
      .select(col("doc_id"),
        array_join(col("kept"), sep).as("text"),
        size(col("toks")).cast("long").as("n_words"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"))
  }
}
