package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share
  * word n-grams with an evaluation corpus — the standard guard
  * against test-set leakage into a training run.
  *
  * Scale posture (100 TB corpus vs KB–MB eval sets): the EVAL side is
  * reduced to its distinct n-gram set and broadcast, so the corpus
  * side is one scan — native one-pass shingle HASHING
  * ([[graft.functions.word_shingle_hashes]]), explode, broadcast hash
  * join on the 8-byte gram hash, and a partial-aggregated per-doc
  * count. Grams ride as 64-bit hashes on BOTH sides (same function,
  * same seed): a 13-gram is ~80 bytes of string — hashing shrinks the
  * exploded corpus frame and the broadcast ~10×, and a collision
  * (~G_corpus·G_eval/2⁶⁴) can only add a spurious hit, the
  * conservative direction for a leakage guard (the gate corpus is
  * collision-free, so the string-gram DuckDB oracle still matches).
  * The corpus is never shuffled by gram (gram frequency is zipfian — a
  * gram shuffle would hot-spot); the only shuffle is the final doc_id
  * count, which map-side combines. Set `broadcastEval = false` for an
  * eval set too big to broadcast (falls back to a shuffle equi-join).
  */
object Decontamination {

  /** Gram tokenization of the contamination guard: word n-grams by
    * default; [[Shingler.Char]] switches every path to codepoint
    * n-grams for unsegmented scripts (pick a larger `n` — the
    * published 13-word choice corresponds to ~50+ codepoints). */
  private def gramHashes(n: Int, shingler: Shingler) =
    shingler.gramHashes(col("text"), n)

  /** (doc_id, n_hits): training docs sharing ≥1 word n-gram with the
    * eval corpus, with the count of DISTINCT shared grams. Docs also
    * present in `evalDocs` are the caller's business to exclude —
    * pass `docs` already filtered (the usual pipeline has disjoint id
    * spaces anyway). `n` is the contamination gram length: big enough
    * that a match means copying, not chance (13 is the common
    * published choice for natural text; small fixture corpora need
    * smaller). */
  def flagContaminated(docs: DataFrame, evalDocs: DataFrame, n: Int = 13,
      broadcastEval: Boolean = true,
      shingler: Shingler = Shingler.Word): DataFrame =
    flagAgainstEval(
      docs
        // Shingling is the CPU-dense stage — spread it across all cores
        // rather than inherit file-split parallelism.
        .transform(d => Spread.keyed(d, col("doc_id")))
        .select(col("doc_id"),
          explode(array_distinct(gramHashes(n, shingler))).as("g")),
      evalDocs, n, broadcastEval, shingler)

  /** [[flagContaminated]] over a materialized token index (`doc_id` +
    * `toks` [[graft.functions.word_tokens]] column, already spread):
    * corpus grams come from [[graft.functions.array_shingles]] — zero
    * re-tokenize, zero extra repartition, identical gram set. The
    * (tiny) eval side still derives its grams from raw text. */
  def flagContaminatedFromTokens(tokensFrame: DataFrame, evalDocs: DataFrame,
      n: Int = 13, broadcastEval: Boolean = true): DataFrame =
    flagAgainstEval(
      tokensFrame.select(col("doc_id"), explode(
        array_distinct(graft.functions.array_shingle_hashes(col("toks"), n))).as("g")),
      evalDocs, n, broadcastEval)

  /** [[flagContaminated]] with a Bloom prefilter for eval sets too big
    * to broadcast as an exact hash set: builds a Bloom filter over the
    * eval grams (driver-side sketch, ~1.2 GB per 10⁹ grams at 1% fpp —
    * broadcastable where the exact LongHashedRelation for the same
    * grams is ~3-8×), filters corpus grams through it BEFORE the
    * shuffle equi-join, then verifies survivors exactly against the
    * eval gram frame. The result is therefore EXACT — a Bloom false
    * positive survives the prefilter only to be dropped by the verify
    * join — while the shuffle that was the big-eval fallback's cost
    * now carries only true hits + fpp·|corpus grams| rows instead of
    * every gram in the corpus. The same oracle as the broadcast path
    * gates it. */
  def flagContaminatedBloom(docs: DataFrame, evalDocs: DataFrame,
      n: Int = 13, fpp: Double = 0.01,
      shingler: Shingler = Shingler.Word): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val evalGrams = evalDocs
      .select(explode(array_distinct(gramHashes(n, shingler))).as("g"))
      .distinct()
    // Two eval-side jobs (count + sketch build) are control-plane: the
    // eval corpus is KBs-GBs against a 100 TB training corpus, and the
    // sketch must be sized to the true cardinality or its fpp lies.
    val nGrams = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("g", nGrams, fpp)
    val bloomBc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((g: Long) => bloomBc.value.mightContainLong(g))
    Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(gramHashes(n, shingler))).as("g"))
      .filter(mightContain(col("g")))
      .join(evalGrams, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** SEMANTIC decontamination: flag training items whose EMBEDDING is
    * within cosine `threshold` of any eval-set embedding — the
    * paraphrase/translation/templated-rewrite leakage that n-gram
    * overlap ([[flagContaminated]]) is blind to. Output, one row per
    * corpus vector: `(vec_id, max_cos_micros, near_eval_id,
    * contaminated)` — the max cosine in exact 1e-6 integer units, the
    * eval item that attains it (lowest eval id on ties — provenance
    * for the leakage report), and the τ verdict.
    *
    * Scale posture mirrors the n-gram family: eval sets are small
    * against a 100 TB corpus, so up to `maxBroadcastEval` vectors
    * (measured count) the eval matrix rides the PLAN and the corpus
    * side is ONE zero-shuffle codegen'd scan — `rows·dim` multiplies
    * per vector via [[graft.functions.VecMath.matrix_max_cos]], no
    * join, no shuffle, no plan growth with eval size. Past the cap it
    * falls back to LSH-bucketed candidate pairs (equi-join on bucket
    * keys, never corpus×eval) + exact verification — recall < 1 like
    * every LSH tier, rising with `tables`; flags are a SUBSET of the
    * exact spelling's (spec-pinned), which for a leakage guard means
    * a big-eval run can miss a paraphrase, never invent one.
    *
    * Micro-rounding (`floor(cos·1e6 + 0.5)`) makes max/argmax integer
    * comparisons — deterministic under any partitioning, and exactly
    * replayable by an independent engine. Zero-norm corpus vectors
    * yield null scores and `contaminated = false` (an unembeddable
    * row is the quality gate's business, not the leakage guard's);
    * zero-norm eval vectors are excluded from the matrix. */
  def flagContaminatedSemantic(emb: DataFrame, evalEmb: DataFrame,
      threshold: Double, maxBroadcastEval: Long = 65536,
      tables: Int = 40, planesPerTable: Int = 4,
      persist: Persistence = Persistence.Local): DataFrame = {
    val thr = math.round(threshold * 1e6)
    val ev = persist.lazily(evalEmb
      .select(col("vec_id").as("eval_id"), col("embedding").as("eemb"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("nb"))
      .filter(col("nb") > 0))
    if (ev.count() <= maxBroadcastEval) {
      semanticProbe(ev.select(col("eval_id").as("vec_id"),
        col("eemb").as("embedding")), threshold)(emb)
    } else {
      val dim = ev.select(size(col("eemb"))).head().getInt(0)
      val cb = Similarity.lshBuckets(emb, tables, planesPerTable, dim)
      val eb = Similarity
        .lshBuckets(ev.select(col("eval_id").as("vec_id"),
          col("eemb").as("embedding")), tables, planesPerTable, dim)
        .toDF("eval_id", "table_idx", "bucket")
      val cands = cb.join(eb, Seq("table_idx", "bucket"))
        .select(col("vec_id"), col("eval_id")).distinct()
      val scored = cands
        .join(emb.select(col("vec_id"), col("embedding"),
          graft.functions.VecMath.vec_norm(col("embedding")).as("na"))
          .filter(col("na") > 0), "vec_id")
        .join(ev, "eval_id")
        .select(col("vec_id"), col("eval_id"),
          floor(graft.functions.VecMath.vec_dot(col("embedding"), col("eemb")) /
            (col("na") * col("nb")) * lit(1e6) + lit(0.5))
            .cast("long").as("micros"))
      semanticFlagAssemble(emb, scored, thr)
    }
  }

  /** The broadcast-matrix probe of [[flagContaminatedSemantic]] as a
    * reusable frame transform: collects the (small, zero-norm-free)
    * eval matrix ONCE at build time and returns the stateless
    * zero-shuffle projection that scores any embedding frame against
    * it — including a STREAMING frame, which is the ingest-time
    * deployment shape (score each arriving embedding against the
    * frozen eval snapshot before it ever lands in the corpus;
    * batch/stream parity spec-pinned). The dispatch entry routes its
    * under-cap branch here, so probe verdicts are bit-identical to
    * the batch operator's by construction. */
  def semanticProbe(evalEmb: DataFrame,
      threshold: Double): DataFrame => DataFrame = {
    val thr = math.round(threshold * 1e6)
    val rows = evalEmb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("nb"))
      .filter(col("nb") > 0)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val dim = rows.headOption.map(_._2.length).getOrElse(0)
    require(rows.forall(_._2.length == dim),
      "eval embeddings must share one dimensionality")
    val mc = graft.functions.VecMath.matrix_max_cos(
      col("embedding"), col("na"),
      rows.flatMap(_._2), rows.map(_._3), dim)
    emb =>
      emb
        .select(col("vec_id"), col("embedding"),
          graft.functions.VecMath.vec_norm(col("embedding")).as("na"))
        .select(col("vec_id"), mc.as("mc"))
        .select(col("vec_id"),
          when(col("mc.row") >= 0, col("mc.max_micros"))
            .as("max_cos_micros"),
          when(col("mc.row") >= 0,
            element_at(lit(rows.map(_._1)), col("mc.row") + 1))
            .as("near_eval_id"),
          coalesce(col("mc.row") >= 0 && col("mc.max_micros") >= thr,
            lit(false)).as("contaminated"))
  }

  /** The exact corpus×eval verification baseline of
    * [[flagContaminatedSemantic]] (broadcast nested-loop over the eval
    * frame): bit-identical to the broadcast-matrix path by
    * construction — same left-to-right dot, same single divide by the
    * norm product, same micro-floor — and the superset reference the
    * LSH tier's subset law is pinned against. O(N·E) compares with a
    * corpus-side shuffle for the per-vector max; prefer the dispatch
    * entry, which does the same arithmetic with no shuffle at all. */
  private[graft] def flagContaminatedSemanticExact(emb: DataFrame,
      evalEmb: DataFrame, threshold: Double): DataFrame = {
    val thr = math.round(threshold * 1e6)
    val ev = evalEmb
      .select(col("vec_id").as("eval_id"), col("embedding").as("eemb"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("nb"))
      .filter(col("nb") > 0)
    val scored = emb
      .select(col("vec_id"), col("embedding"),
        graft.functions.VecMath.vec_norm(col("embedding")).as("na"))
      .filter(col("na") > 0)
      .crossJoin(broadcast(ev))
      .select(col("vec_id"), col("eval_id"),
        floor(graft.functions.VecMath.vec_dot(col("embedding"), col("eemb")) /
          (col("na") * col("nb")) * lit(1e6) + lit(0.5))
          .cast("long").as("micros"))
    semanticFlagAssemble(emb, scored, thr)
  }

  /** Shared verdict assembly: per-vector integer max with the
    * lowest-eval-id tiebreak, left-joined back so every corpus row
    * gets a verdict (unscored rows — zero-norm, or no LSH candidate —
    * come out null/false). */
  private def semanticFlagAssemble(emb: DataFrame, scored: DataFrame,
      thr: Long): DataFrame =
    emb.select(col("vec_id"))
      .join(scored.groupBy(col("vec_id"))
        .agg(max(struct(col("micros"), (-col("eval_id")).as("neg"))).as("m")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("m.micros").as("max_cos_micros"),
        (-col("m.neg")).as("near_eval_id"),
        coalesce(col("m.micros") >= thr, lit(false)).as("contaminated"))

  /** ATTRIBUTED decontamination: not just "this training doc is
    * contaminated" but by WHICH eval document — one row per
    * (doc_id, eval_id) pair sharing ≥ 1 word n-gram, with the count of
    * distinct shared grams. The report a benchmark owner reads:
    * "task X leaked into 40 crawl pages; task Y is clean" — per-doc
    * flags ([[flagContaminated]]) can't answer that, and the semantic
    * family already carries provenance (`near_eval_id`).
    *
    * Same scale posture as the flag path: the eval side broadcasts as
    * (eval_id, gram-hash) pairs (marginally wider than the distinct
    * gram set, still eval-sized), the corpus is ONE scan + explode,
    * and the only shuffle is the (doc, eval) count — map-side
    * combinable, keyed by the pair. A training doc contaminated by k
    * eval docs emits k rows; `distinct doc_id` here equals the flag
    * path's flagged set (spec-pinned law). */
  def attributeContamination(docs: DataFrame, evalDocs: DataFrame,
      n: Int = 13, broadcastEval: Boolean = true,
      shingler: Shingler = Shingler.Word): DataFrame = {
    val evalGrams = evalDocs
      .select(col("doc_id").as("eval_id"),
        explode(array_distinct(gramHashes(n, shingler))).as("g"))
      .distinct()
    val ev = if (broadcastEval) broadcast(evalGrams) else evalGrams
    Spread.keyed(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(gramHashes(n, shingler))).as("g"))
      .join(ev, "g")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  private def flagAgainstEval(corpusGrams: DataFrame, evalDocs: DataFrame,
      n: Int, broadcastEval: Boolean,
      shingler: Shingler = Shingler.Word): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(array_distinct(gramHashes(n, shingler))).as("g"))
      .distinct()
    val ev = if (broadcastEval) broadcast(evalGrams) else evalGrams
    corpusGrams
      .join(ev, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }
}
