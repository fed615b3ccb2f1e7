package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graft.{AsciiClassCountsColumns, AudioFpColumns, BpeEncodeColumns, BpeTokenCountColumns, DhashColumns, HashedTokenCountsColumns, CepExprColumns, LimbSumColumns, CompressRatioColumns, GramStatsColumns, LshBucketsColumns, MarkerCountsColumns, MatrixMaxCosColumns, MatrixRowDotColumns, MetricRouteColumns, MinhashColumns, RollingHashColumns, SimhashColumns, SparseLongDotColumns, TopKColumns, TrigramScoresColumns, VecDotColumns, VecUnitColumns, WordShinglesColumns}

/** Public column-function surface for graft's native Catalyst
  * expressions (implementations under org.apache.spark.sql.graft). */
package object functions {
  object VecMath {
    /** Dot product of two float/double array columns (codegen'd —
      * see [[org.apache.spark.sql.graft.VecDot]]). */
    def vec_dot(a: Column, b: Column): Column = VecDotColumns.vecDot(a, b)

    /** L2 norm of an array column. */
    def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

    /** Unit-normalized double copy of a vector column in one native
      * pass (bit-identical to `transform(v, x => x / vec_norm(v))`) —
      * see [[org.apache.spark.sql.graft.VecUnit]]. */
    def vec_unit(a: Column): Column = VecUnitColumns.vecUnit(a)

    /** Dot of a vector column with one row of a literal matrix
      * (row-major, row picked per row by `row`) — O(dim) per row
      * regardless of matrix height, bit-identical to the when-chain
      * of per-row [[vec_dot]]s — see
      * [[org.apache.spark.sql.graft.MatrixRowDot]]. */
    def matrix_row_dot(v: Column, row: Column,
        matrix: Array[Double], dim: Int): Column =
      MatrixRowDotColumns.matrixRowDot(v, row, matrix, dim)

    /** Max micro-rounded cosine of a vector column against every row
      * of a literal matrix + the argmax row (first row wins ties):
      * `struct<max_micros, row>` — the zero-shuffle probe of semantic
      * decontamination; see
      * [[org.apache.spark.sql.graft.MatrixMaxCos]]. */
    def matrix_max_cos(v: Column, norm: Column, matrix: Array[Double],
        norms: Array[Double], dim: Int): Column =
      MatrixMaxCosColumns.matrixMaxCos(v, norm, matrix, norms, dim)
  }

  /** Winnowed Rabin–Karp rolling-hash fingerprints (ARRAY<BIGINT>) —
    * see [[org.apache.spark.sql.graft.RollingHashFingerprint]]. */
  def rolling_fingerprint(text: Column, window: Int = 16, winnow: Int = 8): Column =
    RollingHashColumns.rollingFingerprint(text, window, winnow)

  /** Word n-gram shingles of a document, one native pass (codegen'd;
    * byte-identical to the trim/lower/split/array_join spelling) — see
    * [[org.apache.spark.sql.graft.WordShingles]]. */
  def word_shingles(text: Column, n: Int): Column =
    WordShinglesColumns.wordShingles(text, n)

  /** The shared native tokenize (`trim → lower → split(\s+)`,
    * byte-identical to `TextOps.tokens`) as a materializable column:
    * tokenize ONCE, shingle many times via [[array_shingles]] — see
    * [[org.apache.spark.sql.graft.WordTokens]]. */
  def word_tokens(text: Column): Column =
    WordShinglesColumns.wordTokens(text)

  /** Shingles from a pre-tokenized [[word_tokens]] array (the
    * token-index path; byte-identical to [[word_shingles]] on the
    * original text) — see [[org.apache.spark.sql.graft.ArrayShingles]]. */
  def array_shingles(tokens: Column, n: Int): Column =
    WordShinglesColumns.arrayShingles(tokens, n)

  /** 64-bit xxhash64 of each word n-gram shingle, one native pass —
    * bit-identical to `transform(word_shingles(text, n), xxhash64)`
    * but the gram strings never leave the expression; the join/cache
    * currency of the n-gram dedup and decontamination pipelines — see
    * [[org.apache.spark.sql.graft.WordShingleHashes]]. */
  def word_shingle_hashes(text: Column, n: Int, seed: Long = 42L): Column =
    WordShinglesColumns.wordShingleHashes(text, n, seed)

  /** [[word_shingle_hashes]] from a pre-tokenized [[word_tokens]]
    * array — see [[org.apache.spark.sql.graft.ArrayShingleHashes]]. */
  def array_shingle_hashes(tokens: Column, n: Int, seed: Long = 42L): Column =
    WordShinglesColumns.arrayShingleHashes(tokens, n, seed)

  /** TWO independently-seeded [[word_shingle_hashes]] runs in one
    * native pass: `array<struct<h1, h2>>` — the 128-bit key tier of
    * the n-gram dedup family, tokenizing and building each gram string
    * once instead of twice — see
    * [[org.apache.spark.sql.graft.WordShingleHashPairs]]. */
  def word_shingle_hash_pairs(text: Column, n: Int, seed1: Long = 42L,
      seed2: Long = 1042L): Column =
    WordShinglesColumns.wordShingleHashPairs(text, n, seed1, seed2)

  /** CODEPOINT n-gram shingles over whitespace-normalized lowercased
    * text, one native pass — the character-level twin of
    * [[word_shingles]] for unsegmented scripts (byte-identical to the
    * `substring(TextOps.normalized(text), i, n)` spelling) — see
    * [[org.apache.spark.sql.graft.CharShingles]]. */
  def char_shingles(text: Column, n: Int): Column =
    WordShinglesColumns.charShingles(text, n)

  /** 64-bit xxhash64 of each codepoint n-gram of [[char_shingles]],
    * hashed straight from the normalized byte buffer (no gram string
    * allocation) — see
    * [[org.apache.spark.sql.graft.CharShingleHashes]]. */
  def char_shingle_hashes(text: Column, n: Int, seed: Long = 42L): Column =
    WordShinglesColumns.charShingleHashes(text, n, seed)

  /** TWO independently-seeded [[char_shingle_hashes]] runs in one
    * native pass (`array<struct<h1, h2>>`) — the 128-bit char-mode key
    * tier — see [[org.apache.spark.sql.graft.CharShingleHashPairs]]. */
  def char_shingle_hash_pairs(text: Column, n: Int, seed1: Long = 42L,
      seed2: Long = 1042L): Column =
    WordShinglesColumns.charShingleHashPairs(text, n, seed1, seed2)

  /** Per-document `{n_grams, n_new}` novelty counts against a
    * plan-shipped reference gram set in one native pass — the probe
    * side of cross-corpus novelty when the index fits the broadcast
    * gate, and the stateless ingest-time spelling — see
    * [[org.apache.spark.sql.graft.GramSetNovelty]]. */
  def gram_set_novelty(text: Column, n: Int,
      set: org.apache.spark.sql.graft.GramSet): Column =
    WordShinglesColumns.gramSetNovelty(text, n, set)

  /** Four 16-bit dHash band keys of a synthetic payload (72-codepoint
    * sample grid, row-gradient bits) — the perceptual-hash key the
    * multimodal dedup family buckets on; the decoded-luma production
    * twin shares the band packing — see
    * [[org.apache.spark.sql.graft.DhashBands]]. */
  def dhash_bands(payload: Column): Column =
    DhashColumns.dhashBands(payload)

  /** Four 12-bit Haitsma–Kalker audio-fingerprint band keys of a
    * synthetic payload (140-sample grid, 17 overlapping frames, 4
    * energy bands, sign-of-second-derivative bits) — the acoustic
    * analogue of [[dhash_bands]]; the decoded-PCM production twin
    * shares the band packing — see
    * [[org.apache.spark.sql.graft.AudioFpBands]]. */
  def audio_fp_bands(payload: Column): Column =
    AudioFpColumns.audioFpBands(payload)

  /** Per-document word n-gram repetition stats struct
    * `{n_grams, n_distinct_grams, top_gram_frac, dup_gram_frac}` in
    * one native pass (codegen'd; zero-shuffle replacement for the
    * explode→groupBy spelling) — see
    * [[org.apache.spark.sql.graft.GramStats]]. */
  def gram_stats(text: Column, n: Int): Column =
    GramStatsColumns.gramStats(text, n)

  /** [[gram_stats]] from a pre-tokenized [[word_tokens]] array — see
    * [[org.apache.spark.sql.graft.ArrayGramStats]]. */
  def array_gram_stats(tokens: Column, n: Int): Column =
    GramStatsColumns.arrayGramStats(tokens, n)

  /** Per-language character-trigram scores (ARRAY<BIGINT>, language
    * order = `langs` order) in one pass over the text — see
    * [[org.apache.spark.sql.graft.TrigramScores]]. */
  def trigram_scores(text: Column, langs: Seq[Seq[String]]): Column =
    TrigramScoresColumns.trigramScores(text, langs)

  /** Per-doc trigram-LM probe aggregate `(n_tri, sum_cnt, log1p_sum)`
    * against a plan-shipped trigram→count model, one codepoint walk —
    * see [[org.apache.spark.sql.graft.TrigramLmScore]]. */
  def trigram_lm_score(text: Column,
      model: org.apache.spark.sql.graft.TrigramLmTable): Column =
    org.apache.spark.sql.graft.TrigramLmScoreColumns.trigramLmScore(text, model)

  /** Per-doc codepoint-trigram histogram (MAP<STRING,BIGINT>) in one
    * pass — the pre-aggregated model-build input for `lmScore`; see
    * [[org.apache.spark.sql.graft.CharTrigramCounts]]. */
  def char_trigram_counts(text: Column): Column =
    org.apache.spark.sql.graft.TrigramLmScoreColumns.charTrigramCounts(text)

  /** Per-language marker-word occurrence counts (ARRAY<BIGINT>,
    * language order = `langs` order) in one tokenize pass — see
    * [[org.apache.spark.sql.graft.MarkerCounts]]. */
  def marker_counts(text: Column, langs: Seq[Seq[String]]): Column =
    MarkerCountsColumns.markerCounts(text, langs)

  /** GPT-2-shaped pre-tokenizer match count (one byte pass; exact
    * lexer for `TextAnalysis.bpePattern`'s total alternation) — see
    * [[org.apache.spark.sql.graft.BpeTokenCount]]. */
  def bpe_token_count(text: Column): Column =
    BpeTokenCountColumns.bpeTokenCount(text)

  /** True vocab-merge BPE encoding (ARRAY<STRING> of tokens): GPT-2
    * shaped pre-tokenization (the same lexer branch logic as
    * `bpe_token_count`), then the classic ranked greedy merge loop
    * per pre-token. Concatenating the tokens reproduces the input
    * exactly — see [[org.apache.spark.sql.graft.BpeEncode]]. */
  def bpe_encode(text: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column =
    BpeEncodeColumns.bpeEncode(text, merges, byteLevel)

  /** Inverse of byte-level [[bpe_encode]]: tokens → original string
    * (GPT-2 byte alphabet chars mapped back to bytes; NULL if a token
    * carries a char outside the alphabet) — see
    * [[org.apache.spark.sql.graft.BpeByteDecode]]. */
  def bpe_byte_decode(tokens: Column): Column =
    BpeEncodeColumns.bpeByteDecode(tokens)

  /** Hashed bag-of-tokens document vector (ARRAY<BIGINT>, length
    * `dim`): one tokenize pass, one md5 per token, bucket =
    * first-32-md5-bits mod dim — the text→vector bridge for corpora
    * without an embedding column; see
    * [[org.apache.spark.sql.graft.HashedTokenCounts]]. */
  def hashed_token_counts(text: Column, dim: Int): Column =
    HashedTokenCountsColumns.hashedTokenCounts(text, dim)

  /** Per-class ASCII character counts (ARRAY<BIGINT>, class order =
    * `classes` order) in one byte pass — see
    * [[org.apache.spark.sql.graft.AsciiClassCounts]]. */
  def ascii_class_counts(text: Column, classes: Seq[String]): Column =
    AsciiClassCountsColumns.asciiClassCounts(text, classes)

  /** zlib compression ratio of the document bytes (classic
    * repetition/boilerplate quality signal; not SQL-expressible, so
    * spec'd + benched rather than oracle-gated) — see
    * [[org.apache.spark.sql.graft.CompressRatio]]. */
  def compress_ratio(text: Column): Column =
    CompressRatioColumns.compressRatio(text)

  /** Reference metric key routing over a parsed JSON map, one native
    * pass (codegen'd) — see [[org.apache.spark.sql.graft.MetricRoute]]. */
  def metric_route(m: Column): Column = MetricRouteColumns.metricRoute(m)

  /** Covering window starts on the grid with origin `anchor` (0 = the
    * epoch grid; codegen'd) — see
    * [[org.apache.spark.sql.graft.WindowStartsExpr]]. */
  def window_starts(windowType: Column, evMs: Column, wMs: Column, sMs: Column,
      anchor: Column): Column =
    CepExprColumns.windowStarts(windowType, evMs, wMs, sMs, anchor)

  /** Exact `sum(cast(v AS decimal(38,6)))` of a DOUBLE column with a
    * fixed-width long-limb buffer (decimal(38,6) result) — see
    * [[org.apache.spark.sql.graft.LimbSum]]. */
  def limb_sum(v: Column): Column = LimbSumColumns.limbSum(v)

  /** Oracle-portable md5 winnowed fingerprints (ARRAY<STRING> of hex
    * gram hashes) — see [[org.apache.spark.sql.graft.Md5WinnowFingerprint]]. */
  def md5_winnow_fingerprint(text: Column, window: Int = 16, winnow: Int = 8): Column =
    RollingHashColumns.md5WinnowFingerprint(text, window, winnow)

  /** The four 16-bit SimHash band keys of a token array (ARRAY<INT>,
    * one native pass) — see [[org.apache.spark.sql.graft.SimhashBands]].
    * `portable = true` uses the md5-chunk hash an ANSI-SQL oracle can
    * recompute; `false` the faster xxhash64. */
  def simhash_bands(tokens: Column, portable: Boolean = false): Column =
    SimhashColumns.simhashBands(tokens, portable)

  /** Exact sparse long dot of a classifier item array against a
    * literal long weight vector (`Σ weights[bk+1]·c`, loud on
    * signed-64 overflow) — the codegen'd twin of the interpreted
    * `aggregate(items, 0L, …element_at…)` HOF fold; see
    * [[org.apache.spark.sql.graft.SparseLongDot]]. */
  def sparse_long_dot(items: Column, weights: Array[Long]): Column =
    SparseLongDotColumns.sparseLongDot(items, weights)

  /** Bounded top-k aggregation: the k SMALLEST values per group,
    * ascending — element-identical to
    * `slice(array_sort(collect_list(e)), 1, k)` (for totally-ordered
    * groups) with O(k) per-group state instead of O(|group|) — see
    * [[org.apache.spark.sql.graft.TopKColumns]]. */
  def collect_top_k_asc(e: Column, k: Int): Column =
    TopKColumns.collectTopKAsc(e, k)

  /** MinHash signature of a shingle array (ARRAY<BIGINT> of
    * `numHashes` permutation minima, one native pass; null for an
    * empty array) — see
    * [[org.apache.spark.sql.graft.MinhashSignature]]. */
  def minhash_signature(shingles: Column, numHashes: Int): Column =
    MinhashColumns.minhashSignature(shingles, numHashes)

  /** All LSH table bucket keys of a vector (ARRAY<BIGINT>, one element
    * per table) — see [[org.apache.spark.sql.graft.LshBuckets]].
    * `planes` is flattened row-major (plane p at [p·dim, (p+1)·dim)). */
  def lsh_buckets(emb: Column, planes: IndexedSeq[Double],
      tables: Int, planesPerTable: Int): Column =
    LshBucketsColumns.lshBuckets(emb, planes, tables, planesPerTable)

  /** HTML text blocks with boilerplate-filter signals
    * (ARRAY<STRUCT<text, n_words, link_density>>, one linear pass,
    * script/style/comment-aware) — see
    * [[org.apache.spark.sql.graft.HtmlBlocks]]. */
  def html_blocks(html: Column): Column =
    org.apache.spark.sql.graft.HtmlBlocksColumns.htmlBlocks(html)

  /** Outlinks of an HTML document
    * (ARRAY<STRUCT<href, rel, anchor>>, one linear pass, entity- and
    * script/comment-aware) — see
    * [[org.apache.spark.sql.graft.HtmlLinks]]. */
  def html_links(html: Column): Column =
    org.apache.spark.sql.graft.HtmlLinksColumns.htmlLinks(html)

  /** Registrable domain of a lowercase host under a parsed Public
    * Suffix List snapshot (wildcard `*.x` and exception `!y.x` rules
    * included; NULL when the host is itself a public suffix) — see
    * [[org.apache.spark.sql.graft.PslRegistrableDomain]]. */
  def psl_registrable_domain(host: Column,
      rules: org.apache.spark.sql.graft.PslRules): Column =
    org.apache.spark.sql.graft.PslDomainColumns.pslRegistrableDomain(host, rules)

  /** Ordered robots.txt rules applying to one crawler product token
    * (ARRAY<STRUCT<allow, pattern>>, RFC 9309 group selection) — see
    * [[org.apache.spark.sql.graft.RobotsRules]]. */
  def robots_rules(body: Column, agent: Column): Column =
    org.apache.spark.sql.graft.RobotsColumns.robotsRules(body, agent)

  /** Politeness decision of a [[robots_rules]] array against one URL
    * path (STRUCT<allowed, matched>, longest-match / allow-wins-tie) —
    * see [[org.apache.spark.sql.graft.RobotsDecision]]. */
  def robots_decision(rules: Column, path: Column): Column =
    org.apache.spark.sql.graft.RobotsColumns.robotsDecision(rules, path)

  /** Group-scoped Crawl-delay for one crawler token (NULL when the
    * applicable groups declare none) — see
    * [[org.apache.spark.sql.graft.RobotsCrawlDelay]]. */
  def robots_crawl_delay(body: Column, agent: Column): Column =
    org.apache.spark.sql.graft.RobotsColumns.robotsCrawlDelay(body, agent)

  /** Unicode normalization (NFC/NFD/NFKC/NFKD, `form` a literal) with
    * the isNormalized fast path — see
    * [[org.apache.spark.sql.graft.UnicodeNormalize]]. */
  def unicode_normalize(text: Column, form: String): Column =
    org.apache.spark.sql.graft.UnicodeNormColumns.unicodeNormalize(text, form)

  /** Mojibake (UTF-8-as-cp1252 damage) repair of provably
    * round-tripping non-ASCII runs, up to 3 passes — see
    * [[org.apache.spark.sql.graft.MojibakeRepair]]. */
  def mojibake_repair(text: Column): Column =
    org.apache.spark.sql.graft.MojibakeColumns.mojibakeRepair(text)

  /** How many non-ASCII runs [[mojibake_repair]] changes — see
    * [[org.apache.spark.sql.graft.MojibakeRepairCount]]. */
  def mojibake_repair_count(text: Column): Column =
    org.apache.spark.sql.graft.MojibakeColumns.mojibakeRepairCount(text)
}
