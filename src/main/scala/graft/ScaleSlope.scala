package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Dev harness: scaling-slope evidence for the dedup family. The
  * 100 TB posture of these operators is argued from plan shapes
  * (bounded state, no all-pairs, map-side combines); this measures the
  * actual growth: the sf0.1 corpus is self-replicated 4× and 16× and
  * each operator benched at 1×/4×/16×. ~Linear wall-time growth (at
  * fixed parallelism) is the pass signal; superlinear growth means a
  * hidden quadratic term.
  *
  * Replication construction: replica `r` of a document gets
  * `doc_id*k + r` and every TOKEN suffixed with `qq<r>` (r = 0 keeps
  * the original text). Cross-replica token spaces are disjoint, so the
  * duplicate/near-duplicate structure of each replica equals the
  * original corpus's — output sizes and join selectivities scale
  * LINEARLY with k. Naive replication (same text k×) would instead
  * make every document a member of a k-clique of identical copies —
  * a k² pair blow-up that measures the workload's growth, not the
  * engine's.
  *
  * Also records whether AQE's skew-join split engaged in the 16× span
  * dedup (the zipfian-gram skew exposure named in VERDICT r7).
  *
  * {{{ SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScaleSlope [laps]" }}}
  */
object ScaleSlope {
  def main(args: Array[String]): Unit = {
    val laps = args.headOption.map(_.toInt).getOrElse(2)
    // Optional second arg: run only ops whose name contains it (dev
    // loop for a single new row without re-measuring the matrix).
    val opFilter = args.drop(1).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus(32))

    val scratch = java.nio.file.Files
      .createTempDirectory("graft_slope").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path, Paths}
      import java.util.Comparator
      if (Files.exists(Paths.get(scratch)))
        Files.walk(Paths.get(scratch)).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
    }))

    def corpusPath(k: Int): String = s"$scratch/x$k/documents.parquet"
    def writeReplicated(k: Int): Unit = {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      base
        .select(col("doc_id"), col("text"), col("source"),
          explode(sequence(lit(0), lit(k - 1))).as("r"))
        .select((col("doc_id") * k + col("r")).as("doc_id"),
          when(col("r") === 0, col("text")).otherwise(
            array_join(transform(graft.functions.word_tokens(col("text")),
              t => concat(t, lit("qq"), col("r").cast("string"))), " "))
            .as("text"),
          // Replicas keep their source label: per-replica token spaces
          // are disjoint, so each replica contributes the original
          // corpus's cross-source overlap structure — the audit's
          // outputs scale linearly in k.
          col("source"))
        .repartition(32)
        .write.mode("overwrite").parquet(corpusPath(k))
    }

    // Embedding replication for the semantic-dedup row: replica `r`
    // gets vec_id*k + r and its vector CIRCULARLY SHIFTED by r*13
    // positions (r = 0 keeps the original). A shift is an orthogonal
    // transform applied uniformly within a replica, so every replica
    // reproduces the original corpus's pairwise-cosine structure —
    // near-dup counts and cluster shapes scale linearly in k — while
    // cross-replica cosines decorrelate (same reason the token salt
    // avoids the k-clique blow-up above).
    def embPath(k: Int): String = s"$scratch/xe$k/embeddings.parquet"
    def writeReplicatedEmb(k: Int): Unit =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(k - 1))).as("r"))
        .select((col("vec_id") * k + col("r")).as("vec_id"),
          expr("""transform(sequence(0, size(embedding) - 1),
                 |  i -> element_at(embedding,
                 |    CAST((i + r * 13) % size(embedding) AS INT) + 1))"""
            .stripMargin).as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(embPath(k))

    // Char-gram replication: per-replica disjoint CODEPOINT-gram
    // spaces. Replica r > 0 substitutes every whitespace run with one
    // replica-unique letter, so any 8-gram spanning a token boundary
    // (nearly all of them — tokens here are 3-6 chars) carries the
    // salt; within a replica the substitution is uniform, so the
    // original corpus's near-dup gram-overlap structure is preserved.
    def charPath(k: Int): String = s"$scratch/xc$k/documents.parquet"
    def writeReplicatedChar(k: Int): Unit =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(k - 1))).as("r"))
        .select((col("doc_id") * k + col("r")).as("doc_id"),
          when(col("r") === 0, col("text")).otherwise(
            regexp_replace(col("text"), lit("\\s+"),
              substring(lit("abcdefghijklmnop"), col("r") + 1, lit(1))))
            .as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(charPath(k))

    val ks = Seq(1, 4, 16)
    ks.foreach(writeReplicated)
    ks.foreach(writeReplicatedEmb)
    ks.foreach(writeReplicatedChar)
    def corpus(k: Int): DataFrame = spark.read.parquet(corpusPath(k))
    def embCorpus(k: Int): DataFrame = spark.read.parquet(embPath(k))
    def charCorpus(k: Int): DataFrame = spark.read.parquet(charPath(k))

    // WET shard replication for the shard-axis row: the k× corpus
    // written as 2k equal gzip shards — constant bytes PER SHARD, so
    // the read measures per-file parallelism, not per-task growth.
    // Written here (setup), so the timed op is the READ alone.
    def wetPath(k: Int): String = s"$scratch/wet_x$k"
    ks.foreach { k =>
      graft.sources.Wet.writeWet(
        corpus(k).repartition(2 * k)
          .select(
            concat(lit("http://graft.test/doc/"), col("doc_id")).as("uri"),
            lit("2026-01-01T00:00:00Z").as("date"), col("text")),
        wetPath(k))
    }

    def rmrf(p: String): Unit = {
      import java.nio.file.{Files, Path, Paths}
      import java.util.Comparator
      if (Files.exists(Paths.get(p)))
        Files.walk(Paths.get(p)).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
    }

    // Synthesized crawl pages for the link-family rows: the gate's
    // OWN fixture (SparkEntry.linkGraphPages) with k-scaled moduli,
    // so the slope rows can never drift from what the oracle pins.
    def slopeLinkPages(df: DataFrame, k: Int): DataFrame =
      SparkEntry.linkGraphPages(df, k)

    // Each op at its gate parameters; eval sets keyed on the ORIGINAL
    // id (doc_id div k) so their size also scales linearly.
    val ops: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "text_span_dedup" -> ((df, _) => Dedup.duplicatedSpans(df, 5)),
      "text_line_dedup" -> ((df, _) => Dedup.dedupLines(df)),
      "dedup_minhash" -> ((df, _) => Dedup.minhashLshPairs(df, 3, 64, 16, 0.8)),
      "curation_pipeline" -> ((df, k) => Curation.pipeline(
        df, df.filter(col("doc_id") / k < 10),
        shingleN = 3, jaccard = 0.8, maxShingleDf = 10, decontamN = 5,
        minTokens = 25, maxTokens = 1000,
        maxTopGramFrac = 0.09, maxDupGramFrac = 0.09)),
      "dedup_incremental" -> ((df, k) => {
        val dir = s"$scratch/idx_$k"
        rmrf(dir)
        Dedup.saveDedupIndex(df, dir, 3, 64, 16)
        Dedup.dedupAgainstIndex(
          df.select((col("doc_id") + 100000000L).as("doc_id"), col("text")),
          dir, 0.8, 3, 64, 16)
      }),
      // Round-11: the FULL rolling-ingest cycle at the gate's shape —
      // index two thirds, probe batch A, append A's survivors, probe
      // batch B against the grown index. The heaviest bench row
      // (VERDICT r10 Next #4) previously had no slope evidence; every
      // stage is bucket-keyed, so the cycle should scale ~linearly in
      // the corpus (all of index, batches, and deltas grow with k).
      "dedup_incremental_append" -> ((df, k) => {
        val dir = s"$scratch/app_$k"
        rmrf(dir)
        val base = df.filter(col("doc_id") % 3 =!= 0)
        Dedup.saveDedupIndex(base, dir, 3, 64, 16)
        val batchA = df.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
        val matchedA = Dedup.dedupAgainstIndex(batchA, dir, 0.8, 3, 64, 16)
        val survivors = batchA.join(
          matchedA.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti")
        Dedup.appendToDedupIndex(survivors, dir, 3, 64, 16)
        Dedup.dedupAgainstIndex(
          df.filter(col("doc_id") % 3 === 1 || col("doc_id") % 6 === 0)
            .select((col("doc_id") + 200000000L).as("doc_id"), col("text")),
          dir, 0.8, 3, 64, 16)
      }),
      // Round-11: the char-gram pair family at gate parameters, over
      // the CHAR-SALTED replica corpus (see charCorpus below): the
      // word-token salt leaves intra-token char grams shared across
      // replicas, so gram document-frequency would grow with k — a
      // HARDER workload per unit data, not the engine's slope
      // (measured: slope 12.8 and an 8 GB-driver broadcast OOM under
      // the word-salted corpus, both artifacts of cross-replica gram
      // heat). Substituting each replica's whitespace with a
      // replica-unique character restores near-disjoint per-replica
      // gram spaces (only grams inside ≥8-char tokens stay shared —
      // a handful, absorbed by the df cap), the same invariant the
      // token salt provides the word-gram rows.
      "dedup_ngram_char" -> ((_, k) =>
        Dedup.ngramJaccardPairs(charCorpus(k), 8, 0.8, maxShingleDf = 10,
          shingler = Shingler.Char)),
      // Round-11: kNN propagation on the SEED-SET axis (VERDICT r10
      // Next #1) — the corpus is fixed at 1× while the labeled seed
      // set grows 1×/4×/16×. Work is corpus×seeds (linear in S) and,
      // with the bounded top-k fold, per-row state is O(topK) at every
      // S — the exact axis the old collect_list spelling blew up on
      // (O(S) per-row buffers). Labels are derived (vec_id mod 4):
      // the slope does not depend on label content.
      "emb_knn_label_seed_axis" -> ((_, k) => {
        def lbl(df: DataFrame): DataFrame =
          df.withColumn("label", pmod(col("vec_id"), lit(4L)).cast("int"))
        Labels.knnPropagate(lbl(embCorpus(1)), lbl(embCorpus(k)), 5)
      }),
      // Round-12: the WET shard axis (VERDICT r11 Next #5) — the
      // per-file parallelism claim measured, not asserted. gzip is
      // unsplittable, so the reader's scale story is "one task per
      // shard, parallel ACROSS shards": with constant bytes per shard
      // and shard count 2k ≤ cores, reading 16× the bytes should be
      // near-FLAT in wall time with linear record counts; a
      // superlinear slope would mean per-file work serializes.
      "wet_shard_axis" -> ((_, k) =>
        graft.sources.Wet.readWet(spark, wetPath(k))),
      // Round-12: the link-graph family on the GRAPH axis — moduli
      // scale with k, so domains, edges, AND page count all grow ~k
      // (a fixed domain set would leave the rank loop constant-size
      // and measure only the extraction). curation_link_graph is
      // extraction + resolution + the one count shuffle;
      // curation_domain_rank adds the 3-iteration fixed-point loop
      // over the (k-growing) materialized graph.
      "curation_link_graph" -> ((df, k) =>
        Domains.outlinkDomainEdges(slopeLinkPages(df, k),
          col("url"), col("html"))),
      "curation_domain_rank" -> ((df, k) =>
        Domains.pageRankFixedPoint(
          Domains.outlinkDomainEdges(slopeLinkPages(df, k),
            col("url"), col("html")), iterations = 3)),
      // Round-13: politeness on the URL axis — hosts (5k) AND urls
      // (corpus rows) both grow ~k, so the cold half (one parse per
      // host) and the hot half (one decision per URL off the host
      // join) are both on the measured axis.
      "curation_robots" -> ((df, k) => {
        val urls = df.select(col("doc_id"),
          concat(lit("http://www.site"), col("doc_id") % (5 * k),
            lit("-example.org/"),
            when(col("doc_id") % 2 === 0, lit("private/"))
              .otherwise(lit("public/")),
            col("doc_id")).as("url"))
        val hosts = urls.select(Domains.host(col("url")).as("host"))
          .distinct()
          .withColumn("body", lit("User-agent: *\nDisallow: /private/\n" +
            "Allow: /private/public/\nDisallow: /*.pdf$\n"))
        // hosts is .distinct() — unique by construction, so skip the
        // duplicate-host guard and keep the benched plan on the
        // pinned zero-extra-shuffle shape.
        Robots.decisions(urls, col("url"), hosts, "graftbot",
          assumeUniqueHosts = true)
      }),
      // Round-13: phrase search on the corpus axis — the scan and the
      // map-side vocabulary filter grow ~k while candidates stay
      // bounded (replica tokens are qq-salted, so only replica 0 can
      // match): the 100 TB shape is exactly "corpus grows, phrase-hit
      // volume doesn't".
      "text_phrase_search" -> ((df, _) =>
        TextAnalysis.phraseSearch(df, Seq(
          "batch batch", "key order", "slow fast",
          "quantum flux capacitor"))),
      // Round-13: anchor-text profile on the GRAPH axis (same
      // k-scaled link fixture as the edge/rank rows).
      "curation_anchor_text" -> ((df, k) =>
        Domains.anchorTermsByDomain(slopeLinkPages(df, k),
          col("url"), col("html"), k = 10)),
      // Round-13: containment pairs on the corpus axis — replica
      // token spaces are disjoint, so pair counts scale ~k and the
      // distinct-gram self-join's candidate volume stays linear.
      "dedup_containment" -> ((df, _) =>
        Dedup.ngramContainmentPairs(df, 3, 0.8)),
      // Round-14: param mining on the URL axis — 4 URL variants per
      // doc and 5k domains both grow ~k while the param vocabulary
      // stays constant; the two countDistinct aggregations must stay
      // linear in the exploded (url, param) volume.
      "curation_param_mining" -> ((df, k) => {
        val id = col("doc_id")
        def v(utm: String, page: Int) = df.select(
          concat(lit("http://www.site"), id % (5 * k),
            lit("-example.org/p/"), id,
            lit(s"?utm_source=$utm&page=$page")).as("url"),
          (if (page == 0) md5(col("text"))
           else md5(concat(col("text"), lit("p1")))).as("fp"))
        Domains.mineTrackingParams(
          v("news", 0).unionAll(v("mail", 0))
            .unionAll(v("news", 1)).unionAll(v("mail", 1)),
          col("url"), col("fp"))
      }),
      // Round-14: frontier scheduling on the URL axis — urls AND
      // hosts (5k) grow ~k, so per-host queue length stays ~constant:
      // the window shuffle's partition sizes must not grow with the
      // corpus.
      "curation_frontier_schedule" -> ((df, k) => {
        val id = col("doc_id")
        val urls = df.select(id,
          concat(lit("http://www.site"), id % (5 * k),
            lit("-example.org/p/"), id).as("url"))
        val robots = urls
          .select(Domains.host(col("url")).as("host")).distinct()
          .withColumn("body",
            lit("User-agent: *\nCrawl-delay: 2.5\n"))
        Robots.scheduleFrontier(urls, col("url"), col("doc_id"),
          robots, "graftbot", assumeUniqueHosts = true)
      }),
      // Round-14 additions: the quality-rule batteries (zero-shuffle
      // projections — the slope IS the scan-speed claim) and the
      // recrawl scheduler (url-keyed window + groupBy on ONE shared
      // exchange; urls grow with the corpus, history depth stays 1–4).
      "text_c4_filter" -> ((df, _) => {
        val id = col("doc_id")
        TextAnalysis.c4Filter(df.select(id, concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("Short line"),
          lit("Please enable JavaScript to continue viewing."),
          concat(lit("This generated sentence number "), id,
            lit(" contains plenty of words.")),
          when(id % 11 === 0, lit("function f() { return 0; }"))
            .otherwise(
              lit("Yet another well formed line of prose ends cleanly.")))
          .as("text")))
      }),
      "text_gopher_quality" -> ((df, _) =>
        TextAnalysis.gopherQuality(df.select(col("doc_id"),
          concat(col("text"), lit(" and that was all of it.")).as("text")))),
      "text_line_repetition" -> ((df, _) => {
        val id = col("doc_id")
        TextAnalysis.lineRepetitionStats(df.select(id, concat_ws("\n",
          col("text"),
          lit("A repeated boilerplate footer line."),
          when(id % 3 === 0, lit("A repeated boilerplate footer line."))
            .otherwise(concat(lit("Unique line "), id, lit(" one."))))
          .as("text")))
      }),
      "curation_recrawl" -> ((df, _) => {
        val id = col("doc_id")
        val hist = df
          .select(id,
            explode(sequence(lit(0), (id % 4).cast("int"))).as("i"))
          .select(
            concat(lit("http://site"), id % 50, lit(".example.com/p/"), id)
              .as("url"),
            (lit(1700000000000L) + id * 1000 + col("i") * lit(86400000L))
              .as("fetch_ts"),
            md5(concat(lit("c"), id, lit("_"),
              expr("CAST((doc_id*31 + i) DIV 3 AS LONG)")))
              .as("content_md5"))
        Robots.recrawlSchedule(hist, col("url"), col("fetch_ts"),
          col("content_md5"))
      }),
      // Round-8 additions: trainer + encoder (driver merge loop is
      // vocab-capped, distributed pass corpus-sized), the tf/df family,
      // and the S-bounded-fan-out source audit.
      "text_bpe_encode" -> ((df, _) => {
        val merges = TextAnalysis.bpeTrain(df, numMerges = 200)
        df.select(col("doc_id"),
          md5(concat_ws("", graft.functions.bpe_encode(col("text"), merges)))
            .as("roundtrip_md5"))
      }),
      "text_tfidf" -> ((df, _) => TextAnalysis.tfidf(df, k = 5)),
      // Sketch family: wall time should track the token volume (one
      // scan each) while sketch state stays fixed — KMV buffers are
      // k longs per source at every replication, the CMS matrix d×w.
      // Replication grows the vocabulary ~k× (disjoint token spaces),
      // so the KMV __all__ estimate must grow with it.
      "profile_distinct_kmv" -> ((df, _) =>
        Profiling.distinctKmv(
          df.select(col("source"),
            explode(graft.functions.word_tokens(col("text"))).as("tk")),
          col("tk"), col("source"), k = 64)),
      "profile_heavy_cms" -> ((df, _) =>
        Profiling.heavyCms(df, d = 3, w = 512, k = 20)),
      "profile_hist_quantiles" -> ((df, _) =>
        Profiling.histQuantiles(
          df.select(col("source"),
            size(graft.functions.word_tokens(col("text"))).as("n_tokens")),
          col("n_tokens"), col("source"), binWidth = 16L, bins = 128)),
      "profile_source_overlap" -> ((df, _) => Profiling.sourceOverlap(df, 3)),
      "text_sentence_dedup" -> ((df, _) => Dedup.dedupSentences(df)),
      "text_novelty" -> ((df, _) => TextAnalysis.noveltyScores(df, 3)),
      // The distributed trainer (r10 windowed iteration: per-iteration
      // cost = ONE scan of the cached feature frame + a dim-bounded
      // shuffle, no residual join of any kind; 4 iterations keep the
      // 16x cell honest about the data-dependent part) and the
      // native-model LM scorer (model build + one zero-shuffle probe
      // pass; the salted replicas grow the trigram model linearly but
      // keep it under the broadcast gate, so the 100 TB-shaped native
      // path is what's measured).
      "text_classifier_train" -> ((df, _) => TextAnalysis.classifierTrain(
        df.withColumn("label", pmod(col("doc_id"), lit(2)).cast("int")),
        "label", dim = 256, iters = 4)),
      "text_lm_score" -> ((df, _) => TextAnalysis.lmScore(df)),
      // Round-10: the cross-split leakage audit — the pair machinery's
      // slope plus two keyed equi-joins against the (tiny) leak frame.
      // Replica token spaces are disjoint, so pair counts scale
      // linearly and the join sides stay proportional.
      "curation_split_leakage" -> ((df, _) => Curation.splitLeakage(
        df,
        Sampling.splitAssign(df, col("doc_id"),
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), "s1")
          .select(col("doc_id"), col("split")),
        shingleN = 3, jaccard = 0.8, maxShingleDf = 10)),
      // Round-10: the bucketed-prefix-sum ROC at gate shape. The
      // salted replicas hash to fresh feature buckets, so the DISTINCT
      // margin count grows with the corpus — exactly the axis the old
      // single-window plan would funnel through one task (this row
      // exists to show the bucketed plan's slope instead).
      "text_classifier_roc" -> ((df, _) => {
        val weights = (0 until 64).map(i => ((i * 37) % 101 - 50) / 1000.0)
        val scored = TextAnalysis.classifierScore(df, weights, bias = 0.0,
            wordNgrams = 2)
          .withColumn("margin", when(col("n_grams") > 0,
            col("sum_w") / col("n_grams")).otherwise(lit(0.0)))
        val lab = df.select(col("doc_id"),
          array_contains(graft.functions.word_tokens(col("text")), "spark")
            .cast("int").as("label"))
        TextAnalysis.rocCurve(scored.join(lab, "doc_id"), "margin", "label")
      }),
      // Round-10: CCNet perplexity terciles — lmScore + the bucketed
      // competition-rank chain. Salted replica trigrams shift every
      // replica's avg_p values, so the DISTINCT-score frame grows with
      // the corpus — exactly the axis a single RANK() window would
      // funnel through one task; this row measures the chained
      // per-bucket plan instead.
      "text_ppl_buckets" -> ((df, _) =>
        TextAnalysis.pplBuckets(df, tiles = 3, perSource = false,
          fanout = 64)),
      // Round-10 wave 3: lexical corpus divergence — the salted
      // replicas grow BOTH sides' gram vocabularies linearly, so this
      // measures the full-outer gram join + decimal aggregation slope.
      "profile_vocab_divergence" -> ((df, _) =>
        Profiling.vocabDivergence(
          df.filter(col("source") === "src0"),
          df.filter(col("source") =!= "src0"), n = 1)),
      // Round-10: SemDeDup end-to-end (IVF train + assign + within-
      // cluster verdicts). Cluster count is a MODEL CONSTANT — the
      // centroid table is a k×dim driver artifact, and per-row
      // assignment costs O(k·dim), so growing k with the corpus makes
      // train+assign N·k superlinear (measured: slope_16x 67.8 with
      // nClusters = 16k — the trap, recorded in PERF_r10). Data growth
      // is instead absorbed by the sub-split cap: clusters fatten
      // linearly but every pair task stays ≤ cap², so total pair work
      // is N·cap — the linear engine path measured here.
      "dedup_semantic" -> ((_, k) => {
        val idx = Similarity.buildIvfIndex(embCorpus(k), nClusters = 16)
        Similarity.semanticDedup(idx, 0.4, maxClusterSize = 125L)
      }),
      // Round-10: semantic decontamination at the deployment shape —
      // the eval suite is a FIXED artifact (replica 0's every-20th
      // vector: vec_id % 20k == 0 ⇔ original % 20 == 0 and r == 0)
      // while the corpus grows 16×, so this measures the broadcast-
      // matrix probe's zero-shuffle scan slope. Eval growing WITH the
      // corpus would instead measure N·E — quadratic in the scale
      // factor and not the operator's real-world axis.
      "decontam_semantic" -> ((_, k) => {
        val emb = embCorpus(k)
        Decontamination.flagContaminatedSemantic(emb,
          emb.filter(pmod(col("vec_id"), lit(20L * k)) === 0), 0.4)
      }))

    def time(mk: () => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = mk().queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    Bench.calibLap(); Bench.calibLap()
    val c0 = Bench.calibLap()

    val opsRun = opFilter match {
      case Some(f) => ops.filter(_._1.contains(f))
      case None => ops
    }

    // Warm-up at 1x, then per-op: all scales measured back to back so
    // within-op ratios share steal conditions as much as possible.
    opsRun.foreach { case (_, fn) => time(() => fn(corpus(1), 1)) }
    val cells = opsRun.map { case (name, fn) =>
      val perK = ks.map { k =>
        val lapTimes = (0 until laps).map(_ => time(() => fn(corpus(k), k)))
        k -> (lapTimes.map(_._1).min, lapTimes.head._2,
          lapTimes.map(_._1))
      }
      name -> perK
    }

    // AQE skew evidence on the 16x span dedup: run once, read the
    // final adaptive plan for skew-split shuffle reads. (Skipped when
    // an op filter narrows the run — the span plan isn't in play.)
    val skewEngaged = if (opFilter.isEmpty) {
      val qe = Dedup.duplicatedSpans(corpus(16), 5).queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.toString
      finalPlan.contains("skewed=true") ||
        finalPlan.toLowerCase.contains("skew")
    } else false

    val c1 = Bench.calibLap()
    def fmtArr(xs: Seq[Double]): String =
      xs.map(v => f"$v%.3f").mkString("[", ",", "]")
    val opsJson = cells.map { case (name, perK) =>
      val inner = perK.map { case (k, (mn, rows, lapsK)) =>
        f""""x$k":{"sec_min":$mn%.3f,"rows":$rows,"laps":${fmtArr(lapsK)}}"""
      }.mkString(",")
      val s1 = perK.find(_._1 == 1).get._2._1
      val s16 = perK.find(_._1 == 16).get._2._1
      f""""$name":{$inner,"slope_16x":${s16 / s1}%.2f}"""
    }.mkString(",")
    println(s"""{"metric":"scale_slope","laps_per_cell":$laps,$opsJson,""" +
      s""""span_dedup_16x_aqe_skew":$skewEngaged,""" +
      f""""calib_ratio":${math.min(c0, c1) / Bench.CalibRefSec}%.3f}""")
    spark.stop()
  }
}
