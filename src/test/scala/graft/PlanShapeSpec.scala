package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the physical plans of every gate query
  * are built (not run) against sf0.001 and checked for the shapes that
  * must not silently regress at 100 TB:
  *
  *  - no CartesianProduct anywhere;
  *  - BroadcastNestedLoopJoin only where it is the declared design:
  *    sim_topk (broadcast bounded query vectors against the corpus),
  *    dedup_embedding (the exact all-pairs verification baseline; the
  *    LSH twin is the scale path). The CEP rule fan-out is no join at
  *    all: it is one MapPartitions through the rule matcher, below
  *    the aggregation, and planAll's only join is the broadcast
  *    join-back of rule parameters above it;
  *  - every one-pass/static CEP plan has exactly one aggregation
  *    shuffle (the hash aggregation keyed like the reference's
  *    keyBy(groupId)); the stateless parse queries have none. This pins
  *    both the single-shuffle promise AND that first-event alignment's
  *    window function reuses the aggregation's partitioning instead of
  *    adding an exchange. A spread of a narrow scan is counted apart
  *    and allowed only on the scan, and only for the parse queries and
  *    planAll;
  *  - only the df-capped near-dup candidate self-join is a
  *    ShuffledHashJoin: its non-spilling build side is bounded by the
  *    cap, which the uncapped branch does not have.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] =
    SparkEntry.gates.map { g =>
      g.name -> g.build(spark, sfDir).queryExecution.executedPlan.toString
    }.toMap

  // sim_topk / dedup_embedding: broadcast bounded-build designs (see
  // class doc). profile_hot_keys: a ONE-ROW broadcast scalar (corpus
  // total) cross-joined onto k winner rows — bounded by construction,
  // not a data-path nested loop. tfidf/bm25: the same one-row
  // corpus-stats broadcast (N, avgdl). text_lm_score left this set in
  // round 9: the native broadcast-model path ships the corpus total as
  // a literal, so the plan has no join at all.
  // classifier eval/roc: the same bounded shape — a ONE-ROW totals
  // frame (confusion counts / P+N) cross-joined onto the AUC scalar
  // or the distinct-score curve.
  // weighted sample/repeat: one-row (sum, count) stats broadcast onto
  // the projection — the same bounded shape.
  // label errors: the one-row class-mean stats frame broadcast back
  // over the scored docs — the same bounded shape.
  // contrastive mining / knn propagation: the bounded anchor batch /
  // labeled seed set broadcast against the corpus scan under a
  // non-equi (self-exclusion) condition — sim_topk's declared shape.
  private val declaredBnlj =
    Set("sim_topk", "emb_contrastive", "emb_knn_label",
      "dedup_embedding", "profile_hot_keys",
      "text_tfidf", "text_tfidf_prod", "text_bm25_prod", "text_source_terms",
      "text_classifier_eval", "text_classifier_roc",
      "text_classifier_threshold", "text_label_errors",
      "curation_weighted_sample", "curation_weighted_repeat",
      // Round-10 rank/profiling family: each crossJoins ONE broadcast
      // one-row (or fanout-row) stats/total frame — bounded builds by
      // construction (scoreRanks' global stats row, heavyGrams' corpus
      // count, the cutoff artifact's groupless aggregate).
      "curation_rank_fusion", "profile_heavy_grams",
      "text_ppl_buckets", "text_ppl_cutoffs", "sim_cluster_stats",
      "profile_vocab_divergence", "profile_vocab_movers",
      "sim_embedding_health",
      // r11: the temperature plan crossJoins its one-row weight-sum.
      "curation_mixture_temp")

  test("the CEP rule fan-out joins nothing below the aggregation") {
    // The fan-out is one MapPartitions (the rule matcher) over the
    // scan or its spread; the one join is the broadcast join-back of
    // rule parameters on rule_id, above the aggregation exchange. The
    // tree string prints a node's subtree after it, so the text from
    // the aggregation exchange on is its input, plus the join-back's
    // broadcast build side (a local relation, no join).
    for (q <- Seq("cep_multi_rule", "cep_multi_rule_first_aligned")) {
      val plan = plans(q)
      val (above, below) = plan.splitAt(plan.indexOf("Exchange hashpartitioning"))
      assert(above.nonEmpty && below.nonEmpty, s"$q: no aggregation exchange:\n$plan")
      assert(!below.contains("Join") && below.contains("MapPartitions"),
        s"$q: the fan-out below the aggregation is not one MapPartitions:\n$plan")
      assert("BroadcastHashJoin".r.findAllIn(plan).size == 1 &&
        above.contains("BroadcastHashJoin"),
        s"$q: expected exactly one broadcast join, above the aggregation:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ:\n$plan")
    }
  }

  test("no gate query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("BroadcastNestedLoopJoin appears exactly in the declared bounded-build queries") {
    val actual = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") => n
    }.toSet
    assert(actual == declaredBnlj,
      s"BNLJ set drifted: got $actual, declared $declaredBnlj")
  }

  test("scans are column-pruned (projection reaches the parquet ReadSchema)") {
    def readSchemas(name: String): Seq[String] =
      "ReadSchema: ([^\\n]*)".r.findAllMatchIn(plans(name)).map(_.group(1)).toSeq
    // A 2-column projection must scan 2 columns, not the whole table.
    assert(readSchemas("text_tokens").forall(_.startsWith("struct<doc_id:bigint,text:string>")))
    assert(readSchemas("dedup_exact").forall(_.startsWith("struct<doc_id:bigint,text:string>")))
    assert(readSchemas("sim_topk").forall(_.startsWith("struct<vec_id:bigint,embedding:array<float>>")))
    // Wide tables: the unused columns must not reach the scan.
    assert(readSchemas("tpch_pricing").forall(s =>
      !s.contains("l_comment") && !s.contains("l_shipdate") && !s.contains("l_orderkey")))
    assert(readSchemas("join_topk_revenue").forall(s =>
      !s.contains("l_comment") && !s.contains("o_orderdate") && !s.contains("c_address")))
    // The metric adapter needs ts/event_type/user_id/value — but never
    // event_id, which must be pruned through the tag/measure maps.
    assert(readSchemas("cep_sum_tumbling_gt").forall(!_.contains("event_id")))
  }

  test("per-document text/curation projections plan ZERO exchanges") {
    // These carry the zero-shuffle design claim: per-doc statistics
    // computed by native expressions, never by explode→groupBy (which
    // would shuffle every gram occurrence of a 100 TB corpus). A
    // reintroduced aggregation or join here is an architecture
    // regression, not a tuning choice.
    // The r14 Spread exchange (REPARTITION_BY_NUM, planned only on a
    // narrow test-scale input, absent at scale) is not a data
    // shuffle; the pin counts everything else — and (r15, tightened
    // per ADVICE) the exemption is no longer a blanket pass for the
    // origin: at most ONE spread exchange, sitting directly on the
    // scan side (nothing heavier than projections/filters below it),
    // so an accidental repartition(n, …) mid-pipeline — a genuine
    // full data shuffle — cannot hide behind the tag.
    val zeroShuffle = Seq("text_repetition", "curation_filter",
      "text_quality", "text_tokens", "text_langid", "text_langid_ngram",
      "text_fingerprint", "text_redact", "text_compress_ratio",
      "curation_sample", "curation_split", "curation_mixture",
      "mm_features", "mm_resize", "text_classifier_score")
    for (q <- zeroShuffle) {
      val n = "Exchange [^\n]*".r.findAllIn(plans(q))
        .count(!_.contains("REPARTITION_BY_NUM"))
      assert(n == 0, s"$q plans $n Exchange nodes; expected a pure projection")
      assertSpreadOnScanOnly(q)
    }
  }

  /** The Spread-shape invariant (r15): at most one REPARTITION_BY_NUM
    * exchange, and everything BELOW it is scan-side (no Exchange, no
    * Join, no Aggregate, no Generate — i.e. the spread repartitions
    * raw scanned rows, not mid-pipeline data). */
  private def assertSpreadOnScanOnly(q: String): Unit = {
    val plan = plans(q)
    val spreads = "Exchange [^\n]*REPARTITION_BY_NUM[^\n]*".r
      .findAllIn(plan).size
    assert(spreads <= 1, s"$q plans $spreads spread exchanges; expected <= 1")
    if (spreads == 1) {
      val below = plan.substring(plan.indexOf("REPARTITION_BY_NUM"))
      for (node <- Seq("Exchange hashpartitioning", "Join", "HashAggregate",
          "ObjectHashAggregate", "SortAggregate", "Generate"))
        assert(!below.contains(node),
          s"$q: $node below the spread exchange — the spread is not " +
            s"sitting on the scan:\n$plan")
    }
  }

  test("line-dedup winner selection map-side-combines (skew-safety plan pin)") {
    // The hot-boilerplate-line safety claim is a PLAN property: the
    // first-occurrence winner must be a partial-aggregated min (at most
    // one candidate per distinct line leaves each map task) — never a
    // window, which would colocate and sort every copy of a hot line
    // on one task. A partial_min below the line exchange is the proof;
    // a plan without it is the regression this test exists to catch.
    assert(plans("text_line_dedup").contains("partial_min"),
      s"expected map-side partial_min in:\n${plans("text_line_dedup")}")
    assert(!plans("text_line_dedup").contains("RunningWindowFunction") &&
      !plans("text_line_dedup").contains("Window ["),
      "line dedup must not use a window over the line key")
  }

  test("span dedup: combinable gram aggregate, one sort for both island windows") {
    for (q <- Seq("text_span_dedup", "text_span_cut")) {
      val plan = plans(q)
      // The cross-doc gram test must stay min/max (partial-aggregated:
      // two longs per gram leave each map task) — a countDistinct
      // spelling would shuffle a distinct-set per gram.
      assert(plan.contains("partial_min") && plan.contains("partial_max"),
        s"$q: expected map-side partial min/max gram aggregate in:\n$plan")
      // lag + running-sum islands must share ONE (doc_id, pos) sort;
      // a second Sort means the windows stopped chaining.
      val sorts = "(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r
        .findAllIn(plan).size
      assert(sorts <= 1, s"$q: expected at most one Sort, got $sorts in:\n$plan")
    }
  }

  test("round-12 front-door plans: zero-shuffle HTML extraction + PSL domains, skew-safe URL dedup") {
    // warc_html_extract (native html_blocks + filter/join HOFs) and
    // curation_domains_psl (plan-shipped rule set) are pure
    // projections — a reintroduced shuffle is an architecture
    // regression, not a tuning choice.
    for (q <- Seq("warc_html_extract", "warc_html_meta",
        "curation_domains_psl")) {
      val n = "Exchange".r.findAllIn(plans(q)).size
      assert(n == 0, s"$q plans $n Exchange nodes; expected a pure projection")
    }
    // URL dedup: the keep-one winner is a partial-aggregated
    // min-struct (dedupLines' skew posture — the hottest canonical
    // URL reaches its reducer as one candidate per map task), never a
    // window over the canonical key, and exactly one exchange.
    val p = plans("curation_url_dedup")
    assert(p.contains("partial_min"),
      s"expected map-side partial_min in:\n$p")
    assert(!p.contains("Window ["),
      "URL dedup must not use a window over the canonical key")
    val ex = "Exchange".r.findAllIn(p).size
    assert(ex == 1, s"curation_url_dedup plans $ex Exchange nodes; expected 1")
  }

  test("link-layer plans: zero-shuffle extraction, one-exchange graph, skew-safe canonical dedup") {
    // html_links / canonical / robots extraction are pure projections
    // (native expression + RE2-safe regexps) — zero Exchange.
    for (q <- Seq("warc_html_links", "warc_html_canonical",
        "warc_html_extract_smoothed")) {
      val n = "Exchange".r.findAllIn(plans(q)).size
      assert(n == 0, s"$q plans $n Exchange nodes; expected a pure projection")
    }
    // The domain link graph: extraction + resolution + internal-drop
    // are all projection work; the ONLY data exchange is the
    // (src, dst) count with map-side partial aggregation. A narrow
    // test-scale input additionally plans the r14 Spread exchange
    // (REPARTITION_BY_NUM — absent at scale, where the scan is
    // already wide), which the pin deliberately ignores.
    val g = plans("curation_link_graph")
    val dataExchanges = "Exchange [^\n]*".r.findAllIn(g)
      .count(!_.contains("REPARTITION_BY_NUM"))
    assert(dataExchanges == 1,
      s"curation_link_graph: expected exactly 1 non-spread Exchange in:\n$g")
    assert(g.contains("partial_count"),
      s"expected map-side partial_count in:\n$g")
    // Declared-canonical dedup keeps the keep-one posture of
    // curation_url_dedup: partial-aggregated min-struct winner, no
    // window over the key.
    val c = plans("curation_canonical_dedup")
    assert(c.contains("partial_min"), s"expected partial_min in:\n$c")
    assert(!c.contains("Window ["),
      "canonical dedup must not use a window over the canonical key")
  }

  test("round-13 plans: zero-shuffle projections, broadcast politeness join, map-side combines") {
    // Z-order keys and unicode normalization are pure codegen'd
    // projections — zero Exchange.
    for (q <- Seq("curation_zorder", "text_unicode_nfc")) {
      val n = "Exchange".r.findAllIn(plans(q)).size
      assert(n == 0, s"$q plans $n Exchange nodes; expected a pure projection")
    }
    // The politeness decision: rules parse rides the BUILD side of a
    // broadcast host join (per-host, small); the per-URL decision is
    // projection work after it. The ONLY shuffle allowed is the
    // duplicate-host guard's min-body groupBy on that small build
    // side (ADVICE r13), map-side combined — the corpus side must
    // stay shuffle-free (a second hashpartitioning exchange would be
    // the regression this pin exists to catch).
    val r = plans("curation_robots")
    assert(r.contains("BroadcastHashJoin"),
      s"curation_robots: expected a broadcast host join in:\n$r")
    assert("Exchange hashpartitioning".r.findAllIn(r).size == 1,
      s"curation_robots: exactly one (build-side host-dedup) shuffle expected:\n$r")
    assert(r.contains("partial_min"),
      s"curation_robots: host-dedup must partial-aggregate map-side:\n$r")
    // Phrase search: the phrase table broadcasts; both aggregations
    // (candidate votes, per-doc rollup) partial-aggregate map-side.
    val p = plans("text_phrase_search")
    assert(p.contains("BroadcastExchange"),
      s"text_phrase_search: phrase table must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"text_phrase_search: expected map-side partial counts:\n$p")
    // Anchor terms + containment: count aggregations combine map-side
    // (zipfian term/gram heads pre-combine per task).
    for (q <- Seq("curation_anchor_text", "dedup_containment")) {
      assert(plans(q).contains("partial_count"),
        s"$q: expected map-side partial_count in:\n${plans(q)}")
    }
  }

  test("near-dup verification's selective path is candidate-proportional end to end (ADVICE r11 pin)") {
    // verifyJaccard's broadcast branch: candidates broadcast into the
    // first index join, and the SECOND join's index side semi-
    // restricted to candidate id_b docs before its sort-merge — the
    // corpus-sized index must never shuffle whole (broadcast hints
    // don't propagate up through a Join node). The LeftSemi +
    // SortMergeJoin pair in the gate plan is the drift guard.
    val p = plans("dedup_minhash")
    assert(p.contains("LeftSemi"),
      s"dedup_minhash lost the candidate id_b semi-restriction:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"dedup_minhash verification joins drifted off sort-merge:\n$p")
  }

  test("only the df-capped near-dup candidate self-join takes the SHUFFLE_HASH hint") {
    // A shuffled-hash join holds its build side, one post-shuffle
    // partition, in memory without spilling. The df cap bounds every
    // shingle's rows there by maxShingleDf; without the cap a hot
    // (boilerplate) shingle's every occurrence is one build side, so
    // the uncapped branch keeps the spilling sort-merge join. Broadcast
    // is off while both run: the sf0.001 index is small enough to
    // broadcast, an index at scale is not. The capped branch's
    // candidate join runs inside the checkpoint of its candidates, so
    // every plan a run starts is read from its SQL execution event.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sqlStarts = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    def plansOf(maxShingleDf: Int): String = {
      started.clear()
      SparkTestSession.listening("dedup-hint", sqlStarts)(
        graft.ops.Dedup.ngramJaccardPairs(docs, 3, 0.8, maxShingleDf).count())
      started.toArray.mkString("\n")
    }
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    val (uncapped, capped) = try {
      spark.conf.set(threshold, "-1")
      (plansOf(Int.MaxValue), plansOf(10))
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    assert(uncapped.contains("SortMergeJoin") && !uncapped.contains("ShuffledHashJoin"),
      s"uncapped ngramJaccardPairs: the candidate join is not sort-merge:\n$uncapped")
    assert(capped.contains("ShuffledHashJoin"),
      s"capped ngramJaccardPairs lost its shuffled-hash candidate join:\n$capped")
  }

  test("hotKeys computes its total from the counts frame via AQE exchange reuse (one input pass)") {
    // The share denominator re-aggregates the groupBy output instead of
    // re-scanning the raw input; the two plan branches sit on the same
    // canonical exchange and AQE's stage reuse must fuse them (the
    // static plan shows two scans — only the FINAL adaptive plan
    // proves the single pass, so this pin executes the query).
    import org.apache.spark.sql.functions.col
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val hk = graft.ops.Profiling.hotKeys(ev, col("user_id"), 5)
    val qe = hk.queryExecution
    qe.toRdd.count()
    assert(qe.executedPlan.toString.contains("ReusedExchange"),
      s"hotKeys total branch no longer reuses the counts exchange:\n${qe.executedPlan}")
  }

  test("sourceOverlap's two aggregates share one corpus join via AQE exchange reuse") {
    // gramPairs and docHits both consume the same sh-join-gs subtree;
    // the corpus must be tokenized/shuffled once, with the second
    // consumer reading the reused exchange (final adaptive plan only).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qe = graft.ops.Profiling.sourceOverlap(docs, n = 3).queryExecution
    qe.toRdd.count()
    assert(qe.executedPlan.toString.contains("ReusedExchange"),
      s"sourceOverlap lost the shared-join exchange reuse:\n${qe.executedPlan}")
  }

  test("rolling index append derives every artifact from the batch alone (no base-index scan)") {
    // appendToDedupIndex's 100 TB contract: appending a day's survivors
    // re-scans NOTHING of the accumulated index — its write jobs
    // read only the batch (the sole index read in the append path is
    // the one-row params guard). Since the r14 optimization the three
    // artifacts derive from ONE checkpointed distinct-gram pass over
    // the batch, so the pin is: each artifact frame plans NO parquet
    // scan at all beyond that shared batch-derived checkpoint (its
    // plan reads the checkpoint RDD), and no plan mentions an index
    // artifact directory.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (sh, sig, banded) =
      graft.ops.Dedup.indexArtifactFrames(docs, 3, 64, 16, 64)
    for ((f, nm) <- Seq((sh, "shingles"), (sig, "sigs"), (banded, "bands"))) {
      val plan = f.queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans == 0,
        s"append artifact $nm plans $scans parquet scans (expected the " +
          s"shared batch checkpoint only):\n$plan")
      assert(plan.contains("Scan ExistingRDD"),
        s"append artifact $nm does not read the shared batch " +
          s"checkpoint:\n$plan")
      for (art <- Seq("/shingles", "/sigs", "/bands"))
        assert(!plan.contains(art),
          s"append artifact $nm re-scans the base index ($art):\n$plan")
    }
  }

  test("IVF rolling append derives its delta from the batch alone (no base-corpus scan)") {
    // appendToIvfIndex's 100 TB contract: the delta write reads the
    // batch plus the k×dim centroid model (a plan literal) — never
    // the accumulated assigned/ corpus. Pin: the delta frame plans
    // exactly one parquet scan, and it is the batch table.
    import org.apache.spark.sql.functions.col
    val batch = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val centroids = Array.tabulate(8, 64)((r, i) => (r * 64 + i + 1).toDouble)
    val delta = graft.ops.Similarity.assignToCentroids(batch, centroids)
    val plan = delta.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"IVF append delta plans $scans parquet scans:\n$plan")
    assert(plan.contains("embeddings.parquet"),
      s"IVF append delta does not scan the batch table:\n$plan")
    assert(!plan.contains("/assigned"),
      s"IVF append delta re-scans the base corpus:\n$plan")
  }

  test("bench-only queries produce rows (a silently-empty bench row times nothing)") {
    for (g <- SparkEntry.gates.filter(_.oracle.isEmpty)) {
      assert(g.build(spark, sfDir).count() > 0, s"${g.name} returned no rows at $sfDir")
    }
  }

  test("window/temporal gate plans shuffle minimally") {
    def exchanges(q: String): Int =
      "Exchange hashpartitioning".r.findAllIn(plans(q)).size
    // Sessionize + trailing agg: both window frames share one keyed
    // exchange — a second exchange means the two frames stopped
    // sharing a window spec.
    assert(exchanges("events_sessionize") == 1,
      s"events_sessionize: ${exchanges("events_sessionize")} exchanges")
    assert(exchanges("events_trailing") == 1,
      s"events_trailing: ${exchanges("events_trailing")} exchanges")
    // As-of: ONE exchange for the union window + one for the
    // right-side pre-aggregation — the operator's one-shuffle promise.
    assert(exchanges("join_asof") == 2,
      s"join_asof: ${exchanges("join_asof")} exchanges")
  }

  test("CEP plans: one aggregation shuffle; planAll spreads only on the metric scan") {
    // Every CEP window query has exactly one hash exchange: the
    // aggregation keyed like the reference's keyBy(groupId), which
    // first-event alignment's window function reuses. The parse
    // queries have none. A spread (REPARTITION_BY_NUM, planned only
    // over a narrow batch input) is counted apart:
    //  - the parse queries and planAll (cep_multi_rule*) may carry one,
    //    on the metric scan with no join, generate or aggregate below
    //    it. A narrow input would otherwise run planAll's 1→N fan-out,
    //    window explode and partial aggregation in one task; on a wide
    //    input there is no spread at all;
    //  - planRule's rows go straight from the scan into the
    //    aggregation's map side with no fan-out to spread, so a spread
    //    there would only shuffle the metric stream twice.
    // The pins are about cost, not correctness: SUM/AVG add exact
    // 6-decimal values (limb_sum) and MIN/MAX ignore order, so results do not
    // depend on partitioning (the repartition-invariance spec below).
    val cep = plans.keys.filter(_.startsWith("cep_"))
    for (name <- cep) {
      val n = "Exchange hashpartitioning[^\n]*".r.findAllIn(plans(name))
        .count(!_.contains("REPARTITION_BY_NUM"))
      val expected = if (name.startsWith("cep_parse")) 0 else 1
      assert(n == expected, s"$name: $n shuffle exchanges, expected $expected")
      if (name.startsWith("cep_parse") || name.startsWith("cep_multi_rule"))
        assertSpreadOnScanOnly(name)
      else assert(!plans(name).contains("REPARTITION_BY_NUM"),
        s"$name: a spread exchange appeared upstream of a planRule " +
          s"aggregation — the metric stream would be shuffled twice:\n${plans(name)}")
    }
    assert(cep.count(_.startsWith("cep_multi_rule")) == 2,
      "the planAll gates were renamed; this pin no longer reaches them")
  }

  test("CEP window results are invariant under repartitioning the metric frame (x1, x4, x32; 3 runs)") {
    // The invariant behind the spread pins above: exact 6-decimal sums
    // (limb_sum's long limbs) and order-free MIN/MAX make every window
    // result independent of how the metric rows are partitioned and in
    // which order the aggregation sees them — in both alignments and
    // both plans.
    import graft.cep.{Alignment, CepQuery, Metrics}
    val metrics = Metrics.eventsAsMetrics(SparkEntry.events(spark, sfDir))
    val rules = Metrics.rulesToDF(spark, SparkEntry.flagshipRules)
    val sliding = SparkEntry.cepStaticRules("cep_sum_sliding_nondiv")
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "cep_multi_rule" -> (m => CepQuery.planAll(m, rules)),
      "cep_multi_rule_first_aligned" ->
        (m => CepQuery.planAll(m, rules, Alignment.FirstEvent)),
      "cep_sum_sliding_nondiv" -> (m => CepQuery.planRule(m, sliding)))
    for ((name, plan) <- cases) {
      val gate = SparkEntry.gates.find(_.name == name).get.build(spark, sfDir)
        .collect().toSet
      assert(gate.nonEmpty, s"$name: no rows")
      for (run <- 1 to 3; n <- Seq(1, 4, 32)) {
        val got = plan(metrics.repartition(n)).collect().toSet
        assert(got == gate, s"$name repartitioned x$n (run $run): " +
          s"${(got diff gate).size} rows not in the gate's result, " +
          s"${(gate diff got).size} missing")
      }
    }
  }

  test("AQE skew-join splits the hot-shingle partition at matched thresholds (result-identical)") {
    // PERF_r8's honest negative: at local volumes no partition reaches
    // the production 256 MB skew threshold, so the zipfian story
    // rested on the explicit caps alone. This pin scales the
    // THRESHOLDS to the data instead: with the splitter armed at KB
    // sizes, the uncapped candidate self-join on a corpus with one
    // boilerplate shingle must actually trip OptimizeSkewedJoin
    // (skew=true in the FINAL adaptive plan — only visible after
    // execution), and the split run must return the exact pair set of
    // the unsplit run. Factor 1.2, not the default 5: lz4 shuffle
    // compression flattens the hot partition (constant shingle value
    // compresses far better than the spread of unique shingles), so
    // the COMPRESSED skew ratio is well under the ~5x raw-row ratio —
    // measured: the splitter engages at factor <= 1.1..1.2 here and
    // not at 1.5. At production sizes the same flattening applies,
    // which is exactly why thresholds must be sized to observed
    // map-output bytes, not raw-row intuition.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // One boilerplate unigram shared by every doc (the hot key) plus
      // one unique word per doc: the hot shingle's shuffle partition
      // carries ~5x the rows of the others before compression.
      import spark.implicits._
      val d = (0 until 1200).map(i => (i.toLong, s"boilerplate u$i"))
        .toDF("doc_id", "text")
      def run(skew: Boolean): (String, (Long, Double, Long)) = {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew.toString)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256b")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val pairs = graft.ops.Dedup.ngramJaccardPairs(d, 1, 0.3)
        // Execute THIS queryExecution (collect() would build its own):
        // the skew marker only exists in the final adaptive plan.
        val qe = pairs.queryExecution
        qe.toRdd.count()
        // C(1200,2) pairs — compare exact checksums, not collected rows.
        val sums = pairs.agg(count(lit(1)), round(sum(col("jaccard")), 6),
          sum(col("id_a") * 3 + col("id_b")))
          .as[(Long, Double, Long)].collect().head
        (qe.executedPlan.toString, sums)
      }
      val (splitPlan, splitSums) = run(skew = true)
      val (plainPlan, plainSums) = run(skew = false)
      assert(splitPlan.contains("skew=true"),
        s"skew splitter did not engage at matched thresholds:\n$splitPlan")
      assert(!plainPlan.contains("skew=true"))
      assert(splitSums == plainSums, "skew-split run changed the pair set")
      assert(splitSums._1 == 1200L * 1199 / 2) // every pair: J = 1/3 >= 0.3
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("round-14 plans: scan-speed quality screens, one-exchange recrawl") {
    // The C4/Gopher/line-repetition screens and the SURT/sitemap
    // extractors are the quality battery's scale claim: pure
    // codegen'd projections, zero Exchange. An explode→groupBy
    // spelling sneaking in here would shuffle every line/gram of a
    // 100 TB corpus.
    for (q <- Seq("text_c4_filter", "text_gopher_quality",
        "text_line_repetition", "curation_surt",
        "curation_sitemap_lastmod")) {
      val n = "Exchange".r.findAllIn(plans(q)).size
      assert(n == 0, s"$q plans $n Exchange nodes; expected a pure projection")
    }
    // recrawlSchedule: the window (lag/row_number) and the groupBy
    // share ONE hashpartitioning exchange on url — a second exchange
    // would double the shuffle of a URL-cardinality table.
    val r = plans("curation_recrawl")
    assert("Exchange hashpartitioning".r.findAllIn(r).size == 1,
      s"curation_recrawl: window + groupBy must share one url shuffle:\n$r")
  }

  test("round-14 wave 2 plans: mojibake/code/blocklist/publish-date are pure projections") {
    // Encoding repair, code detection, the blocklist screen, and
    // publish-date extraction all sit on the same one-scan screen as
    // the quality batteries — zero Exchange, whole-stage codegen.
    for (q <- Seq("text_fix_encoding", "text_code_detect",
        "text_blocklist", "warc_publish_date")) {
      val n = "Exchange".r.findAllIn(plans(q)).size
      assert(n == 0, s"$q plans $n Exchange nodes; expected a pure projection")
    }
  }

  test("round-14 sketch family: map-side partials, bounded joins, reused scan") {
    // KMV: the shuffle must carry ≤k-long buffers, i.e. a
    // partial_kmvagg below the exchange — without it every (scope,
    // hash) row crosses the wire and the sketch is pointless.
    assert(plans("profile_distinct_kmv").contains("partial_kmvagg"),
      "KMV aggregation lost its map-side partial")
    // CMS: the probe side joins the d×w sketch as a broadcast HASH
    // join (equi-keys), and the top-k probe cut is
    // TakeOrderedAndProject — the token space is never globally
    // sorted.
    val cms = plans("profile_heavy_cms")
    assert(cms.contains("BroadcastHashJoin"), "CMS probe join not broadcast")
    assert(cms.contains("TakeOrderedAndProject"), "CMS probe cut sorts globally")
    // Histogram: groupBy(scope,bin) + the scope-partitioned window;
    // the final per-scope aggregate must reuse the window's
    // partitioning instead of adding a third exchange.
    val hq = "Exchange".r.findAllIn(plans("profile_hist_quantiles")).size
    assert(hq <= 2, s"profile_hist_quantiles plans $hq Exchanges; expected <= 2")
  }

  test("distinctKmv's __all__ merge reuses the per-scope sketch exchange (one corpus pass)") {
    // The merged row is built FROM the per-source buffers; the final
    // adaptive plan must show the second consumer on a ReusedExchange,
    // not a second tokenize-and-aggregate of the corpus (static plans
    // show two scans — only execution proves the reuse).
    import org.apache.spark.sql.functions.{col, explode}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = docs.select(col("source"),
      explode(graft.functions.word_tokens(col("text"))).as("tk"))
    val qe = graft.ops.Profiling.distinctKmv(toks, col("tk"), col("source"))
      .queryExecution
    qe.toRdd.count()
    assert(qe.executedPlan.toString.contains("ReusedExchange"),
      s"KMV __all__ branch re-scans the corpus:\n${qe.executedPlan}")
  }
}
