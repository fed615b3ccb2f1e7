package perfbench

import java.util.SplittableRandom
import graft.cep.Metrics.RuleRow

/** Seeded input generators. Every input of a run is a pure function of
  * the workload seed (and an event's index in its stream), so the same
  * seed gives byte-identical inputs whatever the timing of the run.
  * The program under test only ever sees what these produce. */
object Gen {

  /** Event time of stream index 0: an hour boundary, so every window
    * grid used by the rule books is aligned to it. */
  val T0: Long = 1650556800000L

  /** A reproducible generator for item `i` of stream `stream` under
    * `seed` (SplitMix-style mixing, so neighbouring indexes are
    * uncorrelated). */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + i))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------------------
  // Metric events
  // ---------------------------------------------------------------------------

  /** How an event reaches the engine. Only `Ok` and `Late` lines parse;
    * `Late` events are far enough behind the stream that every window
    * they touch has closed, so the streaming engine drops them. */
  sealed trait Kind
  case object Ok extends Kind
  case object Late extends Kind
  case object Malformed extends Kind

  /** One metric event. `tags` and `metrics` keep their generation order
    * so the JSON rendering is stable. */
  final case class Event(idx: Long, evMs: Long, tags: Vector[(String, String)],
      metrics: Vector[(String, Long)], kind: Kind)

  /** The metric stream of `alerts_json` and `backfill_batch`: 64 hosts
    * over 4 data centres (5% of events lack `t_dc`), `cpu` 0..100 and a
    * 31-bit `mem` present on 90% of events; 1% malformed lines and 1%
    * events late by `LateByMs`. Neither occurs among the first
    * `CleanPrefix` events, the first block of a streaming set-up, so
    * the first micro-batch (which runs without a watermark) holds
    * none. */
  val Hosts = 64
  val MalformedFrac = 0.01
  val LateFrac = 0.01
  val CleanPrefix = 1250L

  /** Event time between consecutive events: 150x compressed at the
    * open loop's 1k events/s, so minute windows close every 0.4 s. */
  val StepMs = 150L

  /** How far behind its position a late event is: far more than a
    * micro-batch spans plus the widest window, so every window it
    * touches has closed. */
  val LateByMs: Long = 60 * 60000L

  /** Event `idx` of the stream under `seed`. */
  def event(seed: Long, idx: Long): Event = {
    val r = rng(seed, 1L, idx)
    val at = T0 + idx * StepMs
    val g = r.nextInt(Hosts)
    val cpu = r.nextLong(101L)
    val u = r.nextDouble()
    val kind =
      if (idx < CleanPrefix) Ok
      else if (u < MalformedFrac) Malformed
      else if (u < MalformedFrac + LateFrac) Late
      else Ok
    val tags =
      if (r.nextDouble() < 0.05) Vector("t_host" -> s"h$g")
      else Vector("t_host" -> s"h$g", "t_dc" -> s"dc${g % 4}")
    val mets =
      if (r.nextDouble() < 0.9) Vector("cpu" -> cpu, "mem" -> r.nextLong(1L << 31))
      else Vector("cpu" -> cpu)
    Event(idx, if (kind == Late) at - LateByMs else at, tags, mets, kind)
  }

  def events(seed: Long, from: Long, n: Int): Array[Event] =
    Array.tabulate(n)(i => event(seed, from + i))

  /** The JSON line for an event. Malformed events take one of the
    * parser's three rejection paths: a truncated object, a
    * non-integer measure, or a missing `eventTime`. */
  def jsonLine(e: Event): String = {
    val bad = if (e.kind == Malformed) (e.idx % 3).toInt else -1
    val b = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (b.length > 1) b.append(',')
      b.append('"').append(k).append("\":").append(v)
    }
    if (bad != 2) field("eventTime", e.evMs.toString)
    e.tags.foreach { case (k, v) => field(k, "\"" + v + "\"") }
    e.metrics.foreach { case (k, v) =>
      field(k, if (bad == 1 && k == "cpu") s"$v.5" else v.toString)
    }
    if (bad != 0) b.append('}')
    b.toString
  }

  // ---------------------------------------------------------------------------
  // Rule books
  // ---------------------------------------------------------------------------

  private def rule(id: Int, wt: String, w: Int, s: Int, keys: Seq[String],
      agg: String, field: String, cmp: String, limit: Double,
      state: String = "ACTIVE"): RuleRow =
    RuleRow(id, state, wt, w, s, keys, agg, field, cmp, limit)

  /** The rule book of `alerts_json`: 8 ACTIVE rules, SUM/AVG/MIN/MAX
    * over tumbling and sliding windows (sliding rules with a slide that
    * does not divide the width), thresholds that pass most but not all
    * windows; plus a PAUSED twin of each (id + 10, same shape) for the
    * upsert schedule. */
  def alertsBook(seed: Long): Seq[RuleRow] = {
    val r = rng(seed, 11L, 0L)
    val active = Seq(
      rule(1, "tumbling", 1, 0, Seq("t_host"), "SUM", "cpu", ">", 400 + r.nextInt(200)),
      rule(2, "tumbling", 2, 0, Seq("t_host"), "AVG", "cpu", ">=", 45 + r.nextInt(5)),
      rule(3, "sliding", 3, 1, Seq("t_host"), "MIN", "mem", "<", (1L << 27).toDouble),
      rule(4, "sliding", 2, 1, Seq("t_dc"), "MAX", "cpu", ">", 99),
      rule(5, "sliding", 5, 2, Seq("t_host", "t_dc"), "SUM", "mem", ">", (1L << 33).toDouble),
      rule(6, "sliding", 4, 3, Seq("t_dc"), "AVG", "mem", "!=", 0),
      rule(7, "tumbling", 1, 0, Seq("t_dc", "t_host"), "MIN", "cpu", "<=", 5 + r.nextInt(10)),
      rule(8, "tumbling", 3, 0, Seq("t_host"), "MAX", "cpu", ">=", 97))
    active ++ active.map(x => x.copy(rule_id = x.rule_id + 10, rule_state = "PAUSE"))
  }

  /** Upsert `step` of the `alerts_json` schedule: one rule hands over to
    * its twin (the ACTIVE one of the pair pauses, the other activates),
    * one `applyChanges`, one new snapshot version. The active book keeps
    * its shape, so every block does the same work; rule parameters never
    * change, only which rules match, so the emitted windows do not depend
    * on micro-batch timing. */
  def upsert(seed: Long, step: Int, book: Map[Int, RuleRow]): Seq[RuleRow] = {
    val k = 1 + rng(seed, 14L, step.toLong).nextInt(8)
    val (on, off) = if (book(k).rule_state == "ACTIVE") (k, k + 10) else (k + 10, k)
    Seq(book(on).copy(rule_state = "PAUSE"), book(off).copy(rule_state = "ACTIVE"))
  }

  /** The sliding-heavy 64-rule book of `backfill_batch`: 40 sliding
    * rules (several with a slide that does not divide the width), 16
    * tumbling and 8 global, keyed on host, data centre, both, or
    * nothing. */
  def backfillBook(seed: Long): Seq[RuleRow] = {
    val keySets = Seq(Seq("t_host"), Seq("t_dc"), Seq("t_host", "t_dc"), Seq.empty)
    val aggs = Seq("SUM", "AVG", "MIN", "MAX")
    (1 to 64).map { i =>
      val r = rng(seed, 12L, i.toLong)
      val agg = aggs(i % 4)
      val field = if (i % 3 == 0) "mem" else "cpu"
      val keys = keySets(r.nextInt(keySets.size))
      val (wt, w, s) =
        if (i <= 40) {
          val w = 2 + r.nextInt(5)
          ("sliding", w, 1 + r.nextInt(w - 1) % 3)
        } else if (i <= 56) ("tumbling", 1 + r.nextInt(4), 0)
        else ("global", 0, 0)
      val limit = (agg, field) match {
        case (_, "mem") => (r.nextLong(1L << 30)).toDouble
        case ("SUM", _) => 100.0 * r.nextInt(20)
        case _ => r.nextInt(100).toDouble
      }
      rule(i, wt, w, s, keys, agg, field, if (r.nextBoolean()) ">=" else "<", limit)
    }
  }

  // ---------------------------------------------------------------------------
  // Document corpus
  // ---------------------------------------------------------------------------

  /** One corpus document. `family` >= 0 marks a planted exact copy of
    * document `family`; `contaminates` marks a document that embeds an
    * eval document's text; `short` marks one below the quality gate's
    * token minimum. */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  final case class Corpus(docs: Vector[Doc], copies: Map[Long, Long],
      contaminated: Set[Long], short: Set[Long], evalIds: Set[Long])

  /** A document corpus in the shape of the repository's test corpus
    * (word-salad text over a small technical vocabulary, 8 sources, 3
    * languages), widened with disjoint per-replica vocabularies the
    * way the repository's scale runs replicate it, so the shingle
    * index grows with the corpus. Planted structure the check relies
    * on: 3% exact copies of earlier documents, 1% documents embedding
    * the text of one of the 10 eval documents, 4% documents too short
    * for the quality gate. */
  def corpus(seed: Long, nDocs: Int): Corpus = {
    val base = Vector("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
      "filter", "query", "big", "key", "window", "row", "table", "stream",
      "merge", "data", "vector", "join", "shuffle", "index", "plan", "cache",
      "state", "event", "rule", "time", "count", "node", "task", "stage", "job")
    val replicas = 16
    def word(r: SplittableRandom, rep: Int): String = {
      val w = base(r.nextInt(base.size))
      if (rep == 0) w else w + ('a' + rep % 26).toChar + ('a' + rep / 26).toChar
    }
    val docs = Vector.newBuilder[Doc]
    val texts = new Array[String](nDocs)
    var copies = Map.empty[Long, Long]
    var contaminated = Set.empty[Long]
    var short = Set.empty[Long]
    val langs = Vector("en", "de", "zh")
    (0 until nDocs).foreach { i =>
      val r = rng(seed, 21L, i.toLong)
      val rep = r.nextInt(replicas)
      val u = r.nextDouble()
      val text =
        if (i >= 100 && u < 0.03 && !short.contains(i / 2L)) {
          val src = copies.getOrElse(i / 2L, i / 2L)
          copies += i.toLong -> src
          texts(src.toInt)
        } else if (i >= 100 && u < 0.04) {
          contaminated += i.toLong
          val pre = Seq.fill(20)(word(r, rep)).mkString(" ")
          pre + " " + texts(r.nextInt(10))
        } else if (i >= 10 && u < 0.08) {
          short += i.toLong
          Seq.fill(3 + r.nextInt(15))(word(r, rep)).mkString(" ")
        } else Seq.fill(30 + r.nextInt(90))(word(r, rep)).mkString(" ")
      texts(i) = text
      docs += Doc(i.toLong, text, langs(r.nextInt(3)), s"src${r.nextInt(8)}",
        text.length.toLong)
    }
    Corpus(docs.result(), copies, contaminated, short, (0L until 10L).toSet)
  }
}
