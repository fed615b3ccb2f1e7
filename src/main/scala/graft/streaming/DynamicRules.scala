package graft.streaming

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import scala.collection.concurrent.TrieMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import graft.cep.Metrics.RuleRow
import graft.streaming.StatefulCep.CepEvent

/** Zero-downtime rule distribution for the one-pass stateful mode —
  * the rebuild of the reference's broadcast-state rule swap
  * (reference: PartitionEngine.java:54-63: a rule upsert takes effect
  * on the very next event, with NO job restart).
  *
  * Spark has no updatable broadcast variable and a stream-static join
  * freezes its static side's file listing at plan time, so the dynamic
  * rule book travels OUT OF BAND, the way reference data is refreshed
  * in production Spark streams:
  *
  *  - the control path ([[persist]]) writes the ACTIVE-rule snapshot
  *    as a tiny versioned file (`rules-v<version>.bin`, KBs of control
  *    data) under a shared directory — local FS, HDFS, or S3 via the
  *    Hadoop FileSystem API — atomically (write tmp, rename);
  *  - every fan-out task ([[fanOut]]) starts by listing that directory
  *    (one cheap metadata call against a dir holding a handful of
  *    files) and, only when the max version moved, re-reads the
  *    snapshot and indexes it into a [[Matcher]] held in a
  *    per-executor-JVM cache. So a rule change is picked up at the
  *    next micro-batch's task launch with no query restart, no
  *    replanning, and no per-event cost.
  *
  * The [[Matcher]] is the one metric × rule match of the engine:
  * `CepQuery.planAll` fans out through it too, over its collected
  * book, so the batch and stream engines cannot disagree on which
  * rules an event matches or which group it lands in.
  *
  * The fanned-out events carry the full rule parameters (the
  * [[CepEvent]] contract), and the downstream stateful operator's
  * state schema is rule-independent — so the ONLY thing that changes
  * when a rule is upserted is which events fan out. Open windows of a
  * paused/deleted rule keep their state and their timers, and still
  * fire exactly once when the watermark passes them (spec-pinned).
  *
  * Freshness contract (documented deviation from the reference's
  * per-event broadcast ordering): tasks observe the newest snapshot
  * available when they LAUNCH, so a rule change lands on a micro-batch
  * boundary, and two tasks of one batch racing a concurrent persist
  * may briefly disagree — the same window of ambiguity as Flink's
  * broadcast stream, whose rule/data interleaving is also unordered.
  */
object DynamicRules {

  private val SnapshotName = "rules-v([0-9]{20})\\.bin".r

  private def fileName(version: Long): String = f"rules-v$version%020d.bin"

  /** How many published versions [[persist]] retains. Readers take the
    * max, so only the newest is live; the trailing window exists purely
    * so a reader that listed the directory JUST before a publish still
    * finds its file. A long-running book would otherwise grow one tiny
    * file per rule change, forever. */
  private val KeepVersions = 8

  /** Write the rule snapshot for `version` atomically (idempotent: a
    * snapshot that already exists is left alone — versions come from
    * [[RuleBook.version]], which only moves forward), then drop
    * versions older than the retention window. Driver-side control
    * path; KBs of data. */
  def persist(spark: SparkSession, dir: String, version: Long,
      rows: Seq[RuleRow]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(d)
    val fin = new Path(d, fileName(version))
    if (!fs.exists(fin)) {
      val tmp = new Path(d, fileName(version) + ".tmp")
      val out = new ObjectOutputStream(fs.create(tmp, true))
      try out.writeObject(rows.toArray) finally out.close()
      if (!fs.rename(tmp, fin) && !fs.exists(fin))
        throw new IOException(s"cannot publish rule snapshot $fin")
    }
    fs.listStatus(d).foreach { st =>
      st.getPath.getName match {
        case SnapshotName(v) if v.toLong < version - KeepVersions + 1 =>
          fs.delete(st.getPath, false); ()
        case _ => ()
      }
    }
  }

  /** Executor-side matcher view of one ACTIVE rule. */
  private[streaming] final case class Compiled(
      ruleId: Int, keys: Array[String], aggField: String,
      windowType: String, wMs: Long, sMs: Long,
      aggType: String, cmpOp: String, limit: Double)

  private def compile(r: RuleRow): Compiled = Compiled(
    r.rule_id, r.grouping_key_names.toArray, r.agg_field,
    r.window_type, r.window_minutes.toLong * 60000L,
    r.window_slide_minute.toLong * 60000L, r.agg_type, r.cmp_op, r.limit)

  /** The one rule matcher of both CEP engines, [[fanOut]] and
    * `CepQuery.planAll`, over the ACTIVE rules of `rows`. A metric
    * matches a rule when every grouping key of the rule is in its tag
    * map (Rule.java:63-66); each match with a non-null measure is one
    * [[CepEvent]], whose `group_id` is the reference's
    * `ruleId_tagVal1_tagVal2…` (PartitionEngine.java:72-81, null tag
    * values skipped). A rule whose key list is null or holds a null
    * can match no tag map and is left out.
    *
    * Each rule is indexed under its RAREST grouping key across the
    * book (the key the fewest rules group by, ties lexicographic), so
    * a metric probes the index once per tag key, and only the rules
    * found there and the keyless ones pay the full key check. A rule
    * sits under one key and a map's keys are distinct, so no (metric,
    * rule) pair comes out twice. */
  private[graft] final class Matcher(rows: Seq[RuleRow]) extends Serializable {
    private val (keyless, byPivot) = {
      val book = rows.filter(r => r.rule_state == graft.model.RuleState.Active.name &&
          r.grouping_key_names != null && !r.grouping_key_names.contains(null))
        .sortBy(_.rule_id).map(compile)
      val freq = book.flatMap(_.keys).groupMapReduce(identity)(_ => 1)(_ + _)
      val (none, keyed) = book.partition(_.keys.isEmpty)
      (none.toArray, keyed.groupBy(_.keys.minBy(k => (freq(k), k)))
        .map { case (k, rs) => k -> rs.toArray })
    }

    def events(m: MetricRow): Iterator[CepEvent] =
      if (m.eventTime == null || m.tags == null || m.metrics == null) Iterator.empty
      else (keyless.iterator ++ m.tags.keysIterator.flatMap(k =>
          byPivot.get(k).fold(Iterator.empty[Compiled])(_.iterator)))
        .filter(_.keys.forall(m.tags.contains))
        .flatMap { r =>
          m.metrics.get(r.aggField).flatMap(Option(_)).map { v =>
            val gid = (Iterator(r.ruleId.toString) ++
              r.keys.iterator.flatMap(k => Option(m.tags(k)))).mkString("_")
            CepEvent(r.ruleId, gid, m.eventTime, m.eventTime.getTime, v.doubleValue,
              r.windowType, r.wMs, r.sMs, r.aggType, r.cmpOp, r.limit)
          }
        }
  }

  private val NoRules = new Matcher(Nil)

  /** version → the snapshot's [[Matcher]], one entry per rule
    * directory, shared by every task in this executor JVM. */
  private val cache = TrieMap.empty[String, (Long, Matcher)]

  /** The newest published snapshot, re-read and re-indexed only when
    * the directory's max version moved. Called once per task. */
  private[streaming] def currentRules(dir: String,
      conf: Configuration): Matcher = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    // A directory that doesn't exist yet (fanOut before any persist —
    // fanOut is public API) is an empty book, same as an empty rule
    // frame in CepQuery.planAll, not a task failure.
    if (!fs.exists(d)) return NoRules
    val latest = fs.listStatus(d).foldLeft(-1L) { (acc, st) =>
      st.getPath.getName match {
        case SnapshotName(v) => math.max(acc, v.toLong)
        case _ => acc
      }
    }
    if (latest < 0) return NoRules
    cache.get(dir) match {
      case Some((v, rules)) if v == latest => rules
      case _ =>
        val in = new ObjectInputStream(fs.open(new Path(d, fileName(latest))))
        val rows = try in.readObject().asInstanceOf[Array[RuleRow]]
          finally in.close()
        val rules = new Matcher(rows.toSeq)
        cache.put(dir, (latest, rules))
        rules
    }
  }

  /** Typed mirror of the canonical metric schema (Metrics.scala).
    * `metrics` values ride as boxed doubles: a half-malformed event can
    * carry a null measure, which must contribute nothing — exactly the
    * declarative plan's null-ignoring aggregates. */
  final case class MetricRow(
      eventTime: java.sql.Timestamp,
      tags: Map[String, String],
      metrics: Map[String, java.lang.Double])

  /** Derived once: deriving a product encoder runs Scala reflection,
    * which every plan build would pay again. */
  private lazy val metricEnc = Encoders.product[MetricRow]
  private lazy val eventEnc = Encoders.product[CepEvent]

  /** Each metric of `metricFrame` fanned out to its rules by the
    * [[Matcher]] that `rules` returns, called once per task. */
  private[graft] def matched(metricFrame: DataFrame)(rules: () => Matcher): DataFrame =
    metricFrame.select("eventTime", "tags", "metrics").as(metricEnc)
      .mapPartitions { it =>
        val m = rules()
        it.flatMap(m.events)
      }(eventEnc)
      .toDF()

  /** The one way rules reach [[StatefulCep.run]]: each task matches
    * its metrics against the newest snapshot under `ruleDir`
    * ([[currentRules]]), through the same [[Matcher]] as
    * `CepQuery.planAll`, and the events are watermarked on
    * `eventTime`. */
  def fanOut(metricFrame: DataFrame, ruleDir: String,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = metricFrame.sparkSession
    // The driver's Hadoop conf (with every `spark.hadoop.*` key, e.g.
    // object-store credentials) is broadcast once per plan, so each
    // executor deserializes it once rather than every task of every
    // micro-batch re-reading the whole conf from its closure.
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    matched(metricFrame)(() => currentRules(ruleDir, conf.value.value))
      .withWatermark("eventTime", watermarkDelay)
  }
}
