package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.cep.Metrics.RuleRow
import graft.parse.Parsers
import graft.streaming.{DynamicRules, RuleBook, StreamingEngine}

/** One running instance of the production streaming topology
  * (`CepRunner dynamic`): JSON metric lines from a memory source the
  * benchmark feeds, through `Parsers.parseMetrics` and
  * [[StreamingEngine.startOnePassDynamic]], into [[BenchSink]]. Each
  * `add` is one source block; the harness remembers every block's
  * events, due times and the rule book its micro-batch ran under, so the
  * reference fold can replay them. */
final class StreamHarness(spark: SparkSession, dir: String, val seed: Long,
    initialRules: Seq[RuleRow], cores: Int) {

  private val lines = MemoryStream[String](spark, cores)(Encoders.STRING)

  val book = new RuleBook
  book.applyChanges(initialRules)
  val ruleDir = s"$dir/rules"

  private val engine = new StreamingEngine(spark,
    () => Parsers.parseMetrics(lines.toDF().select(col("value").as("line"))), book,
    StreamingEngine.SinkConfig(format = classOf[BenchSinkProvider].getName,
      outputMode = "append", checkpointRoot = Some(s"$dir/ckpt")))

  private val query: StreamingQuery = engine.startOnePassDynamic(ruleDir)

  /** Blocks added so far: events, due times (ns), active rules. */
  val blocks = mutable.ArrayBuffer.empty[RefFold.Batch]
  private var nextIdx = 0L
  var upserts = 0
  var publishNs = 0L

  /** The next `n` events of the stream, rendered as JSON lines. */
  def take(n: Int): (Array[Gen.Event], Seq[String]) = {
    val evs = Gen.events(seed, nextIdx, n)
    nextIdx += n
    (evs, evs.map(Gen.jsonLine).toSeq)
  }

  /** Add one block; `due` are the events' due times. */
  def add(evs: Array[Gen.Event], rendered: Seq[String], due: Array[Long]): Unit = {
    blocks += RefFold.Batch(evs.toIndexedSeq, due.toIndexedSeq, book.activeRules)
    lines.addData(rendered)
    ()
  }

  def await(): Unit = query.processAllAvailable()

  /** Apply `changes` to the book and publish the new snapshot, the
    * control path of `attachRuleStreamDynamic`. */
  def publish(changes: Seq[RuleRow]): Unit = {
    val t0 = System.nanoTime()
    book.applyChanges(changes)
    DynamicRules.persist(spark, ruleDir, book.version, book.activeRules)
    publishNs += System.nanoTime() - t0
    upserts += 1
  }

  /** Push a far-future sentinel event (group "flush", matching every
    * rule) so the watermark passes every real window, and wait until the
    * windows it closes have reached the sink: `processAllAvailable`
    * returns only after the no-data batch the watermark move triggers. */
  def flush(): Unit = {
    val e = Gen.Event(-1L, Gen.T0 + nextIdx * Gen.StepMs + 3600000L,
      Vector("t_host" -> "flush", "t_dc" -> "flush"), Vector("cpu" -> 1L, "mem" -> 1L), Gen.Ok)
    lines.addData(Seq(Gen.jsonLine(e)))
    await()
  }

  def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

  /** The micro-batches as the engine ran them: source blocks grouped by
    * each progress's offset range (the sentinel block excluded). */
  def microBatches: Seq[RefFold.Batch] = {
    def off(s: String): Int = if (s == null) -1 else s.trim.toInt
    progress.filter(_.numInputRows > 0).flatMap { p =>
      val src = p.sources.head
      val from = off(src.startOffset) + 1
      val to = math.min(off(src.endOffset), blocks.size - 1)
      if (from > to) None
      else {
        val bs = blocks.slice(from, to + 1)
        Some(RefFold.Batch(bs.flatMap(_.events).toIndexedSeq, bs.flatMap(_.due).toIndexedSeq,
          bs.last.rules))
      }
    }
  }

  def stop(): Unit = engine.shutdown()
}
