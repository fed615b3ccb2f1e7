package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's recorder. Spans (name, start, end, parent, shared
  * operation id) are kept in memory and written once at the end;
  * counters come from Spark's public listener events. A span's
  * operation id is also the Spark job group of the jobs the benchmark
  * thread runs inside it. */
final class Trace(spark: SparkSession) {

  final case class Span(id: Int, name: String, parent: Int, op: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Spans open on the benchmark thread, innermost first: a new span's
    * parent is the innermost open one. */
  private var open: List[Int] = Nil

  /** Time `body` as a span named `name`; the span's job group is `op`,
    * so Spark jobs the call runs are attributed to it. */
  def span[T](name: String, op: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(op, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      synchronized { spans += Span(id, name, parent, op, t0, t1) }
    }
  }

  /** Durations of the spans named `name`, ns. */
  def spanNs(name: String): Seq[Long] = synchronized {
    spans.toSeq.filter(_.name == name).map(s => s.endNs - s.startNs)
  }

  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stages += 1
        for (s <- e.stageInfo.submissionTime; f <- e.stageInfo.completionTime)
          stageSpans += ((s, f))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Spark counters are only recorded while attached, so the run can
    * alternate traced and untraced work and compare the two. Detaching
    * first waits for the events already posted. */
  def attach(): Unit = spark.sparkContext.addSparkListener(listener)
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** The `spark.*` layer metrics over everything recorded while
    * attached. `spark.driver_gap_ms` is `wallNs` (the traced calls' wall
    * time) not covered by any stage. */
  def sparkMetrics(wallNs: Long): Map[String, Double] = synchronized {
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_run_ms" -> runMs.toDouble,
      "spark.task_cpu_ms" -> cpuNs / 1e6,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.driver_gap_ms" ->
        math.max(0.0, wallNs / 1e6 - unionMs(stageSpans.toSeq.sortBy(_._1))))
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    if (iv.isEmpty) return 0L
    var total = 0L
    var curS = iv.head._1
    var curE = iv.head._1
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def spansJson: Seq[String] = synchronized {
    spans.toSeq.map(s => Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "parent" -> Json.num(s.parent), "op" -> Json.str(s.op),
      "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs))))
  }
}

object Trace {
  /** Total collection time of every garbage collector so far, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since the last reset, MiB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
}
