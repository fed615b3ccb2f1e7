package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** The benchmark's own streaming sink, passed to the engine by class
  * name as `SinkConfig.format`. Every window row it receives is stamped
  * with the benchmark clock on arrival, the end of its alert latency. */
final class BenchSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "perfbench"
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = new BenchSink
}

final class BenchSink extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val rows = data.collect()
    val now = System.nanoTime()
    rows.foreach { r =>
      BenchSink.received.add(RefFold.Row(r.getInt(0), r.getString(1),
        Some(r.getLong(2)), Some(r.getLong(3)), r.getDouble(4), now))
    }
    BenchSink.writeNs.addAndGet(System.nanoTime() - now)
  }
}

/** What the sink has received in this JVM. `lastDue` of a received row
  * holds its arrival time. */
object BenchSink {
  val received = new ConcurrentLinkedQueue[RefFold.Row]()
  val writeNs = new AtomicLong(0L)

  def drain(): Vector[RefFold.Row] = {
    val out = Vector.newBuilder[RefFold.Row]
    var r = received.poll()
    while (r != null) { out += r; r = received.poll() }
    out.result()
  }
}
