package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into the program: wall seconds and the CPU seconds the whole
  * JVM spent meanwhile. A failed call keeps its times. A call that is
  * accounted for by the operations it contains (a freeze call, whose
  * files are counted one by one) is not `counted`. */
final case class Op(kind: String, name: String, seconds: Double,
    ok: Boolean, error: String, cpu: Double = 0.0, counted: Boolean = true)

final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** Engine counters, charged to the span that was open when Spark
  * delivered the event. Spans drain the listener bus before they close,
  * so every event of a span's jobs lands inside it. */
final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  @volatile var layer: String = "untimed"
  private val counts = mutable.Map[(String, String), Double]()
  private val samples = mutable.Map[(String, String), mutable.ArrayBuffer[Double]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  def add(k: String, v: Double, l: String = layer): Unit = synchronized {
    counts((l, k)) = counts.getOrElse((l, k), 0.0) + v
  }
  def sample(k: String, v: Double, l: String = layer): Unit = synchronized {
    samples.getOrElseUpdate((l, k), mutable.ArrayBuffer()) += v
  }
  /** sum of counter `k` over every layer that `in` accepts */
  def total(k: String, in: String => Boolean): Double = synchronized {
    counts.collect { case ((l, c), v) if c == k && in(l) => v }.sum
  }
  def samplesOf(k: String, in: String => Boolean): Seq[Double] = synchronized {
    samples.collect { case ((l, c), v) if c == k && in(l) => v.toSeq }
      .flatten.toSeq
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(t => sample("job_ms", (e.time - t).toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      if (f == "command" || f.startsWith("save") || f.startsWith("insert"))
        sample("write_s", ns / 1e9)
      val nodes = planNodes(qe.executedPlan)
      add("smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]).toDouble)
      add("bhj", nodes.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble)
      add("broadcast_bytes", nodes.collect { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L).toDouble }.sum)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      d.get("triggerExecution").foreach { ms =>
        add("batches", 1)
        sample("batch_ms", ms.toDouble)
      }
    }
  })

  def drain(): Unit = ListenerBusBridge.drain(spark.sparkContext)
}

/** What one run records: timed operations, spans (traced runs only),
  * end-to-end metrics and per-layer metrics. */
final class Run(val spark: SparkSession, val trace: Option[Trace]) {
  val ops = mutable.ArrayBuffer[Op]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  /** a span around a call into one layer; a no-op when untraced */
  def span[T](name: String)(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      val prev = t.layer
      t.layer = name
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        t.drain()
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        t.layer = prev
      }
  }

  /** time one operation inside its own span; a failure is recorded with
    * the time it took, and the caller gets None */
  def op[T](kind: String, name: String, counted: Boolean = true)(body: => T): (Double, Option[T]) =
    span(s"$kind:$name") {
      val t0 = System.nanoTime()
      val c0 = Run.cpuNs()
      def record(ok: Boolean, error: String): Double = {
        val s = (System.nanoTime() - t0) / 1e9
        ops += Op(kind, name, s, ok, error, (Run.cpuNs() - c0) / 1e9, counted)
        s
      }
      try {
        val v = body
        (record(ok = true, ""), Some(v))
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            .replaceAll("\\s+", " ").take(300)
          System.err.println(s"[perfbench] $kind $name failed: $msg")
          (record(ok = false, msg), None)
      }
    }

  /** CPU seconds of the timed operations, per round */
  def cpuPerRound(rounds: Int): Double = ops.map(_.cpu).sum / rounds
}

object Run {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM: time stolen by the host is not in it */
  def cpuNs(): Long = os.getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
