package perfbench

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a module's public function. `name` is
  * `<module>.<function>`; spans of one run share `runId`.
  */
final class Span(val id: Int, val parent: Int, val name: String, val runId: String,
    val startMs: Long, val startNs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def module: String = name.takeWhile(_ != '.')
  def durationS: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
}

/** In-memory span recorder with the engine counters folded into the
  * innermost open span:
  *   - jobs, tasks, executor_cpu_ms, gc_ms, shuffle_write_bytes and
  *     spill_bytes from a SparkListener, attributed through a local
  *     property set around each call (Spark hands it to every job the
  *     call starts, on any thread);
  *   - planning_ms (analysis + optimizer + physical planning) from a
  *     QueryExecutionListener, attributed by the planning start time;
  *   - codegen_ms from Spark's CodegenMetrics compile-time histogram.
  * Spans nest on the calling thread only; the benchmark is sequential.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  @volatile private var open: Span = null
  // read by the listener thread while the calling thread adds spans
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  private val callbackNs = new java.util.concurrent.atomic.AtomicLong()

  /** Time spent inside the tracer's own callbacks: its direct overhead. */
  def callbackS: Double = callbackNs.get() / 1e9

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      id.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        s.add("tasks", 1)
        s.add("executor_cpu_ms", m.executorCpuTime / 1e6)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = timed {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) planning.synchronized {
        planning += ((phases.values.map(_.startTimeMs).min, phases.values.map(_.durationMs).sum.toDouble))
      }
    }
  }

  private val codegen = new CompileTimeTap(ms => timed {
    val o = open
    if (o != null) o.add("codegen_ms", ms)
  })

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegen.install()
  }

  /** Stops recording and folds the queued planning events into spans. */
  def stop(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    codegen.uninstall()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    planning.synchronized {
      planning.foreach { case (t, ms) => innermostAt(t).foreach(_.add("planning_ms", ms)) }
    }
  }

  private def innermostAt(tMs: Long): Option[Span] =
    spans.filter(s => s.startMs <= tMs && (s.endMs < 0 || tMs <= s.endMs)).lastOption

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, runId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    open = s
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      open = stack.headOption.orNull
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Span duration minus the time covered by its child spans. */
  def selfS(s: Span): Double =
    s.durationS - spans.filter(_.parent == s.id).map(_.durationS).sum

  def toJson: String = spans.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run_id":"${s.runId}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"duration_s":${s.durationS},""" +
      s""""self_s":${selfS(s)},"counters":{$cs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val EngineCounters: Seq[String] = Seq("jobs", "tasks", "planning_ms", "codegen_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")
}

/** Taps Spark's codegen compile-time histogram: the histogram keeps only
  * a sample of its values, so its reservoir is wrapped to see every
  * compile (milliseconds, as Spark records them) as it happens.
  */
final class CompileTimeTap(onCompile: Double => Unit) {
  private val field = classOf[Histogram].getDeclaredField("reservoir")
  field.setAccessible(true)
  private val hist = CodegenMetrics.METRIC_COMPILATION_TIME
  private val original = field.get(hist).asInstanceOf[Reservoir]

  def install(): Unit = field.set(hist, new Reservoir {
    def size(): Int = original.size()
    def update(v: Long): Unit = { original.update(v); onCompile(v.toDouble) }
    def getSnapshot: Snapshot = original.getSnapshot
  })

  def uninstall(): Unit = field.set(hist, original)
}
