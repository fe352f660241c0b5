package perfbench

import java.util.concurrent.atomic.DoubleAdder
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSucceeded}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters, summed from any thread. */
final class Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def snapshot: Map[String, Double] =
    m.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Spans around public calls, kept in memory. A span's self time is its
  * wall time minus the time of the spans nested directly inside it on the
  * same thread.
  */
final class Spans {
  private final class Open(val name: String, val t0: Long) { var child = 0L }
  private val stack = ThreadLocal.withInitial[mutable.Stack[Open]](() => mutable.Stack.empty)
  private val done = new ConcurrentHashMap[String, Array[Long]]() // count, total ns, self ns

  def apply[T](name: String)(body: => T): T = {
    val s = stack.get()
    val open = new Open(name, System.nanoTime())
    s.push(open)
    try body
    finally {
      val dt = System.nanoTime() - open.t0
      s.pop()
      s.headOption.foreach(_.child += dt)
      val acc = done.computeIfAbsent(name, _ => new Array[Long](3))
      acc.synchronized {
        acc(0) += 1; acc(1) += dt; acc(2) += dt - open.child
      }
    }
  }

  /** name -> (count, total ms, self ms) */
  def summary: Map[String, (Long, Double, Double)] =
    done.asScala.map { case (k, a) =>
      k -> a.synchronized((a(0), a(1) / 1e6, a(2) / 1e6))
    }.toMap
}

/** The traced run's instrumentation, registered on one session through
  * Spark's public listener APIs: scheduler and task metrics, Catalyst
  * phase times from each query's `QueryPlanningTracker`, codegen counts and
  * compile time, streaming progress, and JVM garbage collection.
  */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  val spans = new Spans
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.add("scheduler.jobs", 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      counters.add("scheduler.stages", 1)
      stageSubmitted.remove(e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("scheduler.tasks", 1)
      Option(stageSubmitted.get(e.stageId)).foreach { t =>
        counters.add("scheduler.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t))
      }
      if (e.reason != TaskSucceeded) counters.add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        counters.add("exec.task_run_ms", m.executorRunTime)
        counters.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        counters.add("exec.input_bytes", m.inputMetrics.bytesRead)
        counters.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        counters.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        counters.add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => counters.add(s"catalyst.${p}_ms", s.durationMs))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      counters.add("streaming.batches", 1)
      Option(p.durationMs.get("triggerExecution")).foreach(v => counters.add("streaming.batch_ms", v.doubleValue))
      p.stateOperators.foreach { s =>
        counters.add("streaming.state_commit_ms", s.commitTimeMs)
        counters.add("streaming.state_rows", s.numRowsTotal)
      }
    }
  }

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gc0, compiles0, compileNs0 = 0L
  private var start = 0L

  def begin(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    gc0 = gcMs
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    start = System.nanoTime()
  }

  /** Stops recording and returns every counter. Listener events arrive
    * asynchronously, so this waits until the counters stop changing.
    */
  def end(): Map[String, Double] = {
    val wallMs = (System.nanoTime() - start) / 1e6
    var last = counters.snapshot
    var settled = false
    val deadline = System.nanoTime() + 3000000000L
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = counters.snapshot
      settled = now == last
      last = now
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    counters.add("exec.gc_ms", gcMs - gc0)
    counters.add("codegen.compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    counters.add("codegen.compile_ms", (CodeGenerator.compileTime - compileNs0) / 1e6)
    counters.add("trace.wall_ms", wallMs)
    counters.snapshot
  }
}
