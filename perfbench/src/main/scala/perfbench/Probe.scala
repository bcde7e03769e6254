package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in microseconds since the epoch, with nanoTime resolution. */
object Clock {
  private val nano0 = System.nanoTime()
  private val micros0 = System.currentTimeMillis() * 1000L
  def us(): Long = micros0 + (System.nanoTime() - nano0) / 1000L
}

/** JVM counters read through the management beans. */
object Jvm {
  def jitMs(): Long =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .map(_.getUsage.getUsed).sum / 1e6

  /** Generated classes Spark compiled so far (one histogram update per
    * codegen cache miss). */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap in use after full collections: the live data. The second
    * collection runs after Spark's ContextCleaner has dropped the blocks of
    * what the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1e6
  }
}

/** Everything Spark reports on its public listener bus, kept as
  * timestamped records so that it can be attributed to harness spans
  * after the fact instead of draining the bus at every boundary. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  val jobStarts = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile private var events = 0L
  /** Time spent in this listener's handlers: part of the tracing cost. */
  @volatile var costNs = 0L

  private def counted(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    events += 1
    costNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    counted(jobStarts.add(Job(e.jobId, e.time)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    counted(jobEnds.add((e.jobId, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counted {
    val si = e.stageInfo
    val m = si.taskMetrics
    val start = si.submissionTime.getOrElse(0L)
    stages.add(Stage(start, si.completionTime.getOrElse(start), si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  private val planPhases = Set("analysis", "optimization", "planning")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    counted {
      val phases = qe.tracker.phases.filter { case (k, _) => planPhases(k) }.values
      if (phases.nonEmpty)
        plans.add(Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until the asynchronous bus has delivered what is queued: the
    * event count must hold still across consecutive polls (bounded). */
  def drain(): Unit = {
    var seen = -1L; var stable = 0; var waited = 0
    while (stable < 3 && waited < 5000) {
      Thread.sleep(50); waited += 50
      if (events == seen) stable += 1 else { stable = 0; seen = events }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object SparkEvents {
  final case class Stage(startMs: Long, endMs: Long, tasks: Int, runMs: Long,
      cpuNs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class Job(id: Int, startMs: Long)
  final case class Plan(startMs: Long, ms: Long)
}

/** A span of harness time around one call into a layer. `parent` is -1
  * for a root; job spans come from the listener and hang under the
  * innermost harness span that was open when the job started. */
final case class Span(id: Int, name: String, parent: Int, startUs: Long, endUs: Long,
    counters: Seq[(String, Long)] = Nil) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder; written out once, when the run ends. Each
  * span also carries the JIT, GC and codegen counters' change across it. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, Long, Array[Long])]
  private var next = 0
  /** Time spent recording spans: part of the tracing cost. */
  var costNs = 0L

  private def counters(): Array[Long] =
    Array(Jvm.jitMs(), Jvm.gcMs(), Jvm.codegenCompiles())

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val id = next; next += 1
      open = (id, Clock.us(), counters()) :: open
      costNs += System.nanoTime() - t0
      try f
      finally {
        val t1 = System.nanoTime()
        val end = Clock.us()
        val (_, start, c0) = open.head
        open = open.tail
        val c1 = counters()
        done += Span(id, name, open.headOption.map(_._1).getOrElse(-1), start, end,
          Seq("jit_ms", "gc_ms", "codegen_compiles").zip(c1.zip(c0).map { case (a, b) => a - b }))
        costNs += System.nanoTime() - t1
      }
    }

  /** Harness spans plus one child span per Spark job, each under the
    * innermost harness span open at the job's start. */
  def withJobs(ev: SparkEvents): Seq[Span] = {
    val ends = ev.jobEnds.asScala.toMap
    var id = next
    val jobs = ev.jobStarts.asScala.toSeq.flatMap { j =>
      val startUs = j.startMs * 1000L
      val holder = done.filter(s => s.startUs <= startUs && startUs <= s.endUs)
        .sortBy(s => s.endUs - s.startUs).headOption
      holder.map { h =>
        id += 1
        Span(id, s"spark.job${j.id}", h.id, startUs,
          ends.get(j.id).map(_ * 1000L).getOrElse(h.endUs))
      }
    }
    done.toSeq ++ jobs
  }

  /** A span's duration minus the part of it that its children cover. */
  def selfUs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.id -> (s.endUs - s.startUs - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startUs).map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}""" +
        s.counters.map { case (k, v) => s""","$k":$v""" }.mkString + "}"
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length covered by possibly overlapping [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
