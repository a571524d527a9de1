package loadbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory record of one run: timed operations, the spans around each
  * call into an engine module (traced operations only), and the Spark jobs
  * those operations launched. Nothing is written until [[Json.write]] at
  * the end of the run; the analysis lives in `stats.py`.
  *
  * Times are epoch milliseconds as doubles, taken from one monotonic clock
  * anchored once, so spans and the listener's job times (epoch ms from the
  * scheduler) share a time base. */
final class Recorder(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  final case class Op(id: Int, cycle: Int, name: String, kind: String, start: Double,
                      end: Double, ok: Boolean, traced: Boolean, err: String,
                      gcMs: Long, jitMs: Long, extra: Map[String, Double])
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Double, end: Double)
  final case class Job(id: Int, op: Int, start: Double, var end: Double,
                       site: String, var tasks: Int = 0, var taskMs: Long = 0L,
                       var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
                       var spill: Long = 0L)

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private var tracing = false
  @volatile private var currentOp = -1
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var extra = Map.empty[String, Double]

  /** Spark jobs and tasks of traced operations. */
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the call site ("collect at Tables.scala:88") names the final stage
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, currentOp, e.time.toDouble, Double.NaN, site))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long = if (jit.isCompilationTimeMonitoringSupported)
    jit.getTotalCompilationTime else 0L

  /** Peak used heap, sampled every 10 ms by a daemon thread. */
  @volatile var peakHeapBytes = 0L
  private val sampler = new Thread(() => {
    val mem = ManagementFactory.getMemoryMXBean
    try while (true) {
      val u = mem.getHeapMemoryUsage.getUsed
      if (u > peakHeapBytes) peakHeapBytes = u
      Thread.sleep(10)
    } catch { case _: InterruptedException => () }
  }, "loadbench-heap")
  sampler.setDaemon(true)
  sampler.start()
  def stop(): Unit = sampler.interrupt()

  /** Named points of the set-up, for the run record. */
  val marks = ArrayBuffer.empty[(String, Double)]
  def mark(name: String): Unit = marks += (name -> now())

  /** Record a counter on the current operation (summed if repeated). */
  def count(key: String, v: Double): Unit =
    extra = extra.updated(key, extra.getOrElse(key, 0.0) + v)

  /** Run one timed operation of `kind` "read" or "write". `body` returns
    * whether its output checked
    * out; an exception marks the operation failed and the run goes on.
    * A traced operation also records its spans and Spark jobs; the
    * listener bus is drained after the operation's end time is taken. */
  def op(cycle: Int, name: String, kind: String, traced: Boolean)
        (body: => Boolean): Boolean = {
    val id = ops.length
    tracing = traced
    extra = Map.empty
    if (traced) { currentOp = id; sc.addSparkListener(listener) }
    val (g0, j0) = (gcMs(), jitMs())
    val t0 = now()
    val (ok, err) =
      try { val r = body; (r, if (r) "" else "wrong output") }
      catch { case e: Throwable =>
        (false, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .take(300))
      }
    val t1 = now()
    if (traced) {
      org.apache.spark.loadbench.BusBridgeImpl.drain(sc)
      sc.removeSparkListener(listener)
      currentOp = -1
    }
    ops += Op(id, cycle, name, kind, t0, t1, ok, traced, err, gcMs() - g0, jitMs() - j0,
      extra)
    tracing = false
    stack.clear()
    ok
  }

  /** A span named `layer.phase` around one call into an engine module;
    * free when the operation is not traced. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val t0 = now()
      stack.push(id)
      spans += Span(id, parent, ops.length, name, t0, Double.NaN)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(end = now())
      }
    }

  /** Add a counter to the last finished operation (measured after its
    * end time, so outside its latency). */
  def annotateLast(key: String, v: Double): Unit = {
    val o = ops.last
    ops(o.id) = o.copy(extra = o.extra.updated(key, o.extra.getOrElse(key, 0.0) + v))
  }

  /** Mark an operation wrong after the fact (an untimed check). */
  def fail(id: Int, err: String): Unit =
    ops(id) = ops(id).copy(ok = false, err = err)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (all threads), in nanoseconds. */
  def cpuNs(): Long = osBean.getProcessCpuTime

  /** Wall milliseconds and process CPU nanoseconds spent in [[untimed]]. */
  var untimedMs = 0.0
  var untimedCpuNs = 0L

  /** Benchmark work inside the timed phase that is not part of it: input
    * generation and output checks between operations. */
  def untimed[T](body: => T): T = {
    val (t0, c0) = (now(), cpuNs())
    try body
    finally {
      untimedMs += now() - t0
      untimedCpuNs += cpuNs() - c0
    }
  }

  /** Untimed check of the last finished operation's output; a false
    * result or an exception marks that operation failed. */
  def check(what: String)(ok: => Boolean): Unit = untimed {
    val id = ops.length - 1
    val good = try ok catch { case e: Throwable => false }
    if (!good && ops(id).ok) fail(id, s"wrong output: $what")
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      value(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
