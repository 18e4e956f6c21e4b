package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Scheduler-side counters at one instant. Times are seconds, sizes bytes. */
final case class Snap(jobs: Long, tasks: Long, runS: Double, cpuS: Double,
    gcS: Double, shuffleWrite: Long, spill: Long, bytesRead: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runS - o.runS,
    cpuS - o.cpuS, gcS - o.gcS, shuffleWrite - o.shuffleWrite,
    spill - o.spill, bytesRead - o.bytesRead)

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "tasks" -> tasks, "executor_run_s" -> runS,
    "executor_cpu_s" -> cpuS, "gc_s" -> gcS,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> bytesRead)
}

/** The `spark` layer as the benchmark sees it from outside: a listener it
  * registers itself, summing job, task, executor, GC, shuffle, spill and
  * input counters. Only the traced run registers it, so the untraced run
  * pays nothing for it. */
final class Counters(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, runMs, cpuNs, gcMs, shw, spill, read = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    tasks.addAndGet(e.stageInfo.numTasks)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      read.addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(): Snap = {
    org.apache.spark.GraftListenerBridge.drain(sc)
    Snap(jobs.get, tasks.get, runMs.get / 1e3, cpuNs.get / 1e9, gcMs.get / 1e3,
      shw.get, spill.get, read.get)
  }
}

object Counters {
  def register(sc: SparkContext): Counters = {
    val c = new Counters(sc)
    sc.addSparkListener(c)
    c
  }
}

/** One timed interval at a layer boundary. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, attrs: Seq[(String, Any)])

/** Spans kept in memory and written once when the run ends. A disabled
  * recorder runs the body and records nothing. */
final class Spans(enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 1

  def apply[T](name: String, attrs: => Seq[(String, Any)] = Nil)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, s - t0, System.nanoTime() - t0, attrs)
      }
    }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
}

/** Minimal JSON writer for the result file the launcher reads. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(isPair) =>
      obj(kv.map { case (k: String, x) => k -> x; case p => sys.error(s"$p") })
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case sp: Span => obj(Seq("id" -> sp.id, "parent" -> sp.parent,
      "name" -> sp.name, "start_s" -> sp.startNs / 1e9,
      "end_s" -> sp.endNs / 1e9) ++ sp.attrs)
    case other => quote(other.toString)
  }

  private def isPair(x: Any): Boolean = x match {
    case (_: String, _) => true
    case _ => false
  }

  private def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
