package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One recorded layer call. `parent` is 0 for a root span; spans of one
  * query or request share `req`.
  */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays one branch per call. Spans are written out once, at
  * the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), name, req, t0,
            t1)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def jsonLines: Iterator[String] = all.sortBy(_.id).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""req":${Json.str(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** Spark scheduler counters attributed to the query that caused them.
  *
  * The driver thread tags its jobs with the local properties
  * [[SparkCounters.ReqKey]] (query or request id) and
  * [[SparkCounters.PhaseKey]] (`build` while the query function runs,
  * `exec` during the sink write). Stages and tasks inherit the tag of their
  * job. Listener events arrive asynchronously, so [[drain]] runs a marker
  * job and waits for its end event: the bus is FIFO, so every earlier event
  * has been counted by then.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  final class Counts {
    val jobs, buildJobs, stages, tasks, taskNs = new AtomicLong
    val shuffleWrite, spill, input, output = new AtomicLong
    def toJson: String =
      Seq("jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
        "tasks" -> tasks, "task_ns" -> taskNs,
        "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
        "input_bytes" -> input, "output_bytes" -> output)
        .map { case (k, v) => s""""$k":${v.get}""" }.mkString("{", ",", "}")
  }

  private val byReq = new ConcurrentHashMap[String, Counts]()
  private val stageReq = new ConcurrentHashMap[Int, String]()
  @volatile private var markerSeen = ""

  private def counts(req: String): Counts =
    byReq.computeIfAbsent(req, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val req = props.flatMap(p => Option(p.getProperty(ReqKey))).getOrElse("")
    if (!req.startsWith(MarkerPrefix)) {
      val c = counts(req)
      c.jobs.incrementAndGet()
      if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains("build"))
        c.buildJobs.incrementAndGet()
      e.stageIds.foreach(stageReq.put(_, req))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageReq.get(e.stageInfo.stageId)).foreach(
      counts(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageReq.get(e.stageId)).foreach { req =>
      val c = counts(req)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskNs.addAndGet(m.executorRunTime * 1000000L)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  /** Waits until every event posted before this call has been counted. */
  def drain(sc: SparkContext): Unit = {
    val marker = MarkerPrefix + System.nanoTime()
    val (oldReq, oldPhase) =
      (sc.getLocalProperty(ReqKey), sc.getLocalProperty(PhaseKey))
    sc.setLocalProperty(ReqKey, marker)
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = markerSeen = marker
    }
    sc.addSparkListener(listener)
    try {
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (markerSeen != marker && System.nanoTime() < deadline)
        Thread.sleep(5)
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(ReqKey, oldReq)
      sc.setLocalProperty(PhaseKey, oldPhase)
    }
  }

  def toJson: String = byReq.asScala.toSeq.sortBy(_._1)
    .map { case (k, v) => s"${Json.str(k)}:${v.toJson}" }
    .mkString("{", ",", "}")
}

object SparkCounters {
  val ReqKey = "perfbench.req"
  val PhaseKey = "perfbench.phase"
  private val MarkerPrefix = "__drain_"

  /** Runs `body` with its jobs tagged as (`req`, `phase`). */
  def tagged[T](sc: SparkContext, req: String, phase: String)(body: => T): T = {
    sc.setLocalProperty(ReqKey, req)
    sc.setLocalProperty(PhaseKey, phase)
    try body
    finally {
      sc.setLocalProperty(ReqKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }
}

/** Minimal JSON writing; the benchmark reads everything back in Python. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
