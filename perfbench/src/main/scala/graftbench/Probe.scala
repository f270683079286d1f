package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark counters of one span kind (`import`, `fold`, `read`, ...),
  * summed over the tasks and queries attributed to it.
  */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val schedDelayMs, runMs, gcMs, fetchWaitMs, catalystMs = new AtomicLong
  val cpuNs, busyMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, inBytes, inRecords, outBytes = new AtomicLong
}

/** Per-layer accounting, registered by the benchmark on its own
  * session: a [[SparkListener]] that files every job, stage and task
  * under the job group its submitting thread carried, and a
  * [[QueryExecutionListener]] that adds each query's Catalyst planning
  * time (analysis + optimization + planning) to the same group.
  *
  * Job groups are set by the benchmark on its own threads (see
  * [[Probe.inGroup]]). Work with no group is filed by call site: `read`
  * when the API server submitted it (its dispatcher thread does not
  * inherit thread-local properties), else `other`. Operator families
  * are attributed by the innermost `graft.operators.<Family>` frame of
  * the call site; jobs that adaptive execution submits from its own
  * threads take the call site of their SQL execution.
  */
final class Probe(spark: SparkSession) {
  import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

  private val groups = new ConcurrentHashMap[String, Counters]()
  private val families = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageFamily = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execFamily = new ConcurrentHashMap[Long, String]()
  private val jobFamily = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobsEnded = new AtomicLong

  def of(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)
  def family(name: String): Counters = families.computeIfAbsent(name, _ => new Counters)
  def familyNames: Seq[String] = families.keySet.asScala.toSeq.sorted
  def groupNames: Seq[String] = groups.keySet.asScala.toSeq.sorted

  private val Family = raw"graft\.operators\.([A-Za-z]+)\$$?\.".r

  private def byCallSite(details: String): String =
    if (details.contains("graft.api.LinkApiServer")) "read" else "other"

  private def familyOf(details: String): Option[String] =
    Family.findFirstMatchIn(details).map(_.group(1))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
      val details = e.stageInfos.map(_.details).mkString("\n")
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .orElse(exec.flatMap(id => Option(execGroup.get(id))))
        .getOrElse(byCallSite(details))
      of(g).jobs.incrementAndGet()
      // families are attributed in the measured phases only, not in setup
      val fam =
        if (g.startsWith("setup.")) None
        else familyOf(details).orElse(exec.flatMap(id => Option(execFamily.get(id))))
      fam.foreach { f =>
        family(f).jobs.incrementAndGet()
        jobFamily.put(e.jobId, (f, e.time))
      }
      e.stageInfos.foreach { s =>
        stageGroup.put(s.stageId, g)
        fam.foreach(f => stageFamily.put(s.stageId, f))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobFamily.remove(e.jobId)).foreach { case (f, start) =>
        family(f).busyMs.addAndGet(e.time - start)
      }
      jobsEnded.incrementAndGet()
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(stageGroup.get(e.stageInfo.stageId)).getOrElse(byCallSite(e.stageInfo.details))
      stageGroup.put(e.stageInfo.stageId, g)
      of(g).stages.incrementAndGet()
      Option(stageFamily.get(e.stageInfo.stageId)).foreach(f => family(f).stages.incrementAndGet())
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup.put(s.executionId, s.jobGroupId.getOrElse(byCallSite(s.details)))
        familyOf(s.details).foreach(execFamily.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        executionEnded(s)
        execFamily.remove(s.executionId)
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val targets = Seq(Option(stageGroup.get(e.stageId)).map(of),
        Option(stageFamily.get(e.stageId)).map(family)).flatten
      val m = e.taskMetrics
      val info = e.taskInfo
      targets.foreach { c =>
        c.tasks.incrementAndGet()
        if (m != null) {
          val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          c.schedDelayMs.addAndGet(math.max(0L, sched))
          c.runMs.addAndGet(m.executorRunTime)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.inBytes.addAndGet(m.inputMetrics.bytesRead)
          c.inRecords.addAndGet(m.inputMetrics.recordsRead)
          c.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  // Catalyst time: the query listener sees each QueryExecution's planning
  // phases, the SQL execution-end event maps the same QueryExecution to
  // its execution id (and so to a group). Either may arrive first.
  private val planningOf = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  private val groupOfQe = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, String]())
  // the event's QueryExecution is not part of Spark's public API
  private val qeOfEnd = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  private def executionEnded(e: SparkListenerSQLExecutionEnd): Unit = {
    val g = Option(execGroup.remove(e.executionId)).getOrElse("other")
    Option(qeOfEnd.invoke(e).asInstanceOf[QueryExecution]).foreach { qe =>
      Option(planningOf.remove(qe)) match {
        case Some(ms) => of(g).catalystMs.addAndGet(ms)
        case None => groupOfQe.put(qe, g)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      Option(groupOfQe.remove(qe)) match {
        case Some(g) => of(g).catalystMs.addAndGet(ms)
        case None => planningOf.put(qe, ms)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Catalyst time of queries whose execution was never seen to end. */
  def unattributedCatalystMs: Long = planningOf.values.asScala.map(_.longValue).sum

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until the listener buses have delivered every event so far. */
  def drain(): Unit = {
    // a no-op job's end event trails every earlier event on the bus
    val seen = jobsEnded.get()
    inGroup("drain")(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (jobsEnded.get() <= seen && System.nanoTime() < deadline) Thread.sleep(2)
    Thread.sleep(20) // the query listener's queue runs beside this one
  }

  /** Runs `f` with the Spark job group `group` on the calling thread. */
  def inGroup[T](group: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f
    finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
  }
}

/** In-memory span trace: name, start, end, parent and trace id (segment
  * id, request id or call name) of every call the benchmark makes into
  * a layer. Disabled spans cost one branch.
  */
final class Trace(enabled: Boolean) {
  final case class Span(id: Int, name: String, traceId: String, parent: Int,
      startNs: Long, var endNs: Long = 0L)

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val current = new ThreadLocal[Integer]

  def apply[T](name: String, traceId: String)(f: => T): T =
    if (!enabled) f
    else {
      val parentId = Option(current.get).map(_.intValue).getOrElse(0)
      val s = Span(nextId.getAndIncrement(), name, traceId, parentId, System.nanoTime())
      current.set(s.id)
      try f
      finally {
        s.endNs = System.nanoTime()
        spans.add(s)
        if (parentId == 0) current.remove() else current.set(parentId)
      }
    }

  def count: Int = spans.size

  /** Total and self time (total minus direct children) per span name, ms. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val all = spans.asScala.toSeq
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      (n, ss.size, total / 1e6, self / 1e6)
    }
  }
}
