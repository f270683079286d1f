package graft.tools

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{GraftConf, SparkEntry}

/** Per-query cost meter for the operator suite: runs each named query
  * `reps` times in one warm session and prints, per rep, wall time, rows
  * and the scheduler/executor bill a SparkListener sees — jobs, stages,
  * tasks, executor run/CPU/GC time, shuffle write/read, fetch wait and
  * memory/disk spill (the per-stage wait/read/compute/write breakdown of
  * Dremel, VLDB 2020). It ends with one JSON line per query: the sorted
  * wall-time trials and their min/median/max.
  *
  * {{{
  *   sbt "runMain graft.tools.Measure q51_pagerank,q82_rank_delta 3"
  *   sbt "runMain graft.tools.Measure all 2 <sfDir>"
  * }}}
  *
  * Wall time drifts between runs of identical code; jobs, stages, tasks
  * and shuffle bytes do not, so a change is compared on those first.
  */
object Measure {

  /** The listener's counters, in print order; units are Spark's own. */
  val Counters: Seq[String] = Seq("jobs", "stages", "tasks", "runMs", "cpuNs",
    "gcMs", "shuffleWriteBytes", "shuffleReadBytes", "fetchWaitMs",
    "spillMemoryBytes", "spillDiskBytes")

  /** One rep: `failure` names the exception class when the query threw. */
  final case class Rep(query: String, rep: Int, secs: Double, rows: Long,
      bill: Map[String, Long], failure: Option[String])

  private final class Meter extends SparkListener {
    val counts: Map[String, AtomicLong] = Counters.map(_ -> new AtomicLong).toMap
    private val jobEnds = new AtomicLong
    private def add(k: String, v: Long): Unit = { counts(k).addAndGet(v); () }
    override def onJobStart(j: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onJobEnd(j: SparkListenerJobEnd): Unit = { jobEnds.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      add("stages", 1); add("tasks", s.stageInfo.numTasks)
      add("runMs", m.executorRunTime); add("cpuNs", m.executorCpuTime)
      add("gcMs", m.jvmGCTime)
      add("shuffleWriteBytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffleReadBytes", m.shuffleReadMetrics.totalBytesRead)
      add("fetchWaitMs", m.shuffleReadMetrics.fetchWaitTime)
      add("spillMemoryBytes", m.memoryBytesSpilled)
      add("spillDiskBytes", m.diskBytesSpilled)
    }
    /** Job-end events reach the listener bus after the action returns;
      * wait until every started job has ended (bounded, in case one
      * never reports) so the stages it ran are counted.
      */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (jobEnds.get < counts("jobs").get && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    def reset(): Unit = { counts.values.foreach(_.set(0)); jobEnds.set(0) }
  }

  /** Runs `names` (or every registered query for `all`) `reps` times on
    * `dir` and prints one line per rep plus one JSON line per query.
    * The listener is removed again before returning.
    */
  def run(spark: SparkSession, names: Seq[String], reps: Int, dir: String): Seq[Rep] = {
    val registered = SparkEntry.queries
    val picked = if (names == Seq("all")) registered.keys.toSeq.sorted else names
    val unknown = picked.filterNot(registered.contains)
    require(unknown.isEmpty, s"unknown query ${unknown.mkString(",")}; registered: " +
      registered.keys.toSeq.sorted.mkString(","))
    val meter = new Meter
    spark.range(1000).selectExpr("sum(id)").collect() // warm-up
    spark.sparkContext.addSparkListener(meter)
    try picked.flatMap { name =>
      val out = (1 to reps).map { r =>
        meter.reset()
        val t0 = System.nanoTime()
        val (rows, failure) =
          try (registered(name)(spark, dir).count(), Option.empty[Throwable])
          catch { case NonFatal(e) => (-1L, Some(e)) }
        val secs = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
        meter.drain()
        val rep = Rep(name, r, secs, rows,
          meter.counts.map { case (k, v) => k -> v.get }, failure.map(_.getClass.getName))
        println(failure match {
          case None => s"[measure] $name rep$r ${secs}s rows=$rows " +
            Counters.map(k => s"$k=${rep.bill(k)}").mkString(" ")
          case Some(e) =>
            s"[measure] $name rep$r failed: ${e.getClass.getName}: ${e.getMessage}"
        })
        rep
      }
      println(summary(name, out))
      out
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  /** `{"<query>":{"trials":[..],"min":..,"med":..,"max":..}}` over the
    * reps that succeeded, plus `"failed":"<class>"` if any rep threw.
    */
  private def summary(name: String, reps: Seq[Rep]): String = {
    val t = reps.filter(_.failure.isEmpty).map(_.secs).sorted
    val stats =
      if (t.isEmpty) ""
      else {
        val med = if (t.length % 2 == 1) t(t.length / 2)
          else math.rint((t(t.length / 2 - 1) + t(t.length / 2)) / 2 * 1e3) / 1e3
        s""","min":${t.head},"med":$med,"max":${t.last}"""
      }
    val failed = reps.flatMap(_.failure).headOption.fold("")(c => s""","failed":"$c"""")
    s"""{"$name":{"trials":[${t.mkString(",")}]$stats$failed}}"""
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    require(args.nonEmpty, s"usage: Measure <q1,q2|all> [reps=2] [sfDir=$dir]")
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftConf.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args(0).split(",").toSeq, reps, dir)
    finally spark.stop()
  }
}
