package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. `op` is the operation id the span belongs to; `parent`
  * names the enclosing span (`cli.op_s` for the layer replays). Wall-clock
  * milliseconds align spans with Spark's event times; the duration comes
  * from the monotonic clock. */
final case class Span(name: String, op: Int, parent: String, startMs: Long,
                      endMs: Long, seconds: Double)

/** Raw Spark engine events, recorded by a listener the benchmark
  * registers only in traced rounds. Everything is attributed after the
  * run by time window: a job belongs to the span its submission falls in,
  * a stage to the first job that lists it, a task to its stage. */
object EngineEvents {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, failed: Boolean)
}

final class EngineEvents extends SparkListener {
  import EngineEvents._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.putIfAbsent(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks.add(
      if (m == null) Task(e.stageId, e.taskInfo.launchTime, 0, 0, 0, 0, 0, 0, failed)
      else Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        failed))
  }

  /** Wait (bounded) until every started job has ended on the listener
    * bus, so the counters of the spans just closed are complete. */
  def drain(maxMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + maxMs
    def pending = jobs.asScala.exists(j => !jobEnds.containsKey(j.id))
    Thread.sleep(50)
    while (pending && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  /** Engine counters for the window [startMs, endMs]. */
  def window(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
    val js = jobs.asScala.toSeq.filter(j => j.startMs >= startMs && j.startMs <= endMs)
    val firstJobOfStage = jobs.asScala.toSeq.sortBy(_.id)
      .flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1).map { case (s, v) => s -> v.head._2 }
    val jobIds = js.map(_.id).toSet
    val ts = tasks.asScala.toSeq.filter(t => firstJobOfStage.get(t.stage).exists(jobIds))
    // wall covered by at least one running job (interval union)
    val intervals = js.map(j => (j.startMs,
      math.min(endMs, Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(endMs))))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val taskS = ts.map(_.runMs).sum / 1000.0
    val coveredS = covered / 1000.0
    val wait = ts.map(t => Option(stageSubmitted.get(t.stage))
      .map(s => math.max(0L, t.launchMs - s.longValue)).getOrElse(0L)).sum / 1000.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ts.map(_.stage).distinct.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.sched_wait_s" -> wait,
      "spark.core_util" -> (if (coveredS > 0) taskS / (coveredS * cores) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> ts.map(_.spill).sum / 1e6,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "cli.driver_s" -> math.max(0.0, (endMs - startMs - covered) / 1000.0))
  }
}

/** Span recorder for the traced rounds; everything stays in memory until
  * [[writeJsonl]] at the end of the run. */
final class Tracer(sc: SparkContext) {
  val events = new EngineEvents
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  /** per-op values that are not spans: fs diffs, codegen counts, facts */
  val values = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
  var op: Int = -1

  def attach(): Unit = sc.addSparkListener(events)
  def detach(): Unit = { events.drain(); sc.removeSparkListener(events) }

  def span[A](name: String, parent: String = "cli.op_s")(body: => A): A = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally
      spans += Span(name, op, parent, ms, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9)
  }

  def value(name: String, v: Double): Unit = values += ((op, name, v))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"span":"${s.name}","op":${s.op},"parent":"${s.parent}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""" + "\n")
    }
    values.foreach { case (o, n, v) => sb.append(s"""{"value":"$n","op":$o,"v":$v}""" + "\n") }
    Gen.write(path, sb.toString)
  }
}
