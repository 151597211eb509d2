package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Microsecond clock shared by request spans and Spark listener events. Listener events
  * carry epoch milliseconds, so they are mapped onto the same monotonic scale.
  */
object Clock {
  private val offsetUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = System.nanoTime() / 1000
  def fromEpochMs(ms: Long): Long = ms * 1000 - offsetUs
}

/** One recorded span: a call into a layer, or a Spark job the listener saw. */
final case class Span(id: Long, parent: Long, request: Long, name: String, startUs: Long, endUs: Long)

/** Spans kept in memory while the run lasts and written out when it ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  def record(parent: Long, request: Long, name: String, startUs: Long, endUs: Long): Span =
    synchronized {
      nextId += 1
      val s = Span(nextId, parent, request, name, startUs, endUs)
      buf += s
      s
    }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Spark work of a set of jobs. */
final case class SparkWork(
    jobs: Int, stages: Int, tasks: Int, taskMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    firstJobUs: Option[Long], busyUs: Long)

/** Listener that records every job's interval and every task's metrics, so work can be
  * attributed to the request whose time window a job started in. With one client
  * thread this attribution is exact; `select2` hops onto its own pool threads, which
  * rules out tagging jobs through thread-local properties.
  */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, startUs: Long, stageIds: Seq[Int]) { @volatile var endUs: Long = -1 }
  final class StageAgg {
    var tasks = 0; var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** Each stage belongs to the first job that listed it; later jobs only skip it. */
  private val stageOwner = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, Clock.fromEpochMs(e.time), e.stageIds))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = Clock.fromEpochMs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs that started inside [startUs, endUs] (1 ms slack: events carry milliseconds). */
  def jobsIn(startUs: Long, endUs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startUs >= startUs - 1000 && j.startUs <= endUs)
      .toSeq.sortBy(_.id)

  def work(startUs: Long, endUs: Long): SparkWork = {
    val js = jobsIn(startUs, endUs)
    val owned = js.flatMap(j => j.stageIds.filter(s => stageOwner.get(s) == j.id))
    val aggs = owned.flatMap(s => Option(stages.get(s)))
    def sum(f: StageAgg => Long): Long = aggs.map(a => a.synchronized(f(a))).sum
    // union of job-active intervals, clipped to the window
    val iv = js.map(j => (math.max(j.startUs, startUs), if (j.endUs < 0) endUs else math.min(j.endUs, endUs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
    }
    busy += curE - curS
    SparkWork(js.size, aggs.count(_.tasks > 0), sum(_.tasks).toInt, sum(_.taskMs),
      sum(_.shuffleRead), sum(_.shuffleWrite), sum(_.spill),
      js.headOption.map(j => math.max(0L, j.startUs - startUs)), busy)
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object Stats {

  /** Nearest-rank quantile; 0 for an empty sample, whose count is reported beside it. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size - 1e-9).toInt - 1))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentiles tried for a tail, highest first. Rungs sit far apart so that the run-to-run
    * drift in sample count does not flip a workload between two of them.
    */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.5)

  /** The highest ladder percentile with at least ten samples beyond it, and its value. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLadder.find(q => xs.size - math.ceil(q * xs.size - 1e-9).toInt >= 10)
      .map(q => (q, quantile(xs, q)))
}

/** Minimal JSON writer for the run's result and span files. */
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

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
