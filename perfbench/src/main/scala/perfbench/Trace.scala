package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call. `req` names the pass, query or gate the span belongs
  * to; `parent` is -1 for a root. Times are System.nanoTime. */
final class Span(val id: Int, val parent: Int, val name: String, val req: String,
    val start: Long, val startMs: Long) {
  var end: Long = -1L
  def dur: Long = end - start
}

/** Spark work done by the jobs attributed to one span. */
final class Counts {
  var jobs = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var outputBytes = 0L; var outputRecords = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spillBytes = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; outputRecords += o.outputRecords
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spillBytes += o.spillBytes
  }
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spillBytes)
}

/** Per-job task totals. A job is attributed to the span whose job group
  * the benchmark set when the job was submitted; jobs submitted from
  * threads that set their own group (stream execution) are attributed to
  * the innermost span open at the job's submission time. */
final case class Job(group: String, timeMs: Long)

final class JobCounter extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, Job]()
  val perJob = new ConcurrentHashMap[Int, Counts]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(group, e.time))
    e.stageIds.foreach(stageJob.put(_, Integer.valueOf(e.jobId)))
    perJob.computeIfAbsent(e.jobId, _ => new Counts).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId)
    if (m == null || job == null) return
    val c = perJob.computeIfAbsent(job.intValue, _ => new Counts)
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Spans around the benchmark's calls into the engine. Spans are always
  * kept in memory (timings need them); with `counting` on, a listener
  * counts Spark work and every span sets its own job group. */
final class Tracer(sc: SparkContext, val counting: Boolean) {
  val spans = new ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val counter: Option[JobCounter] =
    if (counting) { val l = new JobCounter; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String, req: String = null)(body: => T): T = {
    val parent = open.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
      Option(req).orElse(parent.map(_.req)).orNull, System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    if (counting) sc.setJobGroup(group(s), name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      if (counting) open.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def group(s: Span): String = s"perfbench-${s.id}"

  def close(): Unit = counter.foreach(sc.removeSparkListener)

  /** Counts per span id, each job counted once, in the span it ran
    * under (not rolled up). */
  private def directCounts(): Map[Int, Counts] = counter match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.BenchAccess.drainListeners(sc)
      val byGroup = spans.map(s => group(s) -> s.id).toMap
      val out = scala.collection.mutable.Map[Int, Counts]()
      l.jobs.asScala.foreach { case (jobId, job) =>
        val owner = Option(job.group).flatMap(byGroup.get).orElse(innermostAt(job.timeMs))
        owner.foreach(id => out.getOrElseUpdate(id, new Counts).add(l.perJob.get(jobId)))
      }
      out.toMap
  }

  private def innermostAt(ms: Long): Option[Int] = {
    val endMs = (s: Span) => s.startMs + (s.dur / 1000000L)
    spans.filter(s => s.startMs <= ms && ms <= endMs(s))
      .sortBy(depth).lastOption.map(_.id)
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Span records with self time (duration minus the time covered by
    * children, which never overlap) and rolled-up counts. */
  def records(): Seq[Map[String, Any]] = {
    val direct = directCounts()
    val children = spans.groupBy(_.parent)
    val rolled = scala.collection.mutable.Map[Int, Counts]()
    def roll(s: Span): Counts = rolled.getOrElseUpdate(s.id, {
      val c = new Counts
      direct.get(s.id).foreach(c.add)
      children.getOrElse(s.id, Nil).foreach(k => c.add(roll(k)))
      c
    })
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.toSeq.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(_.dur).sum
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ns" -> (s.start - t0), "end_ns" -> (s.end - t0),
        "self_ns" -> (s.dur - covered)) ++
        (if (counting) Map("counts" -> roll(s).toMap,
          "direct_jobs" -> direct.get(s.id).map(_.jobs).getOrElse(0L)) else Map.empty)
    }
  }
}
