package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One span: a call into a layer, made from the benchmark's side. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Any])

/** In-memory span recorder. Off, it runs the body and records nothing;
  * on, spans nest by call order (the harness is single-threaded) and
  * are written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var lastId = 0

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.head
      val t0 = System.currentTimeMillis()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.currentTimeMillis(), attrs.toMap)
      }
    }

  /** A span whose times were observed elsewhere (a progress event). */
  def record(name: String, startMs: Long, endMs: Long, attrs: (String, Any)*): Unit =
    if (enabled) { lastId += 1; spans += Span(lastId, stack.head, name, startMs, endMs, attrs.toMap) }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs) ++ s.attrs)
}

/** Job, stage and task totals from one listener on the Spark context,
  * leaving out the jobs of the output checker's job group.
  */
final class StageLedger extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill = new AtomicLong
  private def all = Seq(jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill)
  private val ignored = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Checker.JobGroup))
      e.stageIds.foreach(ignored.add)
    else jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!ignored.contains(e.stageInfo.stageId)) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!ignored.contains(e.stageId)) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def reset(): Unit = all.foreach(_.set(0))

  /** Waits until the totals stop moving (listener events arrive
    * asynchronously), then reads them per measured round.
    */
  def settled(rounds: Int): Map[String, Double] = {
    var last = Seq.empty[Long]
    var cur = all.map(_.get)
    while (cur != last) { Thread.sleep(300); last = cur; cur = all.map(_.get) }
    val n = math.max(1, rounds).toDouble
    val run = runMs.get / 1000.0
    val cpu = cpuNs.get / 1e9
    Map("spark.jobs" -> jobs.get / n, "spark.stages" -> stages.get / n,
      "spark.tasks" -> tasks.get / n, "spark.executor_run_s" -> run / n,
      "spark.executor_cpu_s" -> cpu / n, "spark.gc_s" -> gcMs.get / 1000.0 / n,
      "spark.cpu_per_run" -> (if (run > 0) cpu / run else 0.0),
      "spark.shuffle_write_bytes" -> shuffleWrite.get / n,
      "spark.spill_bytes" -> spill.get / n)
  }
}

/** The per-trigger figures of one streaming query, from its progress
  * reports: durations, offsets and commit times.
  */
object Progress {

  /** `shard-000.log=12;shard-001.log=9` (the source's offset JSON). */
  def offsets(json: String): Map[String, Long] =
    if (json == null || json.isEmpty || json == "null") Map.empty
    else json.split(";").map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toLong }.toMap

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Commit time of the batch = trigger start + trigger duration. */
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")

  def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  /** Lines the source read to serve these batches: every per-trigger
    * line count of every shard (`latestOffset`), the lines each reader
    * skips to reach its start, and the rows delivered. Under
    * `Trigger.AvailableNow` the source also counts every shard once at
    * query start, to freeze its target; on a log that does not grow
    * that count equals the first trigger's latest offsets. A trigger
    * that reports no progress (the empty one that may end an
    * AvailableNow query) leaves no offsets to count from.
    */
  def linesScanned(ps: Seq[StreamingQueryProgress], availableNow: Boolean): Long = {
    val startUp =
      if (availableNow) ps.headOption.map(p => offsets(p.sources.head.latestOffset).values.sum).getOrElse(0L)
      else 0L
    startUp + ps.map { p =>
      val s = p.sources.head
      val start = offsets(s.startOffset)
      val end = offsets(s.endOffset)
      val latest = offsets(s.latestOffset)
      val skipped = end.map { case (k, to) =>
        val from = start.getOrElse(k, 0L); if (to > from) from else 0L
      }.sum
      latest.values.sum + skipped + p.numInputRows
    }.sum
  }

  def backlogEnd(ps: Seq[StreamingQueryProgress]): Long = ps.lastOption.map { p =>
    val s = p.sources.head
    val end = offsets(s.endOffset)
    offsets(s.latestOffset).map { case (k, v) => v - end.getOrElse(k, 0L) }.sum
  }.getOrElse(0L)
}

object Stats {
  /** Nearest-rank percentile (q in [0, 1]); 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** The result line and the trace file, written by Jackson (with its
  * Scala module, both among Spark's jars).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
