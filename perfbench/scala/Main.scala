package perfbench

import java.io.{File, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.GraftSession
import graft.pipeline.{Enrich, LazyFillCache, Pipeline, Retention}
import graft.sources.ShardedRecordSource
import graft.streaming.StreamingPipeline

/** The metric names and units `BENCHMARK.json` declares. */
final case class Spec(endToEnd: Map[String, String], perLayer: Map[String, String]) {
  val units: Map[String, String] = endToEnd ++ perLayer
}

object Spec {
  def load(file: File): Spec = {
    val root = new ObjectMapper().readTree(file)
    def metrics(key: String): Map[String, String] =
      root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap
    Spec(metrics("end_to_end"), metrics("per_layer"))
  }
}

/** One run of one workload: set up five times, measure for the given
  * seconds, check every output against the generator's labels, and
  * print one JSON line. With `--trace 1` the run also records spans,
  * Spark task totals, the layer ladder and the kernels, writes them to
  * the trace file, and prints the per-layer metrics instead.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <build dir> --cores <n> --spec <BENCHMARK.json>`.
  */
object Main {

  val Workloads = Seq("backlog-drain", "router-reindex", "live-tail")

  // backlog-drain: a deep backlog over 8 shards, drained in 11 capped
  // micro-batches (an odd count keeps the median document inside a batch,
  // not on a commit boundary)
  val DrainRecords = 64000
  val DrainShards = 8
  val DrainCap = 5900
  // router-reindex: 45 days of access lines against a large app dimension
  val ReindexRecords = 48000
  val ReindexShards = 4
  val ReindexApps = 20000
  val ReindexDays = 45
  val KeepDays = 30
  // live-tail: open-loop appends at a fixed rate, short trigger, TTL'd dimension
  val LiveRate = 1000.0
  val LiveShards = 4
  val LiveTriggerMs = 500L
  val LiveDimTtlMs = 2500L
  val Apps = 2000
  val WarmRecords = 4000
  val Setups = 5

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, root: File, cores: Int,
                        spec: Spec)

  /** One timed pass over the whole input, checked. */
  final case class Round(rate: Double, freshP50: Double, freshP99: Double, verdict: Verdict,
                         progress: Seq[StreamingQueryProgress], layer: Map[String, Double])

  /** What a measurement phase yields. */
  final case class Measured(rate: Double, freshP50: Double, freshP99: Double, verdict: Verdict,
                            layer: Map[String, Double], ladderInput: String, rounds: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      new File(kv("root")), kv("cores").toInt, Spec.load(new File(kv("spec"))))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    val code = try { run(o); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def now: Long = System.currentTimeMillis()

  private var dirs = 0

  /** A new directory under the run's work area. Each is deleted as soon
    * as it has been checked: a file unlinked before writeback costs
    * nothing, one unlinked after it can cost a discard per block.
    */
  def fresh(o: Opts, name: String): File = {
    dirs += 1
    new File(o.root, s"work/${o.workload}/$name-$dirs")
  }

  def scratch[T](o: Opts, name: String)(body: File => T): T = {
    val dir = fresh(o, name)
    try body(dir) finally rmTree(dir)
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  // ---- inputs ----

  /** Generates (or reuses, per seed) the workload's inputs; the warm-up
    * inputs come from a different seed so they never share records.
    */
  def inputs(o: Opts, seed: Long, warm: Boolean): Inputs = {
    val dir = new File(o.root, s"inputs/${o.workload}-$seed-${if (warm) "warm" else "main"}")
    val in = o.workload match {
      case "backlog-drain" =>
        Gen.backlog(seed, if (warm) WarmRecords else DrainRecords, DrainShards, Apps, dir)
      case "router-reindex" =>
        Gen.reindex(seed, if (warm) WarmRecords else ReindexRecords, ReindexShards,
          if (warm) Apps else ReindexApps, ReindexDays, dir)
      case "live-tail" =>
        Gen.live(seed, if (warm) WarmRecords else (LiveRate * o.seconds).toInt, LiveShards, Apps, LiveRate, dir)
    }
    val done = new File(dir, "DONE")
    val fp = in.fingerprint
    if (!done.exists() || new String(Files.readAllBytes(done.toPath), UTF_8) != fp) {
      rmTree(dir)
      in.writeDims()
      // live-tail appends its measured records during the run; its
      // warm-up reads them as a finished log
      if (o.workload != "live-tail") Gen.writeShards(in.recs, in.shards, in.shardDir)
      else if (warm) Gen.writeShards(in.recs.map(r => r.copy(arrivalMs = Gen.Epoch + r.arrivalMs)),
        in.shards, in.shardDir)
      Files.write(done.toPath, fp.getBytes(UTF_8))
    }
    in
  }

  def loadDims(spark: SparkSession, files: Map[String, String]): DataFrame = {
    val r = spark.read.option("header", "true")
    Enrich.resolveDims(
      r.schema("app_guid STRING, name STRING, space_guid STRING").csv(files("apps")),
      r.schema("space_guid STRING, name STRING, org_guid STRING").csv(files("spaces")),
      r.schema("org_guid STRING, name STRING").csv(files("orgs")))
  }

  /** Archived shard logs as a batch of source records, read by Spark's
    * text reader (never by the streaming source).
    */
  def readShards(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir)
      .select(split(col("value"), ",", 3).as("p"))
      .select(unbase64(col("p").getItem(2)).as("data"), col("p").getItem(0).as("sequenceNumber"),
        timestamp_millis(col("p").getItem(1).cast("long")).as("approximateArrivalTimestamp"))

  def stream(spark: SparkSession, dir: String, cap: Option[Long]): DataFrame = {
    val r = spark.readStream.format(classOf[ShardedRecordSource].getName).option("path", dir)
    cap.fold(r)(c => r.option("maxRecordsPerBatch", c.toString)).load()
  }

  def session(o: Opts): SparkSession = {
    val s = GraftSession.get(s"local[${o.cores}]", o.cores.toString)
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    s
  }

  def await(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    q.awaitTermination()
    q.recentProgress.toSeq
  }

  /** A full collection outside the timed section, so the garbage the
    * previous round and its check left never lands a pause inside the next.
    */
  def gcFence(): Unit = System.gc()

  // ---- sink statistics ----

  def sinkStats(root: File): Map[String, Double] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk) else Seq(f)
    val parts = walk(root).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val dirs = parts.map(_.getParentFile.getPath).distinct.size
    Map("sink.files" -> parts.size.toDouble, "sink.bytes" -> parts.map(_.length).sum.toDouble,
      "sink.files_per_partition" -> (if (dirs == 0) 0.0 else parts.size.toDouble / dirs))
  }

  // ---- backlog-drain ----

  def drainRound(spark: SparkSession, dims: DataFrame, in: Inputs, dir: File,
                 checker: Option[Checker], tracer: Tracer): Round = {
    gcFence()
    val out = new File(dir, "out").getPath
    val t0 = now
    val ps = tracer.span("streaming.drain") {
      await(StreamingPipeline.start(stream(spark, in.shardDir.getPath, Some(DrainCap)), dims,
        new File(dir, "ckpt").getPath, out, Trigger.AvailableNow()))
    }
    val wall = (now - t0) / 1000.0
    traceTriggers(tracer, ps)
    val commit = ps.map(p => p.batchId -> Progress.commitMs(p)).toMap
    val (v, found) = checker.map(c => tracer.span("check")(c.check(spark, out, streaming = true)))
      .getOrElse((Verdict(0, 0, Nil), Array.empty[(Rec, Int)]))
    val ages = found.toSeq.map { case (_, b) => (commit(b.toLong) - t0).toDouble }
    val stats = sinkStats(new File(out))
    Round(in.recs.length / wall, Stats.pct(ages, 0.5), Stats.pct(ages, 0.99), v, ps, stats)
  }

  def traceTriggers(tracer: Tracer, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      tracer.record("streaming.trigger", Progress.startMs(p), Progress.commitMs(p),
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.toString, "start_offset" -> p.sources.head.startOffset,
        "end_offset" -> p.sources.head.endOffset, "latest_offset" -> p.sources.head.latestOffset)
    }

  def streamingLayer(ps: Seq[StreamingQueryProgress], firstRound: Seq[StreamingQueryProgress],
                     availableNow: Boolean): Map[String, Double] = {
    val data = Progress.dataBatches(ps)
    def p50(f: StreamingQueryProgress => Double) = Stats.median(data.map(f))
    val rows = Progress.dataBatches(firstRound).map(_.numInputRows).sum
    Map(
      "sources.latest_offset_ms_p50" -> p50(Progress.dur(_, "latestOffset").toDouble),
      "sources.lines_scanned_per_record" ->
        (if (rows == 0) 0.0 else Progress.linesScanned(firstRound, availableNow).toDouble / rows),
      "sources.backlog_end_records" -> Progress.backlogEnd(ps).toDouble,
      "streaming.batches" -> Progress.dataBatches(firstRound).size.toDouble,
      "streaming.trigger_ms_p50" -> p50(Progress.dur(_, "triggerExecution").toDouble),
      "streaming.add_batch_ms_p50" -> p50(Progress.dur(_, "addBatch").toDouble),
      "streaming.query_planning_ms_p50" -> p50(Progress.dur(_, "queryPlanning").toDouble),
      "streaming.wal_commit_ms_p50" ->
        p50(p => (Progress.dur(p, "walCommit") + Progress.dur(p, "commitOffsets")).toDouble),
      "streaming.overhead_ms_p50" ->
        p50(p => (Progress.dur(p, "triggerExecution") - Progress.dur(p, "addBatch")).toDouble))
  }

  /** One untimed round (the JIT keeps speeding the pipeline up over the
    * first full-size pass, which the small set-up warm-up does not
    * cover), then whole checked rounds until `seconds` of timed work.
    */
  def measureRounds(o: Opts, in: Inputs, ledger: StageLedger, tracer: Tracer)
                   (round: (File, Option[Checker], Tracer) => Round): Seq[Round] = {
    val checker = new Checker(in)
    tracer.span("round.untimed")(scratch(o, "round")(round(_, None, new Tracer(false))))
    ledger.reset()
    val rounds = ArrayBuffer.empty[Round]
    var spent = 0.0
    while (rounds.isEmpty || spent < o.seconds) {
      val r = tracer.span("round", "i" -> rounds.size)(scratch(o, "round")(round(_, Some(checker), tracer)))
      spent += in.recs.length / r.rate
      rounds += r
      System.err.println(f"round ${rounds.size}: ${r.rate}%.1f records/s, freshness p50 ${r.freshP50}%.0f ms p99 ${r.freshP99}%.0f ms")
    }
    rounds.toSeq
  }

  def measured(rounds: Seq[Round], layer: Map[String, Double], ladderInput: String): Measured =
    Measured(Stats.median(rounds.map(_.rate)), Stats.median(rounds.map(_.freshP50)),
      Stats.median(rounds.map(_.freshP99)), rounds.map(_.verdict).reduce(_ ++ _), layer, ladderInput,
      rounds.size)

  def measureDrain(o: Opts, spark: SparkSession, dims: DataFrame, in: Inputs, ledger: StageLedger,
                   tracer: Tracer): Measured = {
    val rounds = measureRounds(o, in, ledger, tracer)(drainRound(spark, dims, in, _, _, _))
    val streaming = streamingLayer(rounds.flatMap(_.progress), rounds.head.progress, availableNow = true)
    measured(rounds, streaming ++ rounds.head.layer, in.shardDir.getPath)
  }

  // ---- router-reindex ----

  val ReindexNow: LocalDate = LocalDate.parse("2026-09-01")

  /** Every document becomes visible when the partitioned write commits:
    * freshness is the write's duration for all of them.
    */
  def reindexRound(spark: SparkSession, dims: DataFrame, in: Inputs, dir: File,
                   checker: Option[Checker], tracer: Tracer): Round = {
    gcFence()
    val out = new File(dir, "out").getPath
    val t0 = now
    tracer.span("pipeline.write_partitioned") {
      Pipeline.writePartitioned(Pipeline.assemble(readShards(spark, in.shardDir.getPath), dims,
        includeDormant = true), out)
    }
    val written = now - t0
    val (v, _) = checker.map(c => tracer.span("check")(c.check(spark, out, streaming = false)))
      .getOrElse((Verdict(0, 0, Nil), Array.empty))
    val stats = sinkStats(new File(out))
    gcFence()
    val t1 = now
    val (kept, dropped) = tracer.span("retention.sweep") {
      Retention.sweep(spark, out, KeepDays, ReindexNow)
    }
    val swept = now - t1
    // the retention sets from the generator's own dates and the fixed now
    val cutoff = ReindexNow.minusDays(KeepDays).toString
    val indices = in.docs.map(Gen.esIndex).distinct
    val (wantKept, wantDropped) = indices.partition(_.takeRight(10) >= cutoff)
    val left = Option(new File(out).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("es_index=")).map(_.getName.stripPrefix("es_index=")).toSet
    val problems = Seq(
      if (kept.toSet != wantKept.toSet) Some(s"retention kept ${kept.sorted} vs ${wantKept.sorted.toSeq}") else None,
      if (dropped.toSet != wantDropped.toSet) Some(s"retention dropped ${dropped.sorted} vs ${wantDropped.sorted.toSeq}") else None,
      if (left != wantKept.toSet) Some(s"partitions left after sweep: ${(left diff wantKept.toSet).toSeq.sorted}, " +
        s"missing: ${(wantKept.toSet diff left).toSeq.sorted}") else None
    ).flatten
    val wall = (written + swept) / 1000.0
    Round(in.recs.length / wall, written.toDouble, written.toDouble, v ++ Verdict(0, 0, problems), Nil,
      stats ++ Map("retention.sweep_ms" -> swept.toDouble, "retention.partitions_dropped" -> dropped.size.toDouble))
  }

  def measureReindex(o: Opts, spark: SparkSession, dims: DataFrame, in: Inputs, ledger: StageLedger,
                     tracer: Tracer): Measured = {
    val rounds = measureRounds(o, in, ledger, tracer)(reindexRound(spark, dims, in, _, _, _))
    measured(rounds, rounds.head.layer ++
      Map("retention.sweep_ms" -> Stats.median(rounds.map(_.layer("retention.sweep_ms")))),
      in.shardDir.getPath)
  }

  // ---- live-tail ----

  def measureLive(o: Opts, spark: SparkSession, in0: Inputs, tracer: Tracer): Measured = {
    val dir = fresh(o, "live")
    val shardDir = new File(dir, "shards")
    shardDir.mkdirs()
    (0 until LiveShards).foreach(s => new File(shardDir, f"shard-$s%03d.log").createNewFile())
    val loads = ArrayBuffer.empty[Double]
    val jitter = new Random(o.seed)
    val cache = new LazyFillCache[Unit, DataFrame](LiveDimTtlMs, _ => {
      val t0 = System.nanoTime()
      val d = tracer.span("enrich.dim_load")(loadDims(spark, in0.dimFiles).localCheckpoint())
      loads += (System.nanoTime() - t0) / 1e6
      d
    }, jitter = () => LazyFillCache.JitterLo + (LazyFillCache.JitterHi - LazyFillCache.JitterLo) * jitter.nextDouble())
    cache.get(())
    val q = StreamingPipeline.startWithDimCache(stream(spark, shardDir.getPath, None), cache,
      new File(dir, "ckpt").getPath, new File(dir, "out").getPath,
      Trigger.ProcessingTime(LiveTriggerMs))
    val start = now + 300
    val recs = in0.recs.map(r => r.copy(arrivalMs = start + r.arrivalMs))
    val in = new Inputs(in0.shards, recs, in0.apps, in0.dimCsv, in0.dir)
    var lag = 0L
    val gen = new Thread(() => {
      val outs = Array.tabulate(LiveShards)(s => new FileOutputStream(new File(shardDir, f"shard-$s%03d.log"), true))
      try recs.foreach { r =>
        var t = now
        while (t < r.arrivalMs) { LockSupport.parkNanos((r.arrivalMs - t) * 1000000L); t = now }
        // one write per whole line: a reader never sees a partial record
        outs(r.shard).write((Gen.line(r) + "\n").getBytes(UTF_8))
        lag = math.max(lag, now - r.arrivalMs)
      } finally outs.foreach(_.close())
    }, "live-generator")
    // a query the source kills (an unterminated line reaching the reader)
    // leaves its undelivered documents missing: they count as failed
    val died = tracer.span("live.run") {
      gen.start()
      gen.join()
      try { tracer.span("streaming.catch_up")(q.processAllAvailable()); None }
      catch { case e: Exception => Some(s"live query died: ${e.getMessage.take(300)}") }
      finally q.stop()
    }
    val ps = q.recentProgress.toSeq
    traceTriggers(tracer, ps)
    val checker = new Checker(in)
    val out = new File(dir, "out").getPath
    val (v0, found) = tracer.span("check")(checker.check(spark, out, streaming = true))
    val v = v0.copy(notes = died.toSeq ++ v0.notes)
    val commit = ps.map(p => p.batchId -> Progress.commitMs(p)).toMap
    val ages = found.toSeq.map { case (r, b) => (commit(b.toLong) - r.arrivalMs).toDouble }
    val data = Progress.dataBatches(ps)
    val busy = data.map(Progress.dur(_, "triggerExecution")).sum / 1000.0
    val layer = streamingLayer(ps, ps, availableNow = false) ++ sinkStats(new File(out)) ++ Map(
      "enrich.dim_loads" -> loads.size.toDouble,
      "enrich.dim_load_ms_p50" -> Stats.median(loads.toSeq),
      "live.generator_lag_ms_max" -> lag.toDouble)
    Measured(data.map(_.numInputRows).sum / busy, Stats.pct(ages, 0.5), Stats.pct(ages, 0.99),
      v, layer, shardDir.getPath, 1)
  }

  // ---- warm-up ----

  def warm(o: Opts, spark: SparkSession, dims: DataFrame, in: Inputs): Unit = scratch(o, "warm") { work =>
    val off = new Tracer(false)
    o.workload match {
      case "backlog-drain" => drainRound(spark, dims, in, work, None, off)
      case "router-reindex" => reindexRound(spark, dims, in, work, None, off)
      case "live-tail" =>
        val cache = new LazyFillCache[Unit, DataFrame](LiveDimTtlMs, _ => dims)
        await(StreamingPipeline.startWithDimCache(stream(spark, in.shardDir.getPath, None), cache,
          new File(work, "ckpt").getPath, new File(work, "out").getPath, Trigger.AvailableNow()))
    }
  }

  // ---- the run ----

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(o: Opts): Unit = {
    val tracer = new Tracer(o.trace)
    rmTree(new File(o.root, s"work/${o.workload}"))
    val g0 = now
    val in = tracer.span("generate")(inputs(o, o.seed, warm = false))
    val warmIn = tracer.span("generate.warm")(inputs(o, o.seed + 1000003L, warm = true))
    val genMs = now - g0

    // set up five times: session start, dimension load, warm-up; the
    // first one is cold and counts from the JVM's start
    val ledger = new StageLedger
    val setups = ArrayBuffer.empty[Double]
    val resolves = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dims: DataFrame = null
    for (i <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime + genMs else now
      tracer.span("setup", "i" -> i) {
        spark = tracer.span("session.start")(session(o))
        val r0 = System.nanoTime()
        dims = tracer.span("enrich.resolve_dims")(loadDims(spark, in.dimFiles).localCheckpoint())
        resolves += (System.nanoTime() - r0) / 1e6
        tracer.span("warmup")(warm(o, spark, dims, warmIn))
      }
      setups += (now - t0) / 1000.0
    }
    if (o.trace) spark.sparkContext.addSparkListener(ledger)

    val m = tracer.span("measure") {
      o.workload match {
        case "backlog-drain" => measureDrain(o, spark, dims, in, ledger, tracer)
        case "router-reindex" => measureReindex(o, spark, dims, in, ledger, tracer)
        case "live-tail" => measureLive(o, spark, in, tracer)
      }
    }
    val rss = peakRssMb()
    val endToEnd: Map[String, Double] = Map("setup_s" -> Stats.median(setups.toSeq), "records_per_s" -> m.rate,
      "freshness_p50_ms" -> m.freshP50, "freshness_p99_ms" -> m.freshP99, "peak_rss_mb" -> rss)

    require(endToEnd.keySet == o.spec.endToEnd.keySet,
      s"end-to-end metrics ${endToEnd.keySet.toSeq.sorted} vs BENCHMARK.json ${o.spec.endToEnd.keySet.toSeq.sorted}")

    var verdict = m.verdict
    val metrics: Map[String, Double] =
      if (!o.trace) endToEnd
      else {
        val sparkTotals = ledger.settled(m.rounds)
        val dormant = o.workload == "router-reindex"
        val (ladder, ladderProblems) = tracer.span("ladder")(scratch(o, "ladder") { dir =>
          Ladder.run(readShards(spark, m.ladderInput), dims, dormant, dir.getPath, 3, tracer)
        })
        // the program's own stage counts must equal what was planted
        val planted = Seq(
          "count.in" -> in.recs.length, "count.malformed" -> in.count(Fate.Malformed),
          "count.log" -> (in.recs.length - in.count(Fate.Malformed) - in.count(Fate.NonLog)),
          "count.routed" -> (in.count(Fate.Doc) + in.count(Fate.NoKey)),
          "count.enriched" -> in.count(Fate.Doc))
        val countProblems = planted.collect {
          case (k, want) if ladder(k) != want => s"$k: program ${ladder(k).toLong}, planted $want"
        }
        verdict = verdict ++ Verdict(0, 0, ladderProblems ++ countProblems)
        val pattern = if (dormant) "%{ROUTERACCESS}" else "%{GENERIC}"
        val kernels = tracer.span("kernels") {
          Map("decode.ns_per_record" -> Ladder.decodeNs(in, 400),
            "grok.ns_per_record" -> Ladder.grokNs(in, pattern, 400))
        }
        val computed = m.layer ++ sparkTotals ++ ladder.filter(kv => !kv._1.startsWith("count.")) ++
          kernels ++ Map("enrich.resolve_dims_ms" -> Stats.median(resolves.toSeq))
        val unknown = computed.keySet diff o.spec.perLayer.keySet
        require(unknown.isEmpty, s"per-layer metrics BENCHMARK.json does not declare: ${unknown.toSeq.sorted}")
        // a declared figure this workload cannot have (a sweep on backlog-drain) reads 0
        val layer = o.spec.perLayer.map { case (k, _) => k -> 0.0 } ++ computed
        val file = new File(o.root, s"traces/${o.workload}-seed${o.seed}.json")
        file.getParentFile.mkdirs()
        Files.write(file.toPath, Json(Map(
          "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "cores" -> o.cores,
          "end_to_end_traced" -> endToEnd, "per_layer" -> layer, "counts" -> ladder.filter(_._1.startsWith("count.")),
          "setups_s" -> setups.toSeq, "problems" -> verdict.problems, "notes" -> verdict.notes,
          "spans" -> tracer.toJson)).getBytes(UTF_8))
        System.err.println(s"trace written to $file")
        layer
      }
    rmTree(new File(o.root, s"work/${o.workload}"))
    spark.stop()

    (verdict.problems ++ verdict.notes).foreach(p => System.err.println(s"check: $p"))
    System.err.println(s"setups_s=${setups.mkString(",")} end_to_end=${Json(endToEnd)}")
    println(Json(Map(
      "correct" -> verdict.problems.isEmpty,
      "attempted" -> verdict.attempted,
      "failed" -> verdict.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> o.spec.units(k))
      }.toMap)))
  }
}
