package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.grok.GrokLibrary
import graft.pipeline.{Classifier, Enrich, EnvelopeCodec, Pipeline}

/** The pipeline as cumulative prefixes, built from each layer's public
  * functions in the order [[Pipeline.assemble]] applies them, timed
  * from outside, plus single-threaded kernels over the workload's bytes.
  */
object Ladder {

  /** scan → decode → route → grok → enrich → columns → docs. */
  def rungs(records: DataFrame, dims: DataFrame, includeDormant: Boolean): Seq[(String, DataFrame)] = {
    val decoded = Pipeline.withEnv(records)
    val routed = decoded
      .observe("graft_pipeline",
        count(lit(1)).as("records_total"),
        count(when(col("env").isNull, 1)).as("malformed_total"))
      .filter(col("env").isNotNull)
      .filter(col("env.event_type") === "LogMessage")
      .withColumn("family", Classifier.family(col("env.log_message.source_instance"),
        col("env.tags"), col("env.log_message.source_type"), includeDormant))
      .filter(col("family").isNotNull)
    val patterns = if (includeDormant) Classifier.allFamilyPatterns else Classifier.familyPatterns
    val grokked = patterns.foldLeft(routed) { case (df, (fam, pat)) =>
      df.withColumn("captures",
        when(col("family") === fam,
          graft.functions.grok_extract_map(col("env.log_message.message"), pat))
          .otherwise(if (df.columns.contains("captures")) col("captures")
            else lit(null).cast("map<string,string>")))
    }
    val enriched = Enrich.enrich(grokked, dims,
      appId = col("env.log_message.app_id"),
      rtrAppId = coalesce(col("captures").getItem("rtr_app_id"), lit("")))
    val columns = enriched
      .withColumn("timestamp", unix_millis(col("approximateArrivalTimestamp")))
      .withColumn("file_path", col("env.log_message.source_instance"))
      .withColumn("@cf.env", col("env.origin"))
      .withColumn("dt", date_format(col("approximateArrivalTimestamp"), "yyyy-MM-dd"))
      .withColumn("es_index", concat(col("family"), lit("-"), col("dt")))
    Seq("scan" -> records, "decode" -> decoded, "route" -> routed, "grok" -> grokked,
      "enrich" -> enriched, "columns" -> columns, "docs" -> Pipeline.toJsonDocs(columns))
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Times every rung (best of `reps`; the executed plan, never a bare
    * count that Catalyst could prune) and the write on top, checks the
    * docs rung against [[Pipeline.assemble]] row for row, and counts the
    * outcomes at each boundary. Returns metrics and any problem found.
    */
  def run(records: DataFrame, dims: DataFrame, includeDormant: Boolean,
          scratch: String, reps: Int, tracer: Tracer): (Map[String, Double], Seq[String]) = {
    val rs = rungs(records, dims, includeDormant)
    val t = rs.map { case (name, df) =>
      name -> tracer.span(s"ladder.$name") {
        (1 to reps).map(_ => secs(df.queryExecution.toRdd.count(): Unit)).min
      }
    }.toMap
    val columns = rs.find(_._1 == "columns").get._2
    val write = tracer.span("ladder.write") {
      (1 to reps).map { i =>
        val dir = s"$scratch/write-$i"
        secs(Pipeline.writePartitioned(columns, dir))
      }.min
    }
    val docs = rs.last._2
    val assembled = Pipeline.toJsonDocs(Pipeline.assemble(records, dims, includeDormant))
    // row-for-row as multisets: count and two order-free row-hash sums per
    // side, each side its own job (both plans carry the same observe name)
    def digest(df: DataFrame) = {
      val cols = df.columns.map(c => col(s"`$c`"))
      df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        sum(hash(cols: _*).cast("long"))).head().toSeq
    }
    val parity = tracer.span("ladder.parity")(digest(docs) == digest(assembled))
    val counts = tracer.span("ladder.counts") {
      val decoded = rs(1)._2
      val isLog = col("env").isNotNull && col("env.event_type") === "LogMessage"
      val fam = Classifier.family(col("env.log_message.source_instance"), col("env.tags"),
        col("env.log_message.source_type"), includeDormant)
      val a = decoded.agg(count(lit(1)), count(when(col("env").isNull, 1)), count(when(isLog, 1)),
        count(when(isLog && fam.isNotNull, 1))).head()
      val g = rs(3)._2.agg(count(lit(1)), count(when(size(col("captures")) > 0, 1))).head()
      val e = rs(4)._2.agg(count(lit(1)), count(when(col("`@cf.app`") =!= "", 1))).head()
      val d = docs.agg(avg(octet_length(col("doc")))).head()
      Map("in" -> a.getLong(0), "malformed" -> a.getLong(1), "log" -> a.getLong(2),
        "routed" -> a.getLong(3), "grokked" -> g.getLong(0), "captured" -> g.getLong(1),
        "enriched" -> e.getLong(0), "resolved" -> e.getLong(1)) ++
        Map("doc_bytes_x1000" -> (if (d.isNullAt(0)) 0L else (d.getDouble(0) * 1000).toLong))
    }
    val m = Map(
      "decode.marginal_s" -> (t("decode") - t("scan")),
      "route.marginal_s" -> (t("route") - t("decode")),
      "grok.marginal_s" -> (t("grok") - t("route")),
      "enrich.marginal_s" -> (t("enrich") - t("grok")),
      "docs.marginal_s" -> (t("docs") - t("enrich")),
      "sink.marginal_s" -> (write - t("docs")),
      "decode.malformed" -> counts("malformed").toDouble,
      "route.dropped" -> (counts("log") - counts("routed")).toDouble,
      "enrich.dropped" -> (counts("routed") - counts("enriched")).toDouble,
      "grok.match_ratio" -> ratio(counts("captured"), counts("grokked")),
      "enrich.hit_ratio" -> ratio(counts("resolved"), counts("enriched")),
      "docs.bytes_per_record" -> counts("doc_bytes_x1000") / 1000.0)
    val problems = if (parity) Nil else Seq("ladder docs rung differs from Pipeline.assemble")
    (m ++ counts.map { case (k, v) => s"count.$k" -> v.toDouble }, problems)
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Mean ns per item of `f` over `items`, repeated for at least `minMs`. */
  def nsPer[T](items: Array[T], minMs: Long)(f: T => Unit): Double = {
    if (items.isEmpty) return 0.0
    items.foreach(f)
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minMs * 1000000L) { items.foreach(f); n += items.length }
    (System.nanoTime() - t0).toDouble / n
  }

  def decodeNs(inputs: Inputs, minMs: Long): Double =
    nsPer(inputs.recs.map(_.data), minMs) { b =>
      try EnvelopeCodec.decode(b) catch { case _: EnvelopeCodec.MalformedEnvelopeException => () }
    }

  def grokNs(inputs: Inputs, pattern: String, minMs: Long): Double = {
    val g = GrokLibrary.default.compile(pattern)
    nsPer(inputs.recs.filter(_.family != null).map(r => UTF8String.fromString(r.message)), minMs) { s =>
      g.evalMap(s)
    }
  }
}
