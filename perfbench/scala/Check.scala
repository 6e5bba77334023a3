package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one check of a sink found. `attempted` counts the expected
  * documents; `failed` the expected documents that are missing,
  * duplicated or wrong. `problems` are every failed check, one line
  * each: missing, duplicated or wrong documents, documents nobody
  * planted, shard purity, order, per-index counts, conservation,
  * retention sets. A run is correct only if there are none.
  */
final case class Verdict(attempted: Long, failed: Long, problems: Seq[String],
                         notes: Seq[String] = Nil) {
  def ++(o: Verdict): Verdict =
    Verdict(attempted + o.attempted, failed + o.failed, problems ++ o.problems, (notes ++ o.notes).take(20))
}

/** Checks a document sink against the generator's labels only: doc ids
  * are recomputed here, `@cf.*` values come from the dimension truth
  * and router fields from the values the generator formatted.
  */
final class Checker(inputs: Inputs) {
  private val docs = inputs.docs
  private val mapper = new ObjectMapper()
  private val byId: Map[String, Rec] =
    docs.iterator.map(r => Gen.docId(Gen.esIndex(r), r.seq) -> r).toMap
  require(byId.size == docs.length, "generator produced colliding doc ids")

  /** The exact field map a `%{GENERIC}` or unmatched router document
    * must carry; for a matched router line, the fields it must contain.
    */
  private def expectedFields(r: Rec): Map[String, String] = {
    val base = Gen.expectedCf(r.appKey, inputs.apps).toMap ++
      Map("file_path" -> r.sourceInstance, "@cf.env" -> r.origin)
    if (r.family == "gorouter") base ++ Map("GENERIC" -> r.message, "log_event" -> r.message)
    else if (r.captures != null) base ++ r.captures
    else base
  }

  private def docProblem(r: Rec, esIndex: String, dt: String, json: String): Option[String] = {
    if (esIndex != Gen.esIndex(r)) return Some(s"es_index $esIndex, expected ${Gen.esIndex(r)}")
    if (dt != Gen.day(r.arrivalMs)) return Some(s"dt $dt")
    val node = mapper.readTree(json)
    if (node.get("timestamp").asLong != r.arrivalMs) return Some(s"timestamp ${node.get("timestamp")}")
    val got = node.get("fields").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val want = expectedFields(r)
    if (r.captures == null) {
      if (got != want) return Some(s"fields ${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)}")
    } else {
      val bad = want.filter { case (k, v) => !got.get(k).contains(v) }
      if (bad.nonEmpty) return Some(s"fields ${bad.take(3)} got ${bad.keys.take(3).map(got.get)}")
      val extra = got.keySet.filter(k => (k.startsWith("rtr_") || k.startsWith("x_b3_")) && !want.contains(k))
      if (extra.nonEmpty) return Some(s"unexpected router fields $extra")
    }
    None
  }

  /** Reads every parquet document under `root` (one `batch=` level for
    * streaming sinks) and checks it. `streaming` adds shard purity and
    * per-shard order within every file. Returns the verdict and, per
    * document found, its batch id (for freshness).
    */
  def check(spark: SparkSession, root: String, streaming: Boolean): (Verdict, Array[(Rec, Int)]) = {
    // the listener's Spark totals leave this group out: checking is not pipeline work
    spark.sparkContext.setJobGroup(Checker.JobGroup, "output check", interruptOnCancel = false)
    try checkSink(spark, root, streaming) finally spark.sparkContext.clearJobGroup()
  }

  private def checkSink(spark: SparkSession, root: String, streaming: Boolean): (Verdict, Array[(Rec, Int)]) = {
    val df0 = spark.read.parquet(root)
    val batchCol = if (df0.columns.contains("batch")) col("batch").cast("int") else lit(-1)
    val rows = df0.select(input_file_name().as("f"), col("es_index"), col("dt"), col("doc_id"),
      col("doc"), batchCol.as("b")).toLocalIterator().asScala
    val seen = mutable.HashMap.empty[String, Int]
    val found = mutable.ArrayBuffer.empty[(Rec, Int)]
    val perIndex = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val notes = mutable.ArrayBuffer.empty[String]
    var wrong, duplicated, unplanted, impure, disorder = 0L
    var file = ""
    var fileShard = -1
    var lastPos = -1L
    rows.foreach { row =>
      val f = row.getString(0)
      val (idx, dt, id, json, b) = (row.getString(1), row.getString(2), row.getString(3), row.getString(4), row.getInt(5))
      perIndex(idx) += 1
      byId.get(id) match {
        case None =>
          unplanted += 1
          if (notes.size < 5) notes += s"unplanted doc $id in $idx"
        case Some(r) =>
          val n = seen.getOrElse(id, 0) + 1
          seen(id) = n
          if (n == 2) { duplicated += 1; if (notes.size < 5) notes += s"duplicate doc $id" }
          if (n == 1) {
            docProblem(r, idx, dt, json) match {
              case Some(p) => wrong += 1; if (notes.size < 5) notes += s"doc ${r.seq}: $p"
              case None => found += ((r, b))
            }
          }
          if (streaming) {
            if (f != file) { file = f; fileShard = r.shard; lastPos = -1L }
            if (r.shard != fileShard) impure += 1
            else if (r.pos <= lastPos) disorder += 1
            lastPos = r.pos
          }
      }
    }
    val missing = docs.count(r => !seen.contains(Gen.docId(Gen.esIndex(r), r.seq)))
    val wantIndex = docs.groupBy(Gen.esIndex).view.mapValues(_.length.toLong).toMap
    // conservation: records in = documents out + every planted drop
    val drops = Fate.all.filter(_ != Fate.Doc).map(inputs.count).sum
    val conserved = perIndex.values.sum + drops == inputs.recs.length
    val problems = Seq(
      if (missing > 0) Some(s"$missing expected documents missing") else None,
      if (duplicated > 0) Some(s"$duplicated expected documents duplicated") else None,
      if (wrong > 0) Some(s"$wrong documents with wrong content") else None,
      if (!conserved) Some(s"${inputs.recs.length} records in, ${perIndex.values.sum} docs out, $drops planted drops")
      else None,
      if (unplanted > 0) Some(s"$unplanted documents that no planted record explains") else None,
      if (impure > 0) Some(s"$impure docs in a file of another shard") else None,
      if (disorder > 0) Some(s"$disorder docs out of shard order") else None,
      if (perIndex.toMap != wantIndex) Some(s"per-index counts ${perIndex.toMap} vs $wantIndex") else None
    ).flatten
    (Verdict(docs.length, missing + duplicated + wrong, problems, notes.toSeq), found.toArray)
  }
}

object Checker {
  val JobGroup = "perfbench-check"
}
