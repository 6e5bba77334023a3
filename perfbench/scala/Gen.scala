package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Base64
import java.util.regex.Pattern

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Protobuf wire writer of the benchmark's own (proto2 varint and
  * length-delimited fields of the Loggregator envelope), so the inputs
  * never depend on the program's codec.
  */
final class PbWriter {
  private val out = new ByteArrayOutputStream()
  def varint(v0: Long): PbWriter = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt); this
  }
  def tag(field: Int, wire: Int): PbWriter = varint((field.toLong << 3) | wire)
  def int(field: Int, v: Long): PbWriter = tag(field, 0).varint(v)
  def bytes(field: Int, b: Array[Byte]): PbWriter = { tag(field, 2).varint(b.length); out.write(b); this }
  def str(field: Int, s: String): PbWriter = bytes(field, s.getBytes(UTF_8))
  def size: Int = out.size()
  def result: Array[Byte] = out.toByteArray
}

/** What the generator planted a record to be. Only `Doc` records
  * yield a document; the others are drops the output must not show.
  */
object Fate {
  val Doc = "doc"
  val Malformed = "malformed"
  val NonLog = "non_log_message"
  val DropRoute = "drop_route"
  val Unroutable = "unroutable"
  val NoKey = "no_key"
  val all: Seq[String] = Seq(Doc, Malformed, NonLog, DropRoute, Unroutable, NoKey)
}

/** Dimension truth for one app, as the enrichment must report it. */
final case class AppTruth(guid: String, name: String, spaceId: String, space: String,
                          orgId: String, org: String)

/** One generated record with its label. `appKey` is the key the
  * enrichment must use (null when the record is not a document);
  * `captures` are the typed router fields as formatted (null for
  * `%{GENERIC}` lines and for router lines the pattern must miss).
  */
final case class Rec(
    shard: Int,
    pos: Long,
    seq: String,
    arrivalMs: Long,
    data: Array[Byte],
    fate: String,
    family: String,
    message: String,
    sourceInstance: String,
    origin: String,
    appKey: String,
    captures: Array[(String, String)])

/** The generated inputs of one workload and seed, with the truth the
  * checker compares against.
  */
final class Inputs(val shards: Int, val recs: Array[Rec],
                   val apps: Map[String, AppTruth], val dimCsv: Map[String, String], val dir: File) {
  lazy val docs: Array[Rec] = recs.filter(_.fate == Fate.Doc)
  def count(fate: String): Int = recs.count(_.fate == fate)
  def dimFiles: Map[String, String] = dimCsv.map { case (k, _) => k -> new File(dir, s"dims/$k.csv").getPath }
  def shardDir: File = new File(dir, "shards")

  /** Digest of everything written, so a cached copy from another
    * generator version is never reused.
    */
  def fingerprint: String = {
    val md = MessageDigest.getInstance("MD5")
    dimCsv.toSeq.sorted.foreach { case (k, v) => md.update(k.getBytes(UTF_8)); md.update(v.getBytes(UTF_8)) }
    recs.foreach { r => md.update(s"${r.shard},${r.seq},${r.arrivalMs},".getBytes(UTF_8)); md.update(r.data) }
    Gen.hex(md.digest())
  }

  def writeDims(): Unit = dimCsv.foreach { case (k, v) =>
    val f = new File(dimFiles(k)); f.getParentFile.mkdirs(); Files.write(f.toPath, v.getBytes(UTF_8))
  }
}

object Gen {

  val Origins: Seq[String] = Seq("cf.prod.example.gov.au", "cf.staging.example.gov.au")
  val AccessLog = "/var/vcap/sys/log/gorouter/access.log"
  private val DayFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val RtrTimeFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'").withZone(ZoneOffset.UTC)
  private val GuidRe = Pattern.compile(
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")

  def day(ms: Long): String = DayFmt.format(Instant.ofEpochMilli(ms))

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  def docId(esIndex: String, seq: String): String =
    hex(MessageDigest.getInstance("MD5").digest(s"$esIndex:$seq".getBytes(UTF_8)))

  def esIndex(r: Rec): String = s"${r.family}-${day(r.arrivalMs)}"

  private def hex(rng: Random, n: Int) = (0 until n).map(_ => "0123456789abcdef"(rng.nextInt(16))).mkString

  def guid(rng: Random): String =
    s"${hex(rng, 8)}-${hex(rng, 4)}-4${hex(rng, 3)}-${"89ab"(rng.nextInt(4))}${hex(rng, 3)}-${hex(rng, 12)}"

  /** Kinesis-style 56-digit sequence number, increasing within a shard. */
  def seqNo(shard: Int, pos: Long): String = f"4959$shard%02d$pos%050d"

  /** The six `@cf.*` values a key must enrich to, from dimension truth:
    * a valid, known GUID (any case) resolves; anything else keeps the
    * raw key with empty names.
    */
  def expectedCf(key: String, apps: Map[String, AppTruth]): Seq[(String, String)] = {
    val hit = if (GuidRe.matcher(key).matches()) apps.get(key.toLowerCase) else None
    val t = hit.getOrElse(AppTruth("", "", "", "", "", ""))
    Seq("@cf.app" -> t.name, "@cf.app_id" -> key, "@cf.space" -> t.space,
      "@cf.space_id" -> t.spaceId, "@cf.org" -> t.org, "@cf.org_id" -> t.orgId)
  }

  // ---- dimension tables ----

  private val Suffixes = Seq("", "", "", "", "-blue", "-green", "-venerable",
    "-green-venerable", "-blue-green", "-venerable-blue")
  private val Words = Seq("api", "portal", "search", "forms", "notify", "pay", "auth", "maps",
    "docs", "data", "report", "track", "book", "claims", "grants", "alerts")

  /** The apps/spaces/orgs CSVs and the truth per lower-case app GUID. Some spaces and orgs are missing
    * from their tables, some GUIDs are stored upper-case, and names
    * carry `-blue`/`-green`/`-venerable` suffixes (the last one stripped).
    */
  def dims(rng: Random, nApps: Int): (Map[String, AppTruth], Map[String, String]) = {
    val nOrgs = math.max(3, nApps / 200)
    val nSpaces = math.max(6, nApps / 20)
    val orgs = Array.tabulate(nOrgs)(i => (guid(rng), s"org-${Words(i % Words.size)}-$i", rng.nextInt(30) != 0))
    val spaces = Array.tabulate(nSpaces) { i =>
      (guid(rng), s"space-$i", orgs(rng.nextInt(nOrgs)), rng.nextInt(30) != 0)
    }
    val appRows = ArrayBuffer.empty[String]
    val truth = mutable.LinkedHashMap.empty[String, AppTruth]
    while (truth.size < nApps) {
      val g = guid(rng)
      val i = truth.size
      val sp = spaces(rng.nextInt(nSpaces))
      val suffix = Suffixes(rng.nextInt(Suffixes.size))
      val base = s"${Words(rng.nextInt(Words.size))}-${Words(rng.nextInt(Words.size))}-$i"
      val lastCut = Seq("-venerable", "-blue", "-green").find(s => suffix.endsWith(s))
      val stripped = base + lastCut.map(s => suffix.dropRight(s.length)).getOrElse(suffix)
      val storedGuid = if (rng.nextInt(10) == 0) g.toUpperCase else g
      val storedSpace = if (rng.nextInt(10) == 0) sp._1.toUpperCase else sp._1
      appRows += s"$storedGuid,$base$suffix,$storedSpace"
      val (spaceName, orgId, orgName) =
        if (!sp._4) ("", "", "")
        else (sp._2, sp._3._1, if (sp._3._3) sp._3._2 else "")
      truth(g) = AppTruth(g, stripped, sp._1, spaceName, orgId, orgName)
    }
    val csv = Map(
      "apps" -> ("app_guid,name,space_guid\n" + appRows.mkString("\n") + "\n"),
      "spaces" -> ("space_guid,name,org_guid\n" + spaces.filter(_._4)
        .map(s => s"${s._1},${s._2},${s._3._1}").mkString("\n") + "\n"),
      "orgs" -> ("org_guid,name\n" + orgs.filter(_._3).map(o => s"${o._1},${o._2}").mkString("\n") + "\n"))
    (truth.toMap, csv)
  }

  // ---- messages ----

  private val Agents = Seq("Mozilla/5.0 (X11; Linux x86_64)", "Mozilla/5.0 (iPhone; CPU OS 17_5)",
    "cf/8.7.10 (go1.22.2; linux)", "Go-http-client/1.1", "curl/8.5.0", "kube-probe/1.29")
  private val Paths = Seq("/v3/apps", "/v2/info", "/api/forms/submit", "/healthz", "/static/js/main.8f3a.js",
    "/search", "/v3/processes", "/login", "/api/v1/claims", "/assets/logo.svg")
  private val Verbs = Seq("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Statuses = Seq("200", "200", "200", "201", "204", "301", "304", "400", "404", "500", "502")

  /** A gorouter access line and its typed fields, as the router formats
    * them. `appField` is the value written into `app_id:"…"`.
    */
  def routerLine(rng: Random, tsMs: Long, appField: String): (String, Array[(String, String)]) = {
    val host = s"${Words(rng.nextInt(Words.size))}-${rng.nextInt(50)}.apps.gov.au"
    val path = Paths(rng.nextInt(Paths.size)) +
      (if (rng.nextBoolean()) s"?page=${rng.nextInt(40)}&per_page=${10 * (1 + rng.nextInt(10))}" else "")
    val fields = Array(
      "rtr_hostname" -> host,
      "rtr_time" -> RtrTimeFmt.format(Instant.ofEpochMilli(tsMs - rng.nextInt(500))),
      "rtr_verb" -> Verbs(rng.nextInt(Verbs.size)),
      "rtr_path" -> path,
      "rtr_http_spec" -> (if (rng.nextInt(4) == 0) "HTTP/2.0" else "HTTP/1.1"),
      "rtr_status" -> Statuses(rng.nextInt(Statuses.size)),
      "rtr_request_bytes_received" -> rng.nextInt(5000).toString,
      "rtr_body_bytes_sent" -> rng.nextInt(200000).toString,
      "rtr_referer" -> (if (rng.nextBoolean()) "-" else s"https://$host/"),
      "rtr_http_user_agent" -> Agents(rng.nextInt(Agents.size)),
      "rtr_src_host" -> s"10.0.${rng.nextInt(256)}.${rng.nextInt(256)}",
      "rtr_src_port" -> (1024 + rng.nextInt(60000)).toString,
      "rtr_dst_host" -> s"10.1.${rng.nextInt(256)}.${rng.nextInt(256)}",
      "rtr_dst_port" -> (61000 + rng.nextInt(4000)).toString,
      "rtr_x_forwarded_for" -> s"203.0.113.${rng.nextInt(256)}, 10.0.${rng.nextInt(256)}.${rng.nextInt(256)}",
      "rtr_x_forwarded_proto" -> (if (rng.nextInt(10) == 0) "http" else "https"),
      "rtr_vcap_request_id" -> guid(rng),
      "rtr_response_time_sec" -> f"0.${rng.nextInt(1000000000)}%09d",
      "rtr_app_id" -> appField,
      "rtr_app_index" -> rng.nextInt(8).toString,
      "x_b3_traceid" -> hex(rng, 16),
      "x_b3_spanid" -> hex(rng, 16),
      "x_b3_parentspanid" -> (if (rng.nextBoolean()) "-" else hex(rng, 16)))
    val f = fields.toMap
    val line = s"""${f("rtr_hostname")} - [${f("rtr_time")}] "${f("rtr_verb")} ${f("rtr_path")} """ +
      s"""${f("rtr_http_spec")}" ${f("rtr_status")} ${f("rtr_request_bytes_received")} """ +
      s"""${f("rtr_body_bytes_sent")} "${f("rtr_referer")}" "${f("rtr_http_user_agent")}" """ +
      s""""${f("rtr_src_host")}:${f("rtr_src_port")}" "${f("rtr_dst_host")}:${f("rtr_dst_port")}" """ +
      s"""x_forwarded_for:"${f("rtr_x_forwarded_for")}" x_forwarded_proto:"${f("rtr_x_forwarded_proto")}" """ +
      s"""vcap_request_id:"${f("rtr_vcap_request_id")}" response_time:${f("rtr_response_time_sec")} """ +
      s"""app_id:"${f("rtr_app_id")}" app_index:"${f("rtr_app_index")}" """ +
      s"""x_b3_traceid:"${f("x_b3_traceid")}" x_b3_spanid:"${f("x_b3_spanid")}" """ +
      s"""x_b3_parentspanid:"${f("x_b3_parentspanid")}""""
    (line, fields)
  }

  /** A structured application log line of 300–500 bytes. */
  def appLine(rng: Random, tsMs: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""{"timestamp":"${Instant.ofEpochMilli(tsMs)}","level":"${Seq("info", "info", "warn", "error", "debug")(rng.nextInt(5))}",""" +
      s""""source":"${Words(rng.nextInt(Words.size))}.worker","message":"${Words(rng.nextInt(Words.size))} job finished",""" +
      s""""data":{"request_guid":"${guid(rng)}","path":"${Paths(rng.nextInt(Paths.size))}",""" +
      s""""status":${Statuses(rng.nextInt(Statuses.size))},"duration_ms":${rng.nextInt(3000)},"note":""""
    val target = 300 + rng.nextInt(200) - 2
    while (sb.length < target) sb ++= Words(rng.nextInt(Words.size)) + " "
    sb.setLength(target)
    sb ++= "\"}}"
    sb.toString
  }

  // ---- envelopes ----

  final case class Env(origin: String, eventType: Int, tsNs: Long, job: String, ip: String,
                       tags: Seq[(String, String)], message: String, appId: String,
                       sourceType: String, sourceInstance: String)

  private def logMessage(e: Env, dropMessage: Boolean = false): Array[Byte] = {
    val w = new PbWriter
    if (!dropMessage) w.str(1, e.message)
    w.int(2, 1).int(3, e.tsNs)
    if (e.appId.nonEmpty) w.str(4, e.appId)
    w.str(5, e.sourceType).str(6, e.sourceInstance)
    w.result
  }

  /** Builds `make(variant, n)` for a few filler sizes around `est` and
    * returns the first of exactly `padTo` bytes (two variants, because
    * a varint length step can skip a size).
    */
  private def fit(padTo: Int, est: Int)(make: (Int, Int) => Array[Byte]): Array[Byte] =
    (0 to 1).iterator.flatMap(v => (-8 to 8).iterator.map(d => (v, est + d)))
      .filter(_._2 >= 1).map { case (v, n) => make(v, n) }.find(_.length == padTo)
      .getOrElse(throw new IllegalStateException(s"cannot pad a record to $padTo bytes"))

  /** Encodes `e`; `padTo` > 0 pads with a filler tag to exactly that many bytes. */
  def encode(e: Env, padTo: Int = 0): Array[Byte] = {
    def build(filler: Option[(String, String)]): Array[Byte] = {
      val w = new PbWriter
      w.str(1, e.origin).int(2, e.eventType).int(6, e.tsNs)
      if (e.eventType == 5) w.bytes(8, logMessage(e))
      else w.bytes(9, new PbWriter().str(1, "memory.used").int(2, 42).result) // skipped payload
      w.str(13, "cf").str(14, e.job).str(15, "0").str(16, e.ip)
      (e.tags ++ filler).foreach { case (k, v) => w.bytes(17, new PbWriter().str(1, k).str(2, v).result) }
      w.result
    }
    val plain = build(None)
    if (padTo <= 0) plain
    else fit(padTo, padTo - plain.length - 18) { (v, n) =>
      build(Some((if (v == 0) "placement" else "placement_zone") -> "x" * n))
    }
  }

  /** Four deterministic decode failures: missing origin, a LogMessage
    * without its required message, a field cut mid-payload, and a
    * known field sent with the wrong wire type.
    */
  def malformed(e: Env, kind: Int, padTo: Int): Array[Byte] = {
    // unknown fields (10, 30) are skipped by a decoder, so padding keeps the fault
    def pad(w: PbWriter): Array[Byte] =
      if (padTo <= 0) w.result
      else fit(padTo, padTo - w.size - 4) { (v, n) =>
        w.result ++ new PbWriter().str(if (v == 0) 10 else 30, "y" * n).result
      }
    kind match {
      case 0 => pad(new PbWriter().int(2, 5).int(6, e.tsNs).bytes(8, logMessage(e)))
      case 1 => pad(new PbWriter().str(1, e.origin).int(2, 5).bytes(8, logMessage(e, dropMessage = true)))
      case 2 =>
        // the LogMessage declares more bytes than the record carries
        val lm = logMessage(e)
        val head = new PbWriter().str(1, e.origin).int(2, 5).tag(8, 2)
        if (padTo <= 0) head.varint(lm.length).result ++ lm.take(lm.length / 2)
        else {
          val h = head.varint(padTo * 2L).result
          h ++ Array.fill(padTo - h.length)('z'.toByte)
        }
      case _ => pad(new PbWriter().str(1, e.origin).str(2, "LogMessage").bytes(8, logMessage(e)))
    }
  }

  def line(r: Rec): String = s"${r.seq},${r.arrivalMs},${Base64.getEncoder.encodeToString(r.data)}"

  /** Writes every shard log (`shard-NNN.log`) under `dir`. */
  def writeShards(recs: Array[Rec], shards: Int, dir: File): Unit = {
    dir.mkdirs()
    val outs = Array.tabulate(shards)(s =>
      new BufferedOutputStream(new FileOutputStream(new File(dir, f"shard-$s%03d.log")), 1 << 20))
    try recs.foreach(r => outs(r.shard).write((line(r) + "\n").getBytes(UTF_8)))
    finally outs.foreach(_.close())
  }

  // ---- record mixes ----

  /** A labelled record not yet placed in a shard. */
  private def label(data: Array[Byte], fate: String, origin: String, family: String = null,
                    message: String = null, sourceInstance: String = "", appKey: String = null,
                    captures: Array[(String, String)] = null): Rec =
    Rec(-1, -1L, null, 0L, data, fate, family, message, sourceInstance, origin, appKey, captures)

  /** Places records in shards: per-shard position and sequence number. */
  private final class Placer(shards: Int) {
    private val positions = new Array[Long](shards)
    def apply(shard: Int, arrivalMs: Long, r: Rec): Rec = {
      val p = positions(shard)
      positions(shard) += 1
      r.copy(shard = shard, pos = p, seq = seqNo(shard, p), arrivalMs = arrivalMs)
    }
  }

  /** One firehose record under the deployed routes (`%{GENERIC}`
    * families): malformed, non-LogMessage, drop-route, unroutable,
    * no-key or a document with one of five app-key classes. The shares
    * are assumptions, not measurements of production traffic: chosen
    * so that every fate and key class occurs often enough to be checked.
    */
  private def firehose(rng: Random, apps: Array[AppTruth], tsMs: Long, padTo: Int): Rec = {
    val origin = Origins(rng.nextInt(Origins.size))
    val ip = s"10.0.${rng.nextInt(256)}.${rng.nextInt(256)}"
    def key(): String = rng.nextInt(100) match {
      case k if k < 62 => apps(rng.nextInt(apps.length)).guid
      case k if k < 70 => apps(rng.nextInt(apps.length)).guid.toUpperCase
      case k if k < 82 => guid(rng)
      case k if k < 88 => s"app-${rng.nextInt(1000)}"
      case _ => ""
    }
    val base = Env(origin, 5, tsMs * 1000000L, "diego-cell", ip, Seq("deployment" -> "cf"),
      "", "", "", "0")
    val roll = rng.nextInt(100)
    if (roll < 4) {
      val e = base.copy(message = appLine(rng, tsMs), appId = apps(0).guid, sourceType = "APP/PROC/WEB")
      return label(malformed(e, rng.nextInt(4), padTo), Fate.Malformed, origin)
    }
    if (roll < 14) {
      val e = base.copy(eventType = Seq(4, 6, 7, 9)(rng.nextInt(4)))
      return label(encode(e, padTo), Fate.NonLog, origin)
    }
    if (roll < 22) {
      // the four drop-routes fire before the gorouter checks, tags or not
      val si = Seq("/var/log/messages", AccessLog, "/var/vcap/sys/log/director/director.debug.log",
        "/var/vcap/sys/log/uaa/uaa.log")(rng.nextInt(4))
      val e = base.copy(message = appLine(rng, tsMs), appId = key(), sourceType = "RTR",
        sourceInstance = si, tags = Seq("source_id" -> "gorouter"))
      return label(encode(e, padTo), Fate.DropRoute, origin, sourceInstance = si)
    }
    if (roll < 27) {
      val e = base.copy(message = appLine(rng, tsMs), appId = key(),
        sourceType = Seq("CELL", "STG", "API", "APP/TASK/migrate")(rng.nextInt(4)))
      return label(encode(e, padTo), Fate.Unroutable, origin, sourceInstance = "0")
    }
    val k = key()
    val viaTag = rng.nextBoolean()
    val msg =
      if (viaTag) routerLine(rng, tsMs, if (k.isEmpty) apps(rng.nextInt(apps.length)).guid else k)._1
      else appLine(rng, tsMs)
    val si = rng.nextInt(4).toString
    val e = base.copy(message = msg, appId = k,
      sourceType = if (viaTag) "RTR" else "APP/PROC/WEB", sourceInstance = si,
      tags = if (viaTag) Seq("source_id" -> "gorouter", "deployment" -> "cf") else base.tags)
    // %{GENERIC} has no rtr_app_id capture: an empty app_id drops even
    // when the message itself names an app
    label(encode(e, padTo), if (k.isEmpty) Fate.NoKey else Fate.Doc, origin, "gorouter", msg, si,
      if (k.isEmpty) null else k)
  }

  /** One record of the router re-index: a `%{ROUTERACCESS}` line keyed
    * through the envelope app_id or the `rtr_app_id` fallback, or an
    * access-log line the pattern misses. As in [[firehose]], the shares
    * are assumptions chosen to exercise each path, not measured ones.
    */
  private def router(rng: Random, apps: Array[AppTruth], tsMs: Long): Rec = {
    val origin = Origins(rng.nextInt(Origins.size))
    val ip = s"10.0.${rng.nextInt(256)}.${rng.nextInt(256)}"
    val roll = rng.nextInt(100)
    val known = apps(rng.nextInt(apps.length)).guid
    // (envelope app_id, router app_id field, pattern matches)
    val (envApp, rtrApp, matches) =
      if (roll < 55) ("", known, true) // deployed shape: key only via rtr_app_id
      else if (roll < 63) ("", known.toUpperCase, true)
      else if (roll < 71) ("", guid(rng), true)
      else if (roll < 75) ("", "-", true) // router's placeholder for no route
      else if (roll < 85) (known, apps(rng.nextInt(apps.length)).guid, true) // app_id wins
      else if (roll < 91) ("", "", false) // app_id:"" fails NOTSPACE: no captures, no key
      else if (roll < 96) (known, "", false) // no captures, keyed by the envelope
      else ("", "", false)
    val (msg0, fields) = routerLine(rng, tsMs, rtrApp)
    val msg = if (roll < 96) msg0 else s"gorouter.stdout: route registered for ${msg0.take(200)}"
    val e = Env(origin, 5, tsMs * 1000000L, "router", ip, Seq("source_id" -> "gorouter"),
      msg, envApp, "RTR", AccessLog)
    val key = if (envApp.nonEmpty) envApp else if (matches) rtrApp else ""
    label(encode(e), if (key.isEmpty) Fate.NoKey else Fate.Doc, origin, "gorouter_access", msg, AccessLog,
      if (key.isEmpty) null else key, if (matches) fields else null)
  }

  /** Spreads `n` records over `shards` with arrival times in
    * [`t0`, `t0` + `spanMs`), per-shard order by arrival.
    */
  private def layout(rng: Random, n: Int, shards: Int, t0: Long, spanMs: Long): Array[(Int, Long)] =
    Array.fill(n)((rng.nextInt(shards), t0 + (rng.nextDouble() * spanMs).toLong))
      .sortBy { case (s, t) => (s, t) }

  /** 2026-09-01T00:00Z: the fixed epoch the seeded inputs are laid out from. */
  val Epoch: Long = Instant.parse("2026-09-01T00:00:00Z").toEpochMilli

  def backlog(seed: Long, n: Int, shards: Int, nApps: Int, dir: File): Inputs = {
    val rng = new Random(seed * 7919L + 1)
    val (apps, dimCsv) = dims(rng, nApps)
    val appArr = apps.values.toArray.sortBy(_.guid)
    val place = new Placer(shards)
    // a six-hour backlog that crosses midnight: two es_index days
    val recs = layout(rng, n, shards, Epoch + 21 * 3600000L, 6 * 3600000L).map { case (s, t) =>
      place(s, t, firehose(rng, appArr, t, 0))
    }
    new Inputs(shards, recs, apps, dimCsv, dir)
  }

  def reindex(seed: Long, n: Int, shards: Int, nApps: Int, days: Int, dir: File): Inputs = {
    val rng = new Random(seed * 7919L + 2)
    val (apps, dimCsv) = dims(rng, nApps)
    val appArr = apps.values.toArray.sortBy(_.guid)
    val place = new Placer(shards)
    val recs = layout(rng, n, shards, Epoch - days * 86400000L, days * 86400000L).map { case (s, t) =>
      place(s, t, router(rng, appArr, t))
    }
    new Inputs(shards, recs, apps, dimCsv, dir)
  }

  /** Live-tail records, arrival = `t0` + i / rate. Every envelope is
    * padded so each shard line is exactly [[LiveLineBytes]] bytes:
    * appends then never straddle a page and a reader never sees half
    * a line (see the README on the unterminated-line hazard).
    */
  val LiveLineBytes = 1024

  def live(seed: Long, n: Int, shards: Int, nApps: Int, ratePerS: Double, dir: File): Inputs = {
    val rng = new Random(seed * 7919L + 3)
    val (apps, dimCsv) = dims(rng, nApps)
    val appArr = apps.values.toArray.sortBy(_.guid)
    val place = new Placer(shards)
    // 56-digit seq + ',' + 13-digit millis + ',' + base64 + '\n'
    val b64 = LiveLineBytes - 56 - 1 - 13 - 1 - 1
    require(b64 % 4 == 0)
    val padTo = b64 / 4 * 3
    val recs = Array.tabulate(n) { i =>
      val t = (i * 1000.0 / ratePerS).toLong // relative; the run adds its start time
      // the few records too long to pad to a 1024-byte line are drawn again
      val r = Iterator.continually(scala.util.Try(firehose(rng, appArr, Epoch + t, padTo)))
        .collectFirst { case scala.util.Success(x) => x }.get
      place(i % shards, t, r)
    }
    new Inputs(shards, recs, apps, dimCsv, dir)
  }
}
