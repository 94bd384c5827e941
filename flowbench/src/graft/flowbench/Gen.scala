package graft.flowbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input a workload feeds the library is
  * built here from the run's seed, and the same seed gives byte-identical
  * inputs (`digest` hashes their canonical serialization; SelfTest pins
  * it). Nothing here calls the library.
  */
object Gen {

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** 2024-01-01T00:00:00Z, the start of every generated time axis. */
  val T0: Long = 1704067200L

  // ---------------------------------------------------------------- sync

  final case class HistRow(id: Long, device: Int, ts: Long, value: Double,
                           status: String, note: String)
  final case class AcctRow(id: Long, name: String, tier: String,
                           balance: Double, updatedAt: Long)

  /** One committed change: tail inserts plus updates of existing keys
    * whose time column moves to the batch's time (a row "touched now").
    */
  final case class Batch(histInserts: Seq[HistRow], histUpdates: Seq[HistRow],
                         acctInserts: Seq[AcctRow], acctUpdates: Seq[AcctRow]) {
    def size: Int = histInserts.size + histUpdates.size + acctInserts.size + acctUpdates.size
  }

  /** Shape of the two source tables and their change stream.
    *
    * `history` is a time series: ids in time order, `spanDays` of rows.
    * Each batch inserts `histInsert` × rows at the tail and updates
    * `histUpdate` × rows, a share `recentShare` of them drawn from the
    * newest `recentRows` ids (the rest uniformly), so changes crowd the
    * latest day buckets. `accounts` is an entity table whose updates
    * fall uniformly on keys. Every changed row gets a fresh time value
    * past every earlier one, one hour of logical time per batch.
    */
  final case class SyncSpec(histRows: Int, acctRows: Int, spanDays: Int,
                            histInsert: Double, histUpdate: Double,
                            recentRows: Int, recentShare: Double,
                            acctInsert: Double, acctUpdate: Double)

  private val Statuses = Array("ok", "ok", "ok", "warn", "fail")
  private val Tiers = Array("free", "pro", "team", "enterprise")
  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  final class SyncGen(seed: Long, val spec: SyncSpec) {
    private val r = rng(seed, "sync")
    private val spanSec = spec.spanDays * 86400L
    private var clock = T0 + spanSec
    private var nextHist = spec.histRows.toLong + 1
    private var nextAcct = spec.acctRows.toLong + 1

    private def round3(d: Double) = math.rint(d * 1000) / 1000
    private def note(): String = {
      val n = 16 + r.nextInt(24)
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb.append(Alnum.charAt(r.nextInt(Alnum.length))))
      sb.toString
    }
    private def hist(id: Long, ts: Long) = HistRow(id, r.nextInt(64), ts,
      round3(50 + 20 * math.sin(id / 500.0) + r.nextDouble() * 10),
      Statuses(r.nextInt(Statuses.length)), note())
    private def acct(id: Long, ts: Long) = AcctRow(id, f"acct-$id%07d",
      Tiers(r.nextInt(Tiers.length)), round3(r.nextDouble() * 10000), ts)

    def initialHistory(): Seq[HistRow] =
      (1 to spec.histRows).map(i => hist(i.toLong, T0 + i.toLong * spanSec / spec.histRows))

    def initialAccounts(): Seq[AcctRow] =
      (1 to spec.acctRows).map(i => acct(i.toLong, T0 + (r.nextDouble() * spanSec).toLong))

    /** Distinct ids: `n` draws, a `recentShare` of them from the newest
      * `recent` ids below `top`, the rest from all of them.
      */
    private def pickIds(n: Int, top: Long, recent: Int, recentShare: Double): Seq[Long] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      val want = math.min(n.toLong, top - 1).toInt
      while (seen.size < want) {
        val id =
          if (r.nextDouble() < recentShare) top - 1 - r.nextInt(math.min(recent.toLong, top - 1).toInt)
          else 1 + (r.nextDouble() * (top - 1)).toLong
        seen += id
      }
      seen.toSeq
    }

    def nextBatch(): Batch = {
      val nHi = math.round(spec.histRows * spec.histInsert).toInt
      val nHu = math.round(spec.histRows * spec.histUpdate).toInt
      val nAi = math.round(spec.acctRows * spec.acctInsert).toInt
      val nAu = math.round(spec.acctRows * spec.acctUpdate).toInt
      val step = 3600L / (nHi + nHu + nAi + nAu + 1)
      var t = clock
      def tick(): Long = { t += math.max(step, 1L); t }
      val hu = pickIds(nHu, nextHist, spec.recentRows, spec.recentShare).map(id => hist(id, tick()))
      val hi = (0 until nHi).map { _ => nextHist += 1; hist(nextHist - 1, tick()) }
      val au = pickIds(nAu, nextAcct, Int.MaxValue, 0.0).map(id => acct(id, tick()))
      val ai = (0 until nAi).map { _ => nextAcct += 1; acct(nextAcct - 1, tick()) }
      clock += 3600L
      Batch(hi, hu, ai, au)
    }
  }

  def histBytes(rows: Seq[HistRow]): Array[Byte] =
    rows.map(h => s"${h.id}|${h.device}|${h.ts}|${h.value}|${h.status}|${h.note}\n")
      .mkString.getBytes(UTF_8)

  def acctBytes(rows: Seq[AcctRow]): Array[Byte] =
    rows.map(a => s"${a.id}|${a.name}|${a.tier}|${a.balance}|${a.updatedAt}\n")
      .mkString.getBytes(UTF_8)

  def digest(parts: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p))
    md.digest().map("%02x".format(_)).mkString
  }

  // -------------------------------------------------------------- corpus

  /** Page mix of the corpus. Shares are of response records: exact
    * copies of an earlier page's text under another URL, near copies
    * (two words changed), pages on blocked domains, boilerplate-only
    * pages (navigation and footer links, no prose), German pages, and
    * short pages that fail the quality gate. The rest is unique English
    * prose. Every response has a request record beside it, and each
    * file opens with a warcinfo record.
    */
  final case class CorpusSpec(pages: Int, files: Int, domains: Int,
                              blockedDomains: Int, dupShare: Double,
                              nearDupShare: Double, blockedShare: Double,
                              boilerplateShare: Double, germanShare: Double,
                              shortShare: Double)

  final case class Corpus(files: Seq[Array[Byte]], blocked: Seq[String],
                          responses: Int, kinds: Map[String, Int])

  private val English = ("time year people way day man thing woman life child world school " +
    "state family student group country problem hand part place case week company system " +
    "program question work government number night point home water room mother area money " +
    "story fact month lot right study book eye job word business issue side kind head house " +
    "service friend father power hour game line end member law car city community name " +
    "president team minute idea kid body information back parent face others level office door " +
    "health person art war history party result change morning reason research girl guy moment " +
    "air teacher force education river garden market village bridge winter summer station " +
    "letter window forest island engine music paper table kitchen street doctor network " +
    "is was has had will can would should could made said found gave took came went knew " +
    "new good first last long great little own other old big high different small large next " +
    "early young important few public bad same able local sure free better true whole clear " +
    "in on at by for with from into over after under between through during without before " +
    "of to as about against among around because while where when which who that this").split(' ')
  private val German = ("der die das und ist nicht ein eine zu den von mit sich des auf fuer " +
    "im dem wird auch es an werden aus er hat dass sie nach bei um am sind noch wie einem " +
    "ueber einen so zum war haben nur oder aber vor zur bis mehr durch man sein wurde sei " +
    "haus stadt jahr zeit mensch welt land arbeit kind frau mann schule wasser tag nacht").split(' ')

  final class CorpusGen(seed: Long, val spec: CorpusSpec) {
    private val r = rng(seed, "corpus")
    private def pick(a: Array[String]) = a(r.nextInt(a.length))

    private def sentence(lang: String): String = {
      val n = 8 + r.nextInt(10)
      val ws = (0 until n).map { _ =>
        val u = r.nextDouble()
        if (lang == "de") { if (u < 0.12) "der" else if (u < 0.2) "und" else pick(German) }
        else if (u < 0.12) "the" else if (u < 0.18) "and" else if (u < 0.22) "a" else pick(English)
      }
      ws.mkString(" ").capitalize + "."
    }
    private def paragraph(lang: String, sentences: Int): String =
      (0 until sentences).map(_ => sentence(lang)).mkString(" ")
    private def prose(lang: String): Seq[String] =
      (0 until 3 + r.nextInt(4)).map(_ => paragraph(lang, 3 + r.nextInt(3)))

    /** Two words of two paragraphs replaced: a near copy of `ps`. */
    private def nearCopy(ps: Seq[String]): Seq[String] = {
      val out = ArrayBuffer(ps: _*)
      (0 until 2).foreach { _ =>
        val i = r.nextInt(out.size)
        val ws = out(i).split(' ')
        ws(1 + r.nextInt(ws.length - 2)) = pick(English)
        out(i) = ws.mkString(" ")
      }
      out.toSeq
    }

    private def html(title: String, paragraphs: Seq[String]): String = {
      val nav = (0 until 5).map(k => s"""<a href="/section/$k">Section $k of the site</a>""")
        .mkString(" ")
      val body = paragraphs.map(p => s"<p>$p</p>").mkString("\n")
      s"""<!DOCTYPE html><html><head><title>$title</title>
         |<script>var tracker = "x"; function go() { return tracker; }</script></head>
         |<body><div class="nav">$nav</div>
         |<h1>$title</h1>
         |$body
         |<div class="footer"><a href="/privacy">Privacy policy and terms of use</a> <a href="/contact">Contact the editors</a></div>
         |</body></html>""".stripMargin
    }

    private def record(warcType: String, uri: String, contentType: String,
                       payload: Array[Byte], date: String): Array[Byte] = {
      val id = f"${r.nextLong()}%016x${r.nextLong()}%016x"
      val head = new StringBuilder("WARC/1.0\r\n")
        .append(s"WARC-Type: $warcType\r\n")
        .append(s"WARC-Record-ID: <urn:uuid:$id>\r\n")
        .append(s"WARC-Date: $date\r\n")
      if (uri.nonEmpty) head.append(s"WARC-Target-URI: $uri\r\n")
      head.append(s"Content-Type: $contentType\r\n")
        .append(s"Content-Length: ${payload.length}\r\n\r\n")
      val bos = new ByteArrayOutputStream()
      bos.write(head.toString.getBytes(UTF_8))
      bos.write(payload)
      bos.write("\r\n\r\n".getBytes(UTF_8))
      bos.toByteArray
    }

    def generate(): Corpus = {
      val blocked = (0 until spec.blockedDomains).map(k => s"spam-$k.net")
      val domains = (0 until spec.domains).map(k => s"site-$k.com")
      val english = ArrayBuffer.empty[Seq[String]]
      val kinds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      val outs = Array.fill(spec.files)(new ByteArrayOutputStream())
      def member(f: Int, bytes: Array[Byte]): Unit = {
        val gz = new GZIPOutputStream(outs(f)) // one member per record
        gz.write(bytes)
        gz.close() // closing a ByteArrayOutputStream is a no-op
      }
      (0 until spec.files).foreach { f =>
        member(f, record("warcinfo", "", "application/warc-fields",
          s"software: flowbench\r\nformat: WARC File Format 1.0\r\n".getBytes(UTF_8),
          "2024-03-01T00:00:00Z"))
      }
      val edges = Seq(spec.dupShare, spec.nearDupShare, spec.blockedShare,
        spec.boilerplateShare, spec.germanShare, spec.shortShare).scanLeft(0.0)(_ + _).tail
      (0 until spec.pages).foreach { i =>
        val u = r.nextDouble()
        val kind =
          if (english.isEmpty) "unique"
          else Seq("dup", "near_dup", "blocked", "boilerplate", "german", "short")
            .zip(edges).collectFirst { case (k, e) if u < e => k }.getOrElse("unique")
        kinds(kind) = kinds.getOrElse(kind, 0) + 1
        val host = if (kind == "blocked") blocked(r.nextInt(blocked.size))
                   else domains(r.nextInt(domains.size))
        val paragraphs = kind match {
          case "dup" => english(r.nextInt(english.size))
          case "near_dup" => nearCopy(english(r.nextInt(english.size)))
          case "boilerplate" => Nil
          case "german" => prose("de")
          case "short" => Seq(paragraph("en", 2).split(' ').take(12 + r.nextInt(10)).mkString(" "))
          case _ =>
            val ps = prose("en")
            if (kind == "unique") english += ps
            ps
        }
        val url = s"https://www.$host/articles/$i-${r.nextInt(1000000)}"
        val date = f"2024-03-01T${i / 3600 % 24}%02d:${i / 60 % 60}%02d:${i % 60}%02dZ"
        val page = html(s"Article $i", paragraphs).getBytes(UTF_8)
        val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${page.length}\r\n\r\n").getBytes(UTF_8) ++ page
        val f = i % spec.files
        member(f, record("request", url, "application/http; msgtype=request",
          s"GET /articles/$i HTTP/1.1\r\nHost: $host\r\n\r\n".getBytes(UTF_8), date))
        member(f, record("response", url, "application/http; msgtype=response", http, date))
      }
      Corpus(outs.map(_.toByteArray).toSeq, blocked, spec.pages, kinds.toMap)
    }
  }
}
