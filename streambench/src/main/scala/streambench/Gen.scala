package streambench

import java.util.SplittableRandom

/** One raw newsletter email as the IMAP poll hands it to the producer. */
final case class Email(seqno: Int, subject: String, body: String)

/** One Slack message event as the event server receives it. */
final case class SlackEvent(event_id: Long, channel: String, thread_ts: String,
                            user: String, text: String, subtype: String,
                            bot_id: String, ts_ms: Long)

/** One index-upkeep cycle: the batch to fold (fresh near-copies, then
  * re-delivered rows) and the ids to forget afterwards. */
final case class IndexCycle(docs: Vector[(Long, String)], fresh: Int,
                            replayed: Int, forget: Vector[Long])

/** Seeded input generators. Every output is a pure function of the seed
  * and the record's position, so the same seed gives byte-identical
  * inputs; the program under test only ever sees what these return. */
object Gen {

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ i)

  private val Words = Vector(
    "spark", "stream", "model", "release", "startup", "funding", "open",
    "source", "chip", "cloud", "latency", "agent", "robot", "battery",
    "launch", "browser", "privacy", "security", "kernel", "database",
    "quantum", "compiler", "network", "index", "search", "vector", "query",
    "engineer", "design", "market", "team", "product", "research", "data")
  private val Caps = Vector("BIG TECH", "STARTUPS", "SCIENCE", "PROGRAMMING",
    "DESIGN & DATA", "AI 2024", "QUICK LINKS", "MISCELLANEOUS")
  private val Names = Vector("Jane Doe", "Alan Smith", "Rita Moreno", "Sam Lee")
  private val NonAscii = Vector("café", "naïve", "über", "— ", "✓", "日本")

  private def words(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.size)))
      i += 1
    }
    sb.toString
  }

  /** A full newsletter (~14 KB, ~150 lines) that runs past the 2,900-char
    * block budget and hits every cleaning branch: Together With, TLDR,
    * Love TLDR or feedback footer, MIME headers with CRLF, ALL-CAPS
    * headings, heading/URL pairs, bylines, image URLs, markup, brackets
    * and non-ASCII text. */
  def newsletterLong(seed: Long, seqno: Int): Email = {
    val r = rng(seed, 1, seqno)
    val nl = if (r.nextInt(3) == 0) "\r\n" else "\n"
    val sb = new StringBuilder
    sb.append("View this email in your browser").append(nl)
    sb.append("Together With ").append(words(r, 2)).append(nl)
    sb.append("Content-Type: text/plain; charset=\"UTF-8\"\r\n")
    sb.append("Content-Transfer-Encoding: quoted-printable\r\n")
    sb.append("--b").append(r.nextInt(1 << 20)).append("\r\n")
    sb.append("TLDR ").append(words(r, 2)).append(" 2024-0").append(1 + r.nextInt(9)).append(nl)
    val target = 12000 + r.nextInt(4000)
    var story = 0
    while (sb.length < target) {
      if (story % 4 == 0) sb.append(nl).append(Caps(r.nextInt(Caps.size))).append(nl)
      sb.append(words(r, 4 + r.nextInt(5)).capitalize).append(" (")
        .append(2 + r.nextInt(9)).append(" minute read)").append(nl)
      sb.append("https://example.com/").append(seqno).append('/').append(story).append(nl)
      val paras = 3 + r.nextInt(4)
      var p = 0
      while (p < paras) {
        val line = words(r, 12 + r.nextInt(6))
        r.nextInt(8) match {
          case 0 => sb.append("<b>").append(line).append("</b>")
          case 1 => sb.append('[').append(line).append(']')
          case 2 => sb.append(line).append(' ').append(NonAscii(r.nextInt(NonAscii.size)))
          case _ => sb.append(line)
        }
        sb.append(nl)
        p += 1
      }
      r.nextInt(4) match {
        case 0 => sb.append("by ").append(Names(r.nextInt(Names.size))).append(nl)
        case 1 => sb.append("https://cdn.example.com/img/").append(story).append(".png").append(nl)
        case _ =>
      }
      story += 1
    }
    if (r.nextBoolean()) sb.append("Love TLDR? Tell your friends and get rewards!").append(nl)
    else sb.append("How did we do today? Rate this issue").append(nl)
    sb.append("Unsubscribe ").append(words(r, 6)).append(nl)
    Email(seqno, s"TLDR #$seqno ${words(r, 3)}", sb.toString)
  }

  /** Slack event keys: `keys` channel/thread pairs; one in four is a
    * channel-level (unthreaded) key. */
  def channelOf(key: Int): String = f"C${key / 4}%05d"
  def threadOf(key: Int): String =
    if (key % 4 == 0) null else f"17000${key / 4}%05d.${key % 4}%06d"
  def historyKey(channel: String, threadTs: String): String =
    channel + "/" + (if (threadTs == null) "" else threadTs)

  /** Zipf(1.1) cumulative weights over `keys` keys. */
  def zipfCdf(keys: Int): Array[Double] = {
    val w = Array.tabulate(keys)(k => 1.0 / math.pow(k + 1, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  /** Event `i` of the Slack stream: a Zipf-skewed key, a share
    * `botPerMille`/1000 of bot messages, logical time `tsMs`. */
  def slackEvent(seed: Long, i: Long, cdf: Array[Double], botPerMille: Int,
                 tsMs: Long): SlackEvent = {
    val r = rng(seed, 3, i)
    val u = r.nextDouble()
    var k = java.util.Arrays.binarySearch(cdf, u)
    if (k < 0) k = -k - 1
    k = math.min(k, cdf.length - 1)
    val bot = r.nextInt(1000) < botPerMille
    val text = f"ev$i%010d " + words(r, 6 + r.nextInt(10))
    SlackEvent(i, channelOf(k), threadOf(k), s"U${r.nextInt(500)}", text,
      if (bot && r.nextBoolean()) "bot_message" else null,
      if (bot) "B0BOT" else null, tsMs)
  }

  /** Failure plan of the deterministic enrichment client, keyed on the
    * user message of the prompt: 0 = answers, 1 = fails once then
    * answers (transient), 2 = always fails (permanent). */
  def failureOf(seed: Long, message: String): Int = {
    val h = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(message, seed.toInt), 1000)
    if (h < 20) 2 else if (h < 70) 1 else 0
  }

  /** The term vocabulary of the repository's sf0.1 `documents` table,
    * whose words are drawn uniformly from these 30 terms. */
  private val DocTerms = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector("en", "zh", "es", "fr", "de")

  /** The text a base document of the corpus draws for `id`: 10 to 100
    * terms, uniform in length. */
  private def docText(seed: Long, id: Long): String = {
    val r = rng(seed, 4, id)
    Vector.fill(10 + r.nextInt(91))(DocTerms(r.nextInt(DocTerms.size))).mkString(" ")
  }

  /** Row `id` of the standing indexes' base corpus of `corpus` documents,
    * as (doc_id, text, lang, source). Its shape follows the sf0.1
    * `documents` table: the vocabulary and length distribution above,
    * one document in twenty a near-duplicate (another document's text
    * plus the token `dup`), lang 40 % `en` and 15 % each of four others,
    * and twenty sources assigned round-robin. */
  def corpusDoc(seed: Long, id: Long, corpus: Int): (Long, String, String, String) = {
    val r = rng(seed, 7, id)
    val text = if (r.nextInt(20) == 0) docText(seed, r.nextInt(corpus)) + " dup" else docText(seed, id)
    val u = r.nextInt(20)
    (id, text, if (u < 8) "en" else Langs(1 + (u - 8) / 3), s"src${id % 20}")
  }

  /** Cycle `c` of index upkeep: `batch` fresh near-copies of base
    * documents, made the way the table's own near-duplicates are, plus
    * a tenth as many rows re-delivered at least once: the previous
    * cycle's first fresh documents, or base documents on cycle 0. Then
    * `forget` of this cycle's fresh documents are taken down. Fresh ids
    * never repeat, so the lexical and dedup merges must admit exactly
    * `fresh` rows and refuse exactly `replayed`. */
  def indexCycle(seed: Long, c: Int, corpus: Int, batch: Int, forget: Int): IndexCycle = {
    def freshOf(cc: Int): Vector[(Long, String)] = {
      val r = rng(seed, 5, cc)
      Vector.tabulate(batch) { j =>
        (10000000L + cc.toLong * 100000L + j, docText(seed, r.nextInt(corpus)) + " dup")
      }
    }
    val fresh = freshOf(c)
    val replay =
      if (c > 0) freshOf(c - 1).take(batch / 10)
      else Vector.tabulate(batch / 10)(j => (j.toLong, corpusDoc(seed, j, corpus)._2))
    val r = rng(seed, 6, c)
    val victims = r.ints(0, batch).distinct().limit(forget).toArray.toVector
      .map(j => 10000000L + c.toLong * 100000L + j)
    IndexCycle(fresh ++ replay, fresh.size, replay.size, victims)
  }
}
