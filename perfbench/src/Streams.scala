package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One request of a closed-loop client. `form` is search, page, suggest,
  * phrase or bool; `raw` is the query (or the suggest prefix). `expect`
  * pins the exact doc_id set for marker checks; other requests are checked
  * against the [[Oracle]]. */
final case class Req(form: String, raw: String, page: Int = 0,
                     expect: Option[Set[Long]] = None)

object Req {
  val Limit = 10
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  def path(r: Req): String = r.form match {
    case "suggest" => s"/suggest?prefix=${enc(r.raw)}"
    case "page" => s"/search?query=${enc(r.raw)}&page=${r.page}&limit=$Limit"
    case _ => s"/search?query=${enc(r.raw)}"
  }
}

/** Seeded request streams drawn from a generated corpus. */
object Streams {

  /** Document-frequency bands of the corpus vocabulary (terms with df ≥ 2):
    * head (`H`) = the 100 most frequent terms, torso (`T`) = the next 1400,
    * tail (`L`) = the rest. */
  final class Bands(o: Oracle) {
    private val ts = o.termsByDf.filter(_._2 >= 2).map(_._1)
    val head: Array[String] = ts.take(100)
    val torso: Array[String] = ts.slice(100, 1500)
    val tail: Array[String] = ts.drop(1500)
    def term(rnd: SplittableRandom, band: Char): String = {
      val b = band match {
        case 'H' => head
        case 'T' if torso.nonEmpty => torso
        case 'L' if tail.nonEmpty => tail
        case _ => head
      }
      b(rnd.nextInt(b.length))
    }
  }

  /** Band shapes of the keyword queries a stream sends, in turn: 1–4 terms,
    * 6 of every 20 terms from the head, 8 from the torso, 6 from the tail.
    * Only the terms within a band are drawn, so every seed sends the same
    * shapes and the cost of a run's mix varies little across seeds. */
  private val Shapes = Array("H", "TL", "THL", "TLHT", "L", "HT", "LTH", "THLT")

  /** The `k`-th keyword query of a stream: distinct terms in shape `k`. */
  private def keyword(rnd: SplittableRandom, b: Bands, k: Int): String = {
    val terms = scala.collection.mutable.LinkedHashSet[String]()
    Shapes(k % Shapes.length).foreach { band =>
      var t = b.term(rnd, band)
      while (terms.contains(t)) t = b.term(rnd, band)
      terms += t
    }
    terms.mkString(" ")
  }

  /** Keyword traffic for one client, in a fixed 20-request cycle of 14
    * searches, 3 pages (page 2–5 in turn) and 3 suggests (a prefix of 2–5
    * characters, in turn, of an earlier query of the stream), so every run
    * sends the same mix. Searches and pages take the [[Shapes]] in turn.
    * Client `c` starts its cycle at slot 5c, so concurrent clients send
    * different forms. */
  def keywordClient(o: Oracle, seed: Long, n: Int, c: Int = 0): IndexedSeq[Req] = {
    val rnd = new SplittableRandom(seed)
    val b = new Bands(o)
    val out = ArrayBuffer[Req]()
    var keywords = 0
    var pages = 0
    var suggests = 0
    def next() = { keywords += 1; keyword(rnd, b, keywords - 1) }
    while (out.length < n) {
      val earlier = out.filter(_.form != "suggest")
      out += (((out.length + 5 * c) % 20) match {
        case 1 | 8 | 15 =>
          pages += 1
          Req("page", next(), page = 2 + (pages - 1) % 4)
        case 3 | 10 | 17 if earlier.nonEmpty =>
          val q = Oracle.tokens(Oracle.asciiLower(earlier(rnd.nextInt(earlier.length)).raw)).mkString(" ")
          suggests += 1
          Req("suggest", q.take(2 + (suggests - 1) % 4))
        case _ => Req("search", next())
      })
    }
    out.toIndexedSeq
  }

  /** A verbatim `len`-token span of one line of a corpus file (so the
    * phrase occurs in the corpus), or None if the drawn line is too short. */
  private def adjacent(rnd: SplittableRandom, files: Array[SrcFile], len: Int): Option[String] = {
    val lines = files(rnd.nextInt(files.length)).content.split("\n")
    val line = lines(rnd.nextInt(lines.length))
    val spans = "[A-Za-z0-9]+".r.findAllMatchIn(line).map(m => (m.start, m.end)).toIndexedSeq
    if (spans.length < len) None
    else {
      val i = rnd.nextInt(spans.length - len + 1)
      Some(line.substring(spans(i)._1, spans(i + len - 1)._2)).filter(_.length <= 80)
    }
  }

  /** Two frequent terms that co-occur in some file but never as the
    * substring "a b": their candidates all fail the content verify. */
  private def nonAdjacent(rnd: SplittableRandom, o: Oracle, b: Bands): Option[String] =
    Iterator.continually(s"${b.head(rnd.nextInt(b.head.length))} ${b.head(rnd.nextInt(b.head.length))}")
      .take(50).find { p =>
        val (cand, ok) = o.phraseCounts(p)
        cand > 0 && ok == 0
      }

  /** The `k`-th phrase of a stream: every 5th a non-adjacent pair, the
    * others adjacent spans of 2 and 3 tokens in turn. */
  private def phrase(rnd: SplittableRandom, o: Oracle, files: Array[SrcFile], b: Bands, k: Int): String =
    Iterator.continually {
      if (k % 5 == 4) nonAdjacent(rnd, o, b) else adjacent(rnd, files, 2 + k % 2)
    }.flatten.next()

  private val Ops = Array("AND", "or", "NOT", "and", "OR", "not")

  /** Structured traffic for one client, in a fixed 5-request cycle of 3
    * phrase queries and 2 boolean queries over two phrases (AND, OR and NOT
    * in turn); 80% of phrases are spans of adjacent tokens from the corpus,
    * 20% non-adjacent frequent pairs. */
  def phraseClient(o: Oracle, files: Array[SrcFile], seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new SplittableRandom(seed)
    val b = new Bands(o)
    var phrases = 0
    def next() = { phrases += 1; phrase(rnd, o, files, b, phrases - 1) }
    (0 until n).map { i =>
      val p1 = next()
      if (i % 5 == 1 || i % 5 == 3) {
        val op = Ops((i / 5 * 2 + i % 5 / 3) % Ops.length)
        Req("bool", "\"" + p1 + "\" " + op + " \"" + next() + "\"")
      } else Req("phrase", "\"" + p1 + "\"")
    }
  }
}
