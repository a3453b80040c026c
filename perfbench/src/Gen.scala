package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated source file — the row shape of the engine's `files` table. */
final case class SrcFile(docId: Long, repo: String, path: String, commit: String,
                         lang: String, content: String, sha: String)

/** Seeded generator of source-code corpora. Everything is a pure function of
  * (seed, sizes, [[Gen.Version]]), so a run can regenerate the corpus in
  * memory for its answer checks and reuse a cached parquet copy for the
  * engine.
  *
  * Shape: a Zipfian identifier vocabulary (camelCase identifiers are one
  * token under the engine's simple analyzer, snake_case ones several),
  * log-normal file lengths with a long tail, six languages with their own
  * keyword sets, per-repo local vocabularies, and 10% near-duplicate
  * vendored copies of earlier files. Content is ASCII with no double quotes
  * (a phrase query is a double-quoted substring of it). */
object Gen {
  val Version = 3

  val Langs: Array[(String, String, Array[String])] = Array(
    ("scala", "scala", Array("def", "val", "var", "object", "class", "trait",
      "match", "case", "import", "extends", "override", "implicit", "yield")),
    ("java", "java", Array("public", "private", "static", "final", "class",
      "void", "return", "new", "import", "throws", "interface", "extends")),
    ("python", "py", Array("def", "self", "return", "import", "from", "class",
      "lambda", "yield", "with", "elif", "none", "pass")),
    ("javascript", "js", Array("function", "const", "let", "return", "async",
      "await", "export", "import", "this", "new", "undefined", "require")),
    ("go", "go", Array("func", "package", "return", "struct", "type", "chan",
      "defer", "range", "interface", "map", "nil", "err")),
    ("rust", "rs", Array("fn", "let", "mut", "impl", "pub", "struct", "enum",
      "match", "use", "crate", "self", "unwrap")))

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n",
    "p", "r", "s", "t", "v", "w", "z", "br", "cr", "dr", "fl", "gr", "pl",
    "pr", "sk", "sl", "sp", "st", "tr", "ch", "sh", "th")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
  private val Codas = Array("", "", "", "n", "r", "s", "t", "l", "x", "ck", "nd", "st")

  /** Word parts identifiers are made of: distinct pronounceable syllable
    * pairs, deterministic in the seed. */
  private def parts(rnd: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    def syl() = Onsets(rnd.nextInt(Onsets.length)) +
      Vowels(rnd.nextInt(Vowels.length)) + Codas(rnd.nextInt(Codas.length))
    while (seen.size < n) {
      val w = syl() + (if (rnd.nextInt(3) == 0) syl() else "")
      if (w.length >= 3) seen += w
    }
    seen.toArray
  }

  /** The most frequent identifiers, the same for every seed (as in real
    * code, the head is common words). Fixing the head keeps content and
    * posting volume nearly equal across seeds. */
  private val Head = Array("data", "value", "result", "name", "index", "count",
    "getValue", "setValue", "size", "item", "key", "config", "buffer", "error",
    "max_size", "init", "handler", "request", "response", "node", "list",
    "parseInput", "user_id", "offset", "length", "state", "update", "context",
    "path", "file_name", "callback", "options", "start", "end", "items",
    "readLine", "writeAll", "token", "cache", "logger", "is_valid", "target",
    "source", "buildIndex", "params", "format", "timeout", "retry_count")

  /** Identifier vocabulary in Zipf rank order: the fixed head, then
    * seeded identifiers. */
  private def vocabulary(rnd: SplittableRandom, n: Int): Array[String] = {
    val ps = parts(rnd, 1500)
    val seen = scala.collection.mutable.LinkedHashSet[String](Head.toIndexedSeq: _*)
    while (seen.size < n) {
      val k = 1 + rnd.nextInt(3)
      val ws = Array.fill(k)(ps(rnd.nextInt(ps.length)))
      val id = rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => ws.head + ws.tail.map(_.capitalize).mkString
        case 4 | 5 | 6 => ws.mkString("_")
        case 7 => ws.map(_.capitalize).mkString
        case _ => ws.head
      }
      seen += id
    }
    seen.toArray
  }

  /** Inverse-CDF sampler over ranks 0..n-1 with P(r) ∝ 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def hex(rnd: SplittableRandom, n: Int): String =
    Array.fill(n)("0123456789abcdef".charAt(rnd.nextInt(16))).mkString

  /** `n` files with doc_ids `firstId until firstId + n`. Files past the
    * first are drawn independently per doc_id range, so an append batch
    * generated with another `firstId` shares the vocabulary but not the
    * rows. `markers` plants each given unique term once, in one file each. */
  def corpus(seed: Long, n: Int, firstId: Long = 0L,
             markers: Seq[String] = Nil): Array[SrcFile] = {
    val vrnd = new SplittableRandom(seed * 7919L + 17L)
    val vocab = vocabulary(vrnd, 40000)
    val zipf = new Zipf(vocab.length, 1.05)
    val nRepos = math.max(8, n / 300)
    // each repo re-uses a small local vocabulary (its own class and method
    // names), which gives terms the mid-frequency band real code has
    val repoVocab = Array.tabulate(nRepos) { r =>
      val rr = new SplittableRandom(seed * 31L + r)
      Array.fill(60)(vocab(rr.nextInt(vocab.length)))
    }
    val rnd = new SplittableRandom(seed * 1000003L + firstId)
    // every 10th file (after the first 50) is a vendored copy; the other
    // files' log-normal token counts are scaled to their expected total, so
    // every seed generates the same amount of content
    def dup(i: Int) = i > 50 && i % 10 == 9
    val lens = {
      val raw = Array.tabulate(n)(i => if (dup(i)) 0.0
        else math.min(4000.0, math.exp(math.log(110.0) + 0.9 * gaussian(rnd))))
      val own = (0 until n).count(!dup(_))
      val scale = own * 110.0 * math.exp(0.9 * 0.9 / 2) / raw.sum
      raw.map(l => math.max(8, (l * scale).toInt))
    }
    val out = new Array[SrcFile](n)
    var i = 0
    while (i < n) {
      val docId = firstId + i
      val f =
        if (dup(i)) {
          // vendored copy: an earlier file under another repo, with a header
          val src = out(rnd.nextInt(i))
          val content = s"// vendored from ${src.repo}\n" + src.content
          src.copy(docId = docId, repo = s"vendor/${src.repo.replace('/', '_')}",
            path = s"third_party/${src.path}", commit = hex(rnd, 40),
            content = content, sha = sha256Hex(content))
        } else {
          val r = rnd.nextInt(nRepos)
          val (lang, ext, kws) = Langs(r % Langs.length)
          val local = repoVocab(r)
          val nTok = lens(i)
          val sb = new java.lang.StringBuilder(nTok * 8)
          var t = 0
          var line = 0
          while (t < nTok) {
            sb.append("  " * (line % 3))
            val lineLen = 3 + rnd.nextInt(7)
            var j = 0
            while (j < lineLen && t < nTok) {
              val u = rnd.nextInt(100)
              val w =
                if (u < 22) kws(rnd.nextInt(kws.length))
                else if (u < 45) local(rnd.nextInt(local.length))
                else vocab(zipf.sample(rnd))
              if (j > 0) sb.append(rnd.nextInt(6) match {
                case 0 => "("
                case 1 => ", "
                case 2 => "."
                case 3 => " = "
                case _ => " "
              })
              sb.append(w)
              j += 1
              t += 1
            }
            sb.append(if (rnd.nextInt(4) == 0) ") {\n" else "\n")
            line += 1
          }
          val content = sb.toString
          val name = local(rnd.nextInt(local.length)).replace("_", "")
          SrcFile(docId, s"org${r % 40}/repo$r", s"src/m${rnd.nextInt(20)}/$name.$ext",
            hex(rnd, 40), lang, content, sha256Hex(content))
        }
      out(i) = f
      i += 1
    }
    // planted markers: appended to distinct files so each marker is a
    // unique term of exactly one document
    markers.zipWithIndex.foreach { case (m, k) =>
      val j = (k.toLong * n / markers.size).toInt
      val f = out(j)
      val content = f.content + s"\n// $m\n"
      out(j) = f.copy(content = content, sha = sha256Hex(content))
    }
    out
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box–Muller, one variate
    val u1 = math.max(1e-12, rnd.nextDouble())
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }
}
