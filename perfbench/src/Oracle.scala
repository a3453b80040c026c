package perfbench

import scala.collection.mutable

/** Brute-force answers computed outside the engine, for the answer checks.
  *
  * Tokenization is the engine's `simple` analyzer rule (maximal ASCII
  * `[a-z0-9]+` runs after ASCII lower-casing); BM25 is k1 = 1.2, b = 0.75
  * with the Lucene idf `ln((N - df + 0.5) / (df + 0.5) + 1)`, avgdl over
  * documents with at least one token, and ranking by score rounded to 4
  * decimals, then doc_id. Query semantics follow the engine's documented
  * parser: a token query, a double-quoted phrase (all tokens present AND
  * the lower-cased phrase a substring of the lower-cased content), or
  * `"p1" and|or|not "p2"` over the same phrase sets. */
final class Oracle(files: Array[SrcFile]) {
  private val lowered: Array[String] = files.map(f => Oracle.asciiLower(f.content))
  private val lens = new Array[Int](files.length)
  /** term -> (rows ascending, tf per row). */
  private val postings: Map[String, (Array[Int], Array[Int])] = {
    val acc = mutable.HashMap[String, (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofInt)]()
    files.indices.foreach { i =>
      val toks = Oracle.tokens(lowered(i))
      lens(i) = toks.length
      toks.groupBy(identity).foreach { case (t, occ) =>
        val (rs, tfs) = acc.getOrElseUpdate(t, (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt))
        rs += i
        tfs += occ.length
      }
    }
    acc.iterator.map { case (t, (rs, tfs)) => t -> ((rs.result(), tfs.result())) }.toMap
  }
  val nDocs: Long = files.length
  val avgdl: Double = {
    val tok = lens.count(_ > 0)
    lens.map(_.toLong).sum.toDouble / math.max(1, tok)
  }

  /** Terms sorted by descending document frequency (ties by term). */
  lazy val termsByDf: Array[(String, Int)] =
    postings.iterator.map { case (t, ps) => (t, ps._1.length) }.toArray
      .sortBy { case (t, d) => (-d, t) }

  private def idf(d: Int): Double = math.log((nDocs - d + 0.5) / (d + 0.5) + 1.0)

  /** Unrounded BM25 over `terms` for every row in `cand` (None = any row
    * holding at least one term). */
  private def scores(terms: Seq[String], cand: Option[Array[Int]]): mutable.HashMap[Int, Double] = {
    val acc = mutable.HashMap[Int, Double]()
    val allowed = cand.map(_.toSet)
    terms.distinct.foreach { t =>
      postings.get(t).foreach { case (rows, tfs) =>
        val w = idf(rows.length)
        var j = 0
        while (j < rows.length) {
          val row = rows(j)
          if (allowed.forall(_.contains(row))) {
            val tf = tfs(j).toDouble
            val s = w * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * lens(row) / avgdl))
            acc(row) = acc.getOrElse(row, 0.0) + s
          }
          j += 1
        }
      }
    }
    acc
  }

  /** Rows holding every term (sorted-array intersection). */
  private def rowsWithAll(terms: Seq[String]): Array[Int] =
    if (terms.isEmpty) Array.empty
    else terms.distinct.map(t => postings.get(t).fold(Array.empty[Int])(_._1))
      .sortBy(_.length).reduce { (a, b) =>
        val out = new mutable.ArrayBuilder.ofInt
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          if (a(i) == b(j)) { out += a(i); i += 1; j += 1 }
          else if (a(i) < b(j)) i += 1
          else j += 1
        }
        out.result()
      }

  private def phraseRows(p: String): Array[Int] = {
    val needle = Oracle.asciiLower(p)
    rowsWithAll(Oracle.tokens(needle)).filter(lowered(_).contains(needle))
  }

  /** Candidate rows of a phrase before the substring verify, and after. */
  def phraseCounts(p: String): (Int, Int) = {
    val needle = Oracle.asciiLower(p)
    val all = rowsWithAll(Oracle.tokens(needle))
    (all.size, all.count(lowered(_).contains(needle)))
  }

  /** Full ranking (doc_id, unrounded score) of `raw`, best first. */
  def ranking(raw: String): IndexedSeq[(Long, Double)] = {
    val (terms, cand) = Oracle.parse(raw) match {
      case Oracle.Toks(t) => (Oracle.tokens(t), None)
      case Oracle.Phr(p) => (Oracle.tokens(p), Some(phraseRows(p)))
      case Oracle.BoolQ(op, p1, p2) =>
        val t1 = Oracle.tokens(p1)
        val t2 = Oracle.tokens(p2)
        val s1 = rowsWithAll(t1).toSet
        val s2 = rowsWithAll(t2).toSet
        val n1 = Oracle.asciiLower(p1)
        val n2 = Oracle.asciiLower(p2)
        def c1(r: Int) = s1.contains(r) && lowered(r).contains(n1)
        def c2(r: Int) = s2.contains(r) && lowered(r).contains(n2)
        op match {
          case "and" => ((t1 ++ t2).distinct, Some(s1.filter(r => c1(r) && c2(r)).toArray))
          case "or" => ((t1 ++ t2).distinct, Some(s1.union(s2).filter(r => c1(r) || c2(r)).toArray))
          case _ => (t1.distinct, Some(s1.filter(r => c1(r) && !c2(r)).toArray))
        }
    }
    scores(terms, cand).toIndexedSeq
      .map { case (row, s) => (files(row).docId, s) }
      .sortBy { case (d, s) => (-Oracle.round4(s), d) }
  }
}

object Oracle {
  sealed trait Q
  final case class Toks(text: String) extends Q
  final case class Phr(p: String) extends Q
  final case class BoolQ(op: String, p1: String, p2: String) extends Q

  private val BoolRe = """^\s*"([^"]+)"\s+(and|or|not)\s+"([^"]+)"\s*$""".r
  private val PhraseRe = """^\s*"([^"]+)"\s*$""".r

  def parse(raw: String): Q = asciiLower(raw.trim) match {
    case BoolRe(p1, op, p2) => BoolQ(op, p1, p2)
    case PhraseRe(p) => Phr(p)
    case q => Toks(q)
  }

  def asciiLower(s: String): String = {
    val cs = s.toCharArray
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (c >= 'A' && c <= 'Z') cs(i) = (c + 32).toChar
      i += 1
    }
    new String(cs)
  }

  /** Maximal `[a-z0-9]+` runs of an already lower-cased string. */
  def tokens(lower: String): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < lower.length) {
      while (i < lower.length && !isTok(lower.charAt(i))) i += 1
      val s = i
      while (i < lower.length && isTok(lower.charAt(i))) i += 1
      if (i > s) out += lower.substring(s, i)
    }
    out.toIndexedSeq
  }

  private def isTok(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Compare served rows (doc_id, score) with ranks `from until from+n` of
    * the exact ranking: every score matches its rank's expected score and
    * the served doc's own exact score to 4 decimals, so only docs tied at
    * 4 decimals may swap. Returns an error description, or None. */
  def check(rank: IndexedSeq[(Long, Double)], from: Int, n: Int,
            got: Seq[(Long, Double)]): Option[String] = {
    val want = rank.slice(from, from + n)
    if (got.length != want.length)
      return Some(s"expected ${want.length} rows, got ${got.length}")
    val exact = rank.toMap
    got.zip(want).zipWithIndex.collectFirst {
      case (((d, s), (_, ws)), i)
          if math.abs(s - round4(ws)) > 1.5e-4 ||
            exact.get(d).forall(e => math.abs(round4(e) - s) > 1.5e-4) =>
        s"rank ${from + i}: got doc $d score $s, expected score ${round4(ws)}"
    }
  }
}
