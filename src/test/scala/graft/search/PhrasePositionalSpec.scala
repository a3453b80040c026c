package graft.search

import graft.SparkSpec
import graft.oracle.LocalOracle

/** Phrase semantics on corpora built to break naive token adjacency —
  * results through the serving engine must equal the in-memory oracle:
  *
  *  - a match can start MID-TOKEN ("rehash join" contains "hash join" while
  *    the tokens are [rehash, join]),
  *  - a match can end mid-token ("hash joins"),
  *  - conjunctive tokens present but never adjacent must stay excluded,
  *  - a doc with the substring but MISSING an exact token stays excluded
  *    (the reference ANDs the substring with conjunctive token candidates,
  *    `dbManager.java:250-256` + `:324-341`).
  */
class PhrasePositionalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    0L -> "alpha hash join beta",          // exact adjacency
    1L -> "rehash join gamma hash delta",  // suffix-boundary match + stray hash
    2L -> "hash gamma join",               // tokens present, never adjacent
    3L -> "alpha hash joins beta join",    // prefix-boundary match
    4L -> "rehash joins only",             // substring present, token 'hash'/'join' absent
    5L -> "nothing to see here")

  private lazy val files = docs.toDF("doc_id", "content")
  private lazy val ce = CompressedSearchEngine.inMemory(files)

  // the engine has one phrase-candidate path (conjunctive token candidates
  // verified by substring); it must equal the substring baseline computed
  // here straight from the raw documents
  test("phrase candidates: positional path == substring baseline on " +
      "boundary-adversarial docs") {
    val got = ce.phraseCandidates("hash join", files)
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = docs.collect { case (id, c)
        if Seq("hash", "join").forall(graft.analyze.Analyzer.queryTokens("simple", c).contains) &&
          c.toLowerCase.contains("hash join") => id }.sorted
    assert(got === want)
    assert(got === Seq(0L, 1L, 3L))
  }

  test("full phrase + boolean search: compressed NON-positional (fused " +
      "single-scan boolean candidates, r6) == baseline") {
    for (q <- Seq("\"hash join\"", "\"hash join\" AND \"join beta\"",
        "\"hash join\" OR \"nothing to\"", "\"hash join\" NOT \"rehash\"",
        "\"hash join\" AND \"hash join\"", "\"absent\" OR \"hash join\"",
        "\"hash join\" NOT \"hash join\"")) {
      val got = ce.search(q, files, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = LocalOracle.search(docs, "simple", q)
      assert(got === want, s"query [$q]")
    }
  }
}
