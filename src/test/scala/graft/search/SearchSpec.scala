package graft.search

import graft.SparkSpec
import graft.oracle.LocalOracle
import org.apache.spark.sql.functions._

class QueryParserSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("classification mirrors reference QueryProcessor.java:32-80") {
    assert(QueryParser.parse("merge sort window") === Tokens("merge sort window"))
    assert(QueryParser.parse("\"hash join\"") === Phrase("hash join"))
    assert(QueryParser.parse("\"A B\" AND \"c\"") === Bool("and", "a b", "c"))
    assert(QueryParser.parse("\"a\" or \"b\"") === Bool("or", "a", "b"))
    assert(QueryParser.parse("\"a\" NOT \"b\"") === Bool("not", "a", "b"))
    assert(QueryParser.parse("  Mixed Case QUERY ") === Tokens("mixed case query"))
  }
}

/** Rank-identity of the serving engine vs the in-memory oracle on seeded
  * random corpora, across analyzers and all query forms (SURVEY.md §5). */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def randomCorpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("merge", "sort", "window", "the", "running", "jumped",
      "parseHttp", "snake_case", "scan", "filter", "hash", "join", "batch",
      "relational", "hopeful", "x1", "a", "dup",
      "val", "match") // scala keywords: dropped per-lang by the code analyzer
    (0L until nDocs.toLong).map { id =>
      val n = 3 + rnd.nextInt(50)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  private val queryForms = Seq(
    "merge sort window",
    "running hopeful",
    "dup",
    "\"merge sort\"",
    "\"hash join\" AND \"batch\"",
    "\"merge\" OR \"dup\"",
    "\"sort\" NOT \"hash\"",
    "zzz_nothing_matches",
    "the a",                  // stopword-only under code analyzer
    "\"zzz absent phrase\" OR \"merge\""
  )

  private def filesFor(docs: Seq[(Long, String)]) =
    docs.toDF("doc_id", "content")
      .withColumn("repo", lit("r")).withColumn("path", lit("p"))
      .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      .withColumn("sha", sha2(col("content"), 256))

  private def assertMatchesOracle(docs: Seq[(Long, String)], analyzer: String,
                                  queries: Seq[String], ctx: String): Unit = {
    val files = filesFor(docs)
    val eng = CompressedSearchEngine.inMemory(files, analyzer)
    for (q <- queries) {
      val got = eng.search(q, files, 10, analyzer).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = LocalOracle.search(docs, analyzer, q, 10, docLang = "scala")
      assert(got === want, s"query [$q] analyzer=$analyzer $ctx")
    }
  }

  for (analyzer <- Seq("simple", "code"); seed <- Seq(1, 2)) {
    test(s"engine == oracle ($analyzer, seed=$seed)") {
      assertMatchesOracle(randomCorpus(seed, 40), analyzer, queryForms,
        s"seed=$seed")
    }
  }

  test("engine == oracle on phrase/boolean queries with sort-merge joins") {
    // the sf0.01 oracle corpora plan every candidate semi join as a
    // broadcast; with broadcasts off they plan as sort-merge joins over
    // shuffles, the shape large corpora get
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val structured = queryForms.filter(_.contains("\""))
      for (analyzer <- Seq("simple", "code"); seed <- Seq(1, 2))
        assertMatchesOracle(randomCorpus(seed, 40), analyzer, structured,
          s"seed=$seed, no broadcast")
      val files = filesFor(randomCorpus(1, 40))
      val df = CompressedSearchEngine.inMemory(files)
        .search("\"merge sort\"", files)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
