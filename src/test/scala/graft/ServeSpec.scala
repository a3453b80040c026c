package graft

import graft.corpus.Corpus
import graft.search.QueryLog
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

class ServeSpec extends SparkSpec {

  test("serving session: warm engine answers queries, pages, suggestions") {
    val dir = Files.createTempDirectory("graft-serve").toString
    val files = Corpus.files(spark, "/root/testdata/sf0.001")
    checkpoint.CheckpointedBuild.run(files, dir, nBuckets = 2)
    val s = new Serve.Session(spark, dir, files, s"$dir/querylog")
    try {
      val hits = s.handle("merge sort window")
      assert(hits.size === 10)
      assert(hits.forall(j => j.contains("\"doc_id\"") && j.contains("\"score\"")
        && j.contains("\"path\"")))
      // pagination: page 2 of 3 == rows 4-6 of the same ranking
      val all = s.handle("merge sort window")
      val p2 = s.handle(":page 2 3 merge sort window")
      assert(p2 === all.slice(3, 6))
      // phrase + boolean forms route through the same parser as the engine
      assert(s.handle("\"hash join\"").nonEmpty)
      // the session's queries accumulated in the log → suggestions see them
      val sug = s.handle(":suggest merge")
      assert(sug.exists(_.contains("merge sort window")))
      // the repeated query outranks the once-asked ones
      assert(sug.head.contains("\"cnt\":3"))
      assert(s.handle("") === Seq.empty)
      assert(s.handle(":page x") === Seq("""{"error": "usage: :page <p> <n> <query>"}"""))

      // HTTP front (reference TextController lifecycle): one GET /search
      // round-trip against the same warm session, ephemeral port
      val server = HttpServe.start(s, 0)
      try {
        def get(pathQ: String): String = {
          val url = java.net.URI.create(
            s"http://127.0.0.1:${server.getAddress.getPort}$pathQ").toURL
          val src = scala.io.Source.fromInputStream(url.openStream(), "UTF-8")
          try src.mkString finally src.close()
        }
        val body = get("/search?query=merge+sort+window")
        assert(body.startsWith("[") && body.endsWith("]"))
        assert(body.split("\\{\"doc_id\"").length - 1 === 10)
        val paged = get("/search?query=merge+sort+window&page=2&limit=3")
        assert(paged === "[" + all.slice(3, 6).mkString(",") + "]")
        val sugBody = get("/suggest?prefix=merge")
        assert(sugBody.contains("merge sort window"))
        def status(pathQ: String): Int = java.net.URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}$pathQ").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
          .getResponseCode
        // a malformed request is a JSON error, not a dead socket
        assert(status("/search") === 400)
        // pagination params come together: a lone page (or limit) is a 400,
        // not page-1 rows silently returned for a page-3 request
        assert(status("/search?query=merge+sort&page=3") === 400)
        assert(status("/search?query=merge+sort&limit=5") === 400)
        assert(status("/search?query=merge+sort&page=x&limit=3") === 400)
        // a query that happens to start with a REPL command is searched
        // literally, never re-parsed by the line-protocol dispatcher
        val inj = get("/search?query=%3Asuggest+merge")
        assert(inj.startsWith("[") && !inj.contains("\"cnt\":"))
      } finally server.stop(0)
    } finally s.close()
  }

  test("HTTP front: concurrent GETs equal sequential answers, suggestions " +
      "count every query, the pool stays bounded") {
    val dir = Files.createTempDirectory("graft-serve-conc").toString
    val files = Corpus.files(spark, "/root/testdata/sf0.001")
    checkpoint.CheckpointedBuild.run(files, dir, nBuckets = 2)
    val logPath = s"$dir/querylog"
    val s = new Serve.Session(spark, dir, files, logPath)
    val queries = Seq("merge sort window", "merge join", "hash join scan",
      "\"hash join\"", "window agg")
    val prefixes = Seq("merge", "hash", "window")
    val sent = new ConcurrentHashMap[String, AtomicInteger]()
    def note(q: String): Unit =
      sent.computeIfAbsent(q, _ => new AtomicInteger()).incrementAndGet()
    def body(rows: Seq[String]) = rows.mkString("[", ",", "]")
    // the sequential answers, through the line protocol (these log too)
    val want = queries.flatMap { q =>
      note(q); note(q)
      Seq(("search", q) -> body(s.handle(q)),
        ("page", q) -> body(s.handle(s":page 2 3 $q")))
    }.toMap
    val server = HttpServe.start(s, 0)
    val port = server.getAddress.getPort
    val parallelism = spark.sparkContext.defaultParallelism
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith(s"graft-http-$port-"))
    val maxThreads = new AtomicInteger()
    val sampling = new AtomicBoolean(true)
    val sampler = new Thread(() => while (sampling.get) {
      maxThreads.accumulateAndGet(poolThreads, math.max)
      Thread.sleep(2)
    })
    sampler.start()
    def get(pathQ: String): (Int, String) = {
      val c = java.net.URI.create(s"http://127.0.0.1:$port$pathQ").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try (c.getResponseCode, new String(c.getInputStream.readAllBytes(), "UTF-8"))
      finally c.disconnect()
    }
    def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    val clients = Executors.newFixedThreadPool(4)
    try {
      val results = clients.invokeAll((0 until 4).map { c =>
        (() => (0 until 6).map { j =>
          val q = queries((c + j) % queries.length)
          (c + j) % 3 match {
            case 0 => note(q); ("search", q) -> get(s"/search?query=${enc(q)}")
            case 1 => note(q); ("page", q) -> get(s"/search?query=${enc(q)}&page=2&limit=3")
            case _ =>
              val p = prefixes((c + j) % prefixes.length)
              ("suggest", p) -> get(s"/suggest?prefix=$p")
          }
        }): Callable[Seq[((String, String), (Int, String))]]
      }.asJava).asScala.flatMap(_.get)
      sampling.set(false)
      sampler.join()
      assert(results.length === 24)
      results.foreach { case (key, (code, b)) =>
        assert(code === 200, key)
        if (key._1 == "suggest") assert(b.startsWith("[") && b.endsWith("]"), b)
        else assert(b === want(key), key)
      }
      // suggestions count every query sent before them, none lost or
      // doubled by concurrent batches
      val counts = sent.asScala.map { case (q, n) => q -> n.get.toLong }.toMap
      def suggested(sess: Serve.Session, prefix: String) =
        sess.suggest(prefix).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      prefixes.foreach { p =>
        assert(suggested(s, p) === counts.filter { case (q, _) =>
          QueryLog.normalize(q).startsWith(p) }, p)
      }
      assert(maxThreads.get <= parallelism, maxThreads.get)
      assert(maxThreads.get >= 2, "requests never ran on the pool")
    } finally {
      sampling.set(false)
      clients.shutdownNow()
      server.stop(0)
      s.close()
    }
    // the closed session's log holds every query
    val s2 = new Serve.Session(spark, dir, files, logPath)
    try assert(s2.suggest("").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      sent.asScala.map { case (q, n) => q -> n.get.toLong }.toMap)
    finally s2.close()
    // a session that logged nothing has a readable, empty log
    val emptyLog = s"$dir/emptylog"
    val s3 = new Serve.Session(spark, dir, files, emptyLog)
    try {
      assert(Files.isDirectory(Paths.get(emptyLog)))
      assert(s3.suggest("merge").collect().isEmpty)
      assert(QueryLog.load(spark, emptyLog).count() === 0L)
    } finally s3.close()
    // idle pool threads retire: the stopped server leaves none behind
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (poolThreads > 0 && System.nanoTime() < deadline) Thread.sleep(100)
    assert(poolThreads === 0)
  }
}
