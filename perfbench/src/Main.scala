package perfbench

import java.net.URI
import java.net.HttpURLConnection
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftSession, HttpServe, Serve}
import graft.checkpoint.CheckpointedBuild
import graft.index.{InvertedIndex, Stats}
import graft.search.QueryLog

/** The benchmark program: one workload, one seed, one process.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --cache DIR --out FILE --records DIR
  *
  * Every run builds its index with the code under test into a fresh `work`
  * directory, serves it through `Serve.Session` + `HttpServe`, checks every
  * answer, and writes one JSON result object to `out`. With `--trace 1` it
  * reports the per-layer metrics instead of the end-to-end ones. Host and
  * process counters of every run, and the spans of a traced run, are
  * written under `records`. */
object Main {

  /** Workload shape: base corpus, `batches` appended batches of
    * `batchFiles` (each a new doc_id range holding two marker docs),
    * closed-loop client count. */
  final case class Spec(name: String, baseFiles: Int, batchFiles: Int, batches: Int, clients: Int)

  val Specs: Map[String, Spec] = Seq(
    Spec("serve_keyword", 3000, 45, 3, 4),
    Spec("serve_phrase", 3000, 45, 3, 1)).map(s => s.name -> s).toMap
  val Cores = 4
  val Forms = Seq("search", "page", "suggest", "phrase", "bool")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, cache: String, out: String, records: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("cache"), kv("out"), kv("records"))
    require(Specs.contains(o.workload), s"unknown workload ${o.workload}")
    val result = new Run(o).result()
    Files.writeString(Paths.get(o.out), result)
  }

  /** Nearest-rank quantile `q` of `xs` (0 when empty). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def secs[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }
}

/** A finished closed-loop request. */
final case class Done(req: Req, latMs: Double, status: Int, body: String)

final class Run(o: Main.Opts) {
  import Main._

  private val spec = Specs(o.workload)
  private val work = Paths.get(o.work)
  private val fx = new Forensics
  private val json = new ObjectMapper()
  private val failures = ArrayBuffer[String]()
  private var attempted = 0

  private val started = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  private def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $what")

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  private val (spark, sparkStartS) = secs {
    val s = GraftSession.builder("perfbench", Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val tracer: Option[Tracer] = if (o.trace) Some(new Tracer(spark)) else None

  // ---- inputs (untimed) ---------------------------------------------------

  /** The two marker terms planted in batch `j`. */
  private def markers(j: Int): Seq[String] =
    Seq(0, 1).map(k => s"mk${math.abs(o.seed % 1000000L)}x${2 * j + k}")
  private def batchStart(j: Int): Long = spec.baseFiles.toLong + j.toLong * spec.batchFiles
  private val base = Gen.corpus(o.seed, spec.baseFiles)
  private val batches: IndexedSeq[Array[SrcFile]] = (0 until spec.batches).map(j =>
    Gen.corpus(o.seed, spec.batchFiles, batchStart(j), markers(j)))
  /** doc_id domain pinned for every build, so the appends keep bucket bounds. */
  private val domain = (0L, batchStart(spec.batches) - 1)
  private def batchRange(j: Int) = (batchStart(j), batchStart(j + 1) - 1)
  private def markerDoc(j: Int, k: Int): Long =
    batches(j).find(_.content.contains(s"// ${markers(j)(k)}\n")).get.docId

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("repo", StringType),
    StructField("path", StringType), StructField("commit", StringType),
    StructField("lang", StringType), StructField("content", StringType),
    StructField("sha", StringType)))

  /** Parquet copy of generated files, cached by generator version, seed,
    * first doc_id and size; written once, read by every later run. */
  private def cached(f: Array[SrcFile], name: String): String = {
    val dir = Paths.get(o.cache, s"v${Gen.Version}_s${o.seed}_${name}_${f.head.docId}_${f.length}")
    if (!Files.exists(dir.resolve("_complete"))) {
      val tmp = Paths.get(dir.toString + s".tmp${ProcessHandle.current().pid()}")
      val rows = f.toSeq.map(x => Row(x.docId, x.repo, x.path, x.commit, x.lang, x.content, x.sha))
      spark.createDataFrame(rows.asJava, schema).repartition(math.max(1, f.length / 1500))
        .write.mode("overwrite").parquet(tmp.toString)
      Files.createDirectories(dir.getParent)
      if (!Files.exists(dir)) Files.move(tmp, dir)
      Files.writeString(dir.resolve("_complete"), "")
    }
    dir.toString
  }
  private val basePath = cached(base, "base")
  private val batchPaths = batches.map(cached(_, "batch"))

  /** The base corpus plus the first `appended` batches. */
  private def filesDf(appended: Int): DataFrame =
    spark.read.parquet(basePath +: batchPaths.take(appended): _*)
  private val served: Array[SrcFile] = base ++ batches.flatten

  // ---- build + append -----------------------------------------------------

  private def span[T](name: String, form: String = "")(f: => T): T =
    tracer.fold(f)(_.span(name, form)(f)._1)

  private def checkManifests(ck: Path, rows: Long, what: String): Unit = {
    val ms = CheckpointedBuild.readManifests(ck.toString)
    attempted += 1
    if (ms.exists(m => m.sha_ok != m.rows)) fail(s"$what: sha_ok != rows in a manifest")
    else if (ms.map(_.rows).sum != rows) fail(s"$what: manifests hold ${ms.map(_.rows).sum} rows, want $rows")
  }

  /** Fresh build of the base corpus into `ck`; returns seconds. */
  private def build(ck: Path, name: String): Double = {
    val (_, s) = secs(span(name) {
      CheckpointedBuild.run(filesDf(appended = 0), ck.toString, nBuckets = 4,
        idDomain = Some(domain))
    })
    checkManifests(ck, spec.baseFiles, "build")
    s
  }

  /** Append batch `j` (its doc_id range only) to `ck`, which holds the base
    * corpus and the batches before `j`; returns seconds. */
  private def append(ck: Path, j: Int, name: String): Double = {
    val (_, s) = secs(span(name) {
      CheckpointedBuild.run(filesDf(appended = j + 1), ck.toString, nBuckets = 4,
        idDomain = Some(domain), changedIds = Some(batchRange(j)))
    })
    checkManifests(ck, batchStart(j + 1), s"append $j")
    s
  }

  // ---- serving ------------------------------------------------------------

  /** The appended index served by a Session behind HttpServe. */
  final class Served(ck: Path) {
    val files: DataFrame = filesDf(appended = spec.batches)
    val logPath: String = work.resolve("querylog").toString
    val session = new Serve.Session(spark, ck.toString, files, logPath)
    val server: com.sun.net.httpserver.HttpServer = HttpServe.start(session, 0)
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    attempted += 1
    if (session.engine.nDocs != served.length)
      fail(s"n_docs ${session.engine.nDocs}, want ${served.length}")
    def close(): Unit = { server.stop(0); session.close() }
  }

  private val oracle = new Oracle(served)
  private val rankings = new ConcurrentHashMap[String, IndexedSeq[(Long, Double)]]()
  /** Raw queries sent so far (counted before sending): suggest counts may
    * not exceed them. */
  private val sent = new ConcurrentHashMap[String, AtomicInteger]()

  private def rows(body: String): Seq[JsonNode] = json.readTree(body).elements().asScala.toSeq

  /** Answer check of one response; None when correct. */
  private def check(r: Req, body: String): Option[String] = {
    val rs = rows(body)
    if (rs.exists(_.has("error"))) return Some(s"error body $body")
    r.form match {
      case "suggest" =>
        val got = rs.map(n => (n.get("query").asText, n.get("cnt").asLong))
        val pre = Oracle.asciiLower(r.raw)
        got.collectFirst {
          case (q, _) if !Oracle.tokens(Oracle.asciiLower(q)).mkString(" ").startsWith(pre) =>
            s"suggestion '$q' does not match prefix '${r.raw}'"
          case (q, c) if c < 1 || c > Option(sent.get(q)).fold(0)(_.get) =>
            s"suggestion '$q' count $c exceeds queries sent"
        }.orElse(
          if (got.length > 10 || got != got.sortBy { case (q, c) => (-c, q) })
            Some(s"suggestions not ranked: $got") else None)
      case _ =>
        val got = rs.map(n => (n.get("doc_id").asLong, n.get("score").asDouble))
        r.expect match {
          case Some(ids) =>
            if (got.map(_._1).toSet != ids) Some(s"got docs ${got.map(_._1)}, want $ids") else None
          case None =>
            val rank = rankings.computeIfAbsent(r.raw, q => oracle.ranking(q))
            val from = if (r.form == "page") (r.page - 1) * Req.Limit else 0
            Oracle.check(rank, from, Req.Limit, got)
        }
    }
  }

  private def direct(s: Serve.Session, r: Req): Seq[String] = r.form match {
    case "suggest" => s.render(s.suggest(r.raw))
    case "page" => s.render(s.page(r.raw, r.page, Req.Limit))
    case _ => s.render(s.query(r.raw))
  }

  private def note(r: Req): Unit =
    if (r.form != "suggest") sent.computeIfAbsent(r.raw, _ => new AtomicInteger()).incrementAndGet()

  /** One GET on its own connection, timed from connect to the full
    * response body. */
  private def send(url: String, r: Req): Done = {
    note(r)
    val s = System.nanoTime()
    val (status, body) =
      try {
        val c = URI.create(url + Req.path(r)).toURL.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestProperty("Connection", "close")
        try {
          val code = c.getResponseCode
          val in = if (code < 400) c.getInputStream else c.getErrorStream
          (code, if (in == null) "" else new String(in.readAllBytes(), "UTF-8"))
        } finally c.disconnect()
      } catch { case e: Exception => (-1, String.valueOf(e)) }
    Done(r, (System.nanoTime() - s) / 1e6, status, body)
  }

  /** Closed loop: one thread per stream sends its next request after the
    * previous answer arrives, until `seconds` have passed. */
  private def closedLoop(url: String, streams: Seq[IndexedSeq[Req]], seconds: Double): (Seq[Done], Double) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = streams.map { stream =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) {
          done.add(send(url, stream(i % stream.length)))
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (done.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-form latency summary on stderr. */
  private def summarize(ds: Seq[Done]): Unit = Forms.foreach { f =>
    val l = ds.filter(_.req.form == f).map(_.latMs)
    if (l.nonEmpty) log(f"$f%-8s n=${l.length}%3d p50=${pct(l, 0.5)}%8.1f p90=${pct(l, 0.9)}%8.1f ms  all=" +
      l.map(x => f"$x%.0f").mkString(","))
  }

  private def verify(ds: Seq[Done]): Unit = ds.foreach { d =>
    attempted += 1
    if (d.status != 200) fail(s"${d.req.form} '${d.req.raw}': HTTP ${d.status} ${d.body.take(200)}")
    else check(d.req, d.body).foreach(e => fail(s"${d.req.form} '${d.req.raw}': $e"))
  }

  /** Closed-loop streams (seeded per client). */
  private val streams: Seq[IndexedSeq[Req]] = spec.name match {
    case "serve_keyword" => (0 until spec.clients).map(c => Streams.keywordClient(oracle, o.seed * 101 + c, 80, c))
    case _ => Seq(Streams.phraseClient(oracle, served, o.seed * 101, 80))
  }

  /** Warm-up requests sent one after another before the timed loop,
    * answers checked: the first 10 requests of a keyword stream (every form
    * is among them) or of a phrase stream (two cycles), drawn with another
    * seed. */
  private val warmups: Seq[Req] = spec.name match {
    case "serve_keyword" => Streams.keywordClient(oracle, o.seed * 101 + 99, 10)
    case _ => Streams.phraseClient(oracle, served, o.seed * 101 + 99, 10)
  }

  /** The appends' marker checks: both markers of each batch as one keyword
    * query, and those of the last batch also as a boolean OR of phrases. */
  private val markerChecks: Seq[Req] = {
    val Seq(a, b) = markers(spec.batches - 1)
    (0 until spec.batches).map(j => Req("search", markers(j).mkString(" "),
      expect = Some(Set(markerDoc(j, 0), markerDoc(j, 1))))) :+
      Req("bool", "\"// " + a + "\" OR \"" + b + "\"",
        expect = Some(Set(markerDoc(spec.batches - 1, 0), markerDoc(spec.batches - 1, 1))))
  }

  /** One setup, up to the first timed request: a warm-up build of the
    * first batch alone and a warm-up append of the second to it, fresh base
    * build, the appends, Session + HttpServe over the result, the marker
    * checks and the warm-up requests. Returns (served, setup s, build s,
    * append s of each batch).
    *
    * The warm-ups compile the build's and the append's code paths before
    * they are timed. Without them the timed build is the JVM's first Spark
    * work only when the generated inputs were cached, and about 30% slower
    * then than after a run that had to write them; and the first timed
    * append is about 30% slower than the next two. */
  private def setup(ck: Path): (Served, Double, Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    span("setup.warmup_build") {
      val warm = work.resolve("ck-warmup").toString
      val warmDomain = Some((batchStart(0), batchStart(2) - 1))
      CheckpointedBuild.run(spark.read.parquet(batchPaths(0)), warm, nBuckets = 4,
        idDomain = warmDomain)
      CheckpointedBuild.run(spark.read.parquet(batchPaths.take(2): _*), warm, nBuckets = 4,
        idDomain = warmDomain, changedIds = Some(batchRange(1)))
    }
    val buildS = build(ck, "setup.build")
    val appendS = (0 until spec.batches).map(j => append(ck, j, "setup.append"))
    val sv = span("setup.serve")(new Served(ck))
    span("setup.check")(verify(sequential(sv, markerChecks)))
    span("setup.warmup_requests")(verify(sequential(sv, warmups)))
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"setup: build $buildS%.2f s, appends ${appendS.map(a => f"$a%.2f").mkString(" ")} s, setup $setupS%.2f s")
    (sv, setupS, buildS, appendS)
  }

  private def cacheMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def contentBytes(fs: Array[SrcFile]): Long = fs.map(_.content.length.toLong).sum

  // ---- timed runs ---------------------------------------------------------

  /** Setup, the warm-up requests, then the closed loop for `seconds`. */
  private def timedServe(): Map[String, Double] = {
    log(s"inputs ready: ${streams.map(_.length).sum} requests, ${served.length} docs")
    val ck = work.resolve("ck")
    val (sv, setupS, buildS, appendS) = setup(ck)
    val (ds, wall) = closedLoop(sv.url, streams, o.seconds)
    log(s"closed loop done: ${ds.length} requests")
    summarize(ds)
    val lat = ds.map(_.latMs)
    val cache = cacheMb
    sv.close()
    verify(ds)
    Map(
      "setup_s" -> setupS,
      "req_p50_ms" -> pct(lat, 0.5), "req_p75_ms" -> pct(lat, 0.75),
      "req_per_s" -> ds.length / wall,
      "cache_mb" -> cache,
      "build_files_per_s" -> spec.baseFiles / buildS,
      "append_p50_s" -> pct(appendS, 0.5),
      "index_bytes_per_content_byte" -> dirBytes(ck.resolve("index")).toDouble / contentBytes(served))
  }

  /** Requests sent one after another from one client. */
  private def sequential(sv: Served, reqs: Seq[Req]): Seq[Done] = reqs.map(send(sv.url, _))

  // ---- traced run ---------------------------------------------------------

  private def tokensOf(raw: String): (Seq[String], Seq[String]) = Oracle.parse(raw) match {
    case Oracle.Toks(t) => (Oracle.tokens(t).distinct, Nil)
    case Oracle.Phr(ph) => (Oracle.tokens(Oracle.asciiLower(ph)).distinct, Seq(ph))
    case Oracle.BoolQ(op, p1, p2) =>
      val t1 = Oracle.tokens(Oracle.asciiLower(p1))
      val t2 = Oracle.tokens(Oracle.asciiLower(p2))
      ((if (op == "not") t1 else t1 ++ t2).distinct, Seq(p1, p2))
  }

  /** One replayed request, each layer in its own span. Returns
    * (candidates, verified) summed over the request's phrases. */
  private def replay(sv: Served, shadowLog: String, r: Req): (Long, Long) = {
    val t = tracer.get
    val f = r.form
    val eng = sv.session.engine
    note(r)
    t.span("op", f) {
      val (out, _) = t.span("serve.request", f)(direct(sv.session, r))
      attempted += 1
      check(r, out.mkString("[", ",", "]")).foreach(e => fail(s"traced $f '${r.raw}': $e"))
      if (f == "suggest") {
        t.span("search.suggest", f)(QueryLog.suggest(QueryLog.load(spark, shadowLog), r.raw).collect())
        (0L, 0L)
      } else {
        t.span("search.querylog_append", f)(QueryLog.append(spark, shadowLog, Seq(r.raw)))
        val k = if (f == "page") r.page * Req.Limit else Req.Limit
        t.span("search.engine", f) {
          if (f == "page") eng.searchPage(r.raw, sv.files, r.page, Req.Limit).collect()
          else eng.search(r.raw, sv.files, k).collect()
        }
        val (toks, phrases) = tokensOf(r.raw)
        t.span("search.score", f)(eng.searchTopK(toks, k).collect())
        phrases.map { ph =>
          val c = t.span("search.candidates", f)(
            eng.candidatesAll(Oracle.tokens(Oracle.asciiLower(ph)).distinct).collect().length)._1
          val v = t.span("search.phrase_candidates", f)(eng.phraseCandidates(ph, sv.files).collect().length)._1
          (c.toLong, v.toLong)
        }.foldLeft((0L, 0L)) { case ((a, b), (c, v)) => (a + c, b + v) }
      }
    }._1
  }

  private def traced(): Map[String, Double] = {
    val t = tracer.get
    val ck = work.resolve("ck")
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sv = setup(ck)._1
    // phase A: the closed loop as in a timed run (nothing is traced)
    val (ds, _) = closedLoop(sv.url, streams, o.seconds / 2.0)
    verify(ds)
    val client = Forms.map(f => f -> pct(ds.filter(_.req.form == f).map(_.latMs), 0.5)).toMap
    Forms.foreach(f => m(s"${f}_p50_ms") = client(f))
    // phase B: traced single-thread replay, in step with a shadow log
    val shadow = work.resolve("querylog-shadow")
    if (Files.exists(Paths.get(sv.logPath)))
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sv.logPath), shadow.toFile)
    // the clients' requests interleaved, then ordered so the forms take
    // turns: every form reaches its minimum sample count early
    val replayStream = streams.flatMap(_.zipWithIndex).sortBy(_._2).map(_._1)
      .groupBy(_.form).values.toSeq.sortBy(g => Forms.indexOf(g.head.form))
      .flatMap(_.zipWithIndex).sortBy(_._2).map(_._1)
    val formsSent = replayStream.map(_.form).distinct
    val counts = scala.collection.mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    val tB = System.nanoTime()
    var i = 0
    def enough = formsSent.forall(f => t.named("op", f).length >= 3)
    while (i < replayStream.length &&
      (System.nanoTime() - tB < o.seconds / 2.0 * 1e9 || !enough) &&
      System.nanoTime() - tB < o.seconds * 2e9) {
      val r = replayStream(i)
      val (c, v) = replay(sv, shadow.toString, r)
      val (c0, v0) = counts(r.form)
      counts(r.form) = (c0 + c, v0 + v)
      i += 1
    }
    t.drain()
    val logFiles = Files.list(Paths.get(sv.logPath)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    sv.close()

    def p50(name: String, f: String) = pct(t.named(name, f).map(_.ms), 0.5)
    /** Summed duration of the named child spans of `op`. */
    def childMs(op: Tracer#Span, name: String) =
      t.all.filter(c => c.parent == op.id && c.name == name).map(_.ms).sum
    val reqAll = t.named("serve.request").map(_.ms)
    Forms.foreach { f =>
      val reqs = t.named("serve.request", f)
      val ops = t.named("op", f)
      m(s"serve.request_ms.$f") = p50("serve.request", f)
      // per op: request minus engine (or suggest) minus log append
      val hydr = ops.map { op =>
        childMs(op, "serve.request") - childMs(op, "search.engine") -
          childMs(op, "search.suggest") - childMs(op, "search.querylog_append")
      }
      m(s"serve.hydrate_render_ms.$f") = pct(hydr, 0.5)
      m(s"serve.queue_ms.$f") = if (reqs.isEmpty) 0.0 else client(f) - p50("serve.request", f)
      m(s"trace.unexplained_ms.$f") = if (reqs.isEmpty) 0.0 else
        client(f) - (p50("search.querylog_append", f) + p50("search.engine", f) +
          p50("search.suggest", f) + pct(hydr, 0.5) + m(s"serve.queue_ms.$f"))
      def per(x: Tracer#Span => Double) = if (reqs.isEmpty) 0.0 else reqs.map(x).sum / reqs.length
      m(s"spark.jobs_per_req.$f") = per(_.jobs)
      m(s"spark.stages_per_req.$f") = per(_.stages)
      m(s"spark.tasks_per_req.$f") = per(_.tasks)
      m(s"spark.task_cpu_ms_per_req.$f") = per(_.cpuNs / 1e6)
      m(s"spark.input_mb_per_req.$f") = per(_.inputBytes / 1e6)
      m(s"spark.shuffle_mb_per_req.$f") = per(_.shuffleBytes / 1e6)
      if (f != "suggest") {
        m(s"search.querylog_append_ms.$f") = p50("search.querylog_append", f)
        m(s"search.engine_ms.$f") = p50("search.engine", f)
        m(s"search.score_ms.$f") = p50("search.score", f)
      }
      if (f == "phrase" || f == "bool") {
        m(s"search.candidates_ms.$f") = p50("search.candidates", f)
        val verify = ops.map(op =>
          childMs(op, "search.phrase_candidates") - childMs(op, "search.candidates"))
        m(s"search.verify_ms.$f") = pct(verify, 0.5)
        val (c, v) = counts(f)
        m(s"search.verify_pass_ratio.$f") = if (c == 0) 0.0 else v.toDouble / c
      }
    }
    m("search.suggest_ms") = p50("search.suggest", "suggest")
    m("querylog.files") = logFiles
    val clientAll = ds.map(_.latMs)
    m("trace.overhead_ratio") = if (clientAll.isEmpty) 0.0 else pct(reqAll, 0.5) / pct(clientAll, 0.5)
    m ++= buildLayers()
    m ++= fx.sample()
    m.toMap
  }

  /** Build layers as prefix pipelines over the base corpus, each
    * materialized and timed, plus one untimed full run and one append
    * under the listener. */
  private def buildLayers(): Map[String, Double] = {
    val t = tracer.get
    val files = filesDf(appended = 0)
    val pre = work.resolve("prefix")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, scan) = secs(t.span("corpus.scan_sha")(files.agg(
      sum(when(sha2(col("content"), 256) === col("sha"), 1L).otherwise(0L))).collect()))
    val (_, post) = secs(t.span("index.postings")(noop(Stats.postings(files))))
    val (_, seg) = secs(t.span("index.segments")(InvertedIndex.segments(
      Stats.postings(files), nDocs = spec.baseFiles.toLong, saltBuckets = 32)
      .write.mode("overwrite").parquet(pre.resolve("segments").toString)))
    val segs = spark.read.parquet(pre.resolve("segments").toString)
    val avgdl = new Oracle(base).avgdl
    val (_, merge) = secs(t.span("index.merge")(noop(InvertedIndex.mergeSegments(segs, avgdl))))
    val (_, write) = secs(t.span("index.write")(InvertedIndex.write(
      InvertedIndex.mergeSegments(segs, avgdl), pre.resolve("index").toString,
      nPartitions = InvertedIndex.writeParts(spark, dirBytes(pre.resolve("segments"))))))
    val ck = work.resolve("ck-layers")
    val runS = build(ck, "checkpoint.run")
    log(f"untimed build in $runS%.2f s")
    val loads = (0 until 3).map(_ => secs(t.span("checkpoint.load") {
      CheckpointedBuild.load(spark, ck.toString).nDocs
    })._2)
    val appendS = append(ck, 0, "checkpoint.append")
    t.drain()
    val run = t.named("checkpoint.run").last
    val app = t.named("checkpoint.append").last
    val layers = Map(
      "corpus.scan_sha_s" -> scan, "index.postings_s" -> (post - scan),
      "index.segments_s" -> (seg - post), "index.merge_s" -> merge,
      "index.write_s" -> (write - merge))
    layers ++ Map(
      "checkpoint.overhead_s" -> (runS - layers.values.sum),
      "checkpoint.load_s" -> pct(loads, 0.5),
      "index.postings" -> CheckpointedBuild.readManifests(ck.toString).map(_.postings).sum.toDouble,
      "index.mb" -> dirBytes(ck.resolve("index")) / 1e6,
      "checkpoint.segment_mb" -> dirBytes(ck.resolve("segments")) / 1e6,
      "spark.shuffle_write_mb" -> run.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> run.spillBytes / 1e6,
      "spark.gc_s" -> run.gcMs / 1e3,
      "spark.task_cpu_s" -> run.cpuNs / 1e9,
      "spark.cpu_util" -> run.cpuNs / 1e9 / (runS * Cores),
      "checkpoint.append_s" -> appendS,
      "checkpoint.append_written_mb" -> app.outputBytes / 1e6,
      "checkpoint.append_write_amp" -> app.outputBytes.toDouble / contentBytes(batches(0)))
  }

  // ---- result -------------------------------------------------------------

  def result(): String = {
    val metrics = try {
      if (o.trace) traced() else timedServe()
    } finally {
      val name = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
      tracer.foreach { t =>
        t.drain()
        t.dump(Paths.get(o.records, s"$name.spans.jsonl"))
      }
      val forensics = fx.sample() + ("spark_start_s" -> sparkStartS)
      log("forensics " + forensics.map { case (k, v) => s"$k=$v" }.mkString(" "))
      Files.createDirectories(Paths.get(o.records))
      Files.writeString(Paths.get(o.records, s"$name.forensics.json"),
        forensics.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}\n"))
      spark.stop()
    }
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.length}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
