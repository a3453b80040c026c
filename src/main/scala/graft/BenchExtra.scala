package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointedBuild

/** Diagnostic measurement harness for the optimization rounds (guide §1).
  *
  * Bench.scala is the FROZEN graded harness; this main exists so per-query
  * isolation, plan capture and noop-sink timings can be run without touching
  * it. It mirrors Bench's query section exactly (same corpus derivation,
  * same engine dir, same warm + median-of-3 protocol) and additionally:
  *
  *  - records COLD timings for the ops section (Bench times ops single-shot,
  *    so plan + codegen compile cost is part of the graded number — the cold
  *    column shows how much),
  *  - writes `.explain("formatted")` for every measured query to
  *    SPARK_GRAFT_PLAN_DIR (plans/r06/<name>_{before,after}.txt),
  *  - uses the noop sink for frame-valued ops so the timing covers the
  *    computation, not a count's column pruning.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_FILES,
  * SPARK_GRAFT_ENGINE_DIR (default: the bench peak-n32 checkpoint),
  * SPARK_GRAFT_PLAN_DIR (empty → no plan files),
  * SPARK_GRAFT_PLAN_SUFFIX (default "_before").
  */
object BenchExtra {

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private var planDir: String = ""
  private var planSuffix: String = "_before"

  private def dumpPlan(name: String, df: DataFrame): Unit = if (planDir.nonEmpty) {
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(planDir, s"$name$planSuffix.txt"), s)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val target = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "480000").toLong
    val engDir = sys.env.getOrElse("SPARK_GRAFT_ENGINE_DIR",
      s"/tmp/graft_bench_ckpt_peak_n$cpus")
    planDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "")
    planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    val spark = GraftSession.builder(s"graft-bench-extra", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // same corpus derivation as Bench.corpus (query-bench side)
    val rep2 = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "8").toInt
    val docs = corpus.Corpus.documents(spark, sfDir)
    val n = docs.count()
    val r = math.max(1L, target / n)
    val filesRaw = docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(sequence(lit(0L), lit(r - 1))).as("rep"))
      .select((col("doc_id") * r + col("rep")).as("doc_id"),
        col("text"), col("lang"), col("source"))
      .select(
        col("doc_id"),
        concat(lit("org"), (col("doc_id") % 10).cast("string"), lit("/"),
          col("source")).as("repo"),
        concat(lit("src/doc_"), col("doc_id").cast("string")).as("path"),
        md5(concat(lit("commit"), col("doc_id").cast("string"))).as("commit"),
        col("lang"),
        array_join(array_repeat(col("text"), rep2), " ").as("content"))
      .withColumn("sha", sha2(col("content"), 256))
    val filesC = filesRaw.repartition(128, col("doc_id")).persist()
    filesC.count()
    val eng = CheckpointedBuild.load(spark, engDir)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def sc = spark.sparkContext

    def measure(name: String, mk: => DataFrame, reps: Int = 3): Unit = {
      sc.setJobDescription(s"extra:$name")
      val warm = mk
      warm.collect() // warm (plan + codegen)
      // dump AFTER execution: AQE's final plan (ReusedExchange, runtime
      // join strategy, coalesced reads) is the shape that actually ran —
      // the pre-execution explain shows duplicated subtrees AQE dedups
      dumpPlan(name, warm)
      val t = median((1 to reps).map(_ => timed(mk.collect())._2))
      out(name) = t
      println(f"[extra] $name%-22s p50=${t}%8.4f s")
      sc.setJobDescription(null)
    }
    // ops are graded single-shot by Bench: record the COLD first run too
    def measureCold(name: String, mk: => DataFrame,
                    action: DataFrame => Unit): Unit = {
      sc.setJobDescription(s"extra:$name")
      val warm = mk
      val tc = timed(action(warm))._2
      out(s"${name}_cold") = tc
      dumpPlan(name, warm) // post-execution: AQE-final shape (see measure)
      val t = median((1 to 3).map(_ => timed(action(mk))._2))
      out(name) = t
      println(f"[extra] $name%-22s cold=${tc}%8.4f s p50=${t}%8.4f s")
      sc.setJobDescription(null)
    }

    val tokenQueries = Seq(
      "bm25_tokens" -> "merge sort window",
      "bm25_rare" -> "dup stream")
    val structQueries = Seq(
      "phrase" -> "\"hash join\"",
      "bool_and" -> "\"merge sort\" AND \"table scan\"",
      "bool_or" -> "\"batch batch\" OR \"window agg\"",
      "bool_not" -> "\"sort merge\" NOT \"hash join\"")
    (tokenQueries ++ structQueries).foreach { case (name, q) =>
      measure(name, eng.search(q, filesC, 10))
    }
    measure("op_batch_search", eng.searchMany(Seq(
      0L -> Seq("merge", "sort", "window"),
      1L -> Seq("dup", "stream"), 2L -> Seq("hash", "join"))))
    measure("bm25_pruned",
      eng.searchPruned(Seq("merge", "sort", "window"), 10, force = true))
    measure("bm25_pruned_auto",
      eng.searchPruned(Seq("merge", "sort", "window"), 10))

    val docsNative = corpus.Corpus.documents(spark, sfDir)
    val embNative = corpus.Corpus.embeddings(spark, sfDir)
    measureCold("op_minhash_pairs", ops.Dedup.minhashPairs(docsNative), noop)
    measureCold("op_simhash", ops.Dedup.simhash(docsNative), noop)
    measureCold("op_ann_brute",
      ops.Similarity.annBruteForce(embNative, 0), _.collect())
    measureCold("op_ann_lsh", ops.Similarity.annLsh(embNative, 0), _.collect())
    measureCold("op_ann_ivf", ops.Similarity.annIvf(embNative, 0), _.collect())
    measureCold("op_fingerprint",
      ops.TextAnalysis.fingerprint(docsNative), noop)

    println(out.map { case (k, v) => s""""$k":${"%.4f".format(v)}""" }
      .mkString("{\"extra\":{", ",", s"},\"files\":${n * r}}"))
    filesC.unpersist()
    spark.stop()
  }
}
