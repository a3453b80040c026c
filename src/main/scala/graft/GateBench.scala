package graft

import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointedBuild

/** Measures the adaptive prune-gate crossover at its design point
  * (VERDICT r2 #3): the gate `PruneGateDocs` routes between two exact
  * plans on corpus size, and until round 3 its 10M default was an
  * extrapolation from a 60k-doc measurement.
  *
  * For a ladder of corpus sizes this job measures, per size, token top-k
  * through the EXHAUSTIVE plan (searchTopK) vs the PRUNED plan
  * (searchPruned force=true: MaxScore + block-max WAND, 3 driver
  * round-trips).
  *
  * One warm pass then median of 3 per cell, like Bench. Each size's corpus,
  * checkpoint and index are deleted before the next (the 9.6M corpus alone
  * is ~34 GB). Prints one JSON line; results are recorded in GATES.md and
  * justify (or adjust) the gate default in CompressedSearchEngine.
  */
object GateBench {

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def med3(f: => Unit): Double = {
    f // warm: plan + codegen + page cache
    val xs = (1 to 3).map(_ => timed(f)).sorted
    xs(1)
  }
  private def rmrf(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sizes = sys.env.getOrElse("SPARK_GRAFT_GATE_SIZES",
      "1200000,4800000,9600000").split(",").map(_.trim.toLong).toSeq
    val spark = GraftSession.builder("graft-gatebench", cpus)
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = sizes.map { size =>
      val base = s"/tmp/graft_gate_$size"
      rmrf(base); rmrf(s"$base-corpus")
      val (files, _) = IndexBuildJob.corpusOf(spark, sfDir, size)
      val tBuild = timed(CheckpointedBuild.run(files, base, nBuckets = 4))
      val eng = CheckpointedBuild.load(spark, base)
      val cells = Seq(
        "topk_exhaustive" -> med3(
          eng.searchTopK(Seq("merge", "sort", "window"), 10).collect()),
        "topk_pruned" -> med3(eng.searchPruned(Seq("merge", "sort", "window"),
          10, force = true).collect()))
      rmrf(base); rmrf(s"$base-corpus")
      val cellJson = (("build_sec" -> tBuild) +: cells)
        .map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }.mkString(",")
      s""""$size":{$cellJson}"""
    }
    println(s"""{"metric":"gate_crossover","sf":"$sfDir","sizes":{${results.mkString(",")}}}""")
    spark.stop()
  }
}
