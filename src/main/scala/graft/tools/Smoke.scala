package graft.tools

import org.apache.spark.sql.SparkSession

/** End-to-end smoke drive of the public surface, the way the round driver
  * uses it: SparkEntry.entry on a local session, plus a checkpoint/resume
  * round-trip. `sbt "runMain graft.tools.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    println(f"[smoke] entry rows=$n  (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    df.show(10, truncate = false)
    require(n > 0, "entry returned no rows")

    // checkpoint/resume round-trip: run PageRank 5 supersteps with durable
    // snapshots, "crash", resume from the latest snapshot to convergence
    // (the same config names it), and compare against an uninterrupted run.
    import graft.core.Transcripts
    import graft.algos.PageRank
    import graft.engine.CheckpointConfig
    val cpDir = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val graph = Transcripts.toGraph(Transcripts.synthesize(spark, 200))
    val cp = CheckpointConfig(cpDir, "pr-run", every = 5)
    PageRank.run(graph, maxIterations = 5, cp = Some(cp)) // interrupted run
    val resumed = PageRank.run(graph, cp = Some(cp))
    val full = PageRank.run(graph)
    val diff = resumed.state.alias("r")
      .join(full.state.alias("f"), org.apache.spark.sql.functions.expr("r.id = f.id"))
      .filter("abs(r.pagerank - f.pagerank) > 1e-9").count()
    val mets = java.nio.file.Paths.get(cpDir, "pr-run", "metrics.jsonl")
    println(s"[smoke] resume-after-crash: mismatched=$diff resumedIters=${resumed.iterations} " +
      s"metricsLines=${java.nio.file.Files.readAllLines(mets).size()}")
    require(diff == 0, "resumed result differs from uninterrupted run")
    spark.stop()
  }
}
