package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.LinkGraph
import graft.sources.{MtxReader, VertexDump}

/**
 * Regenerate the committed byte-exact golden dumps
 * (`src/test/resources/golden/<graph>/<algo>.txt`) — the
 * `Graph::saveVertexproperty` output (`include/Graph.h:338-350`, format
 * `sources/VertexDump.scala`) of four algorithms on the bundled reference
 * graphs. GoldenDumpSpec diffs the engine's current output against these
 * files line-for-line; GoldenParitySpec separately proves the VALUES match
 * independent sequential oracles, so the committed bytes are oracle-anchored,
 * not self-fulfilling.
 *
 * Each graph is read through `fixturePath`; a graph found nowhere is
 * reported and skipped, its golden files left as they are.
 *
 * usage: runMain graft.tools.GoldenGen [outDir]
 */
object GoldenGen {

  val fixtures = Seq("test.bin.mtx", "2_10_upper_triangle.bin.mtx")

  /** Committed copies of the reference graphs (FIXTURES.md §2). */
  private val committedData = "src/test/resources/data"

  /** The `data/` directory of a GraphMat checkout: `$GRAPHMAT_DATA_DIR`, by
    * default `reference/data` beside this repository. */
  private val graphmatData: String = sys.env.getOrElse("GRAPHMAT_DATA_DIR", "../reference/data")

  /** Where a reference graph is read from: the committed copy if there is
    * one, else the GraphMat checkout's (which may not exist either). */
  def fixturePath(name: String): Path = {
    val committed = Paths.get(committedData, name)
    if (Files.exists(committed)) committed
    else Paths.get(graphmatData, name).toAbsolutePath.normalize
  }

  /** (algo name, dump lines) for one reference graph — shared with the spec
    * so generator and checker cannot drift. */
  def dumps(g: LinkGraph): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
    "pagerank" -> VertexDump.lines(
      PageRank.run(g).state, round(col("pagerank") + 1e-9, 6)),
    "cc" -> VertexDump.lines(
      ConnectedComponents.run(g).state, col("component")),
    "lp" -> VertexDump.lines(
      LabelPropagation.run(g, iterations = 2).state, col("label")),
    "triangles" -> VertexDump.lines(
      TriangleCount.perVertex(g), col("triangles")))

  def render(df: org.apache.spark.sql.DataFrame): String =
    df.collect().map(_.getString(0)).mkString("", "\n", "\n")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("src/test/resources/golden")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- fixtures; path = fixturePath(name)) {
      if (!Files.exists(path)) {
        println(s"[golden] skipped $name: $path does not exist")
      } else {
        val g = LinkGraph(MtxReader.read(spark, path.toString), 8)
        for ((algo, df) <- dumps(g)) {
          val dir = Paths.get(s"$out/$name")
          Files.createDirectories(dir)
          Files.writeString(dir.resolve(s"$algo.txt"), render(df))
          println(s"[golden] wrote $out/$name/$algo.txt")
        }
        g.unpersistAll()
      }
    }
    spark.stop()
  }
}
