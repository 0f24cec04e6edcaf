package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.LinkGraph
import graft.sources.MtxReader
import graft.tools.GoldenGen

/**
 * Byte-exact golden-dump parity: the engine's `saveVertexproperty`-format
 * output (`sources/VertexDump.scala`; reference `include/Graph.h:338-350`)
 * for PageRank / connected components / label propagation / triangle counts
 * on BOTH bundled reference graphs must equal the committed files in
 * `src/test/resources/golden/` byte for byte. A failure names the first
 * divergent line. Complements GoldenParitySpec, which proves the VALUES
 * against independent sequential oracles — together: right numbers, stable
 * bytes. Regenerate (after an intentional change) with
 * `runMain graft.tools.GoldenGen`.
 */
class GoldenDumpSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  private val goldenDir = "src/test/resources/golden"

  for (name <- GoldenGen.fixtures) {
    lazy val g = LinkGraph(MtxReader.read(s, SparkTestBase.refData(name)), 8)
    // one engine run per fixture (the algorithm runs are eager), four diffs
    lazy val rendered: Map[String, String] =
      GoldenGen.dumps(g).map { case (k, df) => k -> GoldenGen.render(df) }.toMap
    for (algo <- Seq("pagerank", "cc", "lp", "triangles")) {
      test(s"$name/$algo dump matches the committed golden file byte-for-byte") {
        val got = rendered(algo)
        val path = java.nio.file.Paths.get(s"$goldenDir/$name/$algo.txt")
        assert(java.nio.file.Files.exists(path), s"missing golden file $path")
        val want = java.nio.file.Files.readString(path)
        if (got != want) {
          val gl = got.split("\n", -1); val wl = want.split("\n", -1)
          val i = gl.zip(wl).indexWhere { case (a, b) => a != b }
          val at = if (i >= 0) i else math.min(gl.length, wl.length)
          val gLine = if (at < gl.length) gl(at) else "<eof>"
          val wLine = if (at < wl.length) wl(at) else "<eof>"
          fail(s"first divergence at line ${at + 1}: engine='$gLine' golden='$wLine' " +
            s"(engine ${gl.length} lines, golden ${wl.length})")
        }
      }
    }
  }
}
