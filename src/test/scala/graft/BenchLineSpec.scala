package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The compact bench line keeps the per-query seconds of the whole catalog
  * within the 1800-char budget, and drops the other keys first. */
class BenchLineSpec extends AnyFunSuite {
  private def obj(kv: Seq[(String, String)]) =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Every catalog query at a two-digit-seconds reading, the widest the
    * sf0.1 catalog produces. */
  private val queries: Seq[(String, String)] = SparkEntry.queries.keys.toSeq.sorted
    .zipWithIndex.map { case (q, i) => q -> f"${10 + (i * 37 % 900) / 100.0}%.2f" }

  /** A finished full run's line parts, in the order the bench adds them. */
  private def fullRun: Seq[(String, String)] = {
    val phases = Seq("gen", "scaling", "headline_local", "catalog", "convergence", "sgd_vec",
      "lda_vec", "sql_recheck", "scaling_threads", "scaling_fixed_cores", "cluster_legs") ++
      Seq("scc", "matching", "coloring", "hits", "betweenness", "dedup").map("catalog_scale:" + _)
    val pair = """{"sec_small":22.71,"sec_large":6.26,"eff":0.907,"eps_large":103848820}"""
    Seq(
      "metric" -> "\"total\"", "value" -> "245.0", "unit" -> "\"sec\"",
      "sf" -> "\"testdata/sf0.1\"", "full" -> "\"bench_full.json\"",
      "phases" -> phases.map(p => s""""$p"""").mkString("[", ",", "]"),
      "calib" -> """{"min":0.612,"max":0.778}""",
      "scaling" -> pair,
      "pagerank" -> """{"edges":7802879,"supersteps":10,"sec":3.33,"edges_per_sec":23404609,"conv_iters":12,"conv_sec":5.4,"conv_cp_sec":8.7}""",
      "pagerank_sql" -> """{"sec":12.68,"edges_per_sec":3077330,"sec2":7.09,"eps2":5499633,"ratio":1.79}""",
      "cc_minplus" -> """{"sec":4.90,"edges_per_sec":38189387,"supersteps":12}""",
      "lp_mode" -> """{"sec":2.42,"edges_per_sec":32283783,"supersteps":5}""",
      "triangle" -> """{"csr_sec":6.04,"column_sec":4.62,"total":2191655}""",
      "cache_leaks" -> "0", "query_errors" -> "{}",
      "queries_slowest" -> obj(queries.sortBy(-_._2.toDouble).take(10)),
      "queries" -> obj(queries),
      "sgd_vec" -> """{"sec":14.79,"edges_per_sec":2704751,"column_eps":1075847}""",
      "lda_vec" -> """{"sec":3.21,"edges_per_sec":7471057,"column_eps":1186828}""",
      "scaling_threads" -> pair, "scaling_fixed_cores" -> pair, "scaling_hash" -> pair,
      "cluster_eps" -> "239555529", "isolation_tax" -> "1.05", "scaling_8_32" -> pair,
      "catalog_scale" ->
        """{"scc":48.2,"matching":34.8,"coloring":123.8,"hits":52.2,"betweenness":192.7,"dedup":120.3}""")
  }

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("a full run's line keeps all 87 per-query seconds within 1800 chars") {
    assert(queries.size === 87)
    val line = Bench.compactLine(fullRun)
    assert(line.length <= 1800, s"${line.length} chars")
    val json = parse(line)
    val q = json.get("queries")
    assert(q != null && q.isObject, line)
    assert(q.fieldNames().asScala.toSeq === queries.map(_._1))
    for ((k, v) <- queries) assert(q.get(k).asDouble() === v.toDouble, k)
    for (k <- Seq("metric", "value", "unit", "sf", "full")) assert(json.has(k), k)
    for (k <- Seq("catalog_scale", "queries_slowest")) assert(!json.has(k), k)
  }

  test("keys leave in order: catalog_scale, queries_slowest, then the latest-added") {
    val parts = fullRun
    // a line that fits is every part, in order
    assert(Bench.compactLine(parts, limit = 100000) === obj(parts))
    val all = obj(parts).length
    val scale = parts.find(_._1 == "catalog_scale").get
    val noScale = parts.filterNot(_ == scale)
    assert(Bench.compactLine(parts, limit = all - 1) === obj(noScale))
    val slowest = parts.find(_._1 == "queries_slowest").get
    val noSlowest = noScale.filterNot(_ == slowest)
    assert(Bench.compactLine(parts, limit = obj(noScale).length - 1) === obj(noSlowest))
    val last = noSlowest.last
    assert(last._1 === "scaling_8_32")
    assert(Bench.compactLine(parts, limit = obj(noSlowest).length - 1) ===
      obj(noSlowest.init))
    // with no room even for the queries, only the fixed keys stay
    assert(parse(Bench.compactLine(parts, limit = 10)).fieldNames().asScala.toSeq ===
      Seq("metric", "value", "unit", "sf", "full"))
  }
}
