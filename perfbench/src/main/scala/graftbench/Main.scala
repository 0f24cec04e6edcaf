package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.engine.GatherScatter

/**
 * One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
 * --home <benchmark dir> --work <cache dir> --run <scratch dir>
 * [--capture-golden <Verify output dir>]`. Prints a detail record, then as the LAST stdout line
 * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
 * untraced, the per-layer metrics traced. Exits 1 when a check failed.
 */
object Main {
  val Cores = 4
  val Workloads: Seq[String] = Seq("csr_transcript", "catalog_sf001")

  def parse(args: Array[String]): Options = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; known: ${Workloads.mkString(", ")}")
    Options(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      tiny = false, home = new File(need("home")), work = new File(need("work")),
      run = new File(need("run")), captureGolden = kv.get("capture-golden").map(new File(_)))
  }

  def session(opt: Options): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graft-perfbench-${opt.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(opt.run, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(opt.run, "warehouse").getAbsolutePath)
    GatherScatter.engineConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(opt.run, "checkpoints").getAbsolutePath)
    spark
  }

  def workload(spark: SparkSession, opt: Options): Workload = opt.workload match {
    case "csr_transcript" => new CsrTranscript(spark, opt)
    case "catalog_sf001" => new CatalogSf001(spark, opt)
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def resultLine(r: RunResult, metrics: Seq[Metrics.M]): String =
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":{""" +
      metrics.map(m => s"""${str(m.name)}:{"value":${num(m.value)},"unit":${str(m.unit)}}""").mkString(",") + "}}"

  def detailLine(opt: Options, r: RunResult, facts: Seq[(String, Double)], host: Host): String =
    s"""{"workload":${str(opt.workload)},"seed":${opt.seed},"trace":${opt.trace},""" +
      s""""host":${host.json},"facts":{${facts.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")}},""" +
      s""""setup_s":[${r.setupWalls.map(num).mkString(",")}],""" +
      s""""passes":[${r.passWalls.map { case (p, t, w) => s"""{"pass":$p,"traced":$t,"wall_s":${num(w)}}""" }.mkString(",")}],""" +
      s""""failures":[${r.failures.map(str).mkString(",")}],"warnings":[${r.warnings.map(str).mkString(",")}]}"""

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    val host = new Host
    val spark = session(opt)
    val code =
      try {
        val tr = new Tracer(spark, opt.trace)
        val w = workload(spark, opt)
        val r = new Runner(spark, w, opt, tr, host).run()
        val metrics =
          if (opt.trace) Metrics.perLayerOf(r, w.facts.toMap, host, tr.unattributedJobs)
          else Metrics.endToEndOf(r)
        val tag = s"${opt.workload}-s${opt.seed}-t${if (opt.trace) 1 else 0}"
        val detail = detailLine(opt, r, w.facts, host)
        val rec = new File(opt.work, s"records/$tag.json")
        rec.getParentFile.mkdirs()
        val out = new PrintWriter(rec, "UTF-8")
        try { out.println(detail); out.println(resultLine(r, metrics)) } finally out.close()
        tr.writeJsonl(new File(opt.work, s"records/$tag.spans.jsonl"), tag)
        println(detail)
        println(resultLine(r, metrics))
        if (r.correct) 0 else 1
      } catch {
        case e: Throwable => e.printStackTrace(); 2
      } finally spark.stop()
    sys.exit(code)
  }
}
