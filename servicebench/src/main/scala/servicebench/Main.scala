package servicebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Service-path benchmark: boots the connector service over an
  * in-process topic, drives one workload, checks every answer against
  * the model, writes the run's full record to `--record`, and prints
  * the headline figures as the last line of standard output.
  *
  * {{{
  * Main --workload replay_backlog|live_freshness|query_mix --seed N
  *      --seconds S --trace 0|1 --cpus C --work DIR --record FILE
  *      [--smoke] [--rate EVENTS_PER_S] [--patch-share F]
  * }}}
  */
object Main {
  val Workloads = Seq("replay_backlog", "live_freshness", "query_mix")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String, d: String): String = opts.getOrElse(k, d)
    val smoke = args.contains("--smoke")
    val workload = opt("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val p = Params(workload, opt("seed", "1").toLong, opt("seconds", "10").toInt,
      opt("trace", "0") == "1", smoke, opt("cpus", "4").toInt,
      Paths.get(opt("work", "work")).toAbsolutePath,
      opt("rate", "10").toDouble, opt("patch-share", "0.1").toDouble)
    val record = Paths.get(opt("record", "record.json"))
    Files.createDirectories(p.work)

    val spark = SparkSession.builder()
      .master(s"local[${p.cpus}]")
      .appName("servicebench")
      .config("spark.sql.shuffle.partitions", p.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", p.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val report = new Report
    val w = workload match {
      case "replay_backlog" => new ReplayBacklog(spark, p, report)
      case "live_freshness" => new LiveFreshness(spark, p, report)
      case _ => new QueryMix(spark, p, report)
    }
    w.run()
    report.endToEnd("setup_s") = Figure(
      sparkS + Stats.median(w.setupCycles), "s", w.setupCycles.size)
    report.own("setup_spark_s") = Figure(sparkS, "s", 1)
    report.own("setup_cycle_s") = Figure(Stats.median(w.setupCycles), "s", w.setupCycles.size)
    report.own("setup_warmup_s") = Figure(w.warmupS, "s", 1)

    val shown = if (p.trace) report.perLayer else report.endToEnd
    shown.foreach { case (k, f) =>
      if (f.value.isNaN || f.value.isInfinite) report.check(Some(s"$k is undefined"))
    }
    writeRecord(record, p, report, w.spans)
    val own = report.own.map { case (k, f) => s"$k=${fmt(f.value)}${f.unit}" }.mkString(" ")
    println(s"servicebench $workload seed=${p.seed}: $own")
    println(s"record: $record")
    val metrics = shown.map { case (k, f) =>
      s""""$k": {"value": ${num(f.value)}, "unit": "${f.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${report.failed == 0}, "attempted": ${report.attempted}, """ +
      s""""failed": ${report.failed}, "metrics": {$metrics}}""")
    System.out.flush()
    spark.stop()
    System.exit(0)
  }

  private def fmt(v: Double): String = if (v == math.rint(v) && v.abs < 1e15) v.toLong.toString else f"$v%.4g"
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else if (v == math.rint(v) && v.abs < 1e15) s"${v.toLong}.0" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def figures(m: scala.collection.Map[String, Figure]): String =
    m.map { case (k, f) =>
      s"""${str(k)}: {"value": ${num(f.value)}, "unit": ${str(f.unit)}, "n": ${f.n}}"""
    }.mkString("{", ", ", "}")

  /** The run's full record, in a file of its own (never overwritten);
    * traced runs also write their spans next to it.
    */
  private def writeRecord(path: Path, p: Params, r: Report, spans: Spans): Unit = {
    Option(path.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    val spanFile = Paths.get(path.toString.stripSuffix(".json") + ".spans.jsonl")
    val summary = spans.summary.toSeq.sortBy(_._1).map { case (n, (c, total, self)) =>
      s"""${str(n)}: {"count": $c, "total_ms": ${num(total)}, "self_ms": ${num(self)}}"""
    }.mkString("{", ", ", "}")
    val json =
      s"""{"workload": ${str(p.workload)}, "seed": ${p.seed}, "cpus": ${p.cpus}, """ +
      s""""seconds": ${p.seconds}, "trace": ${p.trace}, "smoke": ${p.smoke}, """ +
      s""""rate": ${num(p.rate)}, "patch_share": ${num(p.patchShare)}, """ +
      s""""started_ms": ${ManagementFactory.getRuntimeMXBean.getStartTime}, """ +
      s""""correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""fail_ratio": ${num(r.failed.toDouble / math.max(1L, r.attempted))}, """ +
      s""""errors": ${r.errors.map(str).mkString("[", ", ", "]")}, """ +
      s""""end_to_end": ${figures(r.endToEnd)}, "own": ${figures(r.own)}, """ +
      s""""per_layer": ${figures(r.perLayer)}, "spans": $summary, """ +
      s""""samples": ${r.samples.map { case (k, xs) => s"${str(k)}: ${xs.map(num).mkString("[", ", ", "]")}" }.mkString("{", ", ", "}")}""" +
      (if (p.trace) s""", "span_file": ${str(spanFile.getFileName.toString)}""" else "") +
      "}\n"
    Files.write(path, json.getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE_NEW)
    if (p.trace) {
      val lines = spans.all.map { s =>
        s"""{"id": ${s.id}, "name": ${str(s.name)}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
          s""""parent": ${s.parent}, "req": ${s.req}}"""
      }
      Files.write(spanFile, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW)
    }
  }
}
