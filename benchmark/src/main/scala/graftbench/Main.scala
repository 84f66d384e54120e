package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in this JVM:
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --data <dir> --work <dir> [--expected <file>]
  * graftbench.Main --generate <dir>
  * }}}
  * Prints a `RECORD {…}` line with everything measured (host context,
  * every end-to-end, workload-specific and per-layer value, notes), then
  * the result line `{"correct", "attempted", "failed", "metrics"}` as the
  * last line: end-to-end metrics untraced, per-layer metrics traced.
  * Exits 1 on a wrong result or a failed operation. */
object Main {
  val Workloads = Seq("medallion_daily", "log_dml_mix", "curation_mix")

  /** Every end-to-end metric, with its unit; all workloads report all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_run_s" -> "s",
    "op_p50_s" -> "s", "op_mean_s" -> "s", "query_geomean_s" -> "s")

  /** Every per-layer metric, with its unit. A traced run reports all of
    * them; a layer the workload does not reach reads 0. */
  val PerLayer: Seq[(String, String)] = {
    val medallion = Seq(
      "sources.read_s" -> "s", "jobs.raw_ingest_s" -> "s",
      "jobs.raw_ingest_tasks" -> "count", "jobs.raw_ingest_cpu_util" -> "share",
      "jobs.promote_s" -> "s", "jobs.promote_jobs" -> "count",
      "jobs.promote_cpu_util" -> "share", "ledger.append_s" -> "s",
      "ledger.records_s" -> "s", "ledger.records_tasks" -> "count",
      "orchestrate.maintenance_s" -> "s",
      "orchestrate.maintenance_bytes_rewritten" -> "B",
      "orchestrate.maintenance_cpu_s" -> "s", "catalog.register_s" -> "s",
      "catalog.ddl_statements" -> "count", "sql.first_read_s" -> "s",
      "sql.first_read_plan_s" -> "s", "sql.first_read_tasks" -> "count")
    val dml = Seq("insert", "merge", "update", "delete", "compact").flatMap { op =>
      Seq(s"table.${op}_s" -> "s", s"table.${op}_jobs" -> "count",
        s"table.${op}_bytes_written" -> "B", s"table.${op}_files_added" -> "count",
        s"table.${op}_files_removed" -> "count", s"plans.${op}_plan_s" -> "s")
    } ++ Seq("table.read_s" -> "s", "table.read_tasks" -> "count",
      "table.live_files" -> "count", "table.dv_files" -> "count",
      "table.bytes_written_per_changed_row" -> "B/row")
    val curation = CurationMix.Queries.flatMap { q =>
      Seq(s"ops.${q}_s" -> "s", s"ops.${q}_construct_s" -> "s",
        s"ops.${q}_exec_s" -> "s", s"ops.${q}_jobs" -> "count",
        s"ops.${q}_cpu_util" -> "share")
    }
    medallion ++ dml ++ curation ++ Seq("exec.gc_s" -> "s", "exec.peak_rss_mb" -> "MB",
      "exec.shuffle_bytes" -> "B", "exec.spill_bytes" -> "B",
      "host.steal_share" -> "share", "trace.span_coverage" -> "share")
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  /** `cpu` line of /proc/stat: (steal, total) jiffies. */
  private def cpuTimes(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  private def loadavg(): String =
    Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")

  private def statusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def memTotalKb(): Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def session(workload: String, cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (workload == "log_dml_mix")
      b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.contains("generate")) {
      val spark = session("generate", Runtime.getRuntime.availableProcessors, a("work"))
      try DataGen.write(spark, a("generate")) finally spark.stop()
      return
    }
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (${Workloads.mkString(", ")})")
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg()
    val (steal0, total0) = cpuTimes()
    val spark = session(workload, cores, a("work"))
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = Ctx(spark, new Tracer(spark, traced), a("seed").toLong,
      a("seconds").toDouble, a("data"), a("work"), cores)
    val expected: Option[Map[String, (Long, String)]] = a.get("expected").map { p =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Paths.get(p).toFile).path(workload)
      node.fields().asScala.map(e =>
        e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asText())).toMap
    }
    val gc0 = gcMillis()
    val result = scala.util.Try(workload match {
      case "medallion_daily" => Medallion.run(ctx)
      case "log_dml_mix" => LogDmlMix.run(ctx)
      case "curation_mix" => CurationMix.run(ctx, expected)
    })
    val gcS = (gcMillis() - gc0) / 1e3
    val (steal1, total1) = cpuTimes()
    val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    val host = Map("nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "mem_total_mb" -> memTotalKb() / 1024, "source_digest" -> a.getOrElse("digest", ""),
      "steal_share" -> steal, "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    val peakRssMb = statusKb("VmHWM") / 1024.0
    val (correct, attempted, failed, metrics, record) = result match {
      case scala.util.Success(o) =>
        val setupS = sessionS + (if (o.fixtureSetupS.isEmpty) 0.0 else Stats.median(o.fixtureSetupS))
        val e2e = o.e2e ++ Map("setup_s" -> setupS)
        val layers = o.layers ++ Map("exec.gc_s" -> gcS, "exec.peak_rss_mb" -> peakRssMb,
          "exec.shuffle_bytes" -> ctx.tracer.shuffleBytes.toDouble,
          "exec.spill_bytes" -> ctx.tracer.spillBytes.toDouble,
          "host.steal_share" -> steal) ++
          (if (o.coverage.isEmpty) Map.empty else Map("trace.span_coverage" -> o.coverage.min))
        val unknown = layers.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer values without a declared metric: $unknown")
        val shown = if (traced) PerLayer.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
          else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
        val rec = Map("workload" -> workload, "seed" -> ctx.seed, "trace" -> traced,
          "seconds" -> ctx.seconds, "host" -> host, "end_to_end" -> e2e,
          "workload_metrics" -> (o.named + ("peak_rss_mb" -> peakRssMb)), "per_layer" -> (if (traced) layers else Map.empty),
          "session_s" -> sessionS, "fixture_setup_s" -> o.fixtureSetupS,
          "coverage" -> o.coverage, "notes" -> o.notes)
        (true, o.attempted, 0, shown, rec)
      case scala.util.Failure(e) =>
        e.printStackTrace()
        val rec = Map("workload" -> workload, "seed" -> ctx.seed, "trace" -> traced,
          "host" -> host, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        (false, math.max(1, ctx.attempts), 1, Seq.empty, rec)
    }
    println("RECORD " + Json.render(record))
    val metricsJson = metrics.map { case (k, (v, u)) =>
      Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}""")
    Console.out.flush()
    System.out.flush()
    // everything the run wrote lives under the run root, which run.py
    // deletes; skipping Spark's orderly stop saves a second per run
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }
}
