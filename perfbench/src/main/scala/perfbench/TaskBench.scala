package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.operators.{TaskModes, TransferdbConfig}

/** The task-mode benchmark's JVM side: one SparkSession built the way
  * `graft.Main` builds it, one client running the workload's mode
  * calls in a closed loop, each call timed from here.
  *
  * {{{
  *   TaskBench --workload catalog|migrate --data <dir>
  *     --work <dir> --config <toml> --seconds <n> --trace 0|1
  *     --result <json>
  *   TaskBench --setup-only 1 --result <json>
  * }}}
  *
  * A call is `TransferdbConfig.knobs(config)`, `TaskModes.runMode`,
  * then the report materialised as `Main` does it (parquet write, then
  * `show`). Every call gets a fresh out dir; every pass reads the input
  * through a fresh hard-linked alias of the data dir, so per-path
  * caches start cold each pass. The first pass is the measured one: it
  * runs cold, in a fresh JVM, as each of a user's `graft.Main` runs
  * does. Passes repeat until `--seconds` have elapsed. Failed calls are
  * recorded with their error and counted, never retried.
  *
  * With `--trace 1` the listeners of [[Tracer]] are registered for the
  * whole run and each call's span is cut into per-layer figures.
  */
object TaskBench {

  final case class Call(label: String, mode: String, source: String,
      target: String, rowsOnly: Boolean = false)

  private val directions = Seq("oracle" -> "mysql", "oracle" -> "tidb",
    "mysql" -> "oracle", "tidb" -> "oracle")

  val workloads: Map[String, Seq[Call]] = Map(
    "catalog" -> (Seq(Call("prepare", "prepare", "oracle", "mysql"),
      Call("assess", "assess", "oracle", "mysql")) ++
      directions.map { case (s, t) => Call("reverse", "reverse", s, t) } ++
      directions.map { case (s, t) => Call("check", "check", s, t) }),
    "migrate" -> Seq(Call("full", "full", "oracle", "mysql"),
      Call("csv", "csv", "oracle", "mysql"),
      Call("all", "all", "oracle", "mysql"),
      Call("compare", "compare", "oracle", "mysql"),
      Call("compare_rows", "compare", "oracle", "mysql", rowsOnly = true)))

  final case class Result(pass: Int, idx: Int, call: Call, out: String,
      wallS: Double, error: Option[String], span: Span)

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName(s"graft-${a.getOrElse("workload", "setup")}")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    val readyMs = System.currentTimeMillis()
    try {
      if (a.contains("setup-only")) writeJson(a("result"), Map("ready_ms" -> readyMs))
      else run(spark, a, readyMs)
    } finally spark.stop()
  }

  /** The result file the benchmark's Python side reads; None fields are
    * left out.
    */
  private def writeJson(path: String, v: Map[String, Any]): Unit =
    Files.writeString(Paths.get(path), Serialization.write(v)(DefaultFormats))

  private def run(spark: SparkSession, a: Map[String, String],
      readyMs: Long): Unit = {
    val calls = workloads(a("workload"))
    val data = Paths.get(a("data"))
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val configText = Files.readString(Paths.get(a("config")))
    val rowsOnlyText = configText.replace("only-check-rows = false",
      "only-check-rows = true")
    require(rowsOnlyText != configText,
      "config must set only-check-rows = false")
    val sc = spark.sparkContext
    val tracer = new Tracer
    val results = mutable.ArrayBuffer.empty[Result]
    val devNull =
      new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

    def runCall(pass: Int, idx: Int, call: Call, dataDir: String): Result = {
      val id = f"p$pass%03d_$idx%02d_${call.label}"
      val out = work.resolve("calls").resolve(id).toString
      sc.setJobGroup(id, s"${call.label} ${call.source}->${call.target}")
      sc.setLocalProperty(Tracer.SpanKey, id)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var reportMs = startMs
      val error =
        try {
          val knobs = TransferdbConfig.knobs(
            if (call.rowsOnly) rowsOnlyText else configText)
          val report = TaskModes.runMode(spark, call.mode, knobs, dataDir,
            out, sourceDb = call.source, targetDb = call.target)
          reportMs = System.currentTimeMillis()
          report.write.mode("overwrite")
            .parquet(s"$out/report_${call.mode}.parquet")
          Console.withOut(devNull)(report.show(50, truncate = false))
          None
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] call $id failed:")
            e.printStackTrace(System.err)
            Some(e.toString.linesIterator.take(1).mkString.take(300))
        } finally {
          sc.clearJobGroup()
          sc.setLocalProperty(Tracer.SpanKey, null)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      Result(pass, idx, call, out, wall, error,
        Span(id, startMs, endMs, if (error.isEmpty) reportMs else endMs))
    }

    // pass k reads a hard-linked alias of the data dir: same bytes,
    // a path no earlier pass has seen
    def aliasData(pass: Int): String = {
      val alias = work.resolve("data").resolve(f"p$pass%03d")
      Files.createDirectories(alias)
      val files = Files.list(data)
      try files.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          Files.createLink(alias.resolve(f.getFileName), f)
      } finally files.close()
      alias.toString
    }

    def runPass(pass: Int): Double = {
      val dir = aliasData(pass)
      val rs = calls.zipWithIndex.map { case (c, i) =>
        runCall(pass, i, c, dir) }
      results ++= rs
      rs.map(_.wallS).sum
    }

    if (traceRun) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    // pass 1 is the measured one, cold like a user's fresh process;
    // later passes only fill the window up to --seconds
    val measureStart = System.nanoTime()
    var pass = 0
    do {
      pass += 1
      runPass(pass)
    } while ((System.nanoTime() - measureStart) / 1e9 < seconds)
    val measuredS = (System.nanoTime() - measureStart) / 1e9
    val layers =
      if (traceRun) {
        drain(spark, tracer)
        tracer.layers(results.map(_.span).toSeq)
      } else Map.empty[String, SpanLayers]
    val rssMb = peakRssMb()
    val probes = Probes.run(spark, work)

    writeJson(a("result"), Map(
      "ready_ms" -> readyMs,
      "measured_s" -> measuredS,
      "passes" -> pass,
      "peak_rss_mb" -> rssMb,
      "probes" -> Map("cpu_shuffle_s" -> probes._1,
        "fixed_cost_s" -> probes._2),
      "oracles" -> oracles(a("workload")),
      "calls" -> results.toSeq.map { r =>
        Map("pass" -> r.pass, "idx" -> r.idx, "label" -> r.call.label,
          "mode" -> r.call.mode, "source" -> r.call.source,
          "target" -> r.call.target, "out" -> r.out,
          "wall_s" -> r.wallS, "error" -> r.error,
          "layers" -> layers.get(r.span.id).map(layerJson))
      }))
  }

  /** The engine's own reference SQL the output checks recompute with. */
  private def oracles(workload: String): Map[String, String] =
    workload match {
      case "catalog" =>
        Seq("a36_assess_report", "k1_struct_diff", "k7_o2t_check",
          "k6_m2o_struct_diff", "k8_t2o_check")
          .map(k => k -> graft.operators.Check.oracles(k)).toMap
      case _ =>
        Map("drifted_orders" -> graft.operators.Compare.driftedOrdersSql)
    }

  private def layerJson(l: SpanLayers): Map[String, Any] = Map(
    "driver_s" -> l.driverS, "plan_s" -> l.planS, "exec_s" -> l.execS,
    "report_s" -> l.reportS, "jobs" -> l.jobs, "tasks" -> l.tasks,
    "task_run_s" -> l.taskRunS, "gc_s" -> l.gcS,
    "sched_wait_s" -> l.schedWaitS, "shuffle_bytes" -> l.shuffleBytes,
    "spill_bytes" -> l.spillBytes, "task_failures" -> l.taskFailures,
    "job_s_by_module" -> l.jobSByModule)

  /** Block until both listeners have seen a marker query submitted
    * after everything else, so no event of the pass is still queued.
    */
  private def drain(spark: SparkSession, tracer: Tracer): Unit = {
    val name = Tracer.MarkerPrefix + java.util.UUID.randomUUID().toString
      .replace("-", "")
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, name)
    try spark.range(1).toDF(name).collect()
    finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!tracer.sawMarker(name)) {
      require(System.nanoTime() < deadline,
        "listener events were not delivered within 60 s")
      Thread.sleep(5)
    }
  }

  /** The process's peak resident set (Linux `VmHWM`), in MiB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}
