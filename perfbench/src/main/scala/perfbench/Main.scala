package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main: one workload, one seed, one JVM. Prints as its last
  * stdout line one JSON object: host facts, correct, attempted, failed
  * and every metric measured, each with its unit. With --trace 1 it
  * also writes the spans and per-layer metrics to --trace-file.
  *
  * usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *          --work-dir DIR --trace-file FILE [--git-head REV]
  *
  * Spark runs `local[N]`, N = min(nproc, 4), the one place N is set.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def arg(k: String): String = a.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    if (!Workloads.names.contains(workload)) usage(s"unknown workload $workload")
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.min(nproc, 4)
    val workDir = Paths.get(arg("work-dir")).toAbsolutePath
    Files.createDirectories(workDir)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", workDir.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val run = new Run(spark, workload, arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", workDir.toString, sessionS)
    Workloads(run)
    run.log("measured")

    val host = Seq(
      "nproc" -> nproc.toString,
      "local_n" -> cores.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> q(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> q(spark.version),
      "git_head" -> q(a.getOrElse("git-head", "unknown")))
    val metrics = run.metrics.map { case (k, (v, u)) => s"${q(k)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}" }
    if (run.traced) Files.write(Paths.get(arg("trace-file")),
      (s"""{"workload":${q(workload)},"seed":${run.seed},"spans":${run.tracer.spansJson},""" +
        s""""metrics":${metrics.mkString("{", ",", "}")}}""" + "\n").getBytes("UTF-8"))
    val detail = run.detail.map { case (k, v) => s"${q(k)}:$v" }
    println(s"""{"host":${obj(host)},"detail":{${detail.mkString(",")}},""" +
      s""""correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""metrics":${metrics.mkString("{", ",", "}")}}""")
    spark.stop()
    run.log("session stopped")
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1 " +
      "--work-dir DIR --trace-file FILE [--git-head REV]")
    sys.exit(2)
  }
}
