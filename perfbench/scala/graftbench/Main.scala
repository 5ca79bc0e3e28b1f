package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What every workload gets: the session, the recorder, the result being
  * built and the run's parameters. */
final class Ctx(
    val spark: SparkSession,
    val rec: Recorder,
    val out: Out,
    val seed: Long,
    val seconds: Double,
    val dataDir: String,
    val workDir: String,
    val expected: Map[String, (Long, String)],
    val fast: Boolean
) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One workload: `setup` is run several times (the median is `setup_s`),
  * then `measure` runs once, closed loop, until the deadline, then
  * `report` turns what it saw into metrics. */
trait Workload {
  def setup(round: Int): Unit
  def measure(deadlineNs: Long): Unit
  def report(): Unit
}

/** Entry point of the benchmark JVM.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --work DIR --out FILE [--trace-out FILE] [--expected FILE]
  *       [--fast] [--corrupt QUERY]
  *
  * Writes one JSON result file (`--out`); `run.py` prints the result
  * line from it. Exits 2 on a failed output check. */
object Main {
  private def parse(argv: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { m(k) = argv(i + 1); i += 2 }
      else { m(k) = "true"; i += 1 }
    }
    m.toMap
  }

  /** Expected query outputs: lines of `query rows hash`. */
  private def loadExpected(path: Option[String], corrupt: Option[String]): Map[String, (Long, String)] =
    path.filter(p => new File(p).exists).map { p =>
      scala.io.Source.fromFile(p).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(q, n, h) = l.split("\\s+")
          q -> (n.toLong, if (corrupt.contains(q)) h.reverse else h)
        }.toMap
    }.getOrElse(Map.empty)

  private def vmHwmMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = parse(argv)
    val traced = a.get("trace").contains("1")
    val workload = a("workload")
    val workDir = new File(a("work")).getAbsolutePath
    new File(workDir).mkdirs()
    val out = new Out
    val rec = new Recorder(traced)

    val (spark, sessionMs) = Clock.timed {
      val s = GraftSession.builder("graftbench")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .config("spark.local.dir", s"$workDir/local")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      // JVM warm-up with a generic job (not one the workloads time): class
      // loading and first codegen belong to set-up, not to the first
      // measured operation
      s.range(0, 100000, 1, s.sparkContext.defaultParallelism).selectExpr("id % 97 AS k", "id")
        .groupBy("k").count().join(s.range(0, 97).withColumnRenamed("id", "k"), "k").collect()
      s
    }
    if (traced) rec.install(spark)
    val ctx = new Ctx(spark, rec, out, a("seed").toLong, a("seconds").toDouble, a("data"), workDir,
      loadExpected(a.get("expected"), a.get("corrupt")), a.contains("fast"))

    val w: Workload = workload match {
      case "pmap"         => new PmapWorkload(ctx)
      case "driver-bound" => new QueryWorkload(ctx, QueryWorkload.DriverBound, minWarmPasses = 2)
      case "exec-bound"   => new QueryWorkload(ctx, QueryWorkload.ExecBound, minWarmPasses = 2)
      case "stream"       => new StreamWorkload(ctx)
      case other          => sys.error(s"unknown workload $other")
    }

    val reps = if (ctx.fast) 1 else 3
    val setups = (0 until reps).map(i => Clock.timed(w.setup(i))._2)
    val bootMs = entryMs - ManagementFactory.getRuntimeMXBean.getStartTime
    out.e2e("setup_s", (bootMs + sessionMs + Samples.median(setups)) / 1e3, "s")
    out.extra("setup_ms") = Json.obj(Seq("jvm_boot" -> Json.num(bootMs.toDouble),
      "session" -> Json.num(sessionMs), "workload" -> Json.arr(setups.map(Json.num))))

    val t0 = Clock.now
    w.measure(t0 + (ctx.seconds * 1e9).toLong)
    out.extra("measure_s") = Json.num(Clock.ms(t0, Clock.now) / 1e3)
    w.report()
    out.layer("bench.peak_rss_mb", vmHwmMb(), "MB")
    out.layer("bench.failed_share", out.failed.toDouble / math.max(1L, out.attempted), "share")
    out.extra("spark_cores") = ctx.cores.toString
    out.extra("process_cpu_s") = Json.num(
      ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9)

    Files.write(Paths.get(a("out")), out.json.getBytes(StandardCharsets.UTF_8))
    if (traced) a.get("trace-out").foreach { p =>
      Files.write(Paths.get(p), rec.traceJson(Seq(
        "workload" -> Json.str(workload), "seed" -> ctx.seed.toString)).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    if (out.failed > 0) {
      out.failures.foreach(f => System.err.println(s"[graftbench] check failed: $f"))
      System.exit(2)
    }
  }
}
