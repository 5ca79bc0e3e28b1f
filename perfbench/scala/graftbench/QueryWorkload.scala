package graftbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Hygiene, SparkEntry, Tables}

/** Registered queries, each run once cold and then warm until the
  * deadline, in a seeded order. One execution is construct (the query
  * function, with its eager driver-side jobs), plan
  * (`queryExecution.executedPlan`) and exec (`queryExecution.toRdd`,
  * reduced to a row count and an order-independent content hash on the
  * executors). `Hygiene.release` runs between queries, outside the timed
  * regions. `queries` maps each query to the input tables it reads. */
final class QueryWorkload(c: Ctx, queries: Map[String, Seq[String]], minWarmPasses: Int)
    extends Workload {
  private val spark = c.spark
  private val order = Seeds.rng(c.seed, 2).shuffle(queries.keys.toSeq.sorted)
  private val minWarm = if (c.fast) 1 else minWarmPasses

  // the queries load their tables themselves; set-up is the JVM and session
  def setup(round: Int): Unit = ()

  private final case class Exec(q: String, construct: Double, plan: Double, exec: Double,
      release: Double, cachedBytes: Long, spans: Seq[String]) {
    def wall: Double = construct + plan + exec
  }
  private val colds = mutable.ArrayBuffer.empty[Exec]
  private val warms = mutable.ArrayBuffer.empty[Exec]
  private var warmPasses = 0
  private var compilesCold, compilesWarm = 0L
  private var compileNsCold = 0L

  private def execute(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator(RowHash.partition(it, schema)))
      .collect()
      .foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  private def once(q: String): Exec = {
    val r = c.rec
    def phase[T](p: String)(body: => T): (T, Double) =
      Clock.timed(r.span(s"$q.$p", if (p == "construct") "queries" else p, q)(body))
    val fn = SparkEntry.queries(q)
    val (df, tc) = phase("construct")(fn(spark, c.dataDir))
    val (_, tp) = phase("plan")(df.queryExecution.executedPlan)
    val ((n, h), te) = phase("exec")(execute(df))
    val hex = f"$h%016x"
    val problem = c.expected.get(q) match {
      case Some((en, eh)) if en == n && eh == hex => None
      case Some((en, eh)) => Some(s"$q: got $n rows hash $hex, expected $en rows hash $eh")
      case None => Some(s"$q: got $n rows hash $hex, no expected output pinned")
    }
    c.out.op(problem)
    val cached = Hygiene.storageBytes(spark)
    val (_, rel) = Clock.timed(Hygiene.release(spark))
    val spanIds = if (r.traced) r.spans.takeRight(3).map(_.id).toSeq else Nil
    Exec(q, tc, tp, te, rel, cached, spanIds)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def measure(deadlineNs: Long): Unit = {
    val c0 = compiles
    val ns0 = CodeGenerator.compileTime
    order.foreach(q => colds += once(q))
    compilesCold = compiles - c0
    compileNsCold = CodeGenerator.compileTime - ns0
    val c1 = compiles
    while (warmPasses < minWarm || (Clock.now < deadlineNs && warmPasses < 1000)) {
      order.foreach(q => warms += once(q))
      warmPasses += 1
    }
    compilesWarm = compiles - c1
  }

  private def perQueryMedian(f: Exec => Double): Map[String, Double] =
    warms.groupBy(_.q).map { case (q, es) => q -> Samples.median(es.map(f).toSeq) }

  def report(): Unit = {
    val o = c.out
    val warmS = perQueryMedian(_.wall).values.sum / 1e3
    o.e2e("warm_s", if (warms.isEmpty) Double.NaN else warmS, "s")
    o.e2e("cold_s", colds.map(_.wall).sum / 1e3, "s")
    // a fixed input count: the rows of the tables each query reads, per
    // pass, counted after the measurement
    val tableRows = queries.values.flatten.toSet
      .map((t: String) => t -> Tables.table(spark, c.dataDir, t).count()).toMap
    val rowsPerPass = order.map(q => queries(q).map(tableRows).sum).sum
    val passes = math.max(1, warmPasses).toDouble
    o.e2e("inputs_per_s", rowsPerPass * passes / (warms.map(_.wall).sum / 1e3), "1/s")
    o.layer("queries.construct_ms", perQueryMedian(_.construct).values.sum, "ms")
    o.layer("plan.plan_ms", perQueryMedian(_.plan).values.sum, "ms")
    o.layer("codegen.compiles_cold", compilesCold.toDouble, "count")
    o.layer("codegen.compiles_warm", compilesWarm / passes, "count")
    o.layer("codegen.warm_recompile_ratio", compilesWarm / passes / math.max(1L, compilesCold), "ratio")
    o.layer("codegen.compile_ms", compileNsCold / 1e6, "ms")
    o.layer("exec.exec_ms", perQueryMedian(_.exec).values.sum, "ms")
    o.layer("hygiene.cached_bytes_peak", (colds ++ warms).map(_.cachedBytes).maxOption.getOrElse(0L).toDouble, "B")
    o.layer("hygiene.release_ms", Samples.median((colds ++ warms).map(_.release).toSeq), "ms")
    o.layer("hygiene.scratch_bytes_left", QueryWorkload.scratchBytes(), "B")
    o.extra("warm_passes") = warmPasses.toString
    o.extra("order") = Json.arr(order.map(Json.str))
    o.extra("per_query_ms") = Json.obj(order.map { q =>
      val cold = colds.find(_.q == q).get
      q -> Json.obj(Seq(
        "cold" -> Json.num(cold.wall),
        "construct" -> Json.num(perQueryMedian(_.construct).getOrElse(q, Double.NaN)),
        "plan" -> Json.num(perQueryMedian(_.plan).getOrElse(q, Double.NaN)),
        "exec" -> Json.num(perQueryMedian(_.exec).getOrElse(q, Double.NaN)),
        "warm" -> Json.num(perQueryMedian(_.wall).getOrElse(q, Double.NaN))))
    })
    if (c.rec.traced) layers(passes)
  }

  private def layers(passes: Double): Unit = {
    val r = c.rec
    r.drain()
    val o = c.out
    // spans of one execution: construct, plan, exec
    val constructIds = warms.map(_.spans(0)).toSet
    val execIds = warms.map(_.spans(2)).toSet
    val eagerTasks = r.tasksOf(constructIds)
    o.layer("queries.eager_jobs", r.jobsOf(constructIds).size / passes, "count")
    o.layer("queries.eager_stages", r.stagesOf(constructIds).size / passes, "count")
    o.layer("queries.eager_task_ms", eagerTasks.map(_.runMs).sum / passes, "ms")
    val ts = r.tasksOf(execIds)
    val execWall = warms.map(_.exec).sum
    o.layer("exec.jobs", r.jobsOf(execIds).size / passes, "count")
    o.layer("exec.stages", r.stagesOf(execIds).size / passes, "count")
    o.layer("exec.tasks", ts.size / passes, "count")
    o.layer("exec.task_run_ms", ts.map(_.runMs).sum / passes, "ms")
    o.layer("exec.task_cpu_ms", ts.map(_.cpuMs).sum / passes, "ms")
    o.layer("exec.gc_ms", ts.map(_.gcMs).sum / passes, "ms")
    o.layer("exec.task_wait_ms", Samples.median(r.taskWaitMs(ts)), "ms")
    o.layer("exec.core_busy_share", ts.map(_.runMs).sum / (execWall * c.cores), "share")
    o.layer("exec.shuffle_write_bytes", ts.map(_.shuffleWrite).sum / passes, "B")
    o.layer("exec.shuffle_read_bytes", ts.map(_.shuffleRead).sum / passes, "B")
    o.layer("exec.spill_bytes", ts.map(_.spill).sum / passes, "B")
    val scanTasks = eagerTasks ++ ts
    o.layer("sources.input_bytes", scanTasks.map(_.inputBytes).sum / passes, "B")
    o.layer("sources.input_rows", scanTasks.map(_.inputRows).sum / passes, "count")
  }
}

object QueryWorkload {
  val DriverBound = Map(
    "d06_dedup_clusters" -> Seq("documents"),
    "e18_ann_ivf_incremental" -> Seq("embeddings"))
  val ExecBound = Map(
    "q01_pricing_summary" -> Seq("lineitem"),
    "q21_returns_cube" -> Seq("lineitem", "orders"),
    "q51_basket_lift" -> Seq("lineitem"),
    "e02_embed_neardup" -> Seq("embeddings"),
    "d03_dedup_ngram_jaccard" -> Seq("documents"))

  /** Bytes under the JVM's temp dir: the queries' round-trip scratch. */
  def scratchBytes(): Double = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length
    du(new java.io.File(System.getProperty("java.io.tmpdir"))).toDouble
  }
}
