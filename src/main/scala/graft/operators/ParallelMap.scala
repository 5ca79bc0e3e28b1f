package graft.operators

import scala.reflect.ClassTag
import scala.util.{Failure, Success, Try}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** A UDF raised on a specific input. Mirrors the reference's error
  * attribution contract — the original exception is re-raised client-side
  * with `exc.burla_input_index` set (reference: client/src/burla/_node.py:
  * 638-663, worker emit node_service/src/node_service/worker_server.py:
  * 170-180). Here the cause is the user exception and `inputIndex` is the
  * 0-based position in the submitted inputs.
  */
final case class UdfFailure(inputIndex: Long, cause: Throwable)
    extends RuntimeException(
      s"UDF raised on input $inputIndex: ${cause.getClass.getSimpleName}: ${cause.getMessage}",
      cause
    )

/** A UDF raised inside a NESTED parallel map (runNested): `outerIndex` is
  * the failing outer input, `innerIndex` the position within that input's
  * fan-out (-1 when the fan-out function itself raised, before any inner
  * input existed). The reference lets a UDF call remote_parallel_map
  * recursively on-cluster (client/tests/test_nested_rpm.py, creds bind
  * node_service job_endpoints.py:266-281); Spark executors cannot submit
  * jobs, so the nested shape is rebuilt as driver-side composition with
  * the same two-level attribution. */
final case class NestedUdfFailure(outerIndex: Long, innerIndex: Long, cause: Throwable)
    extends RuntimeException(
      s"UDF raised on input $outerIndex" +
        (if (innerIndex >= 0) s", nested input $innerIndex" else " (fan-out stage)") +
        s": ${cause.getClass.getSimpleName}: ${cause.getMessage}",
      cause
    )

/** Envelope guards, mirroring the reference's hard limits: a pickled
  * function is capped at 0.1 GB (client/src/burla/_remote_parallel_map.py:
  * 220-224, `FunctionTooBig`) and a single pickled input at 200 MB
  * (client/src/burla/_node.py:25, `InputTooBig`). Sizes here are
  * SizeEstimator estimates of the in-memory object graph — the same
  * order of magnitude as serialized size for blob-like payloads.
  */
final case class FunctionTooBig(estimatedBytes: Long, limitBytes: Long)
    extends RuntimeException(
      f"function closure ~ ${estimatedBytes / 1e9}%.2f GB exceeds the ${limitBytes / 1e9}%.1f GB cap"
    )
final case class InputTooBig(inputIndex: Long, estimatedBytes: Long, limitBytes: Long)
    extends RuntimeException(
      f"input $inputIndex ~ ${estimatedBytes / 1e6}%.0f MB exceeds the ${limitBytes / 1e6}%.0f MB cap"
    )

/** Spark-native rebuild of the reference's one dataflow operator,
  * `remote_parallel_map(f, inputs)` (reference: client/src/burla/
  * _remote_parallel_map.py:457-537).
  *
  * Semantics carried over (SURVEY.md §2.1, §2.4):
  *   - results are unordered (docstring :518-521) — we return them as
  *     completed partitions arrive, not input order;
  *   - `[] => []` without touching the cluster (:542-543);
  *   - tuple-unpack calling convention (:553-556) is native in Scala —
  *     pass `{ case (a, b) => ... }`;
  *   - first UDF exception re-raised with input attribution (UdfFailure);
  *   - `generator=True` => `stream(...)`: a lazy iterator yielding each
  *     partition's results as it completes, with a `window` of partitions
  *     in flight — the analog of the reference's 50%-RAM result-queue
  *     backpressure (node_service worker_client.py:28,792-793);
  *   - `max_parallelism` => explicit partition count;
  *   - the client-side hot-spot shuffle of `(idx, input)` pairs
  *     (:312-313) => a round-robin deal on the driver (indexedInputs).
  *
  * What Spark absorbs rather than re-implements (SURVEY.md §2.2-2.3): work
  * stealing (P7) is the task scheduler; chunking (P2) is partition
  * planning; retries/heartbeats/ACKs are the Spark RPC + task-retry layer;
  * adaptive RAM (E6) is JVM-managed unified memory. Nested rpm-from-UDF
  * (L4) is not expressible from executors — compose on the driver.
  *
  * Inputs/outputs are opaque to the engine (the reference moves pickled
  * blobs; SURVEY.md §1.2) and must be `java.io.Serializable` — the Spark
  * RDD contract. A non-serializable input fails the job on the driver
  * when its task is serialized. Every mode maps one RDD built by
  * indexedInputs: a single stage, no Spark shuffle (runNested adds its one
  * deliberate rebalance). For schema-ful pipelines use the DataFrame
  * surface instead.
  */
object ParallelMap {

  /** Per-call resource requirements — the reference's `func_cpu` /
    * `func_ram` / `func_gpu` knobs (_remote_parallel_map.py:457-537).
    *
    * Mapping onto Spark:
    *   - on a cluster manager that supports stage-level scheduling
    *     (standalone/YARN/K8s), the request becomes a real
    *     `TaskResourceProfile` attached to the map stage — `funcCpus` ->
    *     task cpus, `funcGpus` -> `gpu` task resource amount;
    *   - in local mode (no task profiles), `funcCpus` caps concurrency to
    *     cores/funcCpus partitions — the same "each call owns k cores"
    *     guarantee by construction;
    *   - `funcRamGb` has no per-task enforcement in the JVM's unified
    *     memory model; it caps local concurrency to heap/funcRamGb and is
    *     recorded for cluster-side executor sizing.
    * Every mode also records the request as job-local properties
    * (`graft.func.cpus`/`gpus`/`ram_gb`), so the scheduler context of each
    * job carries the declared footprint (assertable from a SparkListener).
    */
  final case class Resources(
      funcCpus: Int = 1,
      funcGpus: Double = 0.0,
      funcRamGb: Double = 0.0
  ) {
    require(funcCpus >= 1, "funcCpus must be >= 1")
    require(funcGpus >= 0 && funcRamGb >= 0, "resource amounts must be >= 0")
    def isDefault: Boolean = funcCpus == 1 && funcGpus == 0 && funcRamGb == 0
  }

  /** Concurrency cap implied by the resource request — LOCAL MODE ONLY:
    * on a cluster the request becomes a TaskResourceProfile (see
    * applyResources) and the driver's heap says nothing about executor
    * capacity, so capping there would wrongly serialize the job. */
  private def resourceSlicesCap(spark: SparkSession, r: Resources): Int =
    if (!spark.sparkContext.isLocal) Int.MaxValue
    else {
      val cores = spark.sparkContext.defaultParallelism
      val byCpu = math.max(1, cores / r.funcCpus)
      val byRam =
        if (r.funcRamGb <= 0) Int.MaxValue
        else math.max(1, (Runtime.getRuntime.maxMemory() / 1e9 / r.funcRamGb).toInt)
      math.min(byCpu, byRam)
    }

  /** Run `body` with the resource request visible on every Spark job it
    * submits (job-local properties are captured at submit time). */
  private def withResourceProps[T](spark: SparkSession, r: Resources)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.func.cpus", r.funcCpus.toString)
    sc.setLocalProperty("graft.func.gpus", r.funcGpus.toString)
    sc.setLocalProperty("graft.func.ram_gb", r.funcRamGb.toString)
    try body
    finally {
      sc.setLocalProperty("graft.func.cpus", null)
      sc.setLocalProperty("graft.func.gpus", null)
      sc.setLocalProperty("graft.func.ram_gb", null)
    }
  }

  /** Attach a stage-level TaskResourceProfile where the cluster manager
    * supports it; identity in local mode (which cannot run task profiles —
    * there the request is enforced via the slices cap instead). */
  private def applyResources[T](spark: SparkSession, rdd: RDD[T], r: Resources): RDD[T] =
    if (r.isDefault || spark.sparkContext.isLocal) rdd
    else {
      import org.apache.spark.resource.{ResourceProfileBuilder, TaskResourceRequests}
      val trr = new TaskResourceRequests().cpus(r.funcCpus)
      if (r.funcGpus > 0) trr.resource("gpu", r.funcGpus)
      rdd.withResources(new ResourceProfileBuilder().require(trr).build())
    }

  /** Reference envelope: 0.1 GB function, 200 MB per input (SURVEY §1.2). */
  val MaxFunctionBytes: Long = 100L * 1000 * 1000
  val MaxInputBytes: Long = 200L * 1000 * 1000
  private val SizeCheckSample = 10000

  private def guardSizes(inputs: Seq[_], fns: Seq[AnyRef]): Unit = {
    import org.apache.spark.util.SizeEstimator
    fns.foreach { f =>
      val fSize = SizeEstimator.estimate(f)
      if (fSize > MaxFunctionBytes) throw FunctionTooBig(fSize, MaxFunctionBytes)
    }
    // full scan for modest lists (the reference checks every chunk it
    // packs); sample evenly beyond that to keep submission O(1)-ish
    val idxs =
      if (inputs.size <= SizeCheckSample) inputs.indices
      else inputs.indices by (inputs.size / SizeCheckSample)
    idxs.foreach { i =>
      val s = SizeEstimator.estimate(inputs(i).asInstanceOf[AnyRef])
      if (s > MaxInputBytes) throw InputTooBig(i.toLong, s, MaxInputBytes)
    }
  }

  /** Partition count shared by EVERY mode: the caller's maxParallelism,
    * else min(defaultParallelism, #inputs) — always bounded by the
    * local-mode resource cap (cores/funcCpus, heap/funcRamGb; a no-op on
    * cluster managers, where applyResources attaches a real task
    * profile). */
  private def sliceCount(
      spark: SparkSession,
      nInputs: Int,
      maxParallelism: Option[Int],
      resources: Resources
  ): Int = {
    val defaultPar = spark.sparkContext.defaultParallelism
    math.min(
      maxParallelism.getOrElse(math.min(defaultPar, math.max(1, nInputs))),
      resourceSlicesCap(spark, resources)
    )
  }

  /** The one input path every mode maps over: `(inputIndex, input)` pairs
    * dealt round-robin on the driver — input i goes to slice i mod n, the
    * reference's client-side hot-spot shuffle (_remote_parallel_map.py:
    * 312-313) — with the call's task resource profile attached. The n
    * dealt chunks are parallelized as n ELEMENTS and flattened: parallelize
    * cuts a flat list into contiguous ranges, so this is what makes slice k
    * hold exactly the inputs with i % n == k, in ascending index order. */
  private def indexedInputs[I](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int],
      resources: Resources
  ): RDD[(Long, I)] = {
    val n = sliceCount(spark, inputs.size, maxParallelism, resources)
    require(n >= 1, s"maxParallelism must be >= 1, got $n")
    val xs = inputs.toIndexedSeq
    val dealt = Seq.tabulate(n)(k => (k until xs.size by n).map(i => (i.toLong, xs(i))))
    applyResources(spark, spark.sparkContext.parallelize(dealt, n).flatMap(_.iterator), resources)
  }

  /** The fail-fast map (run, runDetached, stream): the first UDF error
    * fails the job as UdfFailure(inputIndex, cause). */
  private def plan[I, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      f: I => O,
      maxParallelism: Option[Int],
      resources: Resources
  ): RDD[(Long, O)] =
    indexedInputs(spark, inputs, maxParallelism, resources).map { case (idx, x) =>
      try (idx, f(x))
      catch { case e: Throwable => throw UdfFailure(idx, e) }
    }

  private def newGroup(): String = s"pmap-${java.util.UUID.randomUUID()}"

  /** Tag every Spark job `body` submits with the pmap job group. */
  private def withGroup[T](spark: SparkSession, group: String, desc: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, desc, interruptOnCancel = true)
    try body
    finally spark.sparkContext.clearJobGroup()
  }

  /** Walk a Spark-wrapped failure back to the attributed UDF error. */
  private def unwrap(e: Throwable): Throwable = {
    var cur: Throwable = e
    while (cur != null) {
      cur match {
        case u: UdfFailure       => return u
        case u: NestedUdfFailure => return u
        case _                   => cur = cur.getCause
      }
    }
    e
  }

  /** Start of every mode's lifecycle: None for empty inputs (no cluster
    * contact); otherwise the size guards, then a fresh `pmap-` group
    * registered with JobTracker as RUNNING. */
  private def begin(
      spark: SparkSession,
      inputs: Seq[_],
      fns: Seq[AnyRef],
      mode: String
  ): Option[String] =
    if (inputs.isEmpty) None
    else {
      guardSizes(inputs, fns)
      val group = newGroup()
      JobTracker.install(spark)
      JobTracker.started(group, mode, inputs.size)
      Some(group)
    }

  /** Failure attribution shared by every mode: unwrap Spark's wrapping to
    * the attributed UDF error, record the failing input and the FAILED
    * (or CANCELLED) transition; returns the error to rethrow. */
  private def fail(group: String, e: Throwable): Throwable = {
    val u = unwrap(e)
    u match {
      case uf: UdfFailure       => JobTracker.inputError(group, uf.inputIndex, uf.getMessage)
      case nf: NestedUdfFailure => JobTracker.inputError(group, nf.outerIndex, nf.getMessage)
      case _                    => ()
    }
    JobTracker.failed(group, u)
    u
  }

  /** Run `body` (which collects the job and records its completion) under
    * the group and the resource properties; a failure is attributed and
    * rethrown. */
  private def execute[R](spark: SparkSession, group: String, mode: String, resources: Resources)(
      body: => R
  ): R =
    try withGroup(spark, group, s"ParallelMap $mode ($group)")(withResourceProps(spark, resources)(body))
    catch { case e: Throwable => throw fail(group, e) }

  /** The one job lifecycle of the collecting modes: begin, then execute
    * `body(group)`; empty inputs return `empty`. */
  private def lifecycle[R](
      spark: SparkSession,
      inputs: Seq[_],
      fns: Seq[AnyRef],
      mode: String,
      resources: Resources,
      empty: R
  )(body: String => R): R =
    begin(spark, inputs, fns, mode) match {
      case None        => empty
      case Some(group) => execute(spark, group, mode, resources)(body(group))
    }

  /** Collect the fail-fast map's results (run and runDetached). */
  private def collectAll[I, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int],
      resources: Resources,
      f: I => O
  ): Seq[O] =
    plan(spark, inputs, f, maxParallelism, resources).map(_._2).collect().toSeq

  /** List mode: apply f to every input in parallel, return all results
    * (unordered). Throws UdfFailure(inputIndex, cause) on first UDF error.
    */
  def run[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => O): Seq[O] =
    lifecycle(spark, inputs, Seq(f), "run", resources, Seq.empty[O]) { group =>
      val out = collectAll(spark, inputs, maxParallelism, resources, f)
      JobTracker.completed(group)
      out
    }

  /** Per-input log capture cap, mirroring the reference's 100 KB/doc limit
    * (node_service worker_client.py:32; SURVEY §1.1 "Log document"). */
  val MaxLogBytesPerInput: Int = 100 * 1000

  /** One input's outcome, never thrown: the UDF's result or its error
    * message, plus — when `capture` is set — what it printed, truncated at
    * MaxLogBytesPerInput BYTES (the raw buffer is cut before decoding, so
    * multi-byte output cannot exceed the cap; a chopped trailing codepoint
    * decodes as U+FFFD). Scala `println`/`Console.out` writes are captured
    * per task thread (Console.withOut is thread-local); raw `System.out`
    * writes from native/Java code bypass the capture and land in executor
    * logs. */
  private def outcome[I, O](f: I => O, x: I, capture: Boolean): (Either[String, O], String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r: Either[String, O] =
      try Right(if (capture) Console.withOut(buf)(f(x)) else f(x))
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val bytes = buf.toByteArray
    (r, new String(bytes, 0, math.min(bytes.length, MaxLogBytesPerInput), "UTF-8"))
  }

  private def toTry[O](r: Either[String, O]): Try[O] =
    r.fold(msg => Failure(new RuntimeException(msg)), Success(_))

  /** Newest entries a task's relay accumulator retains (and therefore the
    * most a single heartbeat ships). The relay channel only serves
    * LIVENESS — authoritative logs always arrive with the collected
    * results — so older entries (already relayed with high probability
    * after a heartbeat interval) are droppable without any end-state
    * loss; the completeness sweep re-fires anything a heartbeat never
    * carried. Bounds heartbeat payload at ~cap x MaxLogBytesPerInput per
    * running task instead of O(all logs in the partition). */
  private[graft] val LiveRelayRetained = 64

  /** Newest-first (inputIndex, capturedLogs) accumulator backing the live
    * log relay: each completed input adds one entry from inside the still-
    * running task. Executor heartbeats ship partial values of RUNNING
    * tasks' accumulators to the driver, which is what makes entries
    * visible mid-task (same channel the Spark UI uses for live
    * accumulator columns). Entries are immutable snapshots, so a partial
    * read never observes a half-written log; retention is capped at
    * LiveRelayRetained per task copy (see its scaladoc). */
  private[graft] final class LogRelayAcc
      extends org.apache.spark.util.AccumulatorV2[(Long, String), List[(Long, String)]] {
    @volatile private var entries: List[(Long, String)] = Nil
    override def isZero: Boolean = entries.isEmpty
    override def copy(): LogRelayAcc = {
      val a = new LogRelayAcc; a.entries = entries; a
    }
    override def reset(): Unit = entries = Nil
    override def add(v: (Long, String)): Unit = synchronized {
      entries = (v :: entries).take(LiveRelayRetained)
    }
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[(Long, String), List[(Long, String)]]
    ): Unit = synchronized { entries = other.value ::: entries }
    override def value: List[(Long, String)] = entries
  }

  /** Driver end of the live relay: registers `acc`, diffs the partial
    * values executor heartbeats carry (SparkListenerExecutorMetricsUpdate)
    * and fires `onLog` exactly once per input. */
  private final class LiveRelay(spark: SparkSession, onLog: (Long, String) => Unit)
      extends org.apache.spark.scheduler.SparkListener {
    val acc = new LogRelayAcc
    spark.sparkContext.register(acc, "graft.pmap.liveLogs")
    private val fired = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def fire(entries: Seq[(Long, String)]): Unit =
      entries.foreach { case (idx, lg) => if (fired.add(idx)) onLog(idx, lg) }
    override def onExecutorMetricsUpdate(
        u: org.apache.spark.scheduler.SparkListenerExecutorMetricsUpdate
    ): Unit =
      u.accumUpdates.foreach { case (_, _, _, infos) =>
        infos.foreach { info =>
          if (info.id == acc.id) info.update.foreach {
            case v: List[_] => fire(v.asInstanceOf[List[(Long, String)]])
            case _          => ()
          }
        }
      }
  }

  /** The one implementation of the per-input-outcome modes (runAttributed,
    * runWithLogs, runWithLiveLogs): every input settles to an attributed
    * Try, each error is recorded on the job, nothing is thrown per input.
    * With `onLog`, each input's captured logs are relayed while the job
    * runs (LiveRelay), then a completeness sweep over the collected
    * results fires whatever no heartbeat delivered. */
  private def attributed[I, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int],
      resources: Resources,
      mode: String,
      capture: Boolean,
      onLog: Option[(Long, String) => Unit]
  )(f: I => O): Seq[(Long, Try[O], String)] =
    lifecycle(spark, inputs, Seq(f), mode, resources, Seq.empty[(Long, Try[O], String)]) { group =>
      val relay = onLog.map(new LiveRelay(spark, _))
      val acc = relay.map(_.acc)
      relay.foreach(spark.sparkContext.addSparkListener)
      try {
        val raw = indexedInputs(spark, inputs, maxParallelism, resources)
          .map { case (idx, x) =>
            val (r, logs) = outcome(f, x, capture)
            acc.foreach(_.add((idx, logs))) // visible to the next heartbeat mid-task
            (idx, r, logs)
          }
          .collect()
          .toSeq
        relay.foreach(_.fire(raw.map { case (i, _, lg) => (i, lg) }))
        var nErrors = 0L
        val out = raw.map { case (i, r, lg) =>
          r.left.foreach { msg => JobTracker.inputError(group, i, msg); nErrors += 1 }
          (i, toTry(r), lg)
        }
        JobTracker.completed(group, nErrors)
        out
      } finally relay.foreach(spark.sparkContext.removeSparkListener)
    }

  /** Like run but keeps the input index with each result and never throws:
    * per-input success/failure, the reference's (idx, is_error, payload)
    * result triple (node_service job_endpoints.py:638).
    */
  def runAttributed[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => O): Seq[(Long, Try[O])] =
    attributed(spark, inputs, maxParallelism, resources, "runAttributed", capture = false, None)(f)
      .map { case (i, r, _) => (i, r) }

  /** Nested parallel map — the reference's "UDF calls remote_parallel_map
    * recursively on-cluster" shape (test_nested_rpm.py), rebuilt as ONE
    * distributed two-stage plan since Spark executors cannot submit jobs:
    * `f` fans each outer input out into inner inputs, `g` maps every inner
    * input, results return unordered. The repartition between the stages
    * is the point: it redistributes the expanded inner inputs across the
    * whole cluster exactly like the reference's inner job does — without
    * it a skewed fan-out (one outer input producing 1M inner ones) would
    * pin the entire inner stage to the partition that produced it.
    * Errors carry two-level attribution (NestedUdfFailure: outer index,
    * inner index, -1 while fanning out). Empty input and empty fan-outs
    * short-circuit naturally.
    */
  def runNested[I: ClassTag, J: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => Seq[J])(g: J => O): Seq[O] =
    lifecycle(spark, inputs, Seq(f, g), "runNested", resources, Seq.empty[O]) { group =>
      val inner = indexedInputs(spark, inputs, maxParallelism, resources)
        .flatMap { case (oi, x) =>
          val js =
            try f(x)
            catch { case e: Throwable => throw NestedUdfFailure(oi, -1L, e) }
          js.iterator.zipWithIndex.map { case (j, ii) => (oi, ii.toLong, j) }
        }
        // spread the EXPANDED inner inputs; fan-out sizes are skewed by
        // nature and the inner stage's parallelism must not inherit
        // that — nor the OUTER input count (3 outer inputs fanning to
        // 1M inner ones want the whole cluster). But the caller's
        // explicit concurrency contract still binds: maxParallelism
        // and the Resources core cap apply to the g() stage exactly
        // as they do to the outer stage (a rate-limited or
        // cores-per-call nested map must not run g() uncapped).
        .repartition(math.min(
          maxParallelism.getOrElse(spark.sparkContext.defaultParallelism),
          resourceSlicesCap(spark, resources)))
        .map { case (oi, ii, j) =>
          try g(j)
          catch { case e: Throwable => throw NestedUdfFailure(oi, ii, e) }
        }
      val out = applyResources(spark, inner, resources).collect().toSeq
      JobTracker.completed(group)
      out
    }

  /** Like runAttributed, but also captures what the UDF printed while
    * processing each input — the reference's per-input log attribution
    * (worker_client.py:154-338 parses `__burla_input_start__:idx` markers
    * out of container logs; here the capture is direct). runWithLiveLogs
    * without the relay; output is truncated at MaxLogBytesPerInput per
    * input.
    */
  def runWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None
  )(f: I => O): Seq[(Long, Try[O], String)] =
    attributed(spark, inputs, maxParallelism, Resources(), "runWithLogs", capture = true, None)(f)

  /** Like runWithLogs, but each input's captured stdout is relayed to
    * `onLog` WHILE the job is still running — per-INPUT granularity, not
    * per-partition: a fast input's log is observable on the driver while a
    * straggler in the SAME partition is still executing. This matches the
    * reference's mid-job log relay (node_service worker_client.py:154-338
    * tags each input's stdout, client/src/burla/_node.py:315-321 prints it
    * while the job runs); streamWithLogs only reaches partition
    * granularity.
    *
    * Mechanism (cluster-true, not a local-mode shortcut): completed inputs
    * append to a LogRelayAcc inside the running task; executor heartbeats
    * carry partial accumulator values of running tasks to the driver
    * (SparkListenerExecutorMetricsUpdate), where a listener diffs them and
    * fires `onLog(inputIndex, logs)` exactly once per input. Relay latency
    * is therefore the heartbeat interval (spark.executor.heartbeatInterval,
    * 10 s default — lower it for latency-sensitive relays; the payload is
    * capped logs, not data). Completeness never depends on heartbeat
    * timing: a final sweep over the collected results fires any entry a
    * heartbeat did not beat to the finish line.
    *
    * Inputs are dealt round-robin like every mode; a partition runs its
    * inputs in ascending index order, so log interleaving per partition is
    * deterministic. */
  def runWithLiveLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None
  )(f: I => O)(onLog: (Long, String) => Unit): Seq[(Long, Try[O], String)] =
    attributed(spark, inputs, maxParallelism, Resources(), "runWithLiveLogs", capture = true,
      Some(onLog))(f)

  /** Shared single-thread callback executor for stream() completions —
    * callbacks only move a finished partition's results into the hand-off
    * queue, so one daemon thread serves every concurrent stream. */
  private lazy val streamCallbackEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "pmap-stream-callbacks"); t.setDaemon(true); t
      }
    )

  /** Generator mode (`generator=True`): lazy unordered stream yielding
    * results AS THEY COMPLETE, from whichever partition finishes first —
    * the reference generator's any-node ordering (_remote_parallel_map.py:
    * 703-707). A straggler partition does not block results from fast
    * partitions (ParallelMapSpec pins this).
    *
    * Each partition is submitted as its own single-task Spark job over its
    * slice of the dealt inputs. `window` bounds how many partitions may be
    * in flight or buffered ahead of the consumer — the analog of the
    * reference's result-queue backpressure (worker_client.py:28,792-793): a
    * slow consumer stops NEW partition jobs from being submitted once
    * `window` results are pending. Default 0 = number of partitions (full
    * parallelism; driver may buffer the whole result set if the consumer
    * never drains — size maxParallelism/window to taste).
    *
    * An ABANDONED iterator (consumer stops calling next/hasNext on a
    * bounded-window stream) leaves the daemon submitter parked and its
    * buffered partitions held until the driver exits — drain or fail the
    * iterator to release them (with the default window the submitter
    * never parks, so only buffered results are held).
    */
  def stream[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources(),
      window: Int = 0
  )(f: I => O): Iterator[O] =
    streamIndexed(spark, inputs, maxParallelism, resources, window, "stream")(f)
      .map(_._2)

  /** The as-completed machinery, index-preserving (backs both stream
    * flavors). */
  private def streamIndexed[I, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int],
      resources: Resources,
      window: Int,
      mode: String
  )(f: I => O): Iterator[(Long, O)] = {
    val group = begin(spark, inputs, Seq(f), mode) match {
      case None    => return Iterator.empty
      case Some(g) => g
    }
    val rdd = plan(spark, inputs, f, maxParallelism, resources)
    val parts = rdd.getNumPartitions
    val w = if (window > 0) math.min(window, parts) else parts
    val sem = new java.util.concurrent.Semaphore(w)
    val queue =
      new java.util.concurrent.LinkedBlockingQueue[Either[Throwable, Array[(Long, O)]]]()
    val failedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sc = spark.sparkContext
    val submitter = new Thread(
      () =>
        // job group + resource props are thread-local and captured at
        // submit time — set them on THIS thread
        withGroup(spark, group, s"ParallelMap $mode ($group)") {
          withResourceProps(spark, resources) {
            var p = 0
            while (p < parts && !failedFlag.get()) {
              sem.acquire()
              if (!failedFlag.get()) {
                val holder =
                  new java.util.concurrent.atomic.AtomicReference[Array[(Long, O)]]()
                try {
                  val fa = sc.submitJob[(Long, O), Array[(Long, O)], Unit](
                    rdd,
                    it => it.toArray,
                    Seq(p),
                    (_, a) => holder.set(a), // scheduler thread: store only
                    ()
                  )
                  fa.onComplete {
                    case Success(_) => queue.put(Right(holder.get()))
                    case Failure(e) =>
                      failedFlag.set(true); queue.put(Left(e))
                  }(streamCallbackEc)
                } catch {
                  case e: Throwable =>
                    failedFlag.set(true); queue.put(Left(e))
                }
              }
              p += 1
            }
          }
        },
      s"$group-submitter"
    )
    submitter.setDaemon(true)
    submitter.start()

    new Iterator[(Long, O)] {
      private var current: Iterator[(Long, O)] = Iterator.empty
      private var taken = 0
      private def advance(): Unit =
        while (!current.hasNext && taken < parts) {
          queue.take() match {
            case Right(arr) =>
              taken += 1
              sem.release()
              current = arr.iterator
              if (taken == parts) JobTracker.completed(group)
            case Left(e) =>
              taken = parts // terminal: no further results will be yielded
              val u = fail(group, e)
              // stop the submitter: flag first, then release enough
              // permits to unpark it from sem.acquire (its loop re-checks
              // the flag and exits without submitting)
              failedFlag.set(true)
              sem.release(parts)
              sc.cancelJobGroup(group)
              throw u
          }
        }
      def hasNext: Boolean = { advance(); current.hasNext }
      def next(): (Long, O) = {
        advance()
        if (!current.hasNext) throw new NoSuchElementException("stream exhausted")
        current.next()
      }
    }
  }

  /** Live log/result streaming: the as-completed stream carrying each
    * input's captured stdout and per-input outcome — the analog of the
    * reference printing workers' logs WHILE the job runs
    * (client/src/burla/_node.py:315-321 relays log docs mid-job). Here
    * granularity is a finished partition: as soon as any partition
    * completes, its inputs' (index, result-or-error, logs) triples are
    * yielded, long before slow partitions finish. Never throws per-input
    * UDF errors — they arrive attributed in the triple.
    */
  def streamWithLogs[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources(),
      window: Int = 0
  )(f: I => O): Iterator[(Long, Try[O], String)] =
    streamIndexed(spark, inputs, maxParallelism, resources, window, "streamWithLogs") {
      (x: I) => outcome(f, x, capture = true)
    }.map { case (idx, (r, lg)) => (idx, toTry(r), lg) }

  /** Handle on a detached job: the reference's `detach=True` (job keeps
    * running independently of the submitting code path,
    * _remote_parallel_map.py:217-218) plus its three cancellation paths
    * (Ctrl-C / dashboard stop / cluster restart — SURVEY.md §2.4 D6-D7),
    * which all collapse to one mechanism here: cancelling the job group.
    */
  final class PMapJob[O] private[operators] (
      spark: SparkSession,
      val jobGroup: String,
      fut: java.util.concurrent.CompletableFuture[Seq[O]],
      cancelled: java.util.concurrent.atomic.AtomicBoolean
  ) {
    def isCompleted: Boolean = fut.isDone

    /** Block for the results (re-raising an attributed UdfFailure; infra
      * failures — e.g. cancellation — surface as their Spark cause). */
    def result(): Seq[O] =
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw unwrap(if (e.getCause != null) e.getCause else e)
      }

    /** Cancel this map. Sticky: a cancel that lands before the Spark job
      * is submitted still cancels (the reference fails a job canceled
      * before upload completes — endpoints semantics of D7). Idempotent.
      *
      * cancelJobGroupAndFutureJobs, not cancelJobGroup: the plain form
      * only cancels ACTIVE jobs, so a cancel landing in the window after
      * the worker thread's cancelled-flag check but before its job
      * submission would seal the future yet let the whole map run to
      * completion on the cluster — the AndFutureJobs form also kills jobs
      * the group submits later (each map's group is a UUID, so the
      * tombstone can never hit an unrelated job). */
    def cancel(): Unit = {
      cancelled.set(true)
      spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
      val ce = new java.util.concurrent.CancellationException(s"$jobGroup canceled")
      if (fut.completeExceptionally(ce)) JobTracker.failed(jobGroup, ce)
    }
  }

  /** Detached mode: submit and return immediately; the job runs on its own
    * thread regardless of what the CALLING CODE does next. The size guards
    * and the RUNNING record happen on the submitting thread (fail fast, as
    * the reference does); the rest of the lifecycle runs on the job's.
    *
    * Honest scope vs the reference: Burla's detached jobs live on the
    * cluster and survive the client PROCESS exiting
    * (_remote_parallel_map.py:217-218, job_watcher.py:259). Here the job
    * runs on a daemon thread inside the driver JVM — it survives the
    * calling code path abandoning it, but dies with the driver process.
    * Cluster-mode survival requires an external submission service
    * (spark-submit cluster mode / a job server), out of library scope;
    * see docs/COVERAGE.md D6 and docs/DETACH.md for the spark-submit
    * --deploy-mode cluster recipe that delivers the reference's
    * client-independent semantics outside the sandbox.
    */
  def runDetached[I: ClassTag, O: ClassTag](
      spark: SparkSession,
      inputs: Seq[I],
      maxParallelism: Option[Int] = None,
      resources: Resources = Resources()
  )(f: I => O): PMapJob[O] = {
    val fut = new java.util.concurrent.CompletableFuture[Seq[O]]()
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    begin(spark, inputs, Seq(f), "detached") match {
      case None =>
        fut.complete(Nil)
        new PMapJob(spark, newGroup(), fut, cancelled)
      case Some(group) =>
        val t = new Thread(() =>
          try {
            if (!cancelled.get()) {
              val r = execute(spark, group, "detached", resources) {
                collectAll(spark, inputs, maxParallelism, resources, f)
              }
              // a cancel that raced the submission wins: results are
              // discarded (completeExceptionally in cancel() seals the
              // future first)
              if (fut.complete(r)) JobTracker.completed(group)
            }
          } catch { case e: Throwable => fut.completeExceptionally(e) },
          group)
        t.setDaemon(true)
        t.start()
        new PMapJob(spark, group, fut, cancelled)
    }
  }
}
