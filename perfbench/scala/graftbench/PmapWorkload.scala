package graftbench

import scala.collection.mutable
import scala.util.{Failure, Success}

import graft.Graft
import graft.operators.JobTracker

/** The paper's primitive, `remote_parallel_map`, on seeded synthetic
  * inputs. A round is: small calls of 10 trivial inputs cycling the four
  * modes, two bulk `run` calls over 10^5 inputs, two skewed `runAttributed` jobs
  * with seeded heavy-tailed CPU cost and seeded throwing inputs, and
  * `stream` calls over 64 inputs with one seeded straggler each. Rounds
  * repeat until the deadline. */
final class PmapWorkload(c: Ctx) extends Workload {
  import PmapWorkload._

  private val spark = c.spark
  private val bulkN = if (c.fast) 20000 else BulkN
  private val skewN = if (c.fast) 300 else 3000
  private val minRounds = if (c.fast) 1 else 3
  // after each kind's first (cold) call, one untimed round lets the JIT
  // compile the hot paths before timing; the small calls still speed up
  // during the timed rounds (pmap.call_ms_drift), by a different amount
  // in every run
  private val warmupRounds = if (c.fast) 0 else 1
  private var warming = false

  private var smallIn: Array[Array[(Int, Int)]] = _
  private var bulkIn: Array[Int] = _
  private var bulkOut: Array[Long] = _
  private var skewIn: Array[(Int, Int, Boolean)] = _
  private var skewOut: Array[Long] = _
  private var streamIn: Array[Array[(Int, Int, Boolean)]] = _

  def setup(round: Int): Unit = {
    val rng = Seeds.rng(c.seed, 1)
    smallIn = Array.fill(MaxSmallCalls)(Array.tabulate(10)(i => (i, rng.nextInt(1000000))))
    bulkIn = Array.fill(bulkN)(rng.nextInt())
    bulkOut = bulkIn.map(bulkF).sorted
    val failing = rng.shuffle((0 until skewN).toList).take(SkewFailures).toSet
    // Pareto(alpha) cost in LCG steps, capped: a few inputs cost 100x+ the median
    skewIn = Array.tabulate(skewN) { i =>
      val u = 1.0 - rng.nextDouble()
      val cost = math.min(SkewCap, SkewBase * math.pow(u, -1.0 / SkewAlpha)).toInt
      (i, cost, failing.contains(i))
    }
    skewOut = skewIn.map { case (i, n, _) => jump(i.toLong, n) }
    streamIn = Array.fill(MaxStreamCalls) {
      val straggler = rng.nextInt(StreamN)
      Array.tabulate(StreamN)(i => (i, rng.nextInt(1000000), i == straggler))
    }
    // JIT-compile the user functions on the driver: their own warm-up is
    // not the engine's cold cost
    skewIn.take(200).filterNot(_._3).foreach(spin)
    bulkIn.take(20000).foreach(bulkF)
  }

  // ---- samples ----
  private val modes = Seq("run", "stream", "runAttributed", "runWithLiveLogs")
  private val smallWarm = new Samples
  private val smallByMode = modes.map(_ -> new Samples).toMap
  private val bulkWarm, skewWarm, streamWarm, firstResult = new Samples
  private val cold = mutable.LinkedHashMap.empty[String, Double]
  // traced: (span id, call start epoch ms, call end epoch ms, inputs)
  private final case class Call(kind: String, span: String, start: Long, end: Long, n: Int)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val jtQueryMs = new Samples
  private var jtRecordsDelta = 0L
  private var jtCalls = 0L

  private def traced[T](kind: String, n: Int)(body: => T): T = {
    if (!c.rec.traced) return body
    val start = System.currentTimeMillis()
    val r = c.rec.span(kind, "pmap", kind)(body)
    calls += Call(kind, c.rec.spans.last.id, start, System.currentTimeMillis(), n)
    r
  }

  private def record(kind: String, ms: Double, warm: Samples): Unit =
    if (!cold.contains(kind)) cold(kind) = ms else if (!warming) warm += ms

  private def smallCall(k: Int): Unit = {
    val in = smallIn(k % MaxSmallCalls)
    val mode = modes(k % modes.size)
    val expect = in.map(trivial).sortBy(_._1).toSeq
    val (problem, ms) = Clock.timed(traced(s"small.$mode", in.length) {
      mode match {
        case "run" =>
          val r = Graft.remoteParallelMap(spark, in.toSeq)(trivial)
          same(r.sortBy(_._1), expect, "run")
        case "stream" =>
          val r = Graft.remoteParallelMapStream(spark, in.toSeq)(trivial).toList
          same(r.sortBy(_._1), expect, "stream")
        case "runAttributed" =>
          val r = Graft.remoteParallelMapAttributed(spark, in.toSeq)(trivial)
          if (r.map(_._1).sorted != in.indices.map(_.toLong)) Some("runAttributed: indices")
          else same(r.map(_._2.get).sortBy(_._1), expect, "runAttributed")
        case _ =>
          val fired = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
          val r = Graft.remoteParallelMapLiveLogs(spark, in.toSeq)(logged) { (i, _) =>
            fired.merge(i, 1, (a: Integer, b: Integer) => a + b): Unit
          }
          val badLog = r.find { case (i, _, lg) => lg.trim != logLine(in(i.toInt)) }
          if (badLog.nonEmpty) Some(s"runWithLiveLogs: input ${badLog.get._1} got log '${badLog.get._3.trim}'")
          else if (in.indices.exists(i => fired.get(i.toLong) != 1)) Some("runWithLiveLogs: onLog not once per input")
          else same(r.map(_._2.get).sortBy(_._1), expect, "runWithLiveLogs")
      }
    })
    c.out.op(problem)
    if (cold.contains(s"small.$mode") && !warming) smallByMode(mode) += ms
    record(s"small.$mode", ms, smallWarm)
  }

  private def bulkCall(): Unit = {
    val (problem, ms) = Clock.timed(traced("bulk", bulkIn.length) {
      val r = Graft.remoteParallelMap(spark, bulkIn.toSeq)(bulkF)
      val got = r.toArray.sorted
      if (!java.util.Arrays.equals(got, bulkOut)) Some("bulk run: result multiset differs") else None
    })
    c.out.op(problem)
    record("bulk", ms, bulkWarm)
  }

  private def skewCall(): Unit = {
    val (problem, ms) = Clock.timed(traced("skew", skewIn.length) {
      val r = Graft.remoteParallelMapAttributed(spark, skewIn.toSeq)(spin)
      if (r.map(_._1).sorted != skewIn.indices.map(_.toLong)) Some("skew: indices")
      else {
        val bad = r.collect {
          case (i, Success(v)) if skewIn(i.toInt)._3 || v != skewOut(i.toInt) => i
          case (i, Failure(e)) if !skewIn(i.toInt)._3 || !e.getMessage.contains(s"seeded failure $i") => i
        }
        if (bad.nonEmpty) Some(s"skew: wrong outcome for inputs ${bad.take(5).mkString(",")}") else None
      }
    })
    c.out.op(problem)
    record("skew", ms, skewWarm)
  }

  private def streamCall(k: Int): Unit = {
    val in = streamIn(k % MaxStreamCalls)
    var firstMs = Double.NaN
    val (problem, ms) = Clock.timed(traced("stream", in.length) {
      val t0 = Clock.now
      val it = Graft.remoteParallelMapStream(spark, in.toSeq)(straggle)
      val buf = mutable.ArrayBuffer.empty[(Int, Long)]
      if (it.hasNext) { buf += it.next(); firstMs = Clock.ms(t0, Clock.now) }
      it.foreach(buf += _)
      val expect = in.map(x => (x._1, x._2.toLong * 2 + 1)).toSeq
      same(buf.sortBy(_._1).toSeq, expect, "stream call")
    })
    c.out.op(problem)
    if (cold.contains("stream") && !warming) firstResult += firstMs
    record("stream", ms, streamWarm)
  }

  private def jobTrackerProbe(callsInRound: Int, before: Long): Long = {
    val (n, ms) = Clock.timed(JobTracker.jobs(spark).count())
    jtQueryMs += ms
    jtRecordsDelta += n - before
    jtCalls += callsInRound
    n
  }

  def measure(deadlineNs: Long): Unit = {
    var round = 0
    var small = 0
    var streams = 0
    var records = if (c.rec.traced) JobTracker.jobs(spark).count() else 0L
    while (round < warmupRounds + minRounds || Clock.now < deadlineNs) {
      warming = round < warmupRounds
      (0 until SmallPerRound).foreach { _ => smallCall(small); small += 1 }
      (0 until BulkPerRound).foreach(_ => bulkCall())
      (0 until SkewPerRound).foreach(_ => skewCall())
      (0 until StreamPerRound).foreach { _ => streamCall(streams); streams += 1 }
      if (c.rec.traced) records = jobTrackerProbe(SmallPerRound + BulkPerRound + SkewPerRound + StreamPerRound, records)
      round += 1
    }
    c.out.extra("rounds") = round.toString
  }

  def report(): Unit = {
    val o = c.out
    val warm = Seq(smallWarm, bulkWarm, skewWarm, streamWarm)
    o.e2e("warm_s", warm.map(_.median).sum / 1e3, "s")
    o.e2e("cold_s", cold.values.sum / 1e3, "s")
    o.e2e("inputs_per_s", bulkIn.length / (bulkWarm.median / 1e3), "1/s")
    o.layer("pmap.call_ms_p50", smallWarm.median, "ms")
    o.layer("pmap.first_result_ms_p50", firstResult.median, "ms")
    o.layer("pmap.skew_job_s", skewWarm.median / 1e3, "s")
    val half = smallWarm.n / 2
    o.layer("pmap.call_ms_drift",
      Samples.median(smallWarm.xs.drop(half).toSeq) / Samples.median(smallWarm.xs.take(half).toSeq), "ratio")
    o.extra("timings_ms") = Json.obj(Seq("small" -> smallWarm.summary, "bulk" -> bulkWarm.summary,
      "skew" -> skewWarm.summary, "stream" -> streamWarm.summary, "first_result" -> firstResult.summary) ++
      smallByMode.map { case (m, s) => s"small.$m" -> s.summary })
    o.extra("cold_ms") = Json.obj(cold.map { case (k, v) => k -> Json.num(v) })
    if (c.rec.traced) layers()
  }

  private def layers(): Unit = {
    val r = c.rec
    r.drain()
    val o = c.out
    val small = calls.filter(_.kind.startsWith("small."))
    def jobs(cl: Call) = r.jobsOf(Set(cl.span))
    o.layer("pmap.driver_ms", Samples.median(small.flatMap(cl =>
      jobs(cl).map(_.start).minOption.map(s => (s - cl.start).toDouble)).toSeq), "ms")
    o.layer("pmap.jobs_per_call", small.map(jobs(_).size).sum.toDouble / small.size, "count")
    o.layer("pmap.stages_per_call", small.map(cl => r.stagesOf(Set(cl.span)).size).sum.toDouble / small.size, "count")
    val all = calls.map(_.span).toSet
    val ts = r.tasksOf(all)
    o.layer("pmap.task_wait_ms", Samples.median(r.taskWaitMs(ts)), "ms")
    o.layer("pmap.task_run_ms", Samples.median(ts.map(_.runMs.toDouble)), "ms")
    o.layer("pmap.collect_ms", Samples.median(small.flatMap(cl =>
      jobs(cl).map(_.end).maxOption.map(e => math.max(0L, cl.end - e).toDouble)).toSeq), "ms")
    val bulk = calls.filter(_.kind == "bulk")
    val bulkTasks = r.tasksOf(bulk.map(_.span).toSet)
    val bulkInputs = bulk.map(_.n.toLong).sum.max(1L)
    o.layer("pmap.shuffle_bytes_per_input", bulkTasks.map(_.shuffleWrite).sum.toDouble / bulkInputs, "B")
    o.layer("pmap.result_bytes_per_input", bulkTasks.map(_.resultBytes).sum.toDouble / bulkInputs, "B")
    o.layer("pmap.core_busy_share", Samples.median(calls.filter(_.kind == "skew").map { cl =>
      r.tasksOf(Set(cl.span)).map(_.runMs).sum.toDouble / ((cl.end - cl.start).max(1L) * c.cores)
    }.toSeq), "share")
    o.layer("pmap.task_retries", ts.count(_.retry).toDouble, "count")
    o.layer("jobtracker.records_per_call", jtRecordsDelta.toDouble / jtCalls.max(1L), "count")
    o.layer("jobtracker.jobs_query_ms", jtQueryMs.median, "ms")
    if (jtRecordsDelta != jtCalls) c.out.op(Some(s"JobTracker: $jtRecordsDelta records for $jtCalls calls"))
  }

  private def same[T](got: Seq[T], want: Seq[T], what: String): Option[String] =
    if (got == want) None else Some(s"$what: got ${got.take(3)}... want ${want.take(3)}...")
}

object PmapWorkload {
  val MaxSmallCalls = 4096
  val MaxStreamCalls = 512
  val SmallPerRound = 12
  val StreamPerRound = 7
  val BulkPerRound = 2
  val SkewPerRound = 2
  val BulkN = 100000
  val StreamN = 64
  val StragglerMs = 100L
  val SkewFailures = 5
  val SkewBase = 20000.0
  val SkewAlpha = 1.1
  val SkewCap = 4.0e6

  private val A = 6364136223846793005L
  private val C = 1442695040888963407L

  def trivial(x: (Int, Int)): (Int, Long) = (x._1, x._2.toLong * 2 + 1)
  def logLine(x: (Int, Int)): String = s"input ${x._1} value ${x._2}"
  def logged(x: (Int, Int)): (Int, Long) = { println(logLine(x)); trivial(x) }
  def bulkF(x: Int): Long = x.toLong * 3 + 7

  /** `n` steps of a 64-bit LCG from `i`: pure CPU the JIT cannot fold. */
  def spin(x: (Int, Int, Boolean)): Long = {
    if (x._3) throw new IllegalStateException(s"seeded failure ${x._1}")
    var h = x._1.toLong
    var k = 0
    while (k < x._2) { h = h * A + C; k += 1 }
    h
  }

  /** The same `n` LCG steps by jump-ahead, O(log n), for the check on the Spark driver. */
  def jump(h0: Long, n: Int): Long = {
    var (accA, accC) = (1L, 0L)
    var (curA, curC) = (A, C)
    var m = n
    while (m > 0) {
      if ((m & 1) == 1) { accA = accA * curA; accC = accC * curA + curC }
      curC = (curA + 1) * curC
      curA = curA * curA
      m >>>= 1
    }
    accA * h0 + accC
  }

  def straggle(x: (Int, Int, Boolean)): (Int, Long) = {
    if (x._3) Thread.sleep(StragglerMs)
    (x._1, x._2.toLong * 2 + 1)
  }
}
