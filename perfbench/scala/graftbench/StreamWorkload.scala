package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.{Graft, Tables}
import graft.streaming.EventStream

/** Document batches and event slices through real file sources.
  *
  * Documents go through `EventStream.ingestGuard` against a persisted
  * dedup index built in setup from the corpus's fixed index half; the
  * other half arrives, with the seed choosing each document's batch.
  * Events go through `EventStream.hourlyStats` in time-contiguous
  * slices. Each batch is landed (timed apart, as `generator.land_ms`)
  * and then drained with `processAllAvailable`; that drain is one
  * micro-batch's wall time. Both streams repeat, each time on a fresh
  * copy of the index and fresh checkpoints, until the deadline. */
final class StreamWorkload(c: Ctx) extends Workload {
  private val spark = c.spark
  private val batches = if (c.fast) 3 else 4
  private val base = s"${c.workDir}/stream"
  private var fs: FileSystem = _

  private var docSchema: StructType = _
  private var docBatches: Seq[Seq[Row]] = Nil
  private var eventSchema: StructType = _
  private var eventSlices: Seq[Seq[Row]] = Nil
  private var indexDir = ""

  def setup(round: Int): Unit = {
    fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = Tables.documents(spark, c.dataDir)
    // the index half is fixed; the arrivals' batches come from the seed
    val arriving = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val arrivals = docs.filter(arriving).collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
    docSchema = docs.schema
    val rng = Seeds.rng(c.seed, 3)
    val assigned = arrivals.map(r => (rng.nextInt(batches), r))
    docBatches = (0 until batches).map(b => assigned.filter(_._1 == b).map(_._2))
    indexDir = s"$base/index-$round"
    val (hash, bands) = Graft.dedupIndex(docs.filter(!arriving))
    Graft.dedupIndexSave(hash, bands, indexDir)

    val ev = Tables.events(spark, c.dataDir)
    eventSchema = ev.schema
    val rows = ev.collect().toSeq.sortBy(r => StreamWorkload.millis(r.getAs[Any]("ts")))
    val per = (rows.size + batches - 1) / batches
    eventSlices = rows.grouped(per).toSeq
  }

  // ---- samples ----
  private val ingestWarm, hourlyWarm, landMs = new Samples
  private val cold = mutable.LinkedHashMap.empty[String, Double]
  private val ingestSeq = mutable.ArrayBuffer.empty[Double] // first iteration's ingest batches, in order
  private var docsWarm, eventsWarm = 0L
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val hourlyProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val indexWritten = new Samples

  /** Write `rows` aside, then move the part files into `landing` flat, so
    * the file source never sees a half-written batch. */
  private def land(rows: Seq[Row], schema: StructType, landing: String, i: Int): Unit = {
    val (_, ms) = Clock.timed {
      val aside = s"$landing-aside$i"
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(aside)
      fs.listStatus(new Path(aside)).filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
        fs.rename(st.getPath, new Path(landing, s"b$i-${st.getPath.getName}")): Unit
      }
      fs.delete(new Path(aside), true): Unit
    }
    landMs += ms
  }

  /** Land batch 0, start the query, then land and drain batch by batch;
    * returns each drain's wall time. */
  private def drive(name: String, trace: String, slices: Seq[Seq[Row]], schema: StructType,
      landing: String)(start: String => StreamingQuery): (Seq[Double], Seq[StreamingQueryProgress]) = {
    new File(landing).mkdirs()
    val walls = mutable.ArrayBuffer.empty[Double]
    land(slices.head, schema, landing, 0)
    var q: StreamingQuery = null
    try {
      walls += Clock.timed(c.rec.span(s"$name.batch", "streaming", trace) {
        q = start(landing); q.processAllAvailable()
      })._2
      slices.zipWithIndex.tail.foreach { case (rows, i) =>
        land(rows, schema, landing, i)
        walls += Clock.timed(c.rec.span(s"$name.batch", "streaming", trace)(q.processAllAvailable()))._2
      }
      val ps = q.recentProgress.toSeq
      if (c.rec.traced) ps.foreach { p =>
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        c.rec.addSpan(Span(s"batch:${p.id}:${p.batchId}", s"$name micro-batch ${p.batchId}", "streaming",
          t0, t0 + p.batchDuration, "", trace))
      }
      (walls.toSeq, ps)
    } finally if (q != null) q.stop()
  }

  private def du(p: String): Long = {
    val path = new Path(p)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }

  private def copyDir(from: String, to: String): Unit =
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from), fs, new Path(to), false, spark.sparkContext.hadoopConfiguration): Unit

  def measure(deadlineNs: Long): Unit = {
    var iter = 0
    while (iter == 0 || Clock.now < deadlineNs) {
      val dir = s"$base/iter$iter"
      val idx = s"$dir/index"
      copyDir(indexDir, idx)
      val idxBefore = du(idx)
      val (iw, ip) = drive("ingest", s"ingest$iter", docBatches, docSchema, s"$dir/docs") { landing =>
        EventStream.ingestGuard(EventStream.readDocuments(spark, landing), idx, s"$dir/verdicts", s"$dir/docs-ck")
      }
      indexWritten += (du(idx) - idxBefore).toDouble
      val (hw, hp) = drive("hourly", s"hourly$iter", eventSlices, eventSchema, s"$dir/events") { landing =>
        EventStream.sinkParquet(EventStream.hourlyStats(EventStream.readEvents(spark, landing)),
          s"$dir/hourly", s"$dir/hourly-ck")
      }
      progress ++= ip ++ hp
      hourlyProgress ++= hp
      if (iter == 0) ingestSeq ++= iw
      if (iter == 0) { cold("ingest") = iw.head; cold("hourly") = hw.head }
      val (iWarm, hWarm) = if (iter == 0) (iw.tail, hw.tail) else (iw, hw)
      iWarm.foreach(ingestWarm += _)
      hWarm.foreach(hourlyWarm += _)
      docsWarm += docBatches.drop(docBatches.size - iWarm.size).map(_.size).sum
      eventsWarm += eventSlices.drop(eventSlices.size - hWarm.size).map(_.size).sum
      (docBatches ++ eventSlices).foreach(_ => c.out.op(None))
      checkIngest(dir, iter == 0).foreach(p => c.out.op(Some(p)))
      checkHourly(dir).foreach(p => c.out.op(Some(p)))
      fs.delete(new Path(dir), true)
      iter += 1
    }
    c.out.extra("iterations") = iter.toString
  }

  /** Every arrival gets exactly one verdict, and (first iteration) the
    * verdicts equal the batch twin: `Graft.incrementalDedup` of each batch
    * against the index as loaded in setup plus the fingerprints
    * (`Graft.dedupIndex`) of every earlier batch's admitted documents. */
  private def checkIngest(dir: String, twin: Boolean): Option[String] = {
    val got = spark.read.parquet(s"$dir/verdicts").select("doc_id", "dup_exact", "dup_near", "keep")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    val ids = docBatches.flatten.map(_.getAs[Long]("doc_id"))
    if (got.size != ids.size || got.map(_._1).toSet != ids.toSet)
      return Some(s"ingest: ${got.size} verdicts for ${ids.size} arrivals (${got.map(_._1).distinct.size} distinct)")
    if (!twin) return None
    val gotMap = got.toMap
    var (hash, bands) = Graft.dedupIndexLoad(spark, indexDir)
    val bad = docBatches.filter(_.nonEmpty).flatMap { rows =>
      val batch = spark.createDataFrame(rows.asJava, docSchema)
      val v = Graft.incrementalDedup(batch, hash, bands).collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Boolean]("dup_exact"), r.getAs[Boolean]("dup_near"), r.getAs[Boolean]("keep")))
      val keep = v.filter(_._2._3).map(_._1).toSet
      if (keep.nonEmpty) {
        val (h, b) = Graft.dedupIndex(batch.filter(col("doc_id").isin(keep.toSeq: _*)))
        hash = hash.unionByName(h); bands = bands.unionByName(b)
      }
      v.filter { case (id, verdict) => !gotMap.get(id).contains(verdict) }.map(_._1)
    }
    if (bad.nonEmpty) Some(s"ingest: stream verdicts differ from the batch twin for ${bad.take(5).mkString(",")}")
    else None
  }

  /** The finalized hourly windows equal the batch computation over the
    * same events: every window that ends at or before the final watermark
    * is emitted once, with the same count and sum. */
  private def checkHourly(dir: String): Option[String] = {
    val all = eventSlices.flatten
    val hour = 3600L * 1000
    val batch = all.groupBy(r => (StreamWorkload.millis(r.getAs[Any]("ts")) / hour * hour, r.getAs[String]("event_type")))
      .map { case (k, rs) => k -> (rs.size.toLong, rs.map(_.getAs[Double]("value")).sum) }
    val watermark = all.map(r => StreamWorkload.millis(r.getAs[Any]("ts"))).max - 2 * hour
    val want = batch.filter { case ((h, _), _) => h + hour <= watermark }
    val got = spark.read.parquet(s"$dir/hourly").collect().toSeq
      .map(r => (StreamWorkload.millis(r.getAs[Any]("hour")), r.getAs[String]("event_type")) -> (r.getAs[Long]("n"), r.getAs[Double]("total")))
    val gotMap = got.toMap
    if (got.size != gotMap.size) Some("hourly: a window was emitted twice")
    else if (gotMap.keySet != want.keySet) Some(s"hourly: ${gotMap.size} finalized windows, batch has ${want.size}")
    else want.collectFirst {
      case (k, (n, t)) if gotMap(k)._1 != n || math.abs(gotMap(k)._2 - t) > 1e-6 * math.max(1.0, math.abs(t)) =>
        s"hourly: window $k got ${gotMap(k)} want ($n, $t)"
    }
  }

  def report(): Unit = {
    val o = c.out
    o.e2e("warm_s", (ingestWarm.median + hourlyWarm.median) / 1e3, "s")
    o.e2e("cold_s", cold.values.sum / 1e3, "s")
    val pooled = ingestWarm.xs ++ hourlyWarm.xs
    o.e2e("inputs_per_s", (docsWarm + eventsWarm) / (pooled.sum / 1e3), "1/s")
    o.layer("streaming.ingest_docs_per_s", docsWarm / (ingestWarm.sum / 1e3), "1/s")
    o.layer("streaming.ingest_batch_ms_p50", ingestWarm.median, "ms")
    o.layer("streaming.hourly_events_per_s", eventsWarm / (hourlyWarm.sum / 1e3), "1/s")
    val withData = progress.filter(_.numInputRows > 0).toSeq
    def dur(k: String) = Samples.median(withData.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    o.layer("streaming.add_batch_ms", dur("addBatch"), "ms")
    o.layer("streaming.get_batch_ms", dur("getBatch"), "ms")
    o.layer("streaming.latest_offset_ms", dur("latestOffset"), "ms")
    o.layer("streaming.query_planning_ms", dur("queryPlanning"), "ms")
    o.layer("streaming.wal_commit_ms", dur("walCommit"), "ms")
    o.layer("streaming.commit_offsets_ms", dur("commitOffsets"), "ms")
    val ops = hourlyProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    o.layer("streaming.state_rows", ops.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble, "count")
    o.layer("streaming.state_memory_bytes", ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble, "B")
    o.layer("streaming.index_bytes_written", indexWritten.median, "B")
    val q = math.max(1, ingestSeq.size / 4)
    o.layer("streaming.batch_ms_growth",
      Samples.median(ingestSeq.takeRight(q).toSeq) / Samples.median(ingestSeq.slice(1, 1 + q).toSeq), "ratio")
    o.layer("generator.land_ms", landMs.median, "ms")
    o.extra("timings_ms") = Json.obj(Seq("ingest" -> ingestWarm.summary, "hourly" -> hourlyWarm.summary,
      "land" -> landMs.summary))
    o.extra("cold_ms") = Json.obj(cold.map { case (k, v) => k -> Json.num(v) })
    o.extra("arrivals") = docBatches.map(_.size).sum.toString
    o.extra("events") = eventSlices.map(_.size).sum.toString
  }
}

object StreamWorkload {
  /** Epoch milliseconds of a timestamp column value, zoned (UTC) or not. */
  def millis(v: Any): Long = v match {
    case t: java.sql.Timestamp       => t.getTime
    case t: java.time.Instant        => t.toEpochMilli
    case t: java.time.LocalDateTime  => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case other => sys.error(s"not a timestamp: $other")
  }
}
