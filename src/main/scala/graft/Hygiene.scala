package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** End-of-query state release shared by Bench and Verify (and available to
  * library users between pipeline stages via [[release]]), plus the
  * bounded driver collect ([[collectBounded]]).
  *
  * Two block families outlive a finished query:
  *   - SQL-cached frames (`df.cache()` inside a query): dropped by
  *     `clearCache()`.
  *   - `localCheckpoint` RDDs (KMeans label frames, t21's rank frame):
  *     invisible to the SQL CacheManager. Calling `rdd.unpersist()` on them
  *     frees the blocks but logs a lineage-truncation WARNING per RDD
  *     (`RDD.unpersist` warns whenever `isLocallyCheckpointed`) — noise that
  *     reads as lifecycle mismanagement when the release is deliberate
  *     end-of-life. Spark's own ContextCleaner frees exactly these blocks
  *     silently via `SparkContext.unpersistRDD` once the RDD object is
  *     GC-unreachable; that method is `private[spark]` in the Scala
  *     signature but public bytecode, so a reflective call is the same
  *     silent path with deterministic timing. Falls back to the warning
  *     variant if the method ever moves.
  */
object Hygiene {
  private def dropPersistentRdds(sc: SparkContext): Unit = {
    val live = sc.getPersistentRDDs
    if (live.nonEmpty) {
      try {
        val m = classOf[SparkContext]
          .getMethod("unpersistRDD", classOf[Int], classOf[Boolean])
        // blocking=true: the call returns only once the BlockManagers have
        // dropped the blocks. The r6 full-suite capture degraded its late
        // heavy queries (t20 3.85x) because the old non-blocking release
        // let block removal drift behind a 103-query suite — storage
        // pressure landed exactly on the queries that cache most.
        live.keys.foreach(id => m.invoke(sc, Int.box(id), Boolean.box(true)))
      } catch {
        case _: ReflectiveOperationException =>
          live.values.foreach(_.unpersist(true))
      }
    }
  }

  /** Drop every cached frame and persisted/locally-checkpointed RDD. Safe
    * between independent queries / pipeline stages: a finished query's
    * frames are never re-read, and the next query rebuilds its own.
    * Blocks are dropped synchronously (blocking unpersist) BEFORE the
    * CacheManager metadata is cleared, so on return the storage memory is
    * deterministically empty — nothing drains asynchronously into the next
    * query's run. */
  def release(spark: SparkSession): Unit = {
    dropPersistentRdds(spark.sparkContext)
    spark.sqlContext.clearCache()
  }

  /** `df.cache()` that is idempotent across repeated plan construction:
    * when an identical plan is already registered with the CacheManager
    * (a warm re-execution of the same query), calling `.cache()` again
    * logs `WARN CacheManager: Asked to cache already cached data` — reuse
    * happens either way via plan matching, so the second call is pure log
    * noise. Skip it when the frame already reports a storage level. */
  def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.cache() else df

  /** `df.collect()` for a driver collect that must stay metadata-sized:
    * reads at most `maxRows + 1` rows (`limit`) and fails loudly, naming
    * `what`, when there are more than `maxRows`, instead of pulling an
    * unbounded result into driver memory. */
  def collectBounded(df: DataFrame, maxRows: Int, what: String): Array[Row] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"$what: bad row bound $maxRows")
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"$what: driver collect exceeds its bound of $maxRows rows")
    rows
  }

  /** Bytes of storage (memory + disk) currently held by persisted RDDs —
    * the accumulation signal Bench reports per run. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
