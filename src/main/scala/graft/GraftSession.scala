package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the engine.
  *
  * Settings chosen for oracle parity and local[32] testing, but every knob
  * is the one you'd also set on a real 1000-executor cluster:
  *   - AQE on: runtime coalescing + skew-join splitting replace the
  *     reference's work-stealing ring (SURVEY.md §2.2 P7 — Spark's
  *     scheduler + AQE absorb it).
  *   - shuffle.partitions tracks cores locally; on a cluster this would be
  *     2-3x total cores and AQE coalesces down.
  *   - UTC session TZ so timestamp semantics match the DuckDB oracle.
  *   - parquet nanos-as-long: the `events` table ships TIMESTAMP(NANOS)
  *     which Spark has no native type for; Tables.events() converts.
  *   - warm runs reuse their generated classes. Spark's generated-class
  *     cache is an LRU of 100 classes by default, and e18 and t30 each
  *     compile about 120 per execution, so every warm run evicted and
  *     recompiled its own classes. The cache holds
  *     `CodegenCacheEntries` = 4,096 classes. One `graft.Bench` pass
  *     over the full registry at sf0.1 generates 2,559 distinct classes;
  *     after it, metaspace holds 214 MB against 193 MB with the default
  *     100, whose evicted classes are unloaded (JDK 17). The bound stays
  *     finite so a long-lived session cannot grow metaspace without
  *     limit.
  *   - generated class names carry no codegen stage id. AQE numbers
  *     stages in the order they are planned, which follows the order
  *     shuffle stages finish, so the same pipeline got a different class
  *     name (and a cache miss) from run to run.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The reference's autoscale surface (SURVEY §2.2 P5: the head service
    * "grows" nodes up to a per-job CPU cap, reference
    * `cluster_lifecycle.py:23` caps at 2,560 CPUs) mapped onto Spark
    * dynamic allocation. Call on the builder BEFORE getOrCreate; local
    * mode ignores it (no executors to scale), a cluster session scales
    * executors between the bounds with the reference's idle-shutdown
    * semantic (`executorIdleTimeout` ~ the 60 s grow-node idle shutdown,
    * `cluster_lifecycle.py:29`).
    */
  def withAutoscale(
      b: SparkSession.Builder,
      minExecutors: Int = 0,
      maxExecutors: Int = 80, // 2560 reference CPUs / 32-core executors
      idleTimeoutSec: Int = 60
  ): SparkSession.Builder =
    b.config("spark.dynamicAllocation.enabled", "true")
      .config("spark.dynamicAllocation.shuffleTracking.enabled", "true")
      .config("spark.dynamicAllocation.minExecutors", minExecutors.toString)
      .config("spark.dynamicAllocation.maxExecutors", maxExecutors.toString)
      .config("spark.dynamicAllocation.executorIdleTimeout", s"${idleTimeoutSec}s")

  /** AQE partition-coalescing floor — back at Spark's 1 MB default
    * (r16). r15 dropped it to 64 KB session-globally because AQE's
    * byte-proxy coalescing squeezed the compute-dense pair kernels
    * (e02: 6.7 CPU-seconds in 3 tasks), but the r16 full-suite per-query
    * A/B (64 KB vs 1 MB, plus an ABA subset recheck) showed the global
    * change was a wash-to-loss everywhere EXCEPT those kernels — the only
    * reproducible beneficiaries were the all-pairs cosine paths (e02,
    * d10). Those now pin their own parallelism at the PLAN level
    * (repartition-by-num join inputs, exempt from coalescing by contract
    * — see LlmOps.triangleSelfJoin), which is scale-correct in any
    * deployment, so the session keeps the stock byte floor. Env override
    * retained for byte-bound deployments that want a different floor. */
  private def minPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m")

  /** `spark.sql.codegen.cache.maxEntries`: the next power of two above
    * the distinct generated classes one cold `graft.Bench` pass over the
    * full registry compiles. Spark reads this static conf once per JVM,
    * when the code generator is first used, so it must be set on the
    * builder. */
  private val CodegenCacheEntries = 4096

  private def common(appName: String): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", minPartitionSize)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  def builder(appName: String = "graft"): SparkSession.Builder =
    common(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Builder for a main launched by `spark-submit`: identical engine
    * configs, but master / deploy mode / UI / driver binding are the
    * submitter's to decide (cluster deploy mode in particular must NOT be
    * overridden back to local — that would silently re-attach the job to
    * the submitting process, defeating docs/DETACH.md's whole point). */
  def submittedBuilder(appName: String = "graft"): SparkSession.Builder =
    common(appName)

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply the configs that matter even when someone else built the
    * session (Verify/Bench create their own). Static confs like
    * nanosAsLong and `spark.sql.codegen.cache.maxEntries` must be set at
    * build time (the cache size is fixed for the JVM by the first
    * session that generates code); runtime ones land here. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }
}
