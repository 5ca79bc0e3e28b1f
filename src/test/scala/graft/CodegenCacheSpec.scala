package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

/** Warm re-execution reuses the generated classes of the cold one. Spark's
  * generated-class cache is an LRU of `spark.sql.codegen.cache.maxEntries`
  * classes (100 by default); d06 and e18 together compile well over that,
  * so under the default each warm pass evicted and recompiled its own
  * classes. GraftSession sizes the cache to the engine's working set. */
class CodegenCacheSpec extends AnyFunSuite {
  private val queries = Seq("d06_dedup_clusters", "e18_ann_ivf_incremental")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties the JVM-wide generated-class cache, so the cold pass compiles
    * every class d06 and e18 use even when earlier specs in this JVM
    * generated some of them. */
  private def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** Classes compiled by constructing and executing each query once. */
  private def pass(spark: SparkSession): Long = {
    val c0 = compiles
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, TestSpark.sf001).queryExecution.toRdd.count()
      Hygiene.release(spark)
    }
    compiles - c0
  }

  test("a warm pass over d06 and e18 compiles no class") {
    // the session comes first: the code generator sizes its cache from the
    // active session's conf when it is first loaded
    val spark = TestSpark.spark
    clearCodegenCache()
    val cold = pass(spark)
    val warm = pass(spark)
    assert(cold > 100 && warm == 0,
      s"cold pass compiled $cold classes (must be > 100), warm pass $warm (must be 0)")
  }
}
