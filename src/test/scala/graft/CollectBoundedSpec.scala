package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The bounded driver collect: a frame at its bound comes back whole, one
  * row past it fails loudly and names the collect site. */
class CollectBoundedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("collectBounded returns maxRows rows and fails, naming the site, on maxRows + 1") {
    val maxRows = 50
    val at = Hygiene.collectBounded(spark.range(maxRows).toDF(), maxRows, "spec.at")
    assert(at.map(_.getLong(0)).sorted.toSeq == (0L until maxRows))
    val e = intercept[IllegalStateException](
      Hygiene.collectBounded(spark.range(maxRows + 1).toDF(), maxRows, "spec.past"))
    assert(e.getMessage.contains("spec.past") && e.getMessage.contains(s"$maxRows rows"),
      e.getMessage)
  }

  test("groupedRank's offsets collect fails past numParts x MaxGroups rows") {
    val n = operators.Ranks.MaxGroups + 1
    val df = spark.range(n).select(col("id"), col("id").as("g"))
    val e = intercept[IllegalStateException](
      operators.Ranks.groupedRank(df, "g", 1, col("id")))
    assert(e.getMessage.contains("Ranks.groupedRank"), e.getMessage)
    Hygiene.release(spark)
  }
}
