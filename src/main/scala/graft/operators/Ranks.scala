package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact IN-GROUP rank — the grouped generalization of the
  * t21 global-rank machinery (LlmOps.rankedBy / withGlobalRank), for
  * "rank within a low-cardinality group" queries (q22's per-priority
  * percentiles, q37's per-priority quartiles) whose naive spelling —
  * `row_number() OVER (PARTITION BY grp ORDER BY …)` — hands each group
  * (corpus ÷ #groups rows) to ONE reducer. WindowBoundSpec bans that
  * shape suite-wide; this operator is the sanctioned replacement.
  *
  * Shape: one range exchange on (grp, orderKeys…) gives `numParts`
  * monotonic partitions, each holding a contiguous slice of one-or-more
  * (grp, value) runs; a local row_number per (pid, grp) — bounded by the
  * range partition's size, never the group — then per-(pid, grp) counts
  * (metadata: ≤ numParts·#groups rows) turn into exclusive per-group
  * prefix offsets over pid order and broadcast back:
  * `grank = offset(pid, grp) + local rn`, `gn` = group size. Whatever
  * boundaries the range sampler picks, offset + local rank IS the
  * in-group rank, so the result is invariant to `numParts` AND to the
  * sampling (RankParitySpec pins two widths to identical output) —
  * `numParts` is purely the scale-out knob (defaultParallelism from the
  * caller: 32 locally, cluster-width on a real deployment).
  *
  * The ranked frame is read twice (counts + final join) and both reads
  * must see ONE partition assignment, not two samplings of the range
  * boundaries — localCheckpoint(true) materializes (input cols + pid +
  * rn) once, the same single-evaluation discipline LlmOps.nllBuckets
  * documents. Rows with equal (grp, orderKeys) may straddle a boundary;
  * the offsets still produce a valid permutation rank, so callers that
  * need a DETERMINISTIC rank (not just deterministic rank-selected
  * values) must include a unique tiebreaker in orderKeys.
  *
  * Output: input columns + `grank` (1-based in-group rank) + `gn`
  * (group row count). Input columns named pid/rn/c/off/grank/gn would
  * collide with the internals — rename first.
  *
  * Bound: the offsets collect holds at most `numParts × #groups` rows
  * and fails loudly (Hygiene.collectBounded) past `numParts ×`
  * [[MaxGroups]] rows.
  */
object Ranks {
  /** The group count groupedRank's driver collect is sized for: it ranks
    * within low-cardinality groups (priorities, sources, query ids). */
  val MaxGroups = 4096

  def groupedRank(df: DataFrame, grp: String, numParts: Int, orderKeys: Column*): DataFrame = {
    val keys = col(grp) +: orderKeys
    val ranked = df
      .repartitionByRange(numParts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("pid"), col(grp)).orderBy(orderKeys: _*))
      )
      .localCheckpoint(true)
    // The per-(pid, grp) count table is metadata (≤ numParts · #groups
    // rows) and the offsets/group-totals over it are exact integer
    // arithmetic — so they are computed ON THE DRIVER from one collect
    // over the checkpoint and re-enter the plan as a single literal
    // broadcast dim (r16, the t30 driver-side-threshold discipline).
    // The old in-plan spelling paid a window + a second groupBy + two
    // broadcast exchanges for the same numbers: off = Σ c over smaller
    // pids within the group (the exclusive prefix sum the window
    // computed), gn = Σ c over the group. Longs cannot wrap here — they
    // are row counts.
    val cnts = graft.Hygiene.collectBounded(
      ranked.groupBy(col("pid"), col(grp)).agg(count(lit(1)).as("c")),
      Math.multiplyExact(numParts, MaxGroups),
      s"Ranks.groupedRank per-(pid, $grp) offsets")
    val dimRows: Seq[org.apache.spark.sql.Row] = cnts
      .groupBy(_.get(1))
      .toSeq
      .flatMap { case (_, rs) =>
        val inPidOrder = rs.sortBy(_.getInt(0))
        val gn = inPidOrder.map(_.getLong(2)).sum
        var off = 0L
        inPidOrder.map { r =>
          val row = org.apache.spark.sql.Row(r.getInt(0), r.get(1), off, gn)
          off += r.getLong(2)
          row
        }.toSeq
      }
    val dim = df.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(dimRows).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        ranked.schema(grp),
        org.apache.spark.sql.types.StructField("off",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("gn",
          org.apache.spark.sql.types.LongType, nullable = false)
      ))
    )
    ranked
      .join(broadcast(dim), Seq("pid", grp))
      .withColumn("grank", col("off") + col("rn"))
      .drop("pid", "rn", "off")
  }

  /** Spark/DuckDB `ntile(k)` from an in-group rank, in closed form: with
    * n rows and k tiles, the first n % k tiles hold ⌈n/k⌉ rows and the
    * rest ⌊n/k⌋ — pure integer arithmetic, exact in both engines (the
    * q < 1 branch guard: when n < k every tile is one row and the else
    * branch — whose divisor q would be 0 — is unreachable). */
  def ntileFromRank(grank: Column, gn: Column, k: Int): Column = {
    // Column `/` is DOUBLE division; integral div rides the pmod trick:
    // (a - a%b) is an exact multiple of b, and exact-multiple ÷ b is an
    // exact double op for a < 2^53 (9e15 rows per group — beyond any
    // physical corpus). All operands here are non-negative.
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val q = idiv(gn, lit(k))
    val r = gn - q * k
    val big = (q + 1) * r // rows living in the (q+1)-sized tiles
    when(grank <= big, idiv(grank - 1, q + 1) + 1)
      .otherwise(r + idiv(grank - big - 1, q) + 1)
      .cast("int")
  }
}
