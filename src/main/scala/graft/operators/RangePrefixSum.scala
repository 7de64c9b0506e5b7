package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{DecimalType, StructField, StructType}

/** Distributed running (prefix) sum under a total order — the
  * range-partitioned two-pass shape that replaces a partition-less
  * `sum(x) OVER (ORDER BY …)` window, which moves the ENTIRE domain into
  * one task (Spark's own "No Partition Defined for Window operation"
  * warning; at 100× part cardinality that is a single-task sort of the
  * whole dimension — the r14 `parts_abc` bench pathology, 47 s under
  * driver contention for a sub-second query).
  *
  * Shape (the ExactQuantiles / TeraSort idiom): `repartitionByRange` on
  * the ordering (so partition i holds a contiguous rank range),
  * `sortWithinPartitions`, pass 1 collects the ≤ numPartitions per-
  * partition value totals (a scalar per task — broadcast-equivalent, not
  * a data collect), pass 2 adds each partition's exclusive global offset
  * to its local running sum. Every stage is parallel; memory per task is
  * a sort spill at worst. This is the documented `mapPartitions`
  * exception of the build rules: Spark has no distributed prefix-sum
  * primitive to compose.
  *
  * Exactness: the value column must be DECIMAL — per-partition totals and
  * offsets accumulate in java.math.BigDecimal, so the running sum is
  * exact at any magnitude ≤ DECIMAL(38,0) and independent of partition
  * boundaries (equal-value rows are interchangeable only if `order` is a
  * TOTAL order — the caller must include a tie-breaking key).
  *
  * Both passes read the range-partitioned frame, so it is cached lazily
  * (`Caching.ensureCached`): pass 1 fills the cache and pass 2 reads the
  * same rows. Per the [[graft.Caching]] ownership contract the cache is
  * the caller's to retire (clearCache between queries, as Verify/Bench
  * do).
  */
object RangePrefixSum {

  /** Returns (df ordered by `order` with `cumCol` = inclusive running sum
    * of `valueCol`, grand total). `valueCol` must be DecimalType; `order`
    * must be a total order over the rows.
    */
  def withRunningSum(df: DataFrame, order: Seq[Column], valueCol: String,
      cumCol: String): (DataFrame, java.math.BigDecimal) = {
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType.isInstanceOf[DecimalType],
      s"$valueCol must be DECIMAL for exact accumulation, got ${df.schema(vIdx).dataType}")
    val spark = df.sparkSession
    val parts = graft.Caching.ensureCached(
      df.repartitionByRange(order: _*).sortWithinPartitions(order: _*))
    // pass 1: one exact BigDecimal per partition — tiny driver result
    val partTotals: Array[(Int, java.math.BigDecimal)] = parts.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = java.math.BigDecimal.ZERO
        it.foreach { r => val v = r.getDecimal(vIdx); if (v != null) s = s.add(v) }
        Iterator((pid, s))
      }.collect()
    val byPid = partTotals.toMap
    val nParts = parts.rdd.getNumPartitions
    val offsets = new Array[java.math.BigDecimal](nParts)
    var run = java.math.BigDecimal.ZERO
    (0 until nParts).foreach { pid =>
      offsets(pid) = run
      run = run.add(byPid.getOrElse(pid, java.math.BigDecimal.ZERO))
    }
    val total = run
    val outSchema = StructType(df.schema.fields :+
      StructField(cumCol, df.schema(vIdx).dataType, nullable = true))
    val bOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: local running sum + the partition's exclusive offset
    val rows = parts.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = bOffsets.value(pid)
      it.map { r =>
        val v = r.getDecimal(vIdx)
        if (v != null) s = s.add(v)
        Row.fromSeq(r.toSeq :+ s)
      }
    }
    (spark.createDataFrame(rows, outSchema), total)
  }
}
