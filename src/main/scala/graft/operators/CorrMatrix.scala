package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio

/** One-pass Pearson correlation matrix over k integer-valued columns —
  * the profiling/collinearity audit behind the `stats_corr_matrix` query,
  * exposed generically: any frame, any column count.
  *
  * Exactness: the caller snaps measures to integers FIRST (cents, percent
  * points, counts — the caller owns the units); the moments and the
  * `cov_m9` / `r2_e6` / `r_sign` presentation are ExactRatio's Pearson
  * tail (the contract lives in [[graft.functions.ExactRatio]]). Pairs
  * with a constant column are excluded.
  *
  * Scale shape: ONE map-side-combinable aggregate over the fact table to
  * a single (1 + k + k(k+1)/2)-number row; the k(k−1)/2-row pair matrix
  * is an `explode` of that row — no joins, no second pass, and the only
  * exchange is the 1-row final aggregation merge. Int64 bound: per-row
  * products must fit int64 (|x|·|y| < 9.2×10¹⁸ — e.g. cents up to ~3×10⁹
  * squared); the DECIMAL(38,0) accumulators then hold to ~10³⁸ total.
  */
object CorrMatrix {

  /** Pair rows (col_x, col_y, n, cov_m9, r2_e6, r_sign) for every
    * unordered column pair of `cols` with both variance terms non-zero
    * (named pairs follow `cols` order, col_x before col_y), ordered by
    * (col_x, col_y). `cols` must be integer-valued (anything castable to
    * BIGINT without loss — see the exactness contract above).
    */
  def of(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val k = cols.size
    val b = df.select(cols.zipWithIndex.map { case (c, i) =>
      col(c).cast("long").as(s"x${i + 1}") }: _*)
    val f = ExactRatio.SparkF
    val sumCols = (1 to k).map(i => expr(ExactRatio.bigSum(f, s"x$i")).as(s"s$i")) ++
      (for (i <- 1 to k; j <- i to k)
        yield expr(ExactRatio.bigSum(f, s"x$i * x$j")).as(s"q${i}_$j"))
    val aggs = count(lit(1)).as("n") +: sumCols
    val m = b.agg(aggs.head, aggs.tail: _*)
    val pairs = for (i <- 1 to k; j <- (i + 1) to k) yield struct(
      lit(cols(i - 1)).as("col_x") +: lit(cols(j - 1)).as("col_y") +:
        col("n").as("n") +: ExactRatio.sparkCols(ExactRatio.Pearson(f, "n",
          s"s$i", s"s$j", s"q${i}_$j", s"q${i}_$i", s"q${j}_$j").columns): _*)
    val exploded = m.select(explode(array(pairs: _*)).as("p")).select("p.*")
      .filter(col("vxx") > 0 && col("vyy") > 0)
    ExactRatio.applySparkDomain(exploded, ExactRatio.Pearson.stages(f, "r2_e6"))
      .withColumn("r_sign", expr(ExactRatio.Pearson.sign))
      .withColumn("cov_m9", expr(ExactRatio.Pearson.digest(f)))
      .select("col_x", "col_y", "n", "cov_m9", "r2_e6", "r_sign")
      .orderBy("col_x", "col_y")
  }
}
