// Custom-operator forensic: TopKPerGroup (the engine's custom
// LogicalPlan + SparkStrategy + SparkPlan path) vs the stock window
// formulation, measured at 50M rows / 100k groups / k=3 — 300× the
// fixture. The claim under test (TopKPerGroup scaladoc): the custom
// operator keeps map-side bounded heaps so the exchange carries <= k
// rows per (input partition, group), then merges; on Spark 4 the stock
// WindowGroupLimit pushdown gives the window form the same bound. Both
// walls AND actual shuffle-write record counts (via graft.Profile) are
// reported — the volume claim is checked directly, not inferred.
//   /opt/spark/bin/spark-shell --master 'local[32]' --driver-memory 24g \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/topkbench.scala < /dev/null
{
spark.sparkContext.setLogLevel("ERROR")
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

val N = 50000000L
val GROUPS = 100000L

// deterministic (group, value, id) rows; values hash-spread so each
// group's top-3 is non-trivial
def rows = spark.range(N).select(
  pmod(col("id") * 2654435761L, lit(GROUPS)).as("g"),
  pmod(col("id") * 40503L, lit(1000000007L)).as("v"),
  col("id"))

def timed(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
  f.write.format("noop").mode("overwrite").save() // warm
  val tag = s"topkbench/$name"
  val walls = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    graft.Profile.tagged(spark, tag)(f.write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }
  val Seq(c) = graft.Profile.take(spark, tag)
  println(f"TOPKBENCH $name%-16s shuffle_write_records=${c.shuffleWritten / 3}%,d per run")
  println(f"TOPKBENCH $name%-16s med=${walls.sorted.apply(1)}%.2f s runs=${walls.map(t => f"$t%.2f").mkString(",")}")
}

val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
timed("window_rownum") {
  rows.select(col("g"), col("v"), col("id"), row_number().over(w).as("rn"))
    .filter(col("rn") <= 3).select("g", "v", "id")
}
timed("topk_native") {
  graft.operators.TopK.perGroup(rows,
    groupCols = Seq("g"), order = Seq("v" -> true, "id" -> false), k = 3)
}
// parity: identical result multisets (sorted count + anti-join empty)
val a = rows.select(col("g"), col("v"), col("id"), row_number().over(w).as("rn"))
  .filter(col("rn") <= 3).select("g", "v", "id")
val b = graft.operators.TopK.perGroup(rows,
  groupCols = Seq("g"), order = Seq("v" -> true, "id" -> false), k = 3)
val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
println(s"TOPKBENCH parity exceptAll_diff=$diff (must be 0) rows=${b.count()}")
}
sys.exit(0)
