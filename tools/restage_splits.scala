// Multi-split bench restage (VERDICT r17 item 1): the driver fixtures are
// single-row-group parquet files, so EVERY scan stage is one task and
// per-key wall time is flat from 8 to 32 threads (BASELINE r16 forensic) —
// the fixture layout, not the plans, is what hides parallel speedup. This
// script rewrites each sf dir's tables into 32-way split parquet DIRECTORIES
// under /tmp (driver fixtures untouched; correctness runs still read the
// originals), so a scan gets 32 input splits and the 100×-scale parallelism
// claim becomes measurable: run tools/timekeys.scala once against the
// original dir and once against the restaged dir (same confs, same jar) and
// diff per-key medians. Values are identical — only file layout changes;
// every keyed query is either order-insensitive before its final sort or
// carries a total ORDER BY (SURVEY §7.3).
//   /opt/spark/bin/spark-shell --master 'local[32]' \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/restage_splits.scala < /dev/null
{
spark.sparkContext.setLogLevel("ERROR")
val out = sys.env.getOrElse("SPARK_GRAFT_SPLIT_OUT", "/tmp/graft_split32")
val splits = sys.env.getOrElse("SPARK_GRAFT_SPLITS", "32").toInt
val tables = Seq("region", "nation", "customer", "supplier", "part",
  "orders", "lineitem", "events", "documents", "embeddings")
// sf0.001 is restaged too (tiny) so the per-key warm on the sf0.001
// sibling (graft.Bench.timeKey, which Bench and timekeys share) works
// unchanged against the restaged tree
for (sf <- Seq("sf0.001", "sf0.1"); t <- tables) {
  val src = s"/root/testdata/$sf/$t.parquet"
  val dst = s"$out/$sf/$t.parquet"
  if (new java.io.File(dst, "_SUCCESS").exists) {
    println(s"RESTAGE $sf/$t: already staged")
  } else {
    // repartition by a round-robin of the row id: deterministic file
    // contents per run matter less than split COUNT, but keep it
    // reproducible anyway (repartition(n) alone round-robins from a
    // partition-local seed; the sort-within gives stable file payloads)
    val df = spark.read.parquet(src)
    df.repartition(splits).write.mode("overwrite").parquet(dst)
    val files = new java.io.File(dst).listFiles.count(_.getName.endsWith(".parquet"))
    println(s"RESTAGE $sf/$t: rows=${df.count()} files=$files")
  }
}
println("RESTAGE DONE -> " + out)
}
sys.exit(0)
