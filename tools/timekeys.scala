// Per-key idle timing probe (VERDICT r16 item 1 / BASELINE forensics).
// Runs Bench.scala's own per-key step (graft.Bench.timeKey) with 3 timed
// runs: the key warmed once untimed on the sf0.001 sibling, clearCache,
// then 3 runs through a noop sink on the target dir, each after the key's
// kernel warm, clearCache between runs. Run via:
//   sbt -batch package && SPARK_GRAFT_KEYS=a,b,c /opt/spark/bin/spark-shell \
//     --master 'local[32]' --conf spark.sql.shuffle.partitions=32 \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/timekeys.scala < /dev/null
{
spark.sparkContext.setLogLevel("WARN")
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val warmDir = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
val keys = sys.env.getOrElse("SPARK_GRAFT_KEYS", "outlier_mad").split(",").toSeq
keys.foreach { k =>
  val ts = graft.Bench.timeKey(spark, k, sfDir, warmDir, 3)
  println(f"TIMEKEY $k%-24s med=${ts.sorted.apply(1)}%.2f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
}
}
