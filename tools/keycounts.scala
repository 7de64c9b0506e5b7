// Per-key Spark job and shuffle-record counts, (build, run) per key: the
// audit side of KeyCountsSpec, running the gate's own protocol
// (graft.Profile.countKeys: each key warmed once on the counted dir right
// before it is counted from an empty cache). At the suite config below it
// prints the spec's baselines as ready-to-paste lines; counts at other
// configs (master, shuffle.partitions, SPARK_GRAFT_SF_DIR) are expected to
// differ. Each RECORDS line's comment also gives the shuffle records read,
// the untagged jobs and the generated classes compiled in the key's
// counted window (right after the key's warm run, so a nonzero count is a
// class compiled again).
//   SPARK_GRAFT_KEYS=a,b,c SPARK_GRAFT_SF_DIR=<fixtures>/sf0.001 \
//   $SPARK_HOME/bin/spark-shell --master 'local[4]' \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.ui.enabled=false \
//     --conf spark.ui.showConsoleProgress=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/keycounts.scala < /dev/null
{
spark.sparkContext.setLogLevel("ERROR")
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
  sys.error("set SPARK_GRAFT_SF_DIR to a fixture directory (the suite's is sf0.001)"))
val keys = sys.env.get("SPARK_GRAFT_KEYS").map(_.split(",").toSeq)
  .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
graft.Profile.countKeys(spark, keys, sfDir).foreach { case (k, m) =>
  println(s"""JOBS    "$k" -> (${m.build.jobs}, ${m.run.jobs}),""")
  println(s"""RECORDS "$k" -> (${m.build.shuffleWritten}L, ${m.run.shuffleWritten}L),""" +
    s" // read ${m.build.shuffleRead + m.run.shuffleRead}, untagged jobs ${m.untagged.jobs}," +
    s" compiles ${m.compiles}")
}
}
sys.exit(0)
