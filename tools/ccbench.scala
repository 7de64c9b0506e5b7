// Graph-family forensic: the hybrid ConnectedComponents' DISTRIBUTED
// branch measured at 10M nodes / ~10M edges — 3 orders of magnitude
// past the 2^20-edge local-solve bound the suite's keys stay under,
// i.e. the branch a 100 TB graph actually takes. Two shapes:
// short chains (diameter 9 → few pointer-jump rounds) and long chains
// (diameter 999 → the round count log2-bounds, the scale claim in the
// operator's scaladoc).
// Deterministic edges from id arithmetic; result verified (component
// count + every label = its chain's minimum) before the wall is
// reported — a fast wrong answer would be worthless.
//   /opt/spark/bin/spark-shell --master 'local[32]' --driver-memory 24g \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/ccbench.scala < /dev/null
{
spark.sparkContext.setLogLevel("ERROR")
import org.apache.spark.sql.functions._

val N = 10000000L

def chainEdges(len: Long) = spark.range(N)
  .filter(col("id") % len =!= (len - 1))
  .select(col("id").as("a"), (col("id") + 1).as("b"))

def verify(labels: org.apache.spark.sql.DataFrame, len: Long): Unit = {
  val bad = labels.filter(col("lbl") =!= col("node") - (col("node") % len)).count()
  val comps = labels.select("lbl").distinct().count()
  require(bad == 0 && comps == N / len,
    s"WRONG RESULT: $bad mislabeled nodes, $comps components (expected ${N / len})")
}

def timed(name: String, len: Long)(f: => org.apache.spark.sql.DataFrame): Unit = {
  val t0 = System.nanoTime()
  val labels = f
  val wall = (System.nanoTime() - t0) / 1e9
  verify(labels, len)
  println(f"CCBENCH $name%-24s wall=$wall%.1f s (${N / len}%,d components verified)")
  labels.unpersist(blocking = false)
  spark.catalog.clearCache()
}

// distributed min-label loop (localSolveMaxEdges = -1 forces the branch
// the >2^20-edge graphs take; the suite's keys all ride local-solve)
timed("minlabel_chain10", 10) {
  graft.operators.ConnectedComponents.minLabelFromEdges(
    chainEdges(10), maxIter = 50, localSolveMaxEdges = -1L)
}
timed("minlabel_chain1000", 1000) {
  graft.operators.ConnectedComponents.minLabelFromEdges(
    chainEdges(1000), maxIter = 50, localSolveMaxEdges = -1L)
}
}
sys.exit(0)
