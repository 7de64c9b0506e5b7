// Cache spill forensic (VERDICT r18 item 3): the two corpus-sized cache
// sites — dedup_strip's chunk table (queries/Corpus.scala) and the shared
// basket kernel behind basket_pairs/basket_lift (queries/Features.scala),
// both cached lazily with Caching.ensureCached, so the sink's first stage
// fills them — carry an in-code MEMORY_AND_DISK trade ("spills chunk
// batches to local disk instead of failing") that had never been
// exercised under a constrained store. This tool runs the PRODUCTION keys
// against an amplified copy of the sf0.1 fixture (documents ×32, lineitem
// ×8, ids remapped so grain is preserved) in the CURRENT session,
// reporting per key: wall (2 runs), the cached RDDs' memory/disk bytes
// at sink time
// (diskSize > 0 under a starved store proves the spill path actually ran),
// and a result digest (rows + sum(xxhash64(struct(*)))) that must be
// IDENTICAL between the ample and starved sessions.
//
// Protocol (two sessions, same jar, same staged data):
//   # stage + ample run (defaults: 16g heap, normal memory fraction)
//   SPILL_MODE=ample /opt/spark/bin/spark-shell --master 'local[8]' \
//     --driver-memory 16g --conf spark.sql.shuffle.partitions=32 \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/spillbench.scala < /dev/null
//   # starved run: tiny unified pool -> the caches MUST evict to disk
//   SPILL_MODE=starved /opt/spark/bin/spark-shell --master 'local[8]' \
//     --driver-memory 1g --conf spark.memory.fraction=0.05 \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --jars target/scala-2.13/sd2_drp_experimentgenspark_2.13-0.1.0.jar \
//     -I tools/spillbench.scala < /dev/null
// Then diff the SPILL_DIGEST lines: they must match verbatim across modes.
{
spark.sparkContext.setLogLevel("ERROR")
import org.apache.spark.sql.functions._

val src = "/root/testdata/sf0.1"
val dir = "/tmp/spillbench_data"
val mode = sys.env.getOrElse("SPILL_MODE", "ample")

// ---- stage (idempotent; grain-preserving id remaps) ----
if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists) {
  val reps32 = spark.range(32).select(col("id").as("r"))
  spark.read.parquet(s"$src/documents.parquet")
    .crossJoin(reps32)
    .select((col("doc_id") * 32 + col("r")).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    .repartition(8)
    .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  val reps8 = spark.range(8).select(col("id").as("r"))
  val li = spark.read.parquet(s"$src/lineitem.parquet")
  li.crossJoin(reps8)
    .select((col("l_orderkey") * 8 + col("r")).as("l_orderkey") +:
      li.columns.filter(_ != "l_orderkey").map(col): _*)
    .repartition(8)
    .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  spark.read.parquet(s"$src/part.parquet")
    .write.mode("overwrite").parquet(s"$dir/part.parquet")
}

// ---- run the cache-owning keys ----
Seq("dedup_strip", "basket_pairs", "basket_lift").foreach { k =>
  // warm: codegen + broadcast classes on the small fixture
  graft.SparkEntry.queries(k)(spark, src).write.format("noop").mode("overwrite").save()
  spark.catalog.clearCache()
  val walls = (1 to 2).map { _ =>
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
    val w = (System.nanoTime() - t0) / 1e9
    // read cache storage BEFORE retiring the cache: disk > 0 under the
    // starved config proves MEMORY_AND_DISK eviction actually happened
    val st = spark.sparkContext.getRDDStorageInfo
      .map(i => s"mem=${i.memSize / 1024}k disk=${i.diskSize / 1024}k parts=${i.numCachedPartitions}")
      .mkString("; ")
    println(f"SPILL_PIN  $mode%-7s $k%-14s run=${w}%.2f  [$st]")
    spark.catalog.clearCache()
    w
  }
  val dg = graft.SparkEntry.queries(k)(spark, dir)
  // decimal sum: 1M 64-bit hashes would overflow an ANSI bigint sum
  val digest = dg.select(xxhash64(struct(dg.columns.map(col): _*))
      .cast("decimal(38,0)").as("h"))
    .agg(count(lit(1)).as("n"), sum("h").as("hsum")).collect()(0)
  spark.catalog.clearCache()
  println(f"SPILL_WALL $mode%-7s $k%-14s min=${walls.min}%.2f")
  println(s"SPILL_DIGEST $k rows=${digest.getLong(0)} hsum=${digest.getDecimal(1)}")
}
}
