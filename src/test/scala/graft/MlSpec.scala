package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.5 — ML-adjacent capabilities: MinHash-LSH recovers planted
  * near-duplicates, the LSH ANN keeps useful recall vs brute force, and an
  * MLlib pipeline learns a learnable target from the embeddings table.
  */
class MlSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterEach {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf
  override def afterEach(): Unit = { s.catalog.clearCache(); super.afterEach() }

  test("MinHashLSH finds planted near-duplicates (1-word perturbation)") {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val docs = Tables.documents(s, d).filter(col("doc_id") < 20)
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(size(col("toks")) >= 3)
    // perturb: replace the first word, keep the rest -> Jaccard stays high
    val perturbed = docs
      .withColumn("toks", expr("concat(array('zzzz'), slice(toks, 2, size(toks) - 1))"))
      .withColumn("doc_id", col("doc_id") + 5000L)
    val allDocs = docs.unionByName(perturbed)
      .withColumn("shingles",
        expr("transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
      .select("doc_id", "shingles")
    val feat = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).transform(allDocs)
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(42L).fit(feat)
    val pairs = model.approxSimilarityJoin(feat, feat, 0.4, "dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .filter(col("a") + 5000L === col("b"))
    val found = pairs.count()
    assert(found >= 18, s"recovered only $found of 20 planted pairs")
  }

  test("dedup_fuzzy's minhash-band join recovers planted near-duplicates") {
    // long docs only: replacing the first word of an n-token doc changes 3
    // shingles, J = (n-5)/(n+1) >= 0.77 at n >= 25 — above the query's
    // 0.7 Jaccard floor with per-pair band recall ~0.99
    val base = Tables.documents(s, d)
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(size(col("toks")) >= 25 && col("doc_id") < 200)
    val planted = base.count()
    assert(planted >= 5, s"fixture too short-doc for the test: $planted")
    val perturbed = base
      .withColumn("toks", expr("concat(array('zzzz'), slice(toks, 2, size(toks) - 1))"))
      .withColumn("doc_id", col("doc_id") + 5000L)
    val corpus = base.unionByName(perturbed)
      .select(col("doc_id"), concat_ws(" ", col("toks")).as("text"))
    val pairs = graft.queries.TextSim.minhashNearDupPairs(s, corpus)
      .filter(col("doc_a") + 5000L === col("doc_b"))
    val found = pairs.count()
    assert(found >= (planted * 0.9).toLong,
      s"recovered only $found of $planted planted pairs")
  }

  // gates pinned r20 at ~90% of measured recall (VERDICT r19 item 3;
  // r12 derandomized planes: LSH with 32 hash-sign planes / 8x4-bit
  // bands; IVF with nProbe=3). Every recall here is a deterministic
  // fixture constant, so ~90% is regression margin for engine-version
  // drift, not noise margin. These are SEMANTIC gates on top of the
  // DuckDB hash-exact oracle both LSH keys also carry since r12: the
  // oracle proves the buckets are reproduced bit-for-bit, this proves
  // they are USEFUL.
  test("LSH ANN keeps recall >= 0.60 vs brute-force top-3") {
    // r20 (VERDICT r19 item 3): every input to this recall is
    // deterministic (derandomized planes, fixed fixture), so the value
    // is a reproducible constant — the gate is pinned at ~90% of the
    // measured 0.660 instead of the old 0.45 floor, and the measured
    // value is printed so a drift shows in the test report
    val ann = SparkEntry.queries("ann_lsh_bucket")(s, d)
      .select("vec_id", "neighbor_id")
    val brute = SparkEntry.queries("sim_cosine_topk")(s, d)
      .select("vec_id", "neighbor_id")
    val hits = ann.intersect(brute).count().toDouble
    val recall = hits / brute.count()
    info(f"LSH recall@3 vs brute-force: $recall%.3f")
    assert(recall >= 0.60, s"recall@3 $recall")
  }

  test("knn_label_ann agrees with brute-force knn_label on >= 80% of probes") {
    // the ANN-candidate vote must reproduce the exact-scan vote for most
    // probes: neighbor SETS differ but the majority LABEL is far more
    // stable than the neighbor list. r12 measured agreement 0.88 with the
    // derandomized 32-plane / 10×3-bit vote bands (the r7 Gaussian 8×3
    // shape measured 0.90); 0.80 keeps the same safety margin — a
    // regression to random bucketing (~1/|labels| agreement) fails loudly.
    val ann = SparkEntry.queries("knn_label_ann")(s, d)
      .select(col("vec_id"), col("pred_label").as("ann_lbl"))
    val brute = SparkEntry.queries("knn_label")(s, d)
      .select(col("vec_id"), col("pred_label").as("bf_lbl"))
    val joined = brute.join(ann, "vec_id")
    val n = joined.count().toDouble
    assert(n >= 45, s"ANN vote must cover ~every probe, got $n")
    val agree = joined.filter(col("ann_lbl") === col("bf_lbl")).count() / n
    info(f"knn_label_ann vs brute-force agreement: $agree%.3f over ${n.toInt} probes")
    assert(agree >= 0.8, s"label agreement $agree")
  }

  test("dedup_simhash recovers the organic high-Jaccard near-dup pairs") {
    // semantic gate on top of the r12 hash-exact oracle: the 8x8-bit
    // banded simhash candidates must still FIND the strong organic
    // near-dups that the exact minhash+Jaccard pipeline reports
    // (dist <= 0.2 i.e. J >= 0.8, self-pairs excluded) — bit-exact
    // reproduction would be vacuous if the sketch stopped discriminating
    val strong = SparkEntry.queries("dedup_fuzzy")(s, d).collect()
      .collect { case r if r.getLong(0) != r.getLong(1) && r.getLong(2) <= 200L =>
        (r.getLong(0), r.getLong(1)) }.toSet
    val sh = SparkEntry.queries("dedup_simhash")(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty, "fixture must contain organic strong near-dups")
    val hit = strong.count(sh.contains).toDouble / strong.size
    info(f"simhash recall of J>=0.8 organics: $hit%.2f over ${strong.size} pairs")
    assert(hit >= 0.8, s"simhash recall $hit of ${strong.size} strong pairs")
    // and it must discriminate: candidates are a small fraction of all pairs
    assert(sh.size < 1000, s"simhash candidate set exploded: ${sh.size}")
  }

  test("IVF ANN keeps recall >= 0.55 vs brute-force top-3") {
    // r20: deterministic fixture constant (measured 0.613 — the r12
    // prose value 0.440 was stale) — gate at ~90% of measured instead
    // of the old 0.35 floor
    val ivf = SparkEntry.queries("ann_ivf")(s, d)
      .select("vec_id", "neighbor_id")
    val brute = SparkEntry.queries("sim_cosine_topk")(s, d)
      .select("vec_id", "neighbor_id")
    val recall = ivf.intersect(brute).count().toDouble / brute.count()
    info(f"IVF recall@3 vs brute-force: $recall%.3f")
    assert(recall >= 0.55, s"IVF recall@3 $recall")
  }

  test("embedding_cluster matches union-find over brute-force cosine >= 0.4 pairs") {
    val vecs = Tables.embeddings(s, d).filter(col("vec_id") < 4096)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (i <- vecs.indices; j <- i + 1 until vecs.length) {
      val (da, db) = (vecs(i)._2, vecs(j)._2)
      var dot = 0.0; var n2a = 0.0; var n2b = 0.0
      var k = 0
      while (k < da.length) { dot += da(k) * db(k); n2a += da(k) * da(k); n2b += db(k) * db(k); k += 1 }
      // mirror the query's exact expression: dot / sqrt(n2a * n2b)
      if (dot / math.sqrt(n2a * n2b) >= 0.4) {
        val (ra, rb) = (find(vecs(i)._1), find(vecs(j)._1))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val want = vecs.map(_._1).map(id => id -> find(id)).toMap
    val sizes = want.values.groupBy(identity).view.mapValues(_.size).toMap
    val rows = SparkEntry.queries("embedding_cluster")(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(rows.length == vecs.length)
    rows.foreach { case (id, cl, sz, rep) =>
      assert(cl == want(id), s"vec $id cluster $cl != ${want(id)}")
      assert(sz == sizes(cl), s"cluster $cl size")
      assert(rep == (id == cl), s"vec $id is_rep")
    }
    assert(sizes.values.max >= 2, "fixture must contain at least one true near-dup pair")
  }

  test("sim_signbit_hamming matches brute-force sign sketches + hamming top-3") {
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(vecs.forall(_._2.length >= 63))
    val sk = vecs.map { case (id, e) =>
      id -> (0 until 63).foldLeft(0L)((acc, i) =>
        acc + (if (e(i) > 0) 1L << i else 0L))
    }.toMap
    val want = sk.keys.filter(_ < 50).flatMap { a =>
      sk.toSeq.filter(_._1 != a)
        .map { case (b, s2) => (b, java.lang.Long.bitCount(sk(a) ^ s2)) }
        .sortBy { case (b, h) => (h, b) }.take(3)
        .zipWithIndex.map { case ((b, h), i) => (a, b, i + 1, h) }
    }.toSet
    val got = SparkEntry.queries("sim_signbit_hamming")(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
    // sketches must discriminate: the top-1 hamming cannot be globally 0
    assert(want.exists { case (_, _, rnk, h) => rnk == 1 && h > 0 })
  }

  test("kmeans_iter matches a driver-side integer Lloyd re-derivation") {
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(f => math.floor(f.toDouble * 1000000 + 0.5).toLong)))
      .sortBy(_._1)
    var cent: Map[Long, Array[Long]] = vecs.take(4).zipWithIndex
      .map { case ((_, q), i) => i.toLong -> q }.toMap
    var asgn: Map[Long, (Long, Long)] = Map.empty // vec -> (cluster, d2)
    for (_ <- 1 to 3) {
      asgn = vecs.map { case (id, q) =>
        val (d2, c) = cent.toSeq.map { case (c0, cv) =>
          var acc = 0L; var i = 0
          while (i < q.length) { val g = q(i) - cv(i); acc += g * g; i += 1 }
          (acc, c0)
        }.min
        id -> ((c, d2))
      }.toMap
      cent = vecs.groupBy(v => asgn(v._1)._1).map { case (c, grp) =>
        // Long / truncates toward zero, matching div / //
        c -> Array.tabulate(grp.head._2.length)(i => grp.map(_._2(i)).sum / grp.length)
      }
    }
    val rows = SparkEntry.queries("kmeans_iter")(s, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val byC = vecs.groupBy(v => asgn(v._1)._1)
    assert(rows.keySet == byC.keySet)
    byC.foreach { case (c, grp) =>
      val (n, inertia, centSum) = rows(c)
      assert(n == grp.length, s"cluster $c size")
      val want = grp.map(v => BigInt(asgn(v._1)._2)).sum.toDouble / 1e12
      assert(inertia == want, s"cluster $c inertia $inertia != $want")
      assert(centSum == cent(c).sum, s"cluster $c centroid checksum")
    }
    assert(rows.size >= 2, "clustering must keep at least two clusters")
  }

  test("kmeans_iter on an empty embeddings table fails with a named require") {
    TestSpark.withTempDir("kmeans_empty") { dir =>
      Tables.embeddings(s, d).limit(0).write.parquet(s"$dir/embeddings.parquet")
      try {
        val e = intercept[IllegalArgumentException] {
          SparkEntry.queries("kmeans_iter")(s, dir)
        }
        assert(e.getMessage.contains("kmeans_iter: no centroids"), e.getMessage)
      } finally s.catalog.clearCache()
    }
  }

  test("RF pipeline learns a separable target from embeddings") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.RandomForestClassifier
    import org.apache.spark.ml.functions.array_to_vector
    // learnable label: sign of the first embedding component
    val data = Tables.embeddings(s, d)
      .withColumn("target", (element_at(col("embedding"), 1) > 0).cast("double"))
      .withColumn("features", array_to_vector(col("embedding")))
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42L)
    val rf = new RandomForestClassifier()
      .setLabelCol("target").setFeaturesCol("features")
      .setNumTrees(30).setSeed(42L)
    val model = new Pipeline().setStages(Array(rf)).fit(train)
    val pred = model.transform(test)
    val acc = pred.filter(col("prediction") === col("target")).count().toDouble / pred.count()
    val majority = {
      val pos = test.filter(col("target") === 1.0).count().toDouble / test.count()
      math.max(pos, 1 - pos)
    }
    assert(acc > majority, s"accuracy $acc did not beat majority $majority")
    assert(acc >= 0.7, s"accuracy $acc")
  }

  test("ml_score holdout accuracy beats majority (deterministic inference path)") {
    // the oracled fit+score twin of the RF pipeline above: same derived
    // separable target, but a nearest-centroid model in exact integer
    // space scored on the held-out ml_folds fold 0 — accuracy must beat
    // the majority class (numpy re-derivation r12: 0.79 sf0.001 / 0.87
    // sf0.01 / 0.92 sf0.1; majority ~0.5) and clear the RF test's 0.7 bar
    val out = SparkEntry.queries("ml_score")(s, d)
    val n = out.count().toDouble
    assert(n > 0)
    val acc = out.filter(col("correct") === 1).count() / n
    val majority = {
      val pos = out.filter(col("target") === 1).count().toDouble / n
      math.max(pos, 1 - pos)
    }
    info(f"ml_score holdout accuracy: $acc%.3f (majority $majority%.3f, n=${n.toInt})")
    assert(acc > majority, s"accuracy $acc did not beat majority $majority")
    assert(acc >= 0.7, s"accuracy $acc")
  }

  test("custom DSv2 sheet TableProvider: parallel tab read + column pruning") {
    // the §2.1 external-ingest analogy made concrete: a Sheets-style
    // workbook (dir of header-first TSV tabs) read through a custom
    // TableProvider — schema inferred from the header, one InputPartition
    // per tab, and SupportsPushDownRequiredColumns pruning verified both
    // in the plan and by row parity with the fixture
    val dir = new java.io.File("target/tmp/sheet_spec")
    dir.mkdirs()
    // stale tabs from a previous run would duplicate rows — remove files
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // two tabs: even/odd doc_ids — the read must union them
    Seq(0, 1).foreach { par =>
      val rows = docs.filter(_._1 % 2 == par)
        .map { case (id, lang, nc) => s"$id\t$lang\t$nc" }
      java.nio.file.Files.write(
        new java.io.File(dir, s"tab$par.tsv").toPath,
        ("doc_id\tlang\tn_chars" +: rows).mkString("\n").getBytes("UTF-8"))
    }
    val df = s.read.format("graft.sources.SheetSourceProvider")
      .load(dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "lang", "n_chars"))
    assert(df.rdd.getNumPartitions == 2, "one partition per worksheet tab")
    // full-row parity with the fixture (string cells CAST in the query
    // layer, the spreadsheet schema-on-read model)
    val back = df.select(col("doc_id").cast("long"), col("lang"),
        col("n_chars").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(back.toSeq == docs.toSeq, "sheet read must round-trip the fixture")
    // pruning gate: a 1-column projection must reach the scan
    val pruned = df.select("lang")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("readSchema=lang"),
      s"projection did not reach the sheet scan:\n$scanDesc")
    assert(pruned.distinct().count() == 5)
    // filter pushdown gate (SupportsPushDownFilters): equality + IsNotNull
    // on string cells must die AT the tab reader — visible in the scan
    // description — with row parity against the post-scan-filter answer
    val filtered = df.filter(col("lang") === "en").select("doc_id", "lang")
    val fDesc = filtered.queryExecution.executedPlan.toString
    assert(fDesc.contains("SheetEq(lang,en)"),
      s"lang = 'en' did not reach the sheet reader:\n$fDesc")
    val expectEn = docs.filter(_._2 == "en").map(_._1).sorted.toSeq
    val gotEn = filtered.collect().map(_.getString(0).toLong).sorted.toSeq
    assert(gotEn == expectEn, "pushed-filter read must match the fixture")
    // the filter column may be pruned OUT of the projection and the
    // pushed predicate must still apply (evaluated on the full cell row)
    assert(df.filter(col("lang") === "en").select("doc_id").count() ==
      expectEn.length.toLong)
    // a non-pushable predicate (cast + comparison) still answers right
    assert(df.filter(col("n_chars").cast("long") > 100).count() ==
      docs.count(_._3 > 100).toLong)
  }

  test("DSv2 sheet STREAMING read: appended tabs land incrementally, exactly once, filters pushed") {
    // the reference's "poll the spreadsheet" reality as a MicroBatchStream:
    // the offset is the consumed-tab count over the name-sorted listing
    // (append-only under the writer's tab_%05d staged-rename contract), so
    // each trigger reads ONLY the new tabs — through the same pruning/
    // pushdown reader as the batch scan
    TestSpark.withTempDir("graft_sheet_stream") { dir =>
      def writeTab(name: String, rows: Seq[String]): Unit = {
        // stage + ATOMIC_MOVE: the query's trigger loop polls the listing
        // between processAllAvailable calls, so a tab must appear with its
        // bytes complete — the same staged-rename contract the connector's
        // own writer follows
        val staged = java.nio.file.Paths.get(dir, s"_staged_$name")
        java.nio.file.Files.write(staged,
          ("doc_id\tlang" +: rows).mkString("\n").getBytes("UTF-8"))
        java.nio.file.Files.move(staged, java.nio.file.Paths.get(dir, name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      writeTab("tab_00000.tsv", Seq("1\ten", "2\tde"))
      writeTab("tab_00001.tsv", Seq("3\ten"))
      val q = s.readStream.format("graft.sources.SheetSourceProvider")
        .load(dir)
        .filter(col("lang") === "en") // pushed into the tab reader
        .writeStream.format("memory").queryName("sheet_stream")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      try {
        q.processAllAvailable()
        val afterTwo = s.table("sheet_stream").select("doc_id")
          .collect().map(_.getString(0).toLong).sorted.toSeq
        assert(afterTwo == Seq(1L, 3L), s"first batches wrong: $afterTwo")
        // a NEW tab lands (append-only name order) — only IT is read next
        writeTab("tab_00002.tsv", Seq("4\tde", "5\ten"))
        q.processAllAvailable()
        val all = s.table("sheet_stream").select("doc_id")
          .collect().map(_.getString(0).toLong).sorted.toSeq
        assert(all == Seq(1L, 3L, 5L),
          s"incremental read must add exactly the new tab's en rows: $all")
      } finally q.stop()
    }
  }

  test("DSv2 sheet WRITE: staged-commit tabs round-trip through the reader") {
    // the upload analogy (SURVEY §3.1: write spec docs + upload): write a
    // derived result as a workbook via the connector's SupportsWrite path
    // (string cells, one tab per partition, staged rename at commit),
    // then read it back with the same provider and check exact parity
    val outDir = new java.io.File("target/tmp/sheet_write_spec")
    val stats = Tables.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs").cast("string").as("n_docs"))
    val expect = stats.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    stats.repartition(2).write.format("graft.sources.SheetSourceProvider")
      .mode("overwrite").save(outDir.getAbsolutePath)
    val tabs = outDir.listFiles().filter(_.isFile).map(_.getName).sorted
    assert(tabs.length == 2 && tabs.forall(_.startsWith("tab_")),
      s"expected 2 committed tabs, got ${tabs.mkString(",")}")
    assert(!tabs.exists(_.startsWith("_staged_")), "staged files must not survive commit")
    val back = s.read.format("graft.sources.SheetSourceProvider")
      .load(outDir.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(back == expect, s"workbook round-trip diverged: $back vs $expect")
    // overwrite replaces, never appends: a second write must not double rows
    stats.repartition(2).write.format("graft.sources.SheetSourceProvider")
      .mode("overwrite").save(outDir.getAbsolutePath)
    assert(s.read.format("graft.sources.SheetSourceProvider")
      .load(outDir.getAbsolutePath).count() == expect.length)
    // append numbers AFTER the existing tabs — a commit that restarted at
    // tab_00000 would overwrite the first batch in place (and break the
    // streaming offset's append-only name order)
    stats.repartition(1).write.format("graft.sources.SheetSourceProvider")
      .mode("append").save(outDir.getAbsolutePath)
    val tabs2 = outDir.listFiles().filter(_.isFile).map(_.getName).sorted
    assert(tabs2.toSeq == Seq("tab_00000.tsv", "tab_00001.tsv", "tab_00002.tsv"),
      s"append must extend the tab sequence: ${tabs2.mkString(",")}")
    assert(s.read.format("graft.sources.SheetSourceProvider")
      .load(outDir.getAbsolutePath).count() == expect.length * 2)
  }

  test("schema-first CSV and JSON-lines ingest round-trips") {
    import graft.sources.Sources
    import org.apache.spark.sql.types._
    val dir = new java.io.File("target/tmp/sources_spec")
    dir.mkdirs()
    val csv = new java.io.File(dir, "chem.csv")
    val jsn = new java.io.File(dir, "chem.jsonl")
    java.nio.file.Files.writeString(csv.toPath,
      "abbrev,name,mw\nGBL,gamma-Butyrolactone,86.09\nDMF,Dimethylformamide,73.09\n")
    java.nio.file.Files.writeString(jsn.toPath,
      """{"abbrev":"GBL","mw":86.09}
        |{"abbrev":"DMF","mw":73.09}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("abbrev", StringType), StructField("name", StringType),
      StructField("mw", DoubleType)))
    val c = Sources.readCsv(s, csv.getPath, schema)
    assert(c.count() == 2 && c.schema("mw").dataType == DoubleType)
    val jSchema = StructType(Seq(
      StructField("abbrev", StringType), StructField("mw", DoubleType)))
    val j = Sources.readJsonLines(s, jsn.getPath, jSchema)
    assert(j.count() == 2)
    assert(j.agg(sum("mw")).head.getDouble(0) == 159.18)
  }

  test("CSV and JSON-lines SINKS round-trip through their ingest twins") {
    import graft.sources.Sources
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    val csvOut = "target/tmp/sources_spec/docs_csv"
    val jsnOut = "target/tmp/sources_spec/docs_jsonl"
    Sources.writeCsv(docs, csvOut)
    Sources.writeJsonLines(docs, jsnOut)
    val backCsv = Sources.readCsv(s, csvOut, docs.schema)
    val backJsn = Sources.readJsonLines(s, jsnOut, docs.schema)
    assert(backCsv.count() == 500 && backJsn.count() == 500)
    // exact content parity, not just counts
    assert(backCsv.except(docs).count() == 0 && docs.except(backCsv).count() == 0)
    assert(backJsn.except(docs).count() == 0 && docs.except(backJsn).count() == 0)
    // multi-part output: no hidden coalesce(1) in the sink
    assert(new java.io.File(csvOut).listFiles().exists(_.getName.endsWith(".csv")))
  }

  test("ORC sink round-trips through its schema-first ingest twin with pushdown intact") {
    import graft.sources.Sources
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    val orcOut = "target/tmp/sources_spec/docs_orc"
    Sources.writeOrc(docs, orcOut)
    val back = Sources.readOrc(s, orcOut, docs.schema)
    assert(back.count() == 500)
    assert(back.except(docs).count() == 0 && docs.except(back).count() == 0)
    // ORC scans take the same pushdown path as parquet: the lang filter
    // must reach the file scan, not evaluate post-scan only
    val plan = back.filter(col("lang") === "en").queryExecution.executedPlan.toString
    // 'lang' must appear INSIDE the PushedFilters bracket — matching it
    // anywhere passes vacuously on 'PushedFilters: []' + a post-scan Filter
    assert("PushedFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"expected lang inside PushedFilters in ORC scan:\n$plan")
    assert(new java.io.File(orcOut).listFiles().exists(_.getName.endsWith(".orc")))
  }

  test("embedding_pq equals a brute-force product-quantization trainer") {
    // full local re-derivation of the 16x4 / 16-code / 3-round integer
    // Lloyd PQ fit: same quantization, seeding, (d2, c) tie-break,
    // truncating integer means (Scala / and Spark div both truncate
    // toward zero), empty-code carry-over and final encoding
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)
        .map(f => math.floor(f.toDouble * 1e6 + 0.5).toLong).toArray))
      .sortBy(_._1)
    val (nSub, dim, k, rounds) = (16, 4, 16, 3)
    def slice(qv: Array[Long], sub: Int) = qv.slice(sub * dim, (sub + 1) * dim)
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // cent(sub)(c)
    var cent = Array.tabulate(nSub, k)((sub, c) => slice(vecs(c)._2, sub))
    for (_ <- 1 to rounds) {
      val next = Array.tabulate(nSub, k)((sub, c) => cent(sub)(c))
      for (sub <- 0 until nSub) {
        val assigned = vecs.map { case (_, qv) =>
          val sv = slice(qv, sub)
          ((0 until k).minBy(c => (d2(sv, cent(sub)(c)), c)), sv)
        }
        for (c <- 0 until k) {
          val members = assigned.filter(_._1 == c).map(_._2)
          if (members.nonEmpty)
            next(sub)(c) = Array.tabulate(dim)(p =>
              members.map(_(p)).sum / members.length)
        }
      }
      cent = next
    }
    val expect = vecs.map { case (id, qv) =>
      val enc = (0 until nSub).map { sub =>
        val sv = slice(qv, sub)
        val c = (0 until k).minBy(c => (d2(sv, cent(sub)(c)), c))
        (c, d2(sv, cent(sub)(c)))
      }
      (id, enc.map(_._1).mkString(","), enc.map(_._2).sum)
    }.toSeq
    val res = SparkEntry.queries("embedding_pq")(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(res == expect, "PQ codes/error diverge from brute force")
    // and the codebook genuinely compresses: average reconstruction error
    // is below the single-global-centroid (k=1 per subspace) baseline
    val global = Array.tabulate(nSub)(sub => Array.tabulate(dim)(p =>
      vecs.map(v => slice(v._2, sub)(p)).sum / vecs.length))
    val globalErr = vecs.map(v =>
      (0 until nSub).map(sub => d2(slice(v._2, sub), global(sub))).sum).sum
    // for near-random vectors the rate-distortion bound for 16 codes over
    // 8 dims is ~1 - 16^(-2/8) = 50% reduction; measured 44% on this
    // fixture — gate at 30% so the assertion proves genuine learning
    // without riding the theoretical edge
    assert(res.map(_._3).sum < globalErr * 7 / 10,
      "16-code-per-subspace PQ should cut the k=1 error by >= 30%")
  }

  /** Brute-force exact integer-L2 top-3 per probe (vec_id < 50) in the
    * engine's ×10⁶-quantized space — the shared ground truth of the
    * three ADC-family recall gates (r20 dedup: one copy of the
    * quantization convention, so a scale change cannot silently leave
    * the suites testing different metrics). */
  private def exactL2Top3(): Map[Long, Set[Long]] = {
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)
        .map(f => math.floor(f.toDouble * 1e6 + 0.5).toLong).toArray))
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    vecs.filter(_._1 < 50).map { case (aId, qa) =>
      aId -> vecs.filter(_._1 != aId)
        .map { case (bId, qb) => (d2(qa, qb), bId) }.sorted.take(3).map(_._2).toSet
    }.toMap
  }

  test("ann_pq_adc keeps useful recall vs exact integer L2") {
    val exact = exactL2Top3()
    val adc = SparkEntry.queries("ann_pq_adc")(s, d).collect()
      .groupBy(_.getLong(0))
      .map { case (a, rows) => a -> rows.map(_.getLong(1)).toSet }
    assert(adc.size == 50 && adc.values.forall(_.size == 3))
    val recall = adc.map { case (a, got) => (got & exact(a)).size }.sum / 150.0
    info(f"ADC recall@3 vs exact L2: $recall%.3f")
    // compressed-domain search trades exactness for 16x compression; the
    // codes must still place a usable fraction of the true top-3 in the
    // ADC top-3 (brute-force cosine stays available as sim_cosine_topk).
    // r20: deterministic fixture constant (measured 0.307) — gate at
    // ~90% of measured instead of the old 0.25 floor
    assert(recall >= 0.28, f"ADC recall collapsed: $recall%.3f")
  }

  test("ann_ivfpq keeps useful recall vs exact integer L2 under nprobe=2 routing") {
    // the composed FAISS shape reads 2/16ths of the code table per probe,
    // so its recall is bounded above by full-scan ADC's (0.307 measured);
    // gate re-pinned r20 at ~90% of the measured composed recall (the
    // deterministic-constant policy of the header comment)
    val exact = exactL2Top3()
    val got = SparkEntry.queries("ann_ivfpq")(s, d).collect()
      .groupBy(_.getLong(0))
      .map { case (a, rows) => a -> rows.map(_.getLong(1)).toSet }
    assert(got.size == 50, s"every probe must return rows, got ${got.size}")
    val recall = got.map { case (a, g) => (g & exact(a)).size }.sum / 150.0
    info(f"IVF-PQ recall@3 vs exact L2: $recall%.3f")
    // r20: deterministic fixture constant (measured 0.260) — gate at
    // ~90% of measured instead of the old 0.18 floor. The 200k-vector
    // ANN sweep (`git show 7bc26e9:tools/annbench.scala`) shows recall
    // FLAT across nprobe 1..16 (routing already finds the right cells;
    // ADC quantization bounds recall), so nprobe=2 stays the operating
    // point and the recall lever is exact re-rank, not more cells.
    assert(recall >= 0.24, f"IVF-PQ recall collapsed: $recall%.3f")
  }

  test("ann_ivfpq_rerank refines the ADC shortlist: recall strictly above ann_ivfpq's") {
    // r20: the refinement key must (a) beat the pure-ADC composed
    // recall on the same fixture and (b) clear its own pinned gate.
    // Both recalls are deterministic fixture constants (measured:
    // ivfpq 0.260, rerank 0.373 — the exact re-score fixes what ADC
    // quantization misorders INSIDE the top-8 shortlist; the residual
    // gap is true neighbors the noisy ADC ordering keeps OUT of the
    // shortlist on near-random vectors, PQ's worst case — on the
    // structured 200k ANN-sweep corpus the same R=8 re-rank measures
    // recall 1.000).
    val exact = exactL2Top3()
    def recallOf(key: String): Double = {
      val got = SparkEntry.queries(key)(s, d).collect()
        .groupBy(_.getLong(0))
        .map { case (a, rows) => a -> rows.map(_.getLong(1)).toSet }
      assert(got.size == 50, s"$key must return rows for every probe, got ${got.size}")
      got.map { case (a, g) => (g & exact(a)).size }.sum / 150.0
    }
    val base = recallOf("ann_ivfpq")
    val refined = recallOf("ann_ivfpq_rerank")
    info(f"recall@3 vs exact L2: ivfpq $base%.3f -> rerank $refined%.3f")
    assert(refined > base,
      f"re-rank must improve on pure ADC: $refined%.3f <= $base%.3f")
    // ~90% of the measured 0.373 deterministic constant
    assert(refined >= 0.33, f"re-rank recall collapsed: $refined%.3f")
  }

  test("IvfPqIndex.fit is a public, deterministic trainer over any frame") {
    import s.implicits._
    // (1) the public fit on the fixture embeddings with the engine's
    // default geometry must reproduce the keyed pipeline's own corpus
    // assignments — the library path IS the oracled path
    val vecs = Tables.embeddings(s, d).select("vec_id", "embedding")
    val model = graft.operators.IvfPqIndex.fit(vecs)
    val viaModel = model.encode(vecs).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getSeq[Long](2).toSeq))).toMap
    val viaPipeline = queries.LlmOps.ivfPqCorpus(s, d).collect()
      .map(r => (r.getLong(0), (r.getInt(2), r.getSeq[Long](1).toSeq))).toMap
    s.catalog.clearCache()
    assert(viaModel == viaPipeline,
      "public fit diverged from the keyed pipeline's assignments")
    // (2) non-default geometry on a synthetic frame: dims validated,
    // outputs well-formed, and two fits produce the identical model
    val tiny = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 13).toFloat - 6f).toSeq))
      .toDF("vec_id", "embedding")
    val m1 = graft.operators.IvfPqIndex.fit(tiny, nCells = 4, subspaces = 4,
      codes = 8, rounds = 2)
    val m2 = graft.operators.IvfPqIndex.fit(tiny, nCells = 4, subspaces = 4,
      codes = 8, rounds = 2)
    assert(m1.cells.map(_.toSeq).toSeq == m2.cells.map(_.toSeq).toSeq &&
      m1.codebook.map(_.map(_.toSeq).toSeq).toSeq ==
        m2.codebook.map(_.map(_.toSeq).toSeq).toSeq,
      "two fits on the same frame must produce the identical model")
    val enc = m1.encode(tiny).collect()
    assert(enc.length == 40 && enc.forall { r =>
      r.getInt(1) >= 0 && r.getInt(1) < 4 &&
        r.getSeq[Long](2).length == 4 && r.getSeq[Long](2).forall(c => c >= 0 && c < 8)
    })
    // (3) a geometry that does not divide the dim fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.IvfPqIndex.fit(tiny, subspaces = 3)
    }
    s.catalog.clearCache()
  }

  test("PQ fit memo survives clearCache: re-entry recomputes lazily, identically") {
    // the session-keyed pqFit memo hands every PQ key the same trained
    // codebook and encode frame; a session-level clearCache drops the
    // frames' persistence but must not change ANY result on re-entry
    // (the memo re-pins and the plans recompute through lineage). Pin
    // the full Verify-style sequence: run, clear, run again.
    val first = SparkEntry.queries("embedding_pq")(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    s.catalog.clearCache()
    val second = SparkEntry.queries("embedding_pq")(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(second.toSeq == first.toSeq,
      "post-clearCache re-entry must reproduce the identical encoding")
    s.catalog.clearCache()
    val adc = SparkEntry.queries("ann_pq_adc")(s, d).collect()
    assert(adc.length > 0 && adc.forall(_.getInt(2) <= 3))
  }
}
