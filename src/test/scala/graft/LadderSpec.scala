package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized property gate for the ExactRatio integer-division ladders —
  * the kernel every normalized statistic's hash surface rides on. The
  * fixture-level brute tests pin each KEY at its data's magnitudes; this
  * spec pins the LADDERS themselves across the full documented domain
  * (operands 1 digit to 37 digits, including the skewed-magnitude regimes
  * the r16 ADVICE flagged), by evaluating the generated SQL through Spark
  * and comparing every sample against an exact BigInt replica of the
  * staged algorithm. Any silent int64 wrap in a staged `div` (Spark's
  * IntegralDivide wraps rather than throws — the reason the 12-digit
  * shift budget exists) would surface here as a value mismatch.
  */
class LadderSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import graft.functions.ExactRatio

  /** BigInt replica of ExactRatio.shiftOver: smallest shift that brings v
    * under 10^keep, as the generated CASE ladder computes it. */
  private def shiftOver(v: BigInt, keep: Int): Int =
    (38 - keep to 1 by -1).find(sh => v >= BigInt(10).pow(keep - 1 + sh)).getOrElse(0)

  /** Replica of ratE6Stages: floor(1e6·a/b) through the common-shift
    * ladder, including the greatest(bp, 1) guard. */
  private def ratE6(a: BigInt, b: BigInt): Long = {
    val u = math.max(shiftOver(a, 12), shiftOver(b, 12))
    val ap = a / BigInt(10).pow(u)
    val bp = (b / BigInt(10).pow(u)).max(1)
    ((BigInt(1000000) * ap) / bp).toLong
  }

  /** Replica of r2e6Stages: floor(1e6·num²/(b·c)) through the
    * independently-shifted ladder with the even-parity bump. */
  private def r2e6(num: BigInt, b: BigInt, c: BigInt): Long = {
    val sb = shiftOver(b, 12); val sc = shiftOver(c, 12)
    val odd = (sb + sc) % 2 == 1
    val sb2 = sb + (if (odd && sb >= 1) 1 else 0)
    val sc2 = sc + (if (odd && sb == 0) 1 else 0)
    val h = (sb2 + sc2) / 2
    val np = num.abs / BigInt(10).pow(h)
    val bp = b / BigInt(10).pow(sb2)
    val cp = c / BigInt(10).pow(sc2)
    ((BigInt(1000000) * np * np) / (bp * cp)).toLong
  }

  private val rnd = new scala.util.Random(42) // seeded: deterministic suite
  private def randDigits(n: Int): BigInt = {
    val head = ('1' + rnd.nextInt(9)).toChar
    val tail = Seq.fill(n - 1)(('0' + rnd.nextInt(10)).toChar)
    BigInt((head +: tail).mkString)
  }

  test("ratE6Stages == BigInt replica across 1..37-digit operands incl. skewed pairs") {
    val samples = (1 to 300).map { i =>
      val da = 1 + rnd.nextInt(37)
      // every 3rd sample forces the skewed-magnitude regime ADVICE flagged
      val db = if (i % 3 == 0) 1 + rnd.nextInt(13) else 1 + rnd.nextInt(37)
      (i.toLong, randDigits(da), randDigits(db))
    } :+ ((301L, BigInt(0), BigInt(1))) :+ ((302L, BigInt(10).pow(37) - 1, BigInt(1)))
    import s.implicits._
    val df = samples.map { case (i, a, b) => (i, a.toString, b.toString) }
      .toDF("id", "a_s", "b_s")
      .select(col("id"), expr("cast(a_s as decimal(38,0))").as("a"),
        expr("cast(b_s as decimal(38,0))").as("b"))
    val out = ExactRatio.applySpark(df,
        ExactRatio.ratE6Stages(ExactRatio.SparkF, "a", "b", "r_e6"))
      .select("id", "r_e6").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples.foreach { case (i, a, b) =>
      assert(out(i) == ratE6(a, b),
        s"ratE6($a, $b): sql=${out(i)} replica=${ratE6(a, b)}")
    }
  }

  test("r2e6Stages == BigInt replica across magnitudes, signs, and parity bumps") {
    val samples = (1 to 300).map { i =>
      val b = randDigits(1 + rnd.nextInt(37))
      val c = randDigits(1 + rnd.nextInt(37))
      // |num| <= min(b, c) <= sqrt(b·c) keeps the documented Cauchy-Schwarz
      // domain; every 4th sample is negative, every 10th zero
      val bound = b.min(c)
      val numAbs = if (i % 10 == 0) BigInt(0)
        else bound * BigInt(rnd.nextInt(1000)) / 1000
      val num = if (i % 4 == 0) -numAbs else numAbs
      (i.toLong, num, b, c)
    }
    import s.implicits._
    val df = samples.map { case (i, n, b, c) => (i, n.toString, b.toString, c.toString) }
      .toDF("id", "n_s", "b_s", "c_s")
      .select(col("id"), expr("cast(n_s as decimal(38,0))").as("num"),
        expr("cast(b_s as decimal(38,0))").as("b"),
        expr("cast(c_s as decimal(38,0))").as("c"))
    val out = ExactRatio.applySpark(df,
        ExactRatio.r2e6Stages(ExactRatio.SparkF, "num", "b", "c", "r2_e6"))
      .select("id", "r2_e6").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples.foreach { case (i, n, b, c) =>
      assert(out(i) == r2e6(n, b, c),
        s"r2e6($n, $b, $c): sql=${out(i)} replica=${r2e6(n, b, c)}")
    }
  }

  // --- source lint for the r17 hazard this spec's property test found:
  // Spark's columnar decimal negate/abs rounds to 34 significant digits,
  // so every big-integer absolute value must go through
  // ExactRatio.safeAbs and every negation must be spelled `0 - x`.
  // ADVICE r17: the original single-line regex could not cross nested
  // parens (missing exactly the fixed bug's shape,
  // `abs(cast(cast(n as decimal(38,0)) * sxy - ... as decimal(38,0)))`)
  // and did not cover unary minus at all. This scan is paren-aware over
  // the WHOLE file text with Scala string seams dissolved first, so
  // expressions split across concatenated/stripMargin lines still match.
  // DuckDB-side abs(... AS HUGEINT) in oracle SQL strings is exact and
  // allowed — only spans containing a decimal cast are flagged.

  /** File text with Scala string-literal seams removed so SQL split
    * across `" +" `/stripMargin lines scans as one expression:
    * `"..." + "..."` joins, and `\n  |` margin markers drop. */
  private def joinedSource(f: java.io.File): String = {
    val raw = scala.io.Source.fromFile(f, "UTF-8").mkString
    raw.replaceAll("\"\\s*\\+\\s*\\n?\\s*s?\"", "")
      .replaceAll("\\n\\s*\\|", " ")
      .toLowerCase
  }

  /** Balanced-paren span starting at the '(' at `open`; runs to end of
    * text if unbalanced (a string-literal paren) — overly broad beats
    * silently short. */
  private def parenSpan(t: String, open: Int): String = {
    var depth = 0; var i = open
    while (i < t.length) {
      t.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return t.substring(open + 1, i)
        case _ =>
      }
      i += 1
    }
    t.substring(open + 1)
  }

  private def prevNonSpace(t: String, i: Int): Char = {
    var j = i - 1
    while (j >= 0 && t.charAt(j).isWhitespace) j -= 1
    if (j >= 0) t.charAt(j) else ' '
  }

  private val lintFiles: Seq[java.io.File] = for {
    dir <- Seq("src/main/scala/graft/queries", "src/main/scala/graft/functions",
      "src/main/scala/graft/operators")
    f <- new java.io.File(dir).listFiles.toSeq if f.getName.endsWith(".scala")
  } yield f

  private val decimalCast = "as\\s+decimal".r

  /** Every SparkF SQL text the ExactRatio emitters (and the shared ANOVA
    * tail) return, lowercased like [[joinedSource]]: idioms that moved
    * behind `f.bigCast` are invisible to the source scan, so the lints
    * below also run over what the emitters actually emit. */
  private lazy val emittedSpark: Seq[(String, String)] = {
    import ExactRatio._
    val f = SparkF
    val cols = Pearson(f).columns ++ Pearson.sums(f, "x", "y") ++
      Pearson.stages(f, "r2").flatten ++ Slope(f).columns ++
      Slope.stages(f).flatten ++ Slope.presentation(f, "sl") ++
      ratE6Stages(f, "a", "b", "r").flatten ++
      r2e6Stages(f, "c", "b", "d", "r2").flatten ++
      graft.queries.Stats.anovaRatios(f) ++ Seq(
        "bigSum" -> bigSum(f, "x"), "e6" -> e6(f, "a", "b"),
        "coMoment" -> coMoment(f, "n", "sxy", "sx", "sy"),
        "Pearson.nonDegenerate" -> Pearson(f).nonDegenerate,
        "Pearson.sign" -> Pearson.sign, "Pearson.digest" -> Pearson.digest(f),
        "Slope.nonDegenerate" -> Slope(f).nonDegenerate,
        "modDigest" -> modDigest(f, "x"), "safeAbs" -> safeAbs(f, "x"))
    cols.map { case (name, sql) => s"emitted $name" -> sql.toLowerCase }
  }

  /** Lint targets: each query/operator/function source file, then each
    * emitted SparkF text. */
  private lazy val lintTexts: Seq[(String, String)] =
    lintFiles.map(f => f.getName -> joinedSource(f)) ++ emittedSpark

  test("no abs() over a decimal cast in any Spark-side query source") {
    val callRe = "abs\\s*\\(".r
    val offenders = for {
      (name, t) <- lintTexts
      m <- callRe.findAllMatchIn(t)
      // exclude identifiers ending in abs (safeabs) and method calls (.abs)
      if m.start == 0 || !(t.charAt(m.start - 1).isLetterOrDigit ||
        t.charAt(m.start - 1) == '_' || t.charAt(m.start - 1) == '.')
      span = parenSpan(t, m.end - 1)
      if decimalCast.findFirstIn(span).isDefined
    } yield s"$name@${m.start}: abs(${span.take(70)}…)"
    assert(offenders.isEmpty,
      s"abs() over a Spark decimal cast (use ExactRatio.safeAbs):\n${offenders.mkString("\n")}")
  }

  test("no unary minus on a decimal cast in any Spark-side query source") {
    // negate has the same 34-digit loss as abs; spell it `0 - x` (binary
    // subtraction is exact at all 38 digits). A minus whose left-hand
    // neighbor is a value (identifier/digit/close-paren/quote-end) is
    // binary and allowed; after '(', ',', '"', or an operator it is unary.
    val minusCast = "-\\s*cast\\s*\\(".r
    val offenders = for {
      (name, t) <- lintTexts
      m <- minusCast.findAllMatchIn(t)
      p = prevNonSpace(t, m.start)
      if !(p.isLetterOrDigit || p == '_' || p == ')' || p == ']' || p == '\'')
      span = parenSpan(t, t.indexOf('(', m.start))
      if decimalCast.findFirstIn(span).isDefined
    } yield s"$name@${m.start}: ${p}-cast(${span.take(60)}…)"
    assert(offenders.isEmpty,
      s"unary minus on a Spark decimal cast (spell it `0 - x`):\n${offenders.mkString("\n")}")
  }

  /** VERDICT r18 item 2: applySparkDomain is repartition(1) — safe only
    * on bounded group-domain frames. Three-way armor: the audited
    * call-site census (a NEW caller goes red here and must be audited),
    * the armed guard rejecting a data-sized frame, and every production
    * caller running green under the armed guard.
    */
  test("applySparkDomain call-site census matches the audited bounded-domain set") {
    val callRe = "applysparkdomain\\s*\\(".r // joinedSource lowercases
    val audited = Map(
      // stats_corr_matrix (+ spearman's rank reuse) — k·(k+1)/2 column pairs
      "CorrMatrix.scala" -> 1,
      // text_zipf — bounded rank-bucket domain
      "Curation.scala" -> 1,
      // stats_spearman, events_autocorr, the shared one-way ANOVA tail
      // (stats_anova + stats_levene), stats_theil_u, stats_runs_test,
      // stats_benford_chisq, stats_kendall_tau — per-flag / per-lag /
      // per-group moment tables
      "Stats.scala" -> 7,
      // corpus_heaps — per-decile-prefix vocab curve (bounded bucket count)
      "Corpus.scala" -> 1)
    // ADVICE r19: walk ALL of src/main/scala (not just lintFiles) so a new
    // caller in multimodal/streaming/sources/plans/top-level — or inside
    // ExactRatio.scala itself — cannot evade the census; only the
    // definition site (`def applysparkdomain`) is excluded, by matching
    // the preceding `def` rather than skipping the whole file.
    // ADVICE r20: listFiles is null on a missing/unreadable dir and the
    // root is cwd-relative — fail with a readable assertion instead of an
    // opaque NPE when the suite runs from an unexpected working directory
    def walk(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).getOrElse(Array.empty[java.io.File]).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"census root ${root.getAbsolutePath} missing - the suite must run " +
        "from the repo root for the applySparkDomain call-site census")
    val counts = (for {
      f <- walk(root)
      t = joinedSource(f)
      n = callRe.findAllMatchIn(t).count { m =>
        "(^|[^a-z0-9_])def\\s*$".r.findFirstIn(t.take(m.start)).isEmpty
      } if n > 0
    } yield f.getName -> n).toMap
    assert(counts == audited,
      s"applySparkDomain call sites drifted vs the audited census " +
        s"(got $counts, audited $audited): every caller must feed a " +
        "BOUNDED group-domain frame - audit the new site's input shape, " +
        "prove the bound, and record it here")
  }

  test("armed domain guard rejects a data-sized input") {
    s.conf.set(ExactRatio.DomainGuardConf, "true")
    try {
      val big = s.range(ExactRatio.DomainRowBound + 1L)
        .selectExpr("cast(id + 1 as decimal(38,0)) as a",
          "cast(id + 2 as decimal(38,0)) as b")
      val e = intercept[IllegalArgumentException] {
        ExactRatio.applySparkDomain(big,
          ExactRatio.ratE6Stages(ExactRatio.SparkF, "a", "b", "r_e6"))
      }
      assert(e.getMessage.contains("serialize"), e.getMessage)
      // at the bound itself it must still pass (two-sided: the guard is
      // a ceiling, not a misfire on legitimate large-ish domains)
      ExactRatio.applySparkDomain(
        s.range(ExactRatio.DomainRowBound.toLong)
          .selectExpr("cast(id + 1 as decimal(38,0)) as a",
            "cast(id + 2 as decimal(38,0)) as b"),
        ExactRatio.ratE6Stages(ExactRatio.SparkF, "a", "b", "r_e6"))
        .write.format("noop").mode("overwrite").save()
    } finally s.conf.unset(ExactRatio.DomainGuardConf)
  }

  test("every production applySparkDomain caller is bounded under the armed guard") {
    val callers = Seq("stats_corr_matrix", "text_zipf", "stats_spearman",
      "events_autocorr", "stats_anova", "stats_theil_u", "stats_runs_test",
      "stats_benford_chisq", "stats_levene", "stats_kendall_tau",
      "corpus_heaps")
    s.conf.set(ExactRatio.DomainGuardConf, "true")
    try callers.foreach { k =>
      SparkEntry.queries(k)(s, TestSpark.sf)
        .write.format("noop").mode("overwrite").save()
      s.catalog.clearCache()
    } finally s.conf.unset(ExactRatio.DomainGuardConf)
  }

  test("modDigest == BigInt replica for signed decimal inputs") {
    val samples = (1 to 100).map { i =>
      val v = randDigits(1 + rnd.nextInt(37))
      (i.toLong, if (i % 2 == 0) -v else v)
    }
    import s.implicits._
    val df = samples.map { case (i, v) => (i, v.toString) }.toDF("id", "v_s")
      .select(col("id"), expr("cast(v_s as decimal(38,0))").as("v"))
    val out = df.withColumn("m9",
        expr(ExactRatio.modDigest(ExactRatio.SparkF, "v")))
      .select("id", "m9").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples.foreach { case (i, v) =>
      assert(out(i) == (v.abs mod BigInt(1000000007)).toLong, s"modDigest($v)")
    }
  }

  test("e6 and the Pearson co-moments == BigInt replica across 1..18-digit operands") {
    // e6's stated precondition: a >= 0, b >= 1, a/b < 9.2e12 — b keeps at
    // least digits(a) - 11 digits (a/b < 1e12); zero and unit edges included
    val ratios = (1 to 200).map { i =>
      val a = randDigits(1 + rnd.nextInt(18))
      val minB = math.max(1, a.toString.length - 11)
      (i.toLong, a, randDigits(minB + rnd.nextInt(19 - minB)))
    } :+ ((201L, BigInt(0), BigInt(1))) :+ ((202L, BigInt("999999999999"), BigInt(1)))
    // signed Pearson sums; sxy is negative on every 3rd sample, so samples
    // with sx·sy > 0 > n·sxy (negative covariance) are certain to appear
    val moments = (1 to 200).map { i =>
      def d18() = randDigits(1 + rnd.nextInt(18))
      val n = d18()
      val sx = if (i % 2 == 0) -d18() else d18()
      val sy = if (i % 4 < 2) -d18() else d18()
      val sxy = if (i % 3 == 0) -d18() else d18()
      (i.toLong, n, sx, sy, sxy, d18(), d18())
    }
    import s.implicits._
    val e6Out = ratios.map { case (i, a, b) => (i, a.toLong, b.toLong) }.toDF("id", "a", "b")
      .select(col("id"), expr(ExactRatio.e6(ExactRatio.SparkF, "a", "b")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ratios.foreach { case (i, a, b) =>
      assert(e6Out(i) == (BigInt(1000000) * a / b).toLong, s"e6($a, $b)")
    }
    val p = ExactRatio.Pearson(ExactRatio.SparkF)
    val sums = Seq("sx", "sy", "sxy", "sxx", "syy")
    val pOut = moments.map { case (i, n, sx, sy, sxy, sxx, syy) =>
        (i, n.toLong, sx.toString, sy.toString, sxy.toString, sxx.toString, syy.toString) }
      .toDF("id" +: "n" +: sums: _*)
      .select(col("id") +: col("n") +: sums.map(c => expr(s"cast($c as decimal(38,0))").as(c)): _*)
      .select(col("id") +: (ExactRatio.sparkCols(p.columns) ++ Seq(
        expr(p.nonDegenerate).as("ok"),
        expr(ExactRatio.Pearson.sign).as("sign"))): _*)
      .withColumn("m9", expr(ExactRatio.Pearson.digest(ExactRatio.SparkF)))
      .collect().map(r => r.getLong(0) -> r).toMap
    moments.foreach { case (i, n, sx, sy, sxy, sxx, syy) =>
      val r = pOut(i)
      val (cov, vxx, vyy) = (n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
      def big(k: String) = BigInt(r.getDecimal(r.fieldIndex(k)).toBigIntegerExact)
      assert(big("cov_n2") == cov && big("vxx") == vxx && big("vyy") == vyy,
        s"Pearson co-moments at n=$n sx=$sx sy=$sy sxy=$sxy")
      assert(r.getAs[Boolean]("ok") == (vxx > 0 && vyy > 0), s"nonDegenerate at $i")
      assert(r.getAs[Int]("sign") == cov.signum, s"sign at $i")
      assert(r.getAs[Long]("m9") == (cov.abs mod BigInt(1000000007)).toLong, s"digest at $i")
    }
    assert(moments.exists { case (_, n, sx, sy, sxy, _, _) => n * sxy - sx * sy < 0 },
      "the sample must include negative covariances")
  }
}
