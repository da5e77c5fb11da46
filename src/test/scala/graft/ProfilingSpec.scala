package graft

import org.apache.spark.sql.functions._

/** The sketch profile against exact values: the scale variants must stay
  * within published error bounds at test SF, and the q47/q59 gate wrappers
  * must report every bound as satisfied. */
class ProfilingSpec extends SparkSpec {

  test("approx profile tracks exact distinct counts and percentiles") {
    val exactNd = Tables.lineitem(spark, sf)
      .agg(
        countDistinct(col("l_quantity")).as("l_quantity"),
        countDistinct(col("l_extendedprice")).as("l_extendedprice"),
        countDistinct(col("l_discount")).as("l_discount"))
      .collect().head
    val exactP50 = Tables.lineitem(spark, sf)
      .agg(
        expr("percentile(l_quantity, 0.5)").as("l_quantity"),
        expr("percentile(l_extendedprice, 0.5)").as("l_extendedprice"),
        expr("percentile(l_discount, 0.5)").as("l_discount"))
      .collect().head
    val approx = queries.Profiling.approxProfile(Tables.lineitem(spark, sf),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount")) {
      val nd = exactNd.getAs[Long](c).toDouble
      val and = approx(c).getAs[Long]("approx_distinct").toDouble
      assert(math.abs(and - nd) / nd <= 0.05,
        s"$c approx_count_distinct $and vs exact $nd")
      val p50 = exactP50.getAs[Double](c)
      val ap50 = approx(c).getAs[Double]("p50")
      // GK sketch: rank error ≤ 1/accuracy; translate loosely to value space
      val span = math.max(math.abs(p50), 1.0)
      assert(math.abs(ap50 - p50) / span <= 0.05,
        s"$c percentile_approx $ap50 vs exact $p50")
      assert(approx(c).getAs[Double]("p99") >= ap50, s"$c p99 < p50")
    }
  }

  test("q47/q59 gate wrappers: every sketch bound check holds") {
    for (q <- Seq("q47_approx_profile", "q59_approx_profile_orders")) {
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.nonEmpty, s"$q empty")
      rows.foreach { r =>
        val c = r.getAs[String]("column_name")
        assert(r.getAs[Boolean]("nd_ok"), s"$q/$c HLL outside 5% of exact")
        // p50_ok/p99_ok are NULL for string columns by contract
        if (!r.isNullAt(r.fieldIndex("p50_ok")))
          assert(r.getAs[Boolean]("p50_ok"), s"$q/$c p50 rank bound violated")
        if (!r.isNullAt(r.fieldIndex("p99_ok")))
          assert(r.getAs[Boolean]("p99_ok"), s"$q/$c p99 rank bound violated")
        assert(r.getAs[Long]("exact_distinct") > 0, s"$q/$c no distinct values")
      }
    }
  }

  test("correlation matrix: planted linear dependence scores ±1, independence ~0") {
    import graft.queries.Profiling
    import spark.implicits._
    // quantity ∝ price (r=+1), discount = -quantity scaled (r=-1),
    // tax cycles independently of all
    val df = (1 to 400).map { i =>
      ((i % 40 + 1).toDouble, 2.0 * (i % 40 + 1), 0.5 - 0.01 * (i % 40 + 1),
        0.01 * (i % 7))
    }.toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val r = Profiling.correlationMatrix(df).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getAs[Double]("pearson_r"))
      .toMap
    def get(a: String, b: String) = r.getOrElse((a, b), r((b, a)))
    assert(math.abs(get("l_quantity", "l_extendedprice") - 1.0) < 1e-6)
    assert(math.abs(get("l_quantity", "l_discount") + 1.0) < 1e-6)
    r.collect { case ((a, b), v) if a == "l_tax" || b == "l_tax" => v }
      .foreach(v => assert(math.abs(v) < 0.2, s"tax should be ~independent: $v"))
  }

  test("chi-square: independent layout scores ~0; a planted cell dominates") {
    import graft.queries.Profiling
    import spark.implicits._
    // perfectly independent 2×2 — every cell's expected equals observed
    val indep = Seq.fill(50)(("en", "a")) ++ Seq.fill(50)(("en", "b")) ++
      Seq.fill(50)(("de", "a")) ++ Seq.fill(50)(("de", "b"))
    val r1 = Profiling.chiSquareIndependence(indep.toDF("lang", "source")).collect()
    r1.foreach(r => assert(r.getAs[Long]("chi2_micro") == 0L, s"$r"))
    // source 'x' publishes ONLY German — its cells must carry the statistic
    val dep = indep ++ Seq.fill(100)(("de", "x"))
    val r2 = Profiling.chiSquareIndependence(dep.toDF("lang", "source")).collect()
    val xCells = r2.filter(_.getAs[String]("source") == "x")
    assert(xCells.map(_.getAs[Long]("chi2_micro")).sum > 10 * 1000000L,
      "planted dependence must produce a large statistic")
  }

  test("scalable interpolating percentiles ≡ built-in percentile (the q57 drop-in differential)") {
    import graft.queries.Profiling
    val events = Tables.events(spark, sf)
    val builtin = SparkEntry.queries("q57_grouped_percentiles")(spark, sf)
      .collect().map(_.toSeq)
    val scalable = Profiling.groupedPercentilesScalable(events)
      .collect().map(_.toSeq)
    assert(builtin.nonEmpty)
    assert(scalable.toSeq == builtin.toSeq,
      s"rank-selection percentiles diverge from the built-in:\n" +
        s"builtin=${builtin.toSeq}\nscalable=${scalable.toSeq}")
    // and on a frame whose interpolation fractions exercise every branch
    // (n per group chosen so 0.9·(n−1) lands on AND off integers)
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (1 to 11).map(i => ("a", rnd.nextInt(10000) / 100.0)) ++
      (1 to 40).map(i => ("b", rnd.nextInt(10000) / 100.0)) ++
      (1 to 101).map(i => ("c", rnd.nextInt(500) / 100.0))
    val df = rows.map { case (g, v) =>
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), g, v)
    }.toDF("event_id", "ts", "event_type", "value")
    val builtin2 = df.groupBy("event_type").agg(count(lit(1)).as("n"),
        graft.functions.Functions.round4(expr("percentile(value, 0.5)")).as("p50"),
        graft.functions.Functions.round4(expr("percentile(value, 0.9)")).as("p90"),
        graft.functions.Functions.round4(expr("percentile(value, 0.99)")).as("p99"))
      .orderBy("event_type").collect().map(_.toSeq)
    val scalable2 = Profiling.groupedPercentilesScalable(df)
      .collect().map(_.toSeq)
    assert(scalable2.toSeq == builtin2.toSeq,
      s"divergence on fraction-stress frame:\n$builtin2\n$scalable2")
  }

  test("q18 ungrouped exact percentile ≡ built-in percentile, bit-for-bit (round-14 scale form)") {
    import graft.queries.Profiling
    // UNROUNDED doubles compared exactly — the drop-in claim is bitwise,
    // not 4-decimal
    val li = Tables.lineitem(spark, sf)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    for (p <- Seq(0.5, 0.9)) {
      val builtin = li.agg(
          expr(s"percentile(${cols.head}, $p)").as(cols.head),
          cols.tail.map(c => expr(s"percentile($c, $p)").as(c)): _*)
        .head()
      val got = Profiling.exactPercentilesUngrouped(li, cols, p)
        .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("p_exact"))
        .toMap
      cols.foreach { c =>
        assert(got(c) == builtin.getAs[Double](c),
          s"$c@$p: rank-selection ${got(c)} != builtin ${builtin.getAs[Double](c)}")
      }
    }
    // edge frame: odd/even counts (integral and .5 positions), a single-
    // distinct-value column, a null-carrying column, sub-cent value
    // spacing (quantization-hostile), and a cluster next to one far
    // outlier (the whole cluster lands in ONE first-level bucket);
    // bigBucket = 0 forces the recursive branches on the same frame —
    // the const-bucket shortcut (a-d) and ranking inside a many-valued
    // sub-bucket (e)
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val n = 1001
    val df = (1 to n).map { i =>
      (rnd.nextDouble() * 1e-4 + 1.0,         // tight range, distinct doubles
        if (i <= 1000) rnd.nextInt(100) / 7.0 else Double.NaN, // even count via null below
        42.42,                                 // single distinct value
        rnd.nextInt(5000) / 100.0,
        if (i < n) rnd.nextInt(100000) / 100.0 else 1e9) // cluster + outlier
    }.toDF("a", "b0", "c", "d", "e")
      .withColumn("b", when(col("b0").isNaN, lit(null)).otherwise(col("b0")))
    val cols2 = Seq("a", "b", "c", "d", "e")
    for (p <- Seq(0.5, 0.25); bb <- Seq(Profiling.BigBucketRows, 0L)) {
      val builtin = df.agg(
          expr(s"percentile(${cols2.head}, $p)").as(cols2.head),
          cols2.tail.map(c => expr(s"percentile($c, $p)").as(c)): _*)
        .head()
      val got = Profiling.exactPercentilesUngrouped(df, cols2, p, bb)
        .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("p_exact"))
        .toMap
      cols2.foreach { c =>
        assert(got(c) == builtin.getAs[Double](c),
          s"$c@$p bigBucket=$bb: ${got(c)} != ${builtin.getAs[Double](c)}")
      }
    }
  }

  test("q156 MAD: planted outlier flags via median/MAD where the mean-based z-score degrades") {
    import spark.implicits._
    // {1..9, 1000}: median = 5 (n=10, rank ceil(n/2)=5), deviations sorted
    // {0,1,1,2,2,3,3,4,4,995} → MAD = 2; only the outlier exceeds 3·MAD.
    // The q70-style mean/stddev pair is dragged BY the outlier (mean≈104,
    // sigma≈298 → the outlier's own z barely clears 3 and grows no further
    // as the outlier grows); median/MAD flag it at any magnitude.
    val ev = ((1 to 9).map(_.toDouble) :+ 1000.0).map(("view", _))
      .toDF("event_type", "value")
    val r = queries.Profiling.madOutliers(ev).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 10)
    assert(r.head.getAs[Double]("median") == 5.0)
    assert(r.head.getAs[Double]("mad") == 2.0)
    assert(r.head.getAs[Long]("n_outliers") == 1)
  }

  test("q160 equi-depth: uniform data splits evenly; a heavy tie value absorbs its whole run") {
    import spark.implicits._
    // 1..100 → every decile holds exactly 10 values with cut d at 10·d
    val uniform = (1 to 100).map(v => (0L, v.toLong)).toDF("g", "v")
    val u = queries.Profiling.equiDepthHist(uniform).collect()
    assert(u.length == 10)
    u.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("bucket") == i)
      assert(r.getAs[Long]("n_rows") == 10, s"bucket $i: $r")
      assert(r.getAs[Long]("lo_cents") == i * 10 + 1)
      assert(r.getAs[Long]("hi_cents") == (i + 1) * 10)
    }
    // 91 copies of one value + 1..9: every decile cut lands ON the heavy
    // value, so all nine cuts coincide and the tie rule (v > cut) parks
    // the entire run in ONE bucket — uneven populations are the signal
    val ties = ((1 to 9).map(_.toLong) ++ Seq.fill(91)(50L))
      .map((0L, _)).toDF("g", "v")
    val t = queries.Profiling.equiDepthHist(ties).collect()
    assert(t.map(_.getAs[Long]("n_rows")).sum == 100)
    val heavy = t.filter(r => r.getAs[Long]("lo_cents") <= 50 &&
      r.getAs[Long]("hi_cents") >= 50)
    assert(heavy.length == 1 && heavy.head.getAs[Long]("n_rows") >= 91,
      s"heavy tie value split across buckets: ${t.mkString(", ")}")
  }

  test("q161 Benford: a planted Benford sample passes; a uniform-digit sample flags") {
    import spark.implicits._
    // counts = round(Benford·1000) per leading digit (sum exactly 1000):
    // every per-digit z² stays inside 1.96²
    val benfordCounts = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val benford = benfordCounts.zipWithIndex
      .flatMap { case (c, i) => Seq.fill(c)((i + 1).toDouble) }
      .toDF("value")
    val ok = queries.Profiling.benfordAudit(benford).collect()
    assert(ok.length == 9)
    ok.foreach(r => assert(r.getAs[Boolean]("within_95"),
      s"Benford-distributed digits should pass: $r"))
    // uniform digits: digit 1 observes 111 where Benford expects ~301 of
    // 999 — far outside the envelope; digit 4 (expected ~97) stays inside
    val uniform = (1 to 9).flatMap(d => Seq.fill(111)(d.toDouble)).toDF("value")
    val u = queries.Profiling.benfordAudit(uniform).collect()
      .map(r => r.getAs[String]("digit") -> r.getAs[Boolean]("within_95"))
      .toMap
    assert(!u("1"), "uniform digits must fail Benford on digit 1")
    assert(u("4"), "digit 4 sits at the uniform/Benford crossover")
  }

  test("q164 Gini: perfect equality scores 0, one-holder concentration scores (n-1)/n") {
    import spark.implicits._
    // 'eq': four equal values → num 0; 'mx': {0,0,0,100} → G = 3/4 exactly
    val vals = (Seq.fill(4)(100L).map(("eq", _)) ++
      (Seq(0L, 0L, 0L, 100L).map(("mx", _)))).toDF("g", "v")
    val r = queries.Profiling.giniConcentration(vals).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("eq").getAs[Long]("gini_num") == 0L)
    assert(r("eq").getAs[Long]("gini_ppm") == 0L)
    assert(r("mx").getAs[Long]("gini_num") == 300L)
    assert(r("mx").getAs[Long]("gini_den") == 400L)
    assert(r("mx").getAs[Long]("gini_ppm") == 750000L)
  }

  test("q169 bootstrap: CI brackets the full mean and is tight at gate scale") {
    val r = SparkEntry.queries("q169_bootstrap_ci")(spark, sf).collect().head
    assert(r.getAs[Long]("n_resamples") == 32)
    assert(r.getAs[Boolean]("ci_contains_full"),
      s"bootstrap CI must bracket the full mean: $r")
    val lo = r.getAs[Long]("ci_lo_scaled")
    val hi = r.getAs[Long]("ci_hi_scaled")
    val fm = r.getAs[Long]("full_mean_scaled")
    assert(lo < hi, "degenerate CI")
    // ~94% CI of a mean over n iid rows shrinks like 1/√n — at sf0.01's
    // 15k orders the half-width must sit well inside ±5% of the mean
    assert((hi - lo).toDouble / fm < 0.10,
      s"CI implausibly wide: [$lo, $hi] around $fm")
  }

  test("q173 boxplot: exact quartiles, integer Tukey fences (low fence floors negative), planted outlier") {
    import spark.implicits._
    // 1..100 + one 1000: n=101 → q1 at rank 26, q2 at 51, q3 at 76;
    // fences (5·26−3·76)/2 = −49 (floor!) and (5·76−3·26)/2 = 151 —
    // only the 1000 falls outside
    val ev = ((1 to 100).map(_.toDouble) :+ 1000.0).map(("view", _))
      .toDF("event_type", "value")
    val r = queries.Profiling.boxplot(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n") == 101)
    assert(row.getAs[Long]("q1_micro") == 26000000L)
    assert(row.getAs[Long]("q2_micro") == 51000000L)
    assert(row.getAs[Long]("q3_micro") == 76000000L)
    assert(row.getAs[Long]("lo_fence") == -49000000L, s"$row")
    assert(row.getAs[Long]("hi_fence") == 151000000L)
    assert(row.getAs[Long]("n_outliers") == 1)
  }

  test("q178 ESS: equal weights are worth n; one dominant weight collapses toward 1") {
    import spark.implicits._
    val vals = (Seq.fill(50)(("eq", 10L)) ++
      (Seq.fill(3)(1L) :+ 97L).map(("mx", _))).toDF("g", "w")
    val r = queries.Profiling.effectiveSampleSize(vals).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("eq").getAs[Long]("ess_rows") == 50)
    assert(r("eq").getAs[Long]("ess_ratio_ppm") == 1000000L)
    // {1,1,1,97}: ESS = 100²/9412 ≈ 1.06 — the "corpus" is worth one doc
    assert(r("mx").getAs[Long]("ess_rows") == 1)
    assert(r("mx").getAs[Long]("ess_ratio_ppm") ==
      BigInt(1000000) * 10000 / (4 * 9412), s"${r("mx")}")
  }

  test("q179 runs test: sorted and alternating streams reject; an interleaved one does not") {
    import spark.implicits._
    // 29 lows + 1 exact-median row (5.0, dropped as a tie) + 30 highs:
    // sorted arrival → R=2 (far too few runs), strict alternation →
    // R=59 (far too many), a fair shuffle → no rejection
    val rnd = new scala.util.Random(41)
    val sorted = (1 to 29).map(i => ("view", i.toLong, 1.0)) ++
      Seq(("view", 30L, 5.0)) ++
      (31 to 60).map(i => ("view", i.toLong, 9.0))
    val alternating = (1 to 59).map(i =>
      ("click", i.toLong, if (i % 2 == 0) 1.0 else 9.0)) ++
      Seq(("click", 60L, 5.0))
    val shuffled = rnd.shuffle((1 to 29).map(_ => 1.0) ++
      (1 to 30).map(_ => 9.0)).zipWithIndex.map { case (v, i) =>
      ("error", (i + 1).toLong, v) } ++ Seq(("error", 60L, 5.0))
    val ev = (sorted ++ alternating ++ shuffled)
      .toDF("event_type", "event_id", "value")
    val r = queries.Profiling.runsTest(ev).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    assert(r("view").getAs[Long]("a") == 30 &&
      r("view").getAs[Long]("b") == 29, s"${r("view")}")
    assert(r("view").getAs[Long]("r_runs") == 2)
    assert(r("view").getAs[Boolean]("reject_05"), s"${r("view")}")
    assert(r("click").getAs[Long]("r_runs") == 59)
    assert(r("click").getAs[Boolean]("reject_05"), s"${r("click")}")
    assert(!r("error").getAs[Boolean]("reject_05"), s"${r("error")}")
  }

  test("q158 KS: a planted location shift rejects; an identical distribution does not") {
    import spark.implicits._
    // 'click' = 'view' + 500 (disjoint supports → D numerator = n_b·n_x,
    // certain rejection); 'error'/'purchase'/'signup' ≡ 'view' (D = 0).
    val base = (0 until 100).map(_.toDouble)
    val ev = (base.map(("view", _)) ++ base.map(v => ("click", v + 500.0)) ++
      Seq("error", "purchase", "signup").flatMap(t => base.map((t, _))))
      .toDF("event_type", "value")
    val r = queries.Profiling.ksDrift(ev).collect()
      .map(x => x.getAs[String]("vs_type") -> x).toMap
    assert(r("click").getAs[Boolean]("reject_05"), "complete shift must reject")
    assert(r("click").getAs[Long]("ks_num") == 100L * 100L)
    assert(!r("error").getAs[Boolean]("reject_05"))
    assert(r("error").getAs[Long]("ks_num") == 0L)
    assert(r.keys.toSet == Set("click", "error", "purchase", "signup"))
  }

  test("q159 MWU: complete separation rejects; identical distributions hold the partition identity") {
    import spark.implicits._
    val base = (0 until 100).map(_.toDouble)
    val ev = (base.map(("view", _)) ++ base.map(v => ("click", v + 500.0)) ++
      Seq("error", "purchase", "signup").flatMap(t => base.map((t, _))))
      .toDF("event_type", "value")
    val r = queries.Profiling.mannWhitney(ev).collect()
      .map(x => x.getAs[String]("vs_type") -> x).toMap
    // every 'view' value sits below every 'click' value → zero base wins
    assert(r("click").getAs[Long]("u2_base") == 0L)
    assert(r("click").getAs[Long]("u2_other") == 2L * 100 * 100)
    assert(r("click").getAs[Boolean]("reject_05"), "separation must reject")
    // identical distributions: every pair is a tie half-win → U2 = n·n
    assert(r("error").getAs[Long]("u2_base") == 100L * 100L)
    assert(!r("error").getAs[Boolean]("reject_05"))
    r.values.foreach(x => assert(x.getAs[Boolean]("identity_ok"),
      s"U2 partition identity broken for ${x.getAs[String]("vs_type")}"))
  }

  test("bins guards: derivers fail LOUDLY past the documented bins bound; healthy data unchanged") {
    import spark.implicits._
    // 5 distinct values per group → __nb = 5; a bound of 4 must raise,
    // the default bound must serve the same values as before the guard
    val ev = (for (g <- Seq("view", "click"); v <- 1 to 5; _ <- 1 to 2)
      yield (g, v.toDouble)).toDF("event_type", "value")
    val bins = queries.Profiling.medianBins(ev)
    val ok = queries.Profiling.medianFromBins(bins).collect()
    assert(ok.length == 2 && ok.forall(_.getAs[Double]("median") == 3.0))
    val e = intercept[Exception](
      queries.Profiling.medianFromBins(bins, maxBins = 4L).collect())
    assert(e.getMessage.contains("value-bins state exceeded"),
      s"wrong failure: ${e.getMessage}")
    val e2 = intercept[Exception](
      queries.Profiling.quantilesFromBins(bins, maxBins = 4L).collect())
    assert(e2.getMessage.contains("value-bins state exceeded"))
    // distribution tests share the guard through their own bins
    val dist = (Seq("view", "click", "error", "purchase", "signup")
      .flatMap(t => (1 to 6).map(v => (t, v.toDouble)))).toDF("event_type", "value")
    val e3 = intercept[Exception](
      queries.Profiling.ksFromBins(
        queries.Profiling.distTestBins(dist), maxBins = 5L).collect())
    assert(e3.getMessage.contains("value-bins state exceeded"))
    val e4 = intercept[Exception](
      queries.Profiling.mannWhitneyFromBins(
        queries.Profiling.distTestBins(dist), maxBins = 5L).collect())
    assert(e4.getMessage.contains("value-bins state exceeded"))
    val e5 = intercept[Exception](
      queries.Profiling.giniConcentration(
        dist.select(col("event_type").as("g"),
          (col("value") * 100).cast("long").as("v")), maxBins = 5L).collect())
    assert(e5.getMessage.contains("value-bins state exceeded"))
    val e6 = intercept[Exception](
      queries.Profiling.percentileRank(
        dist.select(monotonically_increasing_id().as("event_id"),
          (col("value") * 100).cast("long").as("v")), maxBins = 5L).collect())
    assert(e6.getMessage.contains("value-bins state exceeded"))
  }

  test("bins coarse-quantization knob: state shrinks by ~quantUnit, median error bounded by it") {
    import spark.implicits._
    // values 0.000001..0.001000 in micro steps: 1000 exact bins; at
    // quantUnit=100 the state is 10x smaller and the median lands within
    // 100 micro-units of the exact one
    val ev = (1 to 1000).map(i => ("view", i / 1e6)).toDF("event_type", "value")
    val exactBins = queries.Profiling.medianBins(ev)
    val coarseBins = queries.Profiling.medianBins(ev, quantUnit = 100L)
    assert(exactBins.count() == 1000L)
    assert(coarseBins.count() == 11L) // 0, 100, ..., 1000 micro
    val exact = queries.Profiling.medianFromBins(exactBins)
      .collect().head.getAs[Double]("median")
    val coarse = queries.Profiling.medianFromBins(coarseBins)
      .collect().head.getAs[Double]("median")
    assert(math.abs(coarse - exact) <= 100 / 1e6 + 1e-12,
      s"coarse median $coarse drifted past the quantUnit bound from $exact")
  }
}
