package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at `SPARK_GRAFT_SF_DIR`.
  *
  * Methodology (round 3 — noise-robust): each query runs
  * `SPARK_GRAFT_BENCH_ITERS` times (default 3) and reports the MEDIAN, so a
  * single contended run on a shared machine cannot masquerade as a
  * regression (round 2's committed bench was load-contaminated for exactly
  * this reason). Warmup is a trivial scan of each base table through the
  * noop sink — NOT a benchmark-set query — so no query's reported time is
  * systematically advantaged by absorbing JVM/JIT/codegen warmup.
  */
object Bench {

  /** INDEX-BACKED rows (round 14): every registered query whose timed
    * region is served by maintained state `prewarmCaches` builds — the
    * six pair-frame variants (jaccard/minhash/simhash + the i711u/i711r
    * injected corpora), the q145 indexed layout, and the BPE merge table.
    * Their per-query seconds measure the CONSUMER of the index, not the
    * build; `cache_build_sec` carries the build cost (22.4 s cold
    * anchor). Emitted in both JSON lines ("index_backed" full names /
    * "ib" positional indices) so these rows cannot be read as raw-compute
    * query speed. SessionConfSpec pins only that every name is a
    * registered query and that the names are distinct; no test notices a
    * new cache consumer missing from this list. */
  val IndexBackedQueries: Seq[String] = Seq(
    "q27_ngram_jaccard", "q28_minhash_lsh", "q29_simhash",
    "q60_neardup_clusters", "q79_neardup_clusters_star",
    "q90_source_overlap", "q95_bpe_merges", "q96_bpe_encode",
    "q106_minhash_recall", "q107_quality_keeper",
    "q108_tokenizer_fertility", "q114_dedup_card",
    "q145_manifest_pruned_stats", "q190_detector_kappa",
    "q200_dedup_yield", "q201_minhash_calibration")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // all load-bearing confs (codegen-cache cap, shuffle partitions, UTC,
    // nanosAsLong) live in ONE factory — see GraftSession's scaladoc
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup outside the benchmark set: scan every base table once through
    // the noop sink (absorbs parquet-footer reads, codegen compiler and JIT
    // warmup without favoring any timed query).
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // One untimed COMPOSITE warm-up (not a benchmark query): a shuffle
    // join + hash agg + distinct-expand + window + global sort. The
    // table scans above don't touch the exchange/agg/window codegen
    // paths, so whichever queries sorted first (q01–q09) were absorbing
    // that compilation cost — 1.3–1.7× inflation in the r07 record.
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(sum("l_quantity").as("q"), countDistinct("l_partkey").as("d"))
        .withColumn("r",
          row_number().over(Window.partitionBy("l_returnflag").orderBy(desc("q"))))
        .orderBy("l_returnflag", "r")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Corpus-keyed cache prewarm (round 12), UNTIMED in the per-query
    // samples but REPORTED as its own number: on a fresh machine the six
    // pair-frame variants, the q145 layout and the BPE merge table
    // otherwise land inside whichever timed first iteration touches them,
    // so medians-of-3 carry a one-time infra cost that is neither the
    // query's steady state nor comparable between cold and warm machines.
    // cache_build_sec keeps the build chain OBSERVABLE: a regression in
    // the detector builds shows up here even though the per-query rows
    // are cache-warm by construction (BASELINE.md anchors the build cost
    // separately). ~0 on a warm machine (idempotent _READY probes).
    val tCache = System.nanoTime()
    try {
      graft.ext.Dedup.prewarmCaches(spark, sfDir)
      graft.ext.Rollup.prunedRangeStats(spark, sfDir)
      graft.ext.TextAnalysis.bpeMergesCached(spark, sfDir)
    } catch {
      // NEVER silent: a failed prewarm shifts the builds back into the
      // timed first iterations while cache_build_sec reads small —
      // exactly the skew this number exists to expose. The bench still
      // runs (queries build caches lazily), but the contamination is on
      // record in stderr. NonFatal only: an OOM/StackOverflow here means
      // the JVM is corrupted and any timed numbers would be fiction —
      // let it crash rather than bench a broken process.
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] cache prewarm FAILED — first timed " +
          s"iterations will pay cold builds: $t")
    }
    val cacheBuildSec = (System.nanoTime() - tCache) / 1e9
    // Cold-build regression gate (round 13): the warm rows stay green no
    // matter how slow the detector build chain gets — this number is the
    // ONLY place a build regression can surface. Anchor: 22.4 s cold at
    // sf0.1 (BASELINE.md, round 12); warm re-probes run ~4.4 s. A run
    // past 1.5x the cold anchor is flagged loudly (stderr — the JSON
    // contract is unchanged) so drift can't hide behind green queries.
    val coldBuildAnchorSec = 22.4
    if (cacheBuildSec > coldBuildAnchorSec * 1.5)
      System.err.println(f"[bench] cache_build_sec $cacheBuildSec%.1f s " +
        f"exceeds 1.5x the cold-build anchor ($coldBuildAnchorSec%.1f s) — " +
        "the detector build chain has regressed; profile prewarmCaches " +
        "before trusting this round's cache-warm rows")
    val indexBackedJson =
      IndexBackedQueries.mkString("[\"", "\",\"", "\"]")
    val failed = scala.collection.mutable.ListBuffer[String]()
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      // noop sink evaluates the FULL plan (projections + sorts) — count()
      // would let Catalyst prune the very expressions being benchmarked
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    }
    // Optional focus list for settled single-query adjudication
    // (comma-separated full names); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // iteration-major order (all queries, then repeat): consecutive runs of
    // the same query would share page-cache/JIT state unrealistically
    val samples = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    (1 to iters).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        timeOnce(name, fn) match {
          case Some(sec) => samples(name) = samples(name) :+ sec
          case None => if (!failed.contains(name)) failed += name
        }
      }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // queries that failed ANY iteration appear ONLY in the "failed" array —
    // a partial median in the maps would read as a (misleadingly fast)
    // clean run and make sum(queries) != value for downstream consumers
    val results = ordered.collect {
      case (name, _) if !failed.contains(name) =>
        name -> (median(samples(name)), samples(name).min)
    }
    val qs = results.map { case (k, (med, _)) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, (_, mn)) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val minTotal = results.map(_._2._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.mkString(",\"failed\":[\"", "\",\"", "\"]")
    // per-iteration samples (full file only): adjudicating a fat median
    // needs the iteration spread — one contended iteration vs a uniform
    // drift read identically in a median but differently here
    val samplesJson = ordered.collect {
      case (name, _) if !failed.contains(name) =>
        s"\"" + name + "\":" + samples(name).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"min_total":$minTotal,"cache_build_sec":$cacheBuildSec,"index_backed":$indexBackedJson,"queries":$qs,"query_min":$mins,"samples":$samplesJson,"sf":"$sfDir"$failedJson}"""
    // Full-precision record → file (survives any stdout truncation) + one
    // human-readable print for anyone scrolling the log.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_full.json"), full)
    catch { case _: Throwable => () }
    println(full)
    // The driver keeps only a ~2000-char TAIL of stdout; with 95+ queries
    // the full-name full-precision line is ~5k chars and gets cut mid-map
    // (rounds 3-5 all shipped truncated tails). So the LAST line printed is
    // a compact twin guaranteed to fit: query keys shortened to their qNN
    // prefix (unique by construction), medians rounded to milliseconds.
    // Full names + full precision live in target/bench_full.json and the
    // line above.
    // Round-11 restructure: the per-query MAP form ("146":1.3,...) measured
    // 1912 chars at 192 queries — the ~1950-char usable tail was full and
    // every per-char trim (bare-number keys, 1-dp, whole numbers bare, no
    // "iters", build.sbt's [success] suppression) was already spent. The
    // compact twin now carries per-query medians as a POSITIONAL array
    // "qs":[...] ordered by SORTED REGISTRY NAME (the same lexicographic
    // order as the full line's map and BASELINE.md's anchor table), which
    // drops the ~6-char "NNN": key per entry: measured 894 chars at 192
    // queries — ~53% headroom, and each new query costs ~4 chars instead
    // of ~10. A FAILED query holds position as null (so indices never
    // shift) and its name still appears in "failed". "n" is the registry
    // count for a positional sanity check; full names + full precision
    // live in the first stdout line and target/bench_full.json (named in
    // "detail").
    def num1(x: Double): String = {
      val v = math.rint(x * 10) / 10
      if (v == math.rint(v)) v.toLong.toString else v.toString
    }
    val medByName = results.toMap
    val compactVals = ordered.map { case (name, _) =>
      medByName.get(name).map { case (med, _) => num1(med) }.getOrElse("null")
    }.mkString("[", ",", "]")
    // index-backed rows as POSITIONS into the same sorted-registry order
    // as "qs" (full names are in the full line's "index_backed") — ~4
    // chars per entry keeps the compact line inside the ~2000-char tail
    val ibIdx = ordered.map(_._1).zipWithIndex.collect {
      case (name, i) if IndexBackedQueries.contains(name) => i
    }.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${num1(total)},"unit":"sec","min_total":${num1(minTotal)},"cb":${num1(cacheBuildSec)},"n":${ordered.size},"ib":$ibIdx,"qs":$compactVals,"detail":"target/bench_full.json","sf":"$sfDir"$failedJson}""")
    spark.stop()
  }
}
