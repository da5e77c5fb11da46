package graft.perfbench

import graft.{GraftSession, QuerySpec}
import graft.ext.{CorpusBuild, Multimodal, Rollup}
import graft.pipeline._
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.MapType

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark process for one workload run: times calls into the engine's
  * public functions in a closed loop (one client) and writes a JSON record
  * of raw samples, spans and failures for `perfbench/run.py`, which turns
  * it into metrics and checks query outputs against the references.
  *
  *   PerfBench --workload <query_mix|pipeline_batch|stream_admit>
  *     --seed <n> --seconds <s> --trace <0|1> --data <tables dir>
  *     --inputs <seed-staged inputs dir> --work <scratch dir> --out <json>
  *     [--mix <query,query,...|all> --passes <n>]
  *
  * With --trace 1, units of work run in untraced / traced / traced /
  * untraced blocks (stream_admit: traced / untraced); only the traced
  * ones run with the listeners registered, and the two sides give the
  * tracing overhead.
  */
object PerfBench {

  /** The 18 modules `SparkEntry` aggregates, in its order. */
  val Modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "queries.Relational" -> graft.queries.Relational.all,
    "queries.PipelineQueries" -> graft.queries.PipelineQueries.all,
    "queries.Profiling" -> graft.queries.Profiling.all,
    "ext.TextAnalysis" -> graft.ext.TextAnalysis.all,
    "ext.Dedup" -> graft.ext.Dedup.all,
    "ext.Similarity" -> graft.ext.Similarity.all,
    "ext.Sampling" -> graft.ext.Sampling.all,
    "ext.Packing" -> graft.ext.Packing.all,
    "ext.Redaction" -> graft.ext.Redaction.all,
    "ext.Snapshot" -> graft.ext.Snapshot.all,
    "ext.CorpusBuild" -> graft.ext.CorpusBuild.all,
    "ext.LmScore" -> graft.ext.LmScore.all,
    "ext.Selection" -> graft.ext.Selection.all,
    "pipeline.Ingest" -> graft.pipeline.Ingest.all,
    "ext.Multimodal" -> graft.ext.Multimodal.all,
    "ext.Integrity" -> graft.ext.Integrity.all,
    "ext.Rollup" -> graft.ext.Rollup.all,
    "queries.Advanced" -> graft.queries.Advanced.all)

  /** The registered queries named in `names` ("all": the whole registry),
    * each with its module, in registry order. */
  def mix(names: String): Seq[(String, QuerySpec)] = {
    val all = Modules.flatMap { case (m, qs) => qs.map(q => (m, q)) }
    if (names == "all") all
    else {
      val want = names.split(",").toSet
      val found = all.filter(q => want(q._2.name))
      require(found.size == want.size,
        s"not registered: ${(want -- found.map(_._2.name)).mkString(", ")}")
      found
    }
  }

  /** Pipeline units every run measures; a unit is a load followed by an
    * upsert of each staged delta (`<inputs>/delta_<k>`), in order. */
  val MinPipelineUnits = 3
  val UpsertsPerUnit = 3

  /** Untimed units of each workload before the window opens. */
  val WarmPasses = 1
  val WarmPipelineUnits = 1

  /** Drains of the feed every stream_admit run measures. */
  val MinDrains = 1

  /** Planted duplicates carry ids at or above this offset. */
  val DupOffset = 1000000L

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, inputs: String, work: String, out: String,
      mix: String, passes: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("inputs"), m("work"), m("out"),
      m.getOrElse("mix", "all"), m.getOrElse("passes", "1").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.builder("4")
      .config("spark.graft.cacheRoot", s"file:${a.work}/cache")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a)
    run.record("session_ready_ms") = System.currentTimeMillis()
    try a.workload match {
      case "query_mix" => run.queryMix()
      case "pipeline_batch" => run.pipelineBatch()
      case "stream_admit" => run.streamAdmit()
      case w => sys.error(s"unknown workload $w")
    } finally {
      Files.writeString(Paths.get(a.out), run.toJson)
      spark.stop()
    }
  }
}

object Run {
  /** Memory the engine holds, in MiB: the heap still live after a full
    * collection, plus committed non-heap (metaspace, code cache). Unlike
    * the resident set, it does not read back the JVM's heap size. The
    * second collection takes what Spark's ContextCleaner released (on its
    * own thread) once the first had collected the broadcasts and shuffles
    * nothing refers to any more. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getCommitted) / 1048576.0
  }

  def dirBytes(f: File, sinceMs: Long = 0L): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) {
      if (f.lastModified() >= sinceMs && !f.getName.startsWith(".")) (f.length(), 1L)
      else (0L, 0L)
    } else f.listFiles().map(dirBytes(_, sinceMs))
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Order-insensitive content hash: row count plus the two 32-bit halves
    * of each row's xxhash64, summed. Columns are hashed in name order. */
  def hashCols(df: DataFrame): Seq[Column] = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h =
      if (df.schema.exists(_.dataType.isInstanceOf[MapType]) || cols.isEmpty)
        xxhash64(to_json(struct(cols: _*)))
      else xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("h1"),
      sum(shiftrightunsigned(h, 32)).as("h2"))
  }

  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(hashCols(df).head, hashCols(df).tail: _*).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2))
  }
}

final class Run(spark: SparkSession, a: PerfBench.Args) {
  import PerfBench._

  val record = mutable.LinkedHashMap[String, Any]()
  val tracer = new Tracer(spark)
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private val units = mutable.ArrayBuffer[Map[String, Any]]()

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Records an operation's failure with its exception class and message. */
  def fail(op: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    failures += Map("op" -> op, "class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000),
      "root_class" -> root.getClass.getName,
      "root_message" -> String.valueOf(root.getMessage).take(2000))
    System.err.println(s"[perfbench] FAILED $op: ${e.getClass.getName}: ${e.getMessage}")
  }

  def failCheck(op: String, msg: String): Unit =
    fail(op, new AssertionError(s"output check failed: $msg"))

  /** One attempted operation; a throw is recorded, never dropped. */
  def attempt[A](op: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(op, e); None }
  }

  def check(op: String)(cond: => Boolean, msg: => String): Unit =
    try { if (!cond) failCheck(op, msg) }
    catch { case NonFatal(e) => fail(op, e) }

  /** A value an output check needs; a throw is recorded as its failure. */
  def checkValue[A](op: String)(body: => A): Option[A] =
    try Some(body)
    catch { case NonFatal(e) => fail(op, e); None }

  /** Closed loop: after `warmUnits` untimed units (negative indices),
    * units run back to back until the window is spent. With tracing,
    * units run in blocks of `block` (traced or not per position), at least
    * one block: untraced / traced / traced / untraced by default, so a
    * warming JVM biases neither side of the overhead pairs. */
  private def loop(minUnits: Int, warmUnits: Int,
      block: Seq[Boolean] = Seq(false, true, true, false))(
      unit: (Int, Boolean) => Map[String, Any]): Unit = {
    // set-up: the same unit of work, untimed, until the JIT has settled
    val tw = now()
    (1 to warmUnits).foreach(w => unit(-w, false))
    record("warm_units_s") = secs(tw)
    val t0 = now()
    var i = 0
    val need = if (a.trace) math.max(minUnits, block.size) else minUnits
    while (i < need || secs(t0) < a.seconds || (a.trace && i % block.size != 0)) {
      val traced = a.trace && block(i % block.size)
      tracer.nextUnit()
      val t = now()
      val extra = tracer.traced(traced)(unit(i, traced))
      val wall = secs(t)
      units += (Map[String, Any]("unit" -> tracer.currentUnit, "index" -> i,
        "traced" -> traced, "wall_s" -> wall, "live_mb" -> Run.liveMb()) ++ extra)
      i += 1
    }
  }

  // ---- query_mix ---------------------------------------------------------

  private val queryRows = mutable.ArrayBuffer[Map[String, Any]]()

  private def runQuery(m: String, q: QuerySpec, pass: Int, traced: Boolean): Double = {
    val t0 = now()
    var build = 0.0
    var exec = 0.0
    var out: Option[(Long, Long, Long)] = None
    tracer.span(s"$m.${q.name}", "query") {
      tracer.attr("module", m)
      attempt(q.name) {
        val tb = now()
        val df = tracer.span("build", "build")(q.run(spark, a.data))
        build = secs(tb)
        val obs = Observation(s"q${tracer.spans.size}")
        val hc = Run.hashCols(df)
        val te = now()
        tracer.span("exec", "exec") {
          df.observe(obs, hc.head, hc.tail: _*).write.format("noop").mode("overwrite").save()
        }
        exec = secs(te)
        val r = obs.get
        def l(k: String) = Option(r.getOrElse(k, null)).map(_.asInstanceOf[Long]).getOrElse(0L)
        out = Some((l("n"), l("h1"), l("h2")))
      }
    }
    val wall = secs(t0)
    queryRows += Map("name" -> q.name, "module" -> m, "pass" -> pass,
      "traced" -> traced, "ok" -> out.isDefined, "build_s" -> build,
      "exec_s" -> exec, "wall_s" -> wall, "rows" -> out.map(_._1),
      "h1" -> out.map(_._2), "h2" -> out.map(_._3))
    wall
  }

  def queryMix(): Unit = {
    val qs = mix(a.mix)
    // set-up: the cold build of the corpus caches into the run's empty
    // cache root (the warm-up passes follow in `loop`)
    val t0 = now()
    tracer.span("ext.CorpusCache.build", "setup") {
      graft.ext.Dedup.prewarmCaches(spark, a.data)
      graft.ext.Rollup.prunedRangeStats(spark, a.data)
      graft.ext.TextAnalysis.bpeMergesCached(spark, a.data)
    }
    record("cache_build_s") = secs(t0)
    record("mix") = qs.map(_._2.name)
    val orders = mutable.ArrayBuffer[Seq[String]]()
    loop(minUnits = a.passes, warmUnits = WarmPasses) { (pass, traced) =>
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(qs)
      if (pass >= 0) orders += order.map(_._2.name)
      val t0 = now()
      order.foreach { case (m, q) => runQuery(m, q, pass, traced) }
      Map("mix_wall_s" -> secs(t0))
    }
    record("query_orders") = orders.toSeq
  }

  // ---- pipeline_batch ----------------------------------------------------

  private def pipelineRun(dir: String, out: String, label: String): Option[Pipeline.PipelineReport] =
    tracer.span(label, "exec") {
      attempt(label) {
        val src = tracer.span("build", "build")(OrdersDomain.fromTpch(spark, dir))
        val r = tracer.span("pipeline.Pipeline.run", "exec")(Pipeline.run(spark, Seq(src), out))
        if (!r.success) failCheck(label, s"pipeline reported failure: ${r.stages}")
        r
      }
    }

  private def readOrders(out: String): DataFrame = spark.read.parquet(s"$out/orders")

  /** Calls each public stage of `Pipeline.run` in its order, one span per
    * call, storing into `out` (traced units only; not part of the unit
    * time). */
  private def replayPipeline(dir: String, out: String): Unit =
    tracer.span("pipeline.replay", "replay")(attempt("pipeline_replay")(replayStages(dir, out)))

  private def replayStages(dir: String, out: String): Unit = {
    val cfg = GraftConfig()
    def sp[A](name: String, kind: String)(body: => A): A = tracer.span(s"pipeline.$name", kind)(body)
    val src = sp("OrdersDomain.fromTpch", "build")(OrdersDomain.fromTpch(spark, dir))
    val ing = sp("Ingest.collectAll", "build")(Ingest.collectAll(Seq(src)))
    sp("SchemaCheck.validate", "exec")(SchemaCheck.validate(ing, cfg.requiredFields))
    val m = sp("Quality.metrics", "exec")(Quality.metrics(ing, cfg.asOf).collect().head)
    val cleaned = sp("Clean.apply", "build")(Clean(ing))
    val enriched = sp("Enrich.apply", "build")(Enrich(cleaned, cfg.asOf))
    val std = sp("Standardize.apply", "build")(Standardize(enriched))
    std.persist()
    try {
      val failed = sp("Pipeline.drop_count", "exec")(ing.count() - std.count())
      val stored = sp("Store.upsertOrders", "exec")(Store.upsertOrders(spark, std, s"$out/orders"))
      sp("Store.log", "exec") {
        val ts = java.time.Instant.now().toString
        Store.appendQualityMetrics(spark, s"$out/metrics", "replay",
          Seq("data_quality_score" -> m.getAs[Double]("overall_score")),
          "quality", "orders", ts)
        Store.appendPipelineRun(spark, s"$out/pipeline_runs", "replay", "graft",
          ts, ts, "completed", stored, failed, None)
      }
    } finally std.unpersist()
  }

  def pipelineBatch(): Unit = {
    // set-up: each delta alone through the pipeline (warms every plan the
    // load and upserts use, and gives the rows each upsert must apply)
    val tw = now()
    val deltas = (0 until UpsertsPerUnit).map { k =>
      val dOnly = s"${a.work}/delta_only_$k"
      pipelineRun(s"${a.inputs}/delta_$k", dOnly, "warmup_delta")
      (k, Run.dirBytes(new File(s"$dOnly/orders"))._1)
    }
    record("warmup_s") = secs(tw)
    val applied = deltas.map { case (k, _) =>
      val d = readOrders(s"${a.work}/delta_only_$k")
      (Run.contentHash(d), d.select("order_id"))
    }
    loop(minUnits = MinPipelineUnits, warmUnits = WarmPipelineUnits) { (i, traced) =>
      val out = s"${a.work}/pipe_$i"
      val tl = now()
      val load = pipelineRun(a.data, out, "pipeline.Pipeline.run_load")
      val loadS = secs(tl)
      // output checks, outside the timed calls: the hash of the table each
      // upsert starts from, carried from one upsert's check to the next
      var table = load.filter(_ => i >= 0)
        .flatMap(_ => checkValue("check_load")(Run.contentHash(readOrders(out))))
      val upserts = deltas.zip(applied).map { case ((k, dBytes), (dHash, dKeys)) =>
        val replaced = table.flatMap(h => checkValue("check_upsert")(
          (h, Run.contentHash(readOrders(out).join(dKeys, Seq("order_id"), "left_semi")))))
        val tu = now()
        val upStartMs = System.currentTimeMillis()
        val up = pipelineRun(s"${a.inputs}/delta_$k", out, "pipeline.Pipeline.run_upsert")
        val upsertS = secs(tu)
        val (bytesW, filesW) = Run.dirBytes(new File(s"$out/orders"), upStartMs)
        table = for {
          _ <- up
          (h, hk) <- replaced
          got <- checkValue("check_upsert")(Run.contentHash(readOrders(out)))
        } yield {
          val want = (h._1 - hk._1 + dHash._1, h._2 - hk._2 + dHash._2, h._3 - hk._3 + dHash._3)
          if (got != want) failCheck("check_upsert",
            s"delta $k: stored table differs from the one before with the delta applied")
          got
        }
        Map("delta" -> k, "upsert_s" -> upsertS, "records" -> up.map(_.recordsStored),
          "stage_s" -> up.map(_.stages.map(s => s.stage -> s.seconds).toMap),
          "bytes_written" -> bytesW, "files_written" -> filesW, "delta_bytes" -> dBytes)
      }
      if (traced) replayPipeline(a.data, s"${a.work}/replay_$i")
      Map("load_s" -> loadS, "upserts" -> upserts,
        "records_stored" -> load.map(_.recordsStored),
        "quality_score" -> load.flatMap(_.qualityScore),
        "records_failed" -> load.map(_.recordsFailed),
        "load_stage_s" -> load.map(_.stages.map(s => s.stage -> s.seconds).toMap))
    }
  }

  // ---- stream_admit ------------------------------------------------------

  private def progress(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    ps.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "planning_ms" -> ms("queryPlanning"),
        "commit_ms" -> (ms("walCommit") + ms("commitOffsets")))
    }

  /** Drains one streaming loop; each micro-batch with input is one
    * operation, and a query that dies counts one more, failed. */
  private def drain(name: String, start: => StreamingQuery): Seq[Map[String, Any]] =
    tracer.span(s"streaming.$name", "exec") {
      var q: StreamingQuery = null
      try {
        q = start
        q.awaitTermination()
        val ps = progress(q.recentProgress.toSeq)
        attempted += ps.size
        ps
      } catch {
        case NonFatal(e) =>
          val ps = if (q == null) Nil else progress(q.recentProgress.toSeq)
          attempted += ps.size + 1
          fail(s"streaming.$name", e)
          ps
      }
    }

  def streamAdmit(): Unit = {
    val feed = s"${a.inputs}/feed"
    val schema = spark.read.parquet(feed).schema
    val feedRows = spark.read.parquet(feed).count()
    record("feed_rows") = feedRows
    var checkedDrains = 0
    /** One drain of `feed` into fresh tables under `tag`; `checked` drains
      * verify their outputs afterwards, the first one fully. The admitted
      * doc ids of the first go to the record, where run.py compares them
      * with its own replay of the admission rule over the staged files. */
    def unit(tag: String, feed: String, checked: Boolean): Map[String, Any] = {
      val base = s"${a.work}/$tag"
      val corpus = s"$base/corpus"
      val art = s"$base/artifacts"
      val rel = s"$base/release"
      val media = s"$base/media"
      val index = s"$base/media_index"
      val t0 = now()
      val corpusP = drain("corpus_admit", Streaming.corpusAdmitStream(
        tracer.span("source", "build")(Streaming.parquetFileSource(spark, feed, schema)),
        corpus, s"$base/ck_admit"))
      val maintP = drain("maintain", Rollup.maintainStream(
        tracer.span("source", "build")(Streaming.parquetFileSource(spark, corpus, schema)),
        art, s"$base/ck_maint"))
      tracer.span("ext.CorpusBuild.publishRelease", "exec") {
        attempt("ext.CorpusBuild.publishRelease")(
          CorpusBuild.publishRelease(spark, spark.read.parquet(corpus), rel))
      }
      val mediaP = drain("media_admit", Streaming.mediaAdmitStream(
        tracer.span("source", "build")(
          Multimodal.mediaFromDocuments(Streaming.parquetFileSource(spark, feed, schema))),
        media, index, s"$base/ck_media"))
      val wall = secs(t0)
      val state = Map(
        "corpus_admit" -> Run.dirBytes(new File(corpus))._1,
        "maintain" -> Run.dirBytes(new File(art))._1,
        "media_admit" -> Run.dirBytes(new File(index))._1)
      if (checked) {
        val full = checkedDrains == 0
        checkedDrains += 1
        // output checks, outside the drain timing
        check("check_admit_ids") ({
          val ids = Run.contentHash(spark.read.parquet(corpus).select("doc_id"))
          val mids = Run.contentHash(spark.read.parquet(media).select("media_id"))
          val distinct = (spark.read.parquet(corpus).select("doc_id").distinct().count(),
            spark.read.parquet(media).select("media_id").distinct().count())
          val planted = spark.read.parquet(corpus).filter(col("doc_id") >= DupOffset).count() +
            spark.read.parquet(media).filter(col("media_id") >= DupOffset).count()
          if (full) {
            record("admitted") = Map("docs" -> ids._1, "media" -> mids._1,
              "doc_hash" -> s"${ids._2}:${ids._3}", "media_hash" -> s"${mids._2}:${mids._3}")
            record("admitted_doc_ids") = spark.read.parquet(corpus).select("doc_id")
              .collect().map(_.getLong(0)).sorted.toSeq
          }
          distinct == (ids._1, mids._1) && planted == 0L
        }, "duplicate ids admitted or a planted duplicate admitted")
        if (full) {
          val admitted = spark.read.parquet(corpus)
          def rollupRows(df: DataFrame) = Rollup.finalizeRollup(df).collect().map(_.toSeq).toSet
          def vocabRows(df: DataFrame) = Rollup.vocabEstimate(df).collect()
            .map(r => (r.getAs[String]("source"), r.getAs[Double]("est_distinct_tokens"))).toSet
          check("check_rollup")(
            rollupRows(Rollup.readMaintainedRollup(spark, art)) ==
              rollupRows(Rollup.statsRollup(admitted)),
            "maintained rollup differs from the one-shot build")
          check("check_vocab")(
            vocabRows(Rollup.readMaintainedVocab(spark, art)) ==
              vocabRows(Rollup.vocabSketch(admitted)),
            "maintained vocab differs from the one-shot build")
          check("check_release") ({
            val (manifest, _) = CorpusBuild.readRelease(spark, rel)
            val direct = CorpusBuild.releaseManifest(admitted)
            manifest.exceptAll(direct).isEmpty && direct.exceptAll(manifest).isEmpty
          }, "published release manifest differs from the direct build")
        }
      }
      Map("drain_s" -> wall, "feed_rows" -> feedRows, "state_bytes" -> state,
        "loops" -> Map("corpus_admit" -> corpusP, "maintain" -> maintP, "media_admit" -> mediaP))
    }
    // set-up: one warm-up drain of a short slice of the feed
    val tw = now()
    unit("warm", s"${a.inputs}/warm_feed", checked = false)
    record("warmup_s") = secs(tw)
    // traced, then untraced: a drain is long, and four of them do not fit
    // a run; the later, warmer untraced drain makes the overhead an upper
    // bound
    loop(minUnits = MinDrains, warmUnits = 0, block = Seq(true, false))(
      (i, _) => unit(s"u$i", feed, checked = true))
  }

  def toJson: String = {
    record("attempted") = attempted
    record("failures") = failures.toSeq
    record("units") = units.toSeq
    record("queries") = queryRows.toSeq
    record("spans") = tracer.toSeq
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(record)
  }
}
