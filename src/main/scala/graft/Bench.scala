package graft
import org.apache.spark.sql.SparkSession

/** Round benchmark. Two execution modes:
  *
  *  - PARENT (default): partitions the query suite into batches of
  *    `SPARK_GRAFT_FORK_BATCH` (default 16) and runs each batch in a
  *    FRESH child JVM (same classpath + module flags as this one),
  *    then merges the children's JSON into one artifact. Three rounds
  *    running, the single-JVM session paid a GC-storm adjudication tax
  *    — heap pressure from earlier queries inflated later queries'
  *    medians 5-30x, and the committed median_sum misstated the engine
  *    by ~30% until a fresh-JVM re-measure corrected it. Bounding each
  *    JVM's lifetime to one batch keeps every median honest in the
  *    first artifact. A dedicated aux child runs the scaling +
  *    streaming ride-alongs so query batches stay uniform.
  *  - CHILD / inline (`SPARK_GRAFT_FORK=0` or the internal
  *    `SPARK_GRAFT_FORK_CHILD=1`): the classic loop — warmup at
  *    sf0.001, `reps` timed runs round-robin, per-rep GC deltas,
  *    medians/mins to stdout + `SPARK_GRAFT_BENCH_OUT`.
  *
  * If forking fails (no java binary, child crash), the parent falls
  * back to the inline loop so a round never loses its bench artifact.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val forkMode = sys.env.getOrElse("SPARK_GRAFT_FORK", "1") != "0" &&
      !sys.env.contains("SPARK_GRAFT_FORK_CHILD")
    if (forkMode) {
      try runParent()
      catch { case e: Throwable =>
        System.err.println(s"[bench] fork mode failed ($e); running inline")
        runSuite()
      }
    } else runSuite()
  }

  /** Exact-name ONLY filter (split on ','): a raw substring contains()
    * would make ONLY=q_pseudo_ppl_tri also select q_pseudo_ppl. */
  private def onlySet: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  // ---------------------------------------------------------------- parent

  private def runParent(): Unit = {
    import scala.jdk.CollectionConverters._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val batchSize = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_FORK_BATCH", "16").toInt)
    val only = onlySet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val batches = names.grouped(batchSize).toSeq

    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    // pass the parent's own JVM flags through (add-opens for Spark on
    // JDK 17, -Xmx, -Xss) — the child builds the same SparkSession
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-bench")

    def spawn(tag: String, onlyVal: String, extraEnv: Map[String, String],
              timeoutSec: Long = 0L)
        : Option[com.fasterxml.jackson.databind.JsonNode] = {
      val outFile = tmpDir.resolve(s"$tag.json")
      val logFile = tmpDir.resolve(s"$tag.out.log")
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_FORK_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_ONLY", onlyVal)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
      // ride-alongs default OFF in query children (the aux child
      // re-enables them); the isolation file is read by the parent
      pb.environment().put("SPARK_GRAFT_SCALING_REPS", "0")
      pb.environment().put("SPARK_GRAFT_STREAM_BENCH", "0")
      // and the scale gate: only the aux child may run it (a user's
      // exported SPARK_GRAFT_SCALING_GATE=1 must not make every query
      // child re-run the 10x measurement)
      pb.environment().put("SPARK_GRAFT_SCALING_GATE", "0")
      extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
      // child stdout carries its own GRAFT_BENCH_* markers — those
      // must never reach the parent's stdout (the driver greps for the
      // marker pair and would parse a partial artifact)
      pb.redirectOutput(logFile.toFile)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val t0 = System.nanoTime()
      val p = pb.start()
      // time box (aux child only): the ride-alongs must never be able
      // to hold the round artifact hostage — BENCH_r11 died rc=124
      // with parsed:null because the sf1 gate outlived the driver's
      // wall-clock INSIDE the aux child while 148 finished medians
      // waited on emission. A killed aux child just means the round
      // ships without fresh ride-along rows (the committed standing
      // artifacts cover those).
      val code =
        if (timeoutSec <= 0) p.waitFor()
        else if (p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS))
          p.exitValue()
        else {
          System.err.println(s"[bench] child $tag TIMED OUT after ${timeoutSec}s; killing")
          p.destroyForcibly(); p.waitFor(); -99
        }
      System.err.println(
        f"[bench] child $tag exit=$code ${(System.nanoTime() - t0) / 1e9}%.1fs")
      if (code != 0 || !java.nio.file.Files.exists(outFile)) None
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        Some(mapper.readTree(outFile.toFile))
      }
    }

    // sequential children: parallel JVMs would contend for the box's
    // cores and reintroduce exactly the noise forking removes
    val childResults = batches.zipWithIndex.flatMap { case (batch, i) =>
      spawn(s"batch$i", batch.mkString(","), Map.empty) match {
        case Some(node) => Some(node)
        case None =>
          System.err.println(s"[bench] batch$i FAILED; retrying once")
          spawn(s"batch${i}retry", batch.mkString(","), Map.empty)
      }
    }
    if (childResults.isEmpty) {
      System.err.println("[bench] every child failed; running inline")
      runSuite(); return
    }

    // merge the children's per-query objects field-by-field; values are
    // re-serialized verbatim so parent math and child math can't drift
    def mergeObj(field: String): String = {
      val parts = for {
        node <- childResults
        obj = node.get(field) if obj != null
        k <- obj.fieldNames().asScala
      } yield s""""$k":${obj.get(k).toString}"""
      parts.mkString("{", ",", "}")
    }
    val qs = mergeObj("queries")
    val qmin = mergeObj("queries_min")
    val qmax = mergeObj("queries_max")
    val qreps = mergeObj("queries_reps")
    val qgc = mergeObj("queries_gc_ms")
    val failed = childResults.flatMap(n =>
      Option(n.get("failed_queries")).toSeq
        .flatMap(_.elements().asScala.map(_.asText())))
    val covered = childResults.flatMap(n =>
      Option(n.get("queries")).toSeq.flatMap(_.fieldNames().asScala))
    // a batch whose BOTH attempts died contributes no rows: surface its
    // queries as failed rather than silently shrinking the suite
    val missing = names.filterNot(covered.toSet)
    val failedAll = (failed ++ missing).distinct.sorted
    val medByName = childResults.flatMap { n =>
      val obj = n.get("queries")
      obj.fieldNames().asScala.map(k => k -> obj.get(k).asDouble()).toSeq
    }.toMap
    val minByName = childResults.flatMap { n =>
      val obj = n.get("queries_min")
      obj.fieldNames().asScala.map(k => k -> obj.get(k).asDouble()).toSeq
    }.toMap
    val total = medByName.values.filter(_ >= 0).sum
    val minSum = minByName.values.filter(_ >= 0).sum
    val failedJson = failedAll.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the standing scale gate artifact for the round, read from disk
    // (the aux child refreshes it; a committed prior round's file — or
    // a standalone `runMain graft.ScalingGate` — covers a skipped aux)
    def gateJson: String = {
      val p = java.nio.file.Paths.get(
        f"SCALING_r${ScalingGate.currentRound()}%02d.json")
      if (!java.nio.file.Files.exists(p)) "{}"
      else {
        val raw =
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        // the aux child can be destroyForcibly'd mid-write, leaving a
        // truncated file; embedding that verbatim would make the WHOLE
        // bench artifact unparseable (r12 ADVICE) — validate first
        try {
          val node =
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
          if (node != null && node.isObject) raw else "{}"
        } catch { case _: Exception => "{}" }
      }
    }
    def fullJson(scalingJson: String, streamJson: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","fork_batch":$batchSize,"n_children":${childResults.size},"queries":$qs,"queries_min":$qmin,"queries_max":$qmax,"queries_reps":$qreps,"queries_gc_ms":$qgc,"failed_queries":$failedJson,"reps":$reps,"sf":"$sfDir","dedup_scaling":$scalingJson,"nondedup_scaling":${readScale10()},"streaming":$streamJson,"scaling_gate":$gateJson,"isolation":${readIsolation()}}"""

    // FIRST emission — the query medians ARE the round artifact, and
    // they go out the moment the last query child lands (r11 verdict
    // ask #1: BENCH_r11 lost 148 finished measurements to rc=124
    // because emission used to wait for the aux ride-alongs). If the
    // driver kills this JVM mid-aux, the markers + bench_out.json
    // below already carry every query.
    emit(fullJson("{}", "{}"), names.size, total, minSum, medByName,
      minByName, failedJson, reps, sfDir)

    // aux child: dedup-scaling + streaming + sf1 gate ride-alongs,
    // zero queries — time-boxed (default 20 min) and reduced to 1 gate
    // rep in-bench (the committed SCALING_r*.json from a standalone
    // 2-rep run is the standing record; the ride-along is a refresh)
    val auxTimeout = sys.env.getOrElse("SPARK_GRAFT_AUX_TIMEOUT_SEC",
      "1200").toLong
    val auxWanted =
      sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2").toInt > 0 ||
        sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH", "1") != "0" ||
        sys.env.getOrElse("SPARK_GRAFT_SCALING_GATE", "1") != "0"
    val auxNode =
      if (!auxWanted) None
      else spawn("aux", "__aux_none__", Map(
        "SPARK_GRAFT_SCALING_REPS" ->
          sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2"),
        "SPARK_GRAFT_STREAM_BENCH" ->
          sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH", "1"),
        // the standing sf1 scale gate (SCALING_r{N}.json) rides in the
        // aux child by default — SPARK_GRAFT_SCALING_GATE=0 skips it
        "SPARK_GRAFT_SCALING_GATE" ->
          sys.env.getOrElse("SPARK_GRAFT_SCALING_GATE", "1"),
        "SPARK_GRAFT_GATE_REPS" ->
          sys.env.getOrElse("SPARK_GRAFT_GATE_REPS", "1")),
        timeoutSec = auxTimeout)

    // SECOND emission — same query numbers, enriched with whatever the
    // aux child produced. Runs after any aux ATTEMPT (success or not):
    // a killed aux may still have rewritten SCALING_r{N}.json before
    // dying, and fullJson re-reads that file from disk, so the final
    // artifact never ships a stale gate snapshot. Re-emitting the full
    // marker block keeps the driver's "parse between the LAST marker
    // pair" and "parse the FIRST pair" readings identical in query
    // content.
    if (auxWanted) {
      val scalingJson = auxNode.flatMap(n =>
        Option(n.get("dedup_scaling")).map(_.toString)).getOrElse("{}")
      val streamJson = auxNode.flatMap(n =>
        Option(n.get("streaming")).map(_.toString)).getOrElse("{}")
      emit(fullJson(scalingJson, streamJson), names.size, total, minSum,
        medByName, minByName, failedJson, reps, sfDir)
    }
  }

  private def readIsolation(): String = {
    val p = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH1_OUT", "bench_isolation.json"))
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala
        .filter(_.trim.nonEmpty).mkString("[", ",", "]")
    } else "[]"
  }

  private def readScale10(): String = {
    val p = java.nio.file.Paths.get("scaling_nondedup.json")
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    else "{}"
  }

  /** Shared final emit: full JSON (stdout + file) and the compact
    * marker-wrapped line sized under the driver's 2000-char stdout
    * tail (see BENCH_r07-r09 "parsed": null postmortem). */
  private def emit(json: String, nQueries: Int, total: Double,
                   minSum: Double, medByName: Map[String, Double],
                   minByName: Map[String, Double], failedJson: String,
                   reps: Int, sfDir: String): Unit = {
    val topByMedian = medByName.toSeq.sortBy(-_._2).take(18)
    val topJson = topByMedian
      .map { case (k, md) => f""""$k":$md%.2f""" }.mkString("{", ",", "}")
    val topMinJson = topByMedian
      .map { case (k, _) =>
        f""""$k":${minByName.getOrElse(k, -1.0)}%.2f""" }
      .mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.1f,"unit":"sec","n_queries":$nQueries,"median_sum":$total%.1f,"min_sum":$minSum%.1f,"queries":$topJson,"queries_min":$topMinJson,"failed_queries":$failedJson,"reps":$reps,"sf":"$sfDir","full":"bench_out.json"}"""
    println("GRAFT_BENCH_FULL " + json)
    println("GRAFT_BENCH_BEGIN")
    println(compact)
    println("GRAFT_BENCH_END")
    // stdout can be truncated by the harness (BENCH_r04 lost the first
    // ~12 query medians); the file is the machine-complete artifact
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
  }

  // ----------------------------------------------------------- child/inline

  private def runSuite(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the default 100-entry codegen cache is smaller than this
      // suite's plan diversity: with several queries sharing a child
      // JVM, eviction forces Janino to recompile a heavy plan's
      // generated classes on EVERY rep, and the rep then measures the
      // compiler, not the operator (q_lang_confusion_nb: 2.8 s warm
      // steady-state vs 16 s with its codegen evicted between reps —
      // the r12→r13 "regression" was exactly this). Uniform
      // measurement-infrastructure setting, applied to every query.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up at the smallest SF: compiles/JITs every query's codegen
    // and interpreted-expression paths once, so the timed loop below
    // measures steady-state throughput instead of first-query JIT cost
    // (the alphabetically-early heavy queries were paying 5-20x).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // local-iteration filter, same contract as Verify:
    // SPARK_GRAFT_ONLY=q_a,q_b times a subset (warmup included)
    val only = onlySet
    if (warmDir.nonEmpty) {
      val t0 = System.nanoTime()
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          try { fn(spark, warmDir).count() }
          catch { case _: Throwable => () }
          finally CacheRegistry.releaseAll()
        }
      System.err.println(
        f"[bench] warmup(${warmDir}) ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // One timed run cannot tell a regression from a noisy neighbor (this
    // box showed 40x swings on unchanged code between rounds). Each query
    // runs `reps` times, round-robin across the whole suite so a
    // multi-minute contention spike hits at most one rep per query, and
    // the per-query figure is the MEDIAN (min/max kept for variance
    // visibility).
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples = scala.collection.mutable.Map(
      names.map(_ -> List.empty[Double]): _*)
    // per-rep GC-time delta (ms) alongside each wall time: when a whole
    // session drifts (r5->r6 showed a uniform 1.36x), the GC column is
    // what says "heap pressure" vs "the operator" without a re-run
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gcSamples = scala.collection.mutable.Map(
      names.map(_ -> List.empty[Long]): _*)
    for (rep <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      val g0 = gcMillis
      val t0 = System.nanoTime()
      // a failed rep is recorded as -1, NEVER as the elapsed time: the
      // r7 bench logged q_events_window's 0.06s time-to-AnalysisException
      // as if it were a measurement.
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                 false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val gc = gcMillis - g0
      // each rep builds fresh operator-scoped caches (tokenDrift/LM/
      // rebalance register theirs); release outside the timed window so
      // a 3-rep x 110-query session doesn't accumulate them (r9 #5)
      CacheRegistry.releaseAll()
      System.err.println(f"[bench] $name%-22s rep$rep $dt%8.2fs gc=${gc}ms")
      samples(name) = samples(name) :+ dt
      gcSamples(name) = gcSamples(name) :+ gc
    }
    // aggregate over SUCCESSFUL reps only; a query whose reps all
    // failed reports -1 across median/min/max (an explicit sentinel,
    // not a plausible-looking wall time) and is excluded from `total`
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.map(n => (n, samples(n)))
    def fmt(f: List[Double] => Double) = results.map { case (k, xs) =>
      val ok = xs.filter(_ >= 0)
      s"\"" + k + "\":" + (if (ok.isEmpty) -1.0 else f(ok))
    }.mkString("{", ",", "}")
    val qs = fmt(median)
    val qmin = fmt(_.min)
    val qmax = fmt(_.max)
    val qreps = results.map { case (k, xs) =>
      s"\"" + k + "\":" + xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qgc = names.map(n =>
      s"\"" + n + "\":" + gcSamples(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val failedNames = results.collect {
      case (k, xs) if xs.forall(_ < 0) => k }
    val total = results.flatMap { case (_, xs) =>
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) None else Some(median(ok))
    }.sum
    // the standing sf1 scale gate: run only when the parent routed it
    // here (aux child) — writes SCALING_r{N}.json as a side effect.
    // Ordered FIRST among the ride-alongs (r17 measurement-hygiene
    // fix, guide §1): it used to run LAST in this JVM, after the
    // dedup-scaling curves and the streaming bench had filled the heap
    // and the block manager — the in-bench 1-rep refresh then measured
    // GC pressure, not the operators (the r16 in-bench refresh read
    // q_quality_classifier sf1 at 107.7 s where the standalone
    // fresh-JVM 2-rep run of the SAME code read 23.8 s, flipping the
    // gate to pass=false on three rows). The gate's own numbers are
    // the only thing this reorder changes — query medians come from
    // the dedicated query children, and the scaling/streaming
    // ride-alongs below run after the gate exactly as they always
    // ran at the START of a fresh aux JVM.
    if (sys.env.getOrElse("SPARK_GRAFT_SCALING_GATE", "0") == "1")
      try ScalingGate.run(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench] scaling gate failed: $e") }
    // dedup scaling curve (1x/3x/10x corpus, min of SCALING_REPS —
    // min is the spike-robust statistic for a log-log fit; a single
    // contention spike would otherwise bend the exponent): ~1 linear,
    // >1.2 flags a super-linear operator. Skippable for quick local
    // runs with SPARK_GRAFT_SCALING_REPS=0.
    val scalingReps = sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "2").toInt
    val scalingJson = if (scalingReps <= 0) "{}" else {
      val curves = BenchScaling.run(spark, sfDir, Seq(1, 3, 10), scalingReps)
      curves.map { c =>
        val by = c.secByScale.map { case (k, t) => s""""${k}x":$t""" }
          .mkString(",")
        f""""${c.op}":{$by,"exponent":${c.exp}%.2f}"""
      }.mkString("{", ",", "}")
    }
    // streaming throughput (MemoryStream-driven, fixed batch plan);
    // skippable with SPARK_GRAFT_STREAM_BENCH=0
    val streamJson =
      if (sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH", "1") == "0") "{}"
      else BenchStreaming.run(spark).map { r =>
        s""""${r.name}":{${BenchStreaming.jsonFields(r)}}"""
      }.mkString("{", ",", "}")
    // isolated fresh-JVM re-measures (graft.BenchOne appends one JSON
    // line per query to bench_isolation.json) ride along so the round
    // artifact carries the session-drift adjudication data
    val isolationJson = readIsolation()
    // non-dedup 10x scale point (graft.BenchScale10 writes it; rides
    // along like the isolation data)
    val scale10Json = readScale10()
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qmin,"queries_max":$qmax,"queries_reps":$qreps,"queries_gc_ms":$qgc,"failed_queries":$failedJson,"reps":$reps,"sf":"$sfDir","dedup_scaling":$scalingJson,"nondedup_scaling":$scale10Json,"streaming":$streamJson,"isolation":$isolationJson}"""
    val medByName = results.map { case (k, xs) =>
      val ok = xs.filter(_ >= 0)
      k -> (if (ok.isEmpty) -1.0 else median(ok))
    }.toMap
    val minByName = results.map { case (k, xs) =>
      val ok = xs.filter(_ >= 0)
      k -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap
    val minSum = minByName.values.filter(_ >= 0).sum
    emit(json, names.size, total, minSum, medByName, minByName,
      failedJson, reps, sfDir)
    spark.stop()
  }
}
