package graft

import org.apache.spark.sql.SparkSession

/** Standing sf0.1 → sf1 scale gate (r10 VERDICT ask #8): the TOP-10
  * most expensive queries re-measured every round against the 10×
  * replicated corpus, with a PASS/FAIL exponent per row, committed as
  * `SCALING_r{N}.json`. Scaling rows used to land piecemeal (whenever
  * a round happened to re-run BenchScale10 for its new operators);
  * promoting them to a per-round artifact with explicit pass bits
  * means a super-linear regression in a headline operator surfaces
  * the round it lands, not rounds later when someone re-reads
  * SCALING.md.
  *
  * PASS = fitted log-log exponent < the row's bound — 1.0 by default
  * (sub-linear in corpus size: bounded windows, semi-join-bounded
  * probes, broadcast dims, batch-tracked costs), with documented
  * exceptions in [[ExponentBound]] for operators that are Θ(n·k) by
  * definition. The measurement discipline matches BenchScale10:
  * per-cell MIN of
  * `reps` round-robin reps (spike-robust for a two-point log-log fit),
  * caches released per rep.
  *
  * Runs inside the bench aux child (graft.Bench wires it), or
  * standalone: `sbt "runMain graft.ScalingGate"`.
  */
object ScalingGate {

  /** The standing gate rows: the top-10 most expensive queries by
    * committed r10 bench medians (honest/isolated mins),
    * plus the standing PACK row (r12 verdict ask #7): q_pack_ids_gpt2
    * is the last mile — the one family that had no per-round 10× row —
    * so epoch-pack scaling (slim-projection PrefixSum + the single id
    * exchange) is now certified under the default 1.0 bound every
    * round. Round 16 adds the TRAINER rows: q_bpe_train (the
    * distributed incremental merge loop — one corpus pass to the
    * distinct-pretoken table, then per-merge cost ~ affected
    * partitions) and q_tokenizer_export_unigram (trainUnigram EM +
    * artifact write — one corpus pass to the distinct-word table,
    * then vocab-bounded EM rounds), so the tokenizer-training family
    * is exponent-certified per round like every other headline
    * operator. Both should sit far below the bound: 10× corpus barely
    * grows the distinct tables on this vocabulary. Late round 16 adds
    * the new CONTRASTIVE-SELECTION family rows: q_moore_lewis (shared
    * token pass, two trigram model sets, class-partitioned scoring
    * joins) and q_dsir (hashed features, 8192-row broadcast λ table —
    * the flattest shape in the gate by design). */
  val GateRows: Seq[String] = Seq(
    "q_pseudo_ppl_5", "q_slope_binom_dist", "q_slope_fit_dist",
    "q_quality_classifier", "q_leakage_split_neardup", "q_pipeline",
    "q_exact_substr", "q_pseudo_ppl_ext", "q_pseudo_ppl_tri",
    "q_slope_cv", "q_pack_ids_gpt2", "q_bpe_train",
    "q_tokenizer_export_unigram", "q_moore_lewis", "q_dsir")

  /** Per-row exponent bound: 1.0 for every row (sub-linear in corpus
    * size). The r11 gate carried a bespoke 1.45 bound for q_slope_cv
    * because its sf0.1/sf1 pair straddled the localCellLimit dispatch
    * — the exponent measured the crossover, not the algorithm. The
    * gate now pins that row to the DISTRIBUTED path at both points
    * (localCellLimitOverride=0), so its exponent certifies the
    * distributed CV itself and the default bound applies (r11
    * verdict ask #5): t(n) = passes·(job_overhead + B·n) is affine in
    * n, so the two-point log-log slope sits strictly below 1. */
  val ExponentBound: Map[String, Double] =
    Map.empty[String, Double].withDefaultValue(1.0)

  /** Rows measured with the driver-local dispatch disabled so both
    * scale points exercise the distributed solver path. */
  val ForceDistributed: Set[String] = Set("q_slope_cv")

  private def withDispatch[A](q: String)(body: => A): A =
    if (!ForceDistributed(q)) body
    else {
      System.setProperty("graft.slope.localCellLimitOverride", "0")
      try body
      finally System.clearProperty("graft.slope.localCellLimitOverride")
    }

  /** Current round = 1 + the highest BENCH_r{N}.json in `repoDir` (by
    * default the working directory). */
  def currentRound(repoDir: String = "."): Int = {
    val re = """BENCH_r(\d+)\.json""".r
    val d = new java.io.File(repoDir)
    val rounds = Option(d.list()).getOrElse(Array.empty[String])
      .collect { case re(n) => n.toInt }
    if (rounds.isEmpty) 11 else rounds.max + 1
  }

  def run(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE10_DIR",
      "/tmp/graft_sf1")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_GATE_REPS", "2").toInt)
    // same-round policy: the standalone multi-rep run is the standing
    // record. A weaker later run (the in-bench 1-rep ride-along) must
    // neither overwrite it with noisier numbers nor MIN-MERGE into it
    // — merged pre-regression mins would keep pass=true over code
    // that regressed after the first run, defeating the gate. So: if
    // this round's file was measured with >= this run's reps AND
    // passed, keep it and skip the whole measurement (saves the aux
    // child's clock). A prior FAILING file never blocks (a fixed
    // operator must be re-measurable), and SPARK_GRAFT_GATE_FORCE=1
    // always re-measures (re-certify after a suspected regression).
    val round = currentRound()
    val outPath = java.nio.file.Paths.get(
      f"SCALING_r$round%02d.json")
    val force = sys.env.getOrElse("SPARK_GRAFT_GATE_FORCE", "0") == "1"
    if (!force && java.nio.file.Files.exists(outPath)) {
      val txt = new String(
        java.nio.file.Files.readAllBytes(outPath), "UTF-8")
      val priorReps = """"gate_reps":(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt).getOrElse(2) // legacy files: standalone 2-rep
      val priorPass = """"round":\d+,"pass":(true|false)""".r
        .findFirstMatchIn(txt).exists(_.group(1) == "true")
      if (priorReps >= reps && priorPass) {
        System.err.println(s"[gate] keeping existing $outPath " +
          s"(reps=$priorReps >= $reps, pass=true), skipping re-measurement")
        return
      }
    }
    BenchScale10.generate(spark, sfDir, outDir, k = 10)
    val queries = GateRows.filter(SparkEntry.queries.contains)
    // JIT warmup at the small scale, then round-robin timed cells
    queries.foreach { q =>
      try withDispatch(q) { SparkEntry.queries(q)(spark, sfDir).count() }
      catch { case _: Throwable => () }
      CacheRegistry.releaseAll()
    }
    val cells = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    for (rep <- 1 to reps; dir <- Seq(sfDir, outDir); q <- queries) {
      val t0 = System.nanoTime()
      val ok = try { withDispatch(q) {
                 SparkEntry.queries(q)(spark, dir).count() }; true }
               catch { case e: Throwable =>
                 System.err.println(s"[gate] $q FAILED at $dir: ${e.getMessage}")
                 false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      CacheRegistry.releaseAll()
      System.err.println(f"[gate] $q%-24s $dir%-22s rep$rep $dt%8.2fs")
      cells((q, dir)) = cells((q, dir)) :+ dt
    }
    val rows = queries.map { q =>
      val ok1 = cells((q, sfDir)).filter(_ >= 0)
      val ok10 = cells((q, outDir)).filter(_ >= 0)
      val bound = ExponentBound(q)
      if (ok1.isEmpty || ok10.isEmpty)
        q -> s"""{"sf0.1_sec":-1,"sf1_sec":-1,"exponent":99,"bound":$bound,"pass":false}"""
      else {
        val t1 = ok1.min
        val t10 = ok10.min
        val exp = math.log(t10 / t1) / math.log(10.0)
        val pass = exp < bound
        q -> f"""{"sf0.1_sec":$t1%.2f,"sf1_sec":$t10%.2f,"exponent":$exp%.2f,"bound":$bound%.2f,"pass":$pass}"""
      }
    }
    val allPass = rows.forall(_._2.contains("\"pass\":true"))
    val json = s"""{"round":$round,"pass":$allPass,"gate_reps":$reps,"criterion":"exponent < 1.0 for every row; q_slope_cv measured with localCellLimitOverride=0 so both points take the distributed path (crossover-free); min of $reps reps, sf0.1 vs 10x","rows":${rows.map { case (q, r) => s""""$q":$r""" }.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(outPath, (json + "\n").getBytes("UTF-8"))
    System.err.println(s"[gate] wrote $outPath pass=$allPass")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // match Bench: plan diversity exceeds the 100-entry default, and
      // an evicted heavy plan re-measures Janino instead of the operator
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark)
    spark.stop()
  }
}
