package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale point for the NON-dedup headline queries (the dedup
  * family already has its 1×/3×/10× curve in BenchScaling): generate
  * an sf1-shaped directory by deterministic 10× replication of sf0.1,
  * then time the same `SparkEntry.queries` entries against both dirs
  * and report the log-log exponent.
  *
  * Replication mirrors natural growth per table:
  *  - lineitem/orders/customer: keys offset per replica (FK-consistent
  *    across the star join); value columns unchanged, so slope/AUC see
  *    10× rows from the same distribution.
  *  - nation/region: copied once — dimensions don't grow with fact
  *    data, which is exactly why the star join broadcasts them.
  *  - documents: ids offset AND words replica-prefixed (BenchScaling's
  *    trick), so exact-dup structure is scale-invariant and the
  *    pipeline's dedup does 10× the work, not 10×-duplicates work.
  *  - embeddings: vec_id offset in lockstep with doc_id.
  *  - events: event ids and user ids offset — 10× users at the same
  *    session length, the shape of real traffic growth.
  *
  * The generated dir lives under /tmp (regenerable scratch, never
  * committed); generation is skipped when it already exists. Timing:
  * round-robin reps, MIN per cell (spike-robust, matches BenchScaling),
  * exponent = log(t10/t1)/log(10). Results land in
  * scaling_nondedup.json, which graft.Bench embeds in the round
  * artifact.
  */
object BenchScale10 {

  val Queries = Seq("q_slope_fit_dist", "q_slope_binom_dist", "q_auc",
    "q_pipeline", "q_sessionize", "q_star_join",
    // round-8: the two heaviest LLM-pipeline operators — the learned
    // filter's fit cost (distributed gradient passes, expected ~1.0)
    // and the broadcast-bloom decontamination (doc side never
    // shuffles, expected well under 1.0)
    "q_quality_classifier", "q_contamination_bloom",
    // round-9: the two heaviest PrefixSum/window-based curation
    // operators — quality-ordered running-total cut and exact
    // per-group quota cap (hash-threshold prefilter)
    "q_token_budget", "q_source_cap",
    // round-9b: the postings-plan retrieval/dedup operators (BM25,
    // positional 5-gram cross-doc stats) and the two new shapes worth
    // proving at 10x — fingerprint-window paragraph dedup and the
    // vocab x groups JS-drift frame
    "q_bm25", "q_crossdoc_spans", "q_paragraph_dedup", "q_token_drift",
    // round-9c: the semi-join-bounded ingestion dedup and the per-row
    // chunking explode
    "q_incremental_dedup", "q_chunking",
    // round-10: incremental NEAR-dup (batch grows 10x, corpus fixed at
    // doc_id < 400 — the exponent certifies cost tracks the BATCH),
    // the exact-substring span collapse, and the trigram LM gate
    "q_incremental_minhash", "q_exact_substr", "q_pseudo_ppl_tri",
    // round-10b: the temporal joins (as-of = one sort-shuffle on the
    // key, 10x users at fixed history; range = band-bounded, never a
    // cross product) and the link-graph power iteration (per-iteration
    // shuffle linear in edges)
    "q_asof_join", "q_range_join", "q_host_pagerank",
    // round-10c: the robots gate (rules broadcast, one URL scan),
    // length-bucketed batching (keyed PrefixSum rank), and the
    // calibration audit (<= bins exchange groups)
    "q_robots_gate", "q_length_batches", "q_calibration",
    // round-11: incremental SEMANTIC near-dup — same construction as
    // q_incremental_minhash (replica vec_ids land above the 400 split,
    // so the batch grows 10x against a fixed corpus index; the
    // exponent certifies the probe shuffle tracks the BATCH)
    "q_incremental_semantic",
    // round-12: the byte-level BPE family — per-row codegen'd counting
    // (expected well under 1.0: fixed JIT/regex overhead amortizes)
    // and the packed-sequence materialization, whose one groupBy(seq)
    // shuffle carries every token id (the honest linear floor)
    "q_token_count_gpt2", "q_pack_ids_gpt2")

  private val KeyOff = 100000000L

  private def withOffsets(df: DataFrame, cols: Seq[String],
                          off: Long): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + off))

  /** Content key of the source dir: table file names + sizes + k. A
    * marker holding this key makes the replica cache reusable ACROSS
    * bench/gate runs (r11 verdict ask #10 — regeneration was riding
    * inside the aux child's wall-clock every round) while still
    * invalidating the moment the driver regenerates sf0.1. */
  private def replicaKey(srcDir: String, k: Int): String = {
    val src = new java.io.File(srcDir)
    val parts = Option(src.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val fs = if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq else Seq(f)
        fs.map(g => s"${f.getName}/${g.getName}:${g.length}")
      }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest((parts.mkString("\n") + s"\nk=$k").getBytes("UTF-8"))
    h.map("%02x".format(_)).mkString
  }

  /** Write the 10× replicated sf1-shaped dir (skip when the committed
    * content-key marker matches — the replica survives across runs). */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
               k: Int): Unit = {
    val key = replicaKey(srcDir, k)
    val marker = java.nio.file.Paths.get(s"$outDir/_graft_replica_key")
    if (java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == key) {
      System.err.println(s"[scale10] $outDir replica key matches, skipping generation")
      return
    }
    def t(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")
    def reps(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(r => if (r == 0) base else f(base, r)).reduce(_ union _)

    reps(t("lineitem")) { (d, r) =>
      withOffsets(d, Seq("l_orderkey"), r * KeyOff)
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    reps(t("orders")) { (d, r) =>
      withOffsets(d, Seq("o_orderkey", "o_custkey"), r * KeyOff)
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    reps(t("customer")) { (d, r) =>
      withOffsets(d, Seq("c_custkey"), r * KeyOff)
    }.write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    reps(t("documents")) { (d, r) =>
      withOffsets(d, Seq("doc_id"), r * KeyOff)
        .withColumn("text", array_join(transform(split(col("text"), " "),
          w => concat(lit(s"r$r"), w)), " "))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    reps(t("embeddings")) { (d, r) =>
      withOffsets(d, Seq("vec_id"), r * KeyOff)
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    reps(t("events")) { (d, r) =>
      withOffsets(d, Seq("event_id", "user_id"), r * KeyOff)
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // dimensions: fixed cardinality at any fact scale
    t("nation").write.mode("overwrite").parquet(s"$outDir/nation.parquet")
    t("region").write.mode("overwrite").parquet(s"$outDir/region.parquet")
    java.nio.file.Files.write(marker, (key + "\n").getBytes("UTF-8"))
    System.err.println(s"[scale10] generated ${k}x replication at $outDir")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE10_DIR",
      "/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
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
    generate(spark, sfDir, outDir, k = 10)
    // optional subset (comma-separated) so a round can add new scale
    // rows without re-measuring the stable ones; results MERGE into the
    // existing scaling_nondedup.json
    val queries = sys.env.get("SPARK_GRAFT_SCALE10_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries)
    // JIT/codegen warmup at the small scale
    queries.foreach(q => SparkEntry.queries(q)(spark, sfDir).count())
    val cells = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    for (rep <- 1 to reps; dir <- Seq(sfDir, outDir); q <- queries) {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale10] $q%-20s ${dir}%-22s rep$rep $dt%8.2fs")
      cells((q, dir)) = cells((q, dir)) :+ dt
    }
    val fresh = queries.map { q =>
      val t1 = cells((q, sfDir)).min
      val t10 = cells((q, outDir)).min
      val exp = math.log(t10 / t1) / math.log(10.0)
      q -> f"""{"sf0.1_sec":$t1%.2f,"sf1_sec":$t10%.2f,"exponent":$exp%.2f}"""
    }
    // merge with any prior rows (subset runs must not drop the stable
    // measurements); fresh rows win, overall order = Queries order
    val outPath = java.nio.file.Paths.get("scaling_nondedup.json")
    val prior: Map[String, String] =
      if (java.nio.file.Files.exists(outPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(outPath), "UTF-8")
        """"(q_\w+)":(\{[^}]*\})""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
      } else Map.empty
    val merged = prior ++ fresh.toMap
    val json = (Queries.filter(merged.contains) ++
        merged.keys.filterNot(Queries.contains).toSeq.sorted)
      .map(q => s""""$q":${merged(q)}""").mkString("{", ",", "}")
    println(json)
    java.nio.file.Files.write(outPath, (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
