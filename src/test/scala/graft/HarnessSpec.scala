package graft

import graft.slope.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** The harness itself is part of the correctness surface: round 7
  * showed a broken query can vanish from the driver's correctness file
  * (Verify swallowed the exception and wrote nothing) and show up in
  * the bench as a plausible time-to-throw. These tests pin the loud
  * failure contract. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): Path =
    Files.createTempDirectory("graft-harness")

  test("Verify.dump: every registered name yields a parquet result or an error sentinel") {
    val out = tmpDir()
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s, _) => { import s.implicits._
        Seq((1, "a"), (2, "b")).toDF("id", "v") }),
      "q_boom" -> ((s, _) => { import s.implicits._
        // analysis-time failure, the q_events_window failure mode
        Seq(1).toDF("id").select(org.apache.spark.sql.functions.col("nope")) }))
    val failed = Verify.dump(spark, qs, "/unused", out.toString)
    assert(failed == List("q_boom"))
    // q_ok: readable parquet
    assert(spark.read.parquet(out.resolve("q_ok").toString).count() == 2)
    // q_boom: the dir EXISTS (never absent) and carries the sentinel,
    // so the driver's parquet read errors instead of skipping the row
    val boom = out.resolve("q_boom")
    assert(Files.isDirectory(boom))
    assert(Files.exists(boom.resolve("_GRAFT_ERROR")))
    assert(Files.readString(boom.resolve("_GRAFT_ERROR")).contains("q_boom failed"))
    intercept[Throwable] { spark.read.parquet(boom.toString).collect() }
    // no registered name is missing from the output listing
    val dirs = Files.list(out).iterator()
    val names = scala.collection.mutable.Set.empty[String]
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    assert(qs.keySet.subsetOf(names.toSet))
  }

  test("Verify.dump: a failing query overwrites stale parquet from a prior green run") {
    val out = tmpDir()
    val ok: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_x" -> ((s, _) => { import s.implicits._; Seq(1).toDF("id") }))
    assert(Verify.dump(spark, ok, "/unused", out.toString).isEmpty)
    assert(spark.read.parquet(out.resolve("q_x").toString).count() == 1)
    val bad: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_x" -> ((_, _) => throw new RuntimeException("broken now")))
    assert(Verify.dump(spark, bad, "/unused", out.toString) == List("q_x"))
    // the stale green parquet must NOT survive next to the sentinel
    intercept[Throwable] {
      spark.read.parquet(out.resolve("q_x").toString).collect() }
  }

  test("operator-scoped caches drain to zero after Verify materializes a query") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the operators r9 VERDICT flagged as leak sites: tokenDrift,
    // embeddingDrift, rebalanceToMinTokens, both LM gates. Each
    // registers its persisted intermediates with CacheRegistry; the
    // Verify path releases after every query's parquet write. None of
    // these checkpoint, so the block manager must end EMPTY.
    val docs = (0L until 60L)
      .map(i => (i, s"s${i % 3}", s"alpha beta gamma delta token$i end"))
      .toDF("doc_id", "source", "text")
    val embs = (0L until 30L)
      .map(i => (i, s"s${i % 3}", Array.fill(4)((i % 7).toDouble)))
      .toDF("doc_id", "source", "embedding")
    // clean slate: suites sharing this session may have registered
    // caches of their own (they don't run the Verify release path)
    CacheRegistry.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_c_drift" -> ((_, _) =>
        graft.operators.Quality.tokenDrift(docs, "source", "text")),
      "q_c_edrift" -> ((_, _) =>
        graft.operators.Quality.embeddingDrift(embs, "source", "embedding")),
      "q_c_rebal" -> ((_, _) => graft.operators.Sampling
        .rebalanceToMinTokens(docs.withColumn("n_tokens",
          size(split(col("text"), " "))), "doc_id", "source", "n_tokens")),
      "q_c_ppl" -> ((_, _) => graft.operators.LanguageModel
        .pseudoPerplexity(docs, "doc_id", "text")),
      "q_c_ppl2" -> ((_, _) => graft.operators.LanguageModel
        .bigramPseudoPerplexity(docs, "doc_id", "text")))
    val out = tmpDir()
    assert(Verify.dump(spark, qs, "/unused", out.toString).isEmpty)
    assert(CacheRegistry.pending == 0,
      "Verify must release every registered cache")
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.isEmpty,
      s"block manager still holds: ${persisted.values.map(_.name)}")
  }

  test("every SparkEntry query name has oracle SQL or a documented rows-only check") {
    // names without oracleSql get only the driver's weaker rows>0 check;
    // keep that set explicit so additions are a conscious choice
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without an oracle: ${noOracle.toSeq.sorted.mkString(", ")}")
  }

  test("committed bench artifact covers exactly SparkEntry.queries (r11 ask #4)") {
    // r11 shipped a 148-query bench against a 150-query registry — the
    // two q_dup_token_fraction* rows landed after the bench run with
    // correctness rows but no bench rows. Bench and correctness must
    // cover the SAME names in the same commit, so this test fails the
    // build whenever a query is added (or renamed) without re-running
    // `runMain graft.Bench` to refresh bench_out.json.
    val p = Paths.get("bench_out.json")
    assert(Files.exists(p), "bench_out.json missing — run graft.Bench")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(p.toFile)
    import scala.jdk.CollectionConverters._
    val benched = node.get("queries").fieldNames().asScala.toSet
    val registered = SparkEntry.queries.keySet
    val unbenched = registered -- benched
    val stale = benched -- registered
    assert(unbenched.isEmpty && stale.isEmpty,
      s"bench/registry drift — unbenched: ${unbenched.toSeq.sorted.mkString(", ")}; " +
      s"stale bench rows: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("src/test defines a main only in the fixture generators, BenchOne and PlanDump") {
    // A test-scope main that no test, benchmark or build step runs
    // still compiles on every run and has to follow every engine API
    // change. The kept ones: five generators of committed fixtures,
    // BenchOne (graft.Bench reads the bench_isolation.json it writes)
    // and PlanDump (the plan-dump tool).
    val kept = Set("BenchOne", "Gpt2VocabGen", "PlanDump",
      "PretrainedVocabGen", "SubwordTrainMain", "UnigramVocabGen",
      "WordPieceVocabGen").map(n => s"src/test/scala/graft/$n.scala")
    val root = Paths.get("src/test")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val mainDef = """\bdef\s+main\s*\(""".r
    import scala.jdk.CollectionConverters._
    val withMain = {
      val files = Files.walk(root)
      try files.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") &&
          mainDef.findFirstIn(Files.readString(f)).isDefined)
        .map(_.toString.replace('\\', '/')).toSet
      finally files.close()
    }
    val added = withMain -- kept
    val missing = kept -- withMain
    assert(added.isEmpty && missing.isEmpty,
      "test-scope mains differ from the kept set — new: " +
      s"${added.toSeq.sorted.mkString(", ")}; gone: " +
      s"${missing.toSeq.sorted.mkString(", ")}. Put a new measurement " +
      "in a perfbench workload (perfbench/README.md) or assert it in a " +
      "spec, not in a main that nothing runs.")
  }
}
