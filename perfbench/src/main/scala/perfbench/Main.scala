package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one measured iteration of a workload did. `ops` are the timed
  * operations (name -> seconds); `failures` describe failed checks. */
final case class Iter(ops: Seq[(String, Double)], attempted: Int,
                      failures: Seq[String], counts: Map[String, Double] = Map.empty)

/** Everything a workload needs from the harness. `fault` asks for a
  * deliberate output corruption, used only to test that checks fire. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     nproc: Int, workDir: String, fault: Boolean) {
  /** Wall seconds of `body`, run inside a span. */
  def timed[T](name: String)(body: Span => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = tracer.span(name)(body)
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark workload: a closed loop of operations over seeded
  * inputs. */
trait Workload {
  /** Generate and cache the inputs (run several times; the last copy
    * stays). */
  def prepare(): Unit
  /** Drop what `prepare` cached. */
  def release(): Unit
  /** One-time certificates and warm-up; returns failed checks. */
  def certify(): Seq[String]
  /** One measured iteration: the operations plus their output checks. */
  def iterate(k: Int): Iter
  /** Digest of the generated inputs (for determinism tests). */
  def inputDigest(): String
}

object Json {
  /** Writes Scala maps, sequences and options as JSON. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** Benchmark entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *  [--fault 1] [--digest 1]`. `--workload all` only sets every workload
  * up once (the class data sharing archive run).
  * Writes the run record (setup times, per-iteration samples, checks and,
  * when traced, the raw trace) as JSON to `--out`. */
object Main {
  val PrepReps = 3
  val Workloads = Seq("slope_fit_dist", "slope_cv_serve", "corpus_pipeline")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "slope_fit_dist" => new SlopeFitDist(ctx)
    case "slope_cv_serve" => new SlopeCvServe(ctx)
    case "corpus_pipeline" => new CorpusPipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val workDir = opt("work")
    val out = opt("out")
    val digestOnly = opt.get("digest").contains("1")
    val nproc = Runtime.getRuntime.availableProcessors()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc, "traced" -> traced)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(sc)
    val ctx = Ctx(spark, tracer, seed, nproc, workDir, opt.contains("fault"))
    lazy val wl = make(workload, ctx)

    var exit = 0
    try {
      if (workload == "all") {
        // class-archive run: load what every workload's set-up loads
        Workloads.foreach { name =>
          val w = make(name, ctx)
          w.prepare(); w.certify(); w.release()
        }
      } else if (digestOnly) {
        wl.prepare()
        record("digest") = wl.inputDigest()
      } else {
        val prepS = (1 to PrepReps).map { r =>
          if (r > 1) wl.release()
          val t = System.nanoTime(); wl.prepare(); (System.nanoTime() - t) / 1e9
        }
        val tc = System.nanoTime()
        val certFailures = wl.certify()
        val certS = (System.nanoTime() - tc) / 1e9
        record("setup") = Map("session_s" -> sessionS, "prepare_s" -> prepS,
          "certify_s" -> certS)
        record("cert_failures") = certFailures

        // The traced run measures its first half untraced and its
        // second half traced; the ratio is the tracing overhead.
        val listener = new SparkTrace
        val codegen = new CodegenLog
        val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
        val os = ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
        val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
        def gcMs = gcBeans.map(_.getCollectionTime).sum
        val start = System.nanoTime()
        def elapsed = (System.nanoTime() - start) / 1e9
        var k = 0
        // a traced run always measures at least one traced iteration
        while (elapsed < seconds || (traced && !iters.exists(_("traced") == true))) {
          if (traced && !tracer.enabled && elapsed >= seconds / 2) {
            sc.addSparkListener(listener)
            codegen.attach()
            tracer.enabled = true
          }
          heapPools.foreach(_.resetPeakUsage())
          val cpu0 = os.getProcessCpuTime
          val gc0 = gcMs
          val w0 = System.nanoTime()
          val startNs = tracer.nowNs()
          val it = try tracer.span("iteration")(_ => wl.iterate(k))
            catch { case e: Exception =>
              Iter(Nil, 1, Seq(s"iteration $k threw ${e.getClass.getName}: ${e.getMessage}")) }
          val wall = (System.nanoTime() - w0) / 1e9
          iters += Map("k" -> k, "traced" -> tracer.enabled, "start_ns" -> startNs,
            "end_ns" -> tracer.nowNs(), "wall_s" -> wall,
            "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
            "gc_s" -> (gcMs - gc0) / 1e3,
            "peak_heap_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
            "ops" -> it.ops.toMap, "attempted" -> it.attempted,
            "failures" -> it.failures, "counts" -> it.counts)
          it.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
          k += 1
        }
        record("iterations") = iters.toSeq
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(sc)
          record("trace") = Map("spans" -> tracer.records,
            "spark" -> listener.record, "codegen" -> codegen.record)
        }
        if (certFailures.nonEmpty || iters.exists(_("failures").asInstanceOf[Seq[_]].nonEmpty))
          exit = 1
      }
    } catch {
      case e: Throwable =>
        record("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        exit = 2
    } finally {
      Files.write(Paths.get(out), Json.mapper.writeValueAsBytes(record))
      spark.stop()
    }
    sys.exit(exit)
  }
}
