package graft

import org.apache.spark.sql.SparkSession
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Regenerates the committed golden parquet fixtures backing
  * [[SparkEntry.goldenQueries]]. Run after any INTENTIONAL behavior
  * change to those surfaces:
  *
  * {{{ sbt "runMain graft.GoldenGen <sf0.01 dir> golden" }}}
  *
  * The queries are bit-deterministic (content-sorted local fits, pure
  * hash sketches, driver-local quantizer training), so a regenerated
  * golden differs from the committed one only when the engine's
  * behavior actually changed — exactly the regression signal the
  * driver's hash compare consumes.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "golden"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    // optional third arg: comma-separated subset (default: all goldens)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    SparkEntry.goldenQueries
      .filter(n => only.forall(_.contains(n))).foreach { name =>
      val tmp = s"$outDir/.tmp_$name"
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new File(tmp))
      println(s"[golden] wrote $outDir/$name.parquet")
    }
    spark.stop()
  }
}
