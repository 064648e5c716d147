package graft

import graft.slope.{Slope, SlopeParams}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Pass-count / wall-time probe for the distributed binomial FISTA fit
  * (the q_slope_binom_dist shape): baseline vs lr-carry vs adaptive
  * restart vs both. Every FISTA pass on the distributed backend is one
  * Spark job (two when the speculative line-search candidate is
  * rejected), so total passes IS the 100-TB cost model — this
  * probe is the evidence artifact for the round-9 "≥25% fewer passes"
  * criterion.
  */
object FistaPassProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$dir/lineitem.parquet").select(
      array(col("l_quantity"), col("l_discount"), col("l_tax")).as("features"),
      when(col("l_returnflag") === "A", "A").otherwise("other").as("label"))
    base.persist().count()
    val pp = SlopeParams(family = "binomial", nSigma = 6,
      tolDevChange = 0.0, tolDevRatio = 2.0, localCellLimit = 0)
    val variants = Seq(
      ("baseline", pp),
      ("carryLr", pp.copy(carryLearningRate = true)),
      ("restart", pp.copy(adaptiveRestart = true)),
      ("both", pp.copy(carryLearningRate = true, adaptiveRestart = true)))
    for ((name, p) <- variants) {
      val t0 = System.nanoTime()
      val m = Slope.fit(base, "features", "label", p)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[fista] $name%-10s passes=${m.passes.sum}%5d " +
        f"perStep=${m.passes.mkString(",")} dev=${m.deviances.last}%.6f " +
        f"wall=$dt%6.2fs")
    }
    spark.stop()
  }
}
