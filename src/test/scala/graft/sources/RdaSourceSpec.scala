package graft.sources

import graft.slope.{Slope, SlopeParams}
import graft.sources.RdaReader._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RdaReader source + the reference's five bundled datasets as
  * real-data fit anchors (FIXTURES.md §2). The .rda structural reads
  * check the reader against independently-known facts about these
  * public datasets (UCI class counts, libsvm shapes); the fits check
  * every family end-to-end on genuine data, with bodyfat's
  * near-saturated step checked against an engine-independent
  * least-squares solution computed here from the same loaded matrix.
  */
class RdaSourceSpec extends AnyFunSuite {

  private val RdaDir = "/root/reference/data"
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").getOrCreate()

  private def haveRda = new java.io.File(s"$RdaDir/bodyfat.rda").exists()

  test("rda reader: bodyfat is a 252x13 frame + numeric response") {
    assume(haveRda)
    val obj = RdaReader.read(s"$RdaDir/bodyfat.rda")("bodyfat")
    val parts = names(obj).zip(obj.asInstanceOf[RList].values).toMap
    val (cols, data) = numericFrame(parts("x"))
    assert(cols.length == 13 && data.forall(_.length == 252))
    // the reference keeps the source's `foream` typo; so do we
    assert(cols.contains("foream") && cols.contains("abdomen"))
    val y = numeric(parts("y"))
    assert(y.length == 252)
    assert(math.abs(y.sum / y.length - 19.1508) < 1e-3) // known mean %fat
  }

  test("rda reader: heart is a 270x18 dgCMatrix + 150/120 factor") {
    assume(haveRda)
    val obj = RdaReader.read(s"$RdaDir/heart.rda")("heart")
    val parts = names(obj).zip(obj.asInstanceOf[RList].values).toMap
    val (nr, nc, p, ri, xs) = sparseCsc(parts("x"))
    assert(nr == 270 && nc == 18)
    assert(p.length == nc + 1 && p.last == ri.length && ri.length == xs.length)
    assert(xs.length < nr * nc / 2, "heart's design is genuinely sparse")
    val labels = factorLabels(parts("y"))
    assert(labels.count(_ == "absence") == 150)   // Statlog heart counts
    assert(labels.count(_ == "presence") == 120)
  }

  test("rda reader: wine is 178x13 dense + UCI class counts 59/71/48") {
    assume(haveRda)
    val obj = RdaReader.read(s"$RdaDir/wine.rda")("wine")
    val parts = names(obj).zip(obj.asInstanceOf[RList].values).toMap
    val (nr, nc, _) = denseMatrix(parts("x"))
    assert(nr == 178 && nc == 13)
    val labels = factorLabels(parts("y"))
    assert(labels.groupBy(identity).view.mapValues(_.length).toMap ==
      Map("A" -> 59, "B" -> 71, "C" -> 48))
  }

  test("exported parquet matches the rda exactly") {
    assume(haveRda)
    // golden/datasets/*.parquet is the committed form the queries read;
    // re-derive from the rda and compare values (provenance check)
    val (cols, rows) = RdaExport.load(RdaDir, "bodyfat")
    val committed = spark.read
      .parquet("golden/datasets/bodyfat.parquet")
      .orderBy("row_id").collect()
    assert(committed.length == rows.length)
    assert(committed.head.schema.fieldNames.toSeq == cols.toSeq)
    rows.zip(committed).foreach { case (a, b) =>
      cols.indices.foreach(j => assert(a.get(j) == b.get(j)))
    }
  }

  test("bodyfat gaussian: near-saturated step matches closed-form OLS") {
    val df = spark.read.parquet("golden/datasets/bodyfat.parquet")
    val feats = df.columns.filter(c => c != "row_id" && c != "label")
    val m = Slope.fit(
      df.select(array(feats.map(col): _*).as("features"), col("label")),
      "features", "label",
      SlopeParams(family = "gaussian", sigma = Some(Array(1e-8))))
    // engine-independent anchor: OLS via breeze on the same matrix
    val rows = df.orderBy("row_id").collect()
    val n = rows.length; val p = feats.length
    val x = breeze.linalg.DenseMatrix.tabulate(n, p + 1)((i, j) =>
      if (j == p) 1.0 else rows(i).getDouble(j + 1))
    val y = breeze.linalg.DenseVector.tabulate(n)(i =>
      rows(i).getAs[Double]("label"))
    val beta = breeze.linalg.pinv(x.t * x) * (x.t * y)
    val got = m.coefs(0) :+ m.intercepts(0)(0)
    (0 to p).foreach { j =>
      // relative: the path stops at a finite duality gap, so large
      // coefficients (the intercept is ~-18) carry proportional error
      assert(math.abs(got(j) - beta(j)) < 1e-3 * math.max(1.0, math.abs(beta(j))),
        s"coef $j: ${got(j)} vs OLS ${beta(j)}")
    }
  }

  test("abalone poisson and student multi-task fit their real data") {
    val ab = spark.read.parquet("golden/datasets/abalone.parquet")
    val abFeats = ab.columns.filter(c => c != "row_id" && c != "label")
    val mp = Slope.fit(
      ab.select(array(abFeats.map(col): _*).as("features"), col("label")),
      "features", "label", SlopeParams(family = "poisson", nSigma = 8))
    assert(mp.nSteps > 1)
    assert(mp.devianceRatios.last > 0.5, // rings are well explained
      s"poisson dev ratio ${mp.devianceRatios.last}")
    assert(mp.devianceRatios.toSeq == mp.devianceRatios.sorted.toSeq)

    val st = spark.read.parquet("golden/datasets/student.parquet")
    val stFeats = st.columns.filter(c => c != "row_id" && !c.startsWith("label_"))
    val mt = Slope.fit(
      st.select(array(stFeats.map(col): _*).as("features"),
        array(col("label_math"), col("label_portugese")).as("label")),
      "features", "label", SlopeParams(family = "gaussian", nSigma = 8))
    assert(mt.m == 2 && mt.p == 21)
    assert(mt.devianceRatios.last > 0.1 && mt.nSteps > 1)
  }
}
