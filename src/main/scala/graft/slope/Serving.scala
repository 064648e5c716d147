package graft.slope

import org.apache.spark.ml.linalg.{DenseVector, SQLDataTypes, Vector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, UserDefinedType}

/** Prediction / coefficient-serving layer (reference `R/predict.R`,
  * `R/coef.R`, `R/interpolatePenalty.R`, `R/interpolateCoefficients.R`).
  *
  * The coefficient cube is p/m/steps-dimensional (driver state). It
  * travels by reference inside one codegen'd expression
  * ([[LinearPredictors]]) of one narrow map stage: predictions never
  * shuffle.
  */
object SlopeServe {

  /** Coefficients at an arbitrary penalty scale: exact slice when sigma
    * is on the path, else glmnet-style linear interpolation with
    * clamping to the path range (`R/interpolatePenalty.R:10-37`).
    * Returns (intercepts length m, coefs p x m column-major). */
  def coefAt(model: SlopeModel, sigma: Double): (Array[Double], Array[Double]) = {
    val path = model.sigma
    val exact = path.indexWhere(s => s == sigma)
    if (exact >= 0) return (model.intercepts(exact), model.coefs(exact))
    require(sigma >= 0, "sigma must be non-negative")
    if (path.length == 1) return (model.intercepts(0), model.coefs(0))

    val k = path.length
    val x = math.min(math.max(sigma, path.min), path.max)
    // normalized positions: penalty[0] -> 0, penalty[k-1] -> 1
    val denom = path(0) - path(k - 1)
    val xfrac0 = (path(0) - x) / denom
    val pn = path.map(p => (path(0) - p) / denom)
    // locate bracketing indices on the normalized grid (pn is increasing)
    var right = pn.indexWhere(_ >= xfrac0)
    if (right < 0) right = k - 1
    val left = if (pn(right) == xfrac0) right else math.max(0, right - 1)
    val frac =
      if (left == right || math.abs(pn(left) - pn(right)) < 2.3e-16) 1.0
      else (xfrac0 - pn(right)) / (pn(left) - pn(right))

    val ic = Array.tabulate(model.m)(j =>
      model.intercepts(left)(j) * frac + model.intercepts(right)(j) * (1 - frac))
    val cf = Array.tabulate(model.p * model.m)(j =>
      model.coefs(left)(j) * frac + model.coefs(right)(j) * (1 - frac))
    (ic, cf)
  }

  /** Exact coefficients at arbitrary penalty scales — the reference's
    * `coef(..., exact = TRUE)` branch (`R/coef.R:43-48`), which re-solves
    * via `stats::update()` instead of interpolating. The requested
    * sigmas are solved as ONE descending user-sigma path, so each point
    * warm-starts from the previous (the same mechanics `update()` gets
    * from the path loop). Returns (intercepts length m, coefs p x m),
    * one entry per requested sigma, in the caller's order. */
  def coefExact(df: DataFrame, featuresCol: String, labelCol: String,
                params: SlopeParams, sigmas: Array[Double])
    : Array[(Array[Double], Array[Double])] = {
    require(sigmas.nonEmpty, "sigmas must be non-empty")
    require(sigmas.forall(_ >= 0), "sigma must be non-negative")
    val sorted = sigmas.distinct.sortBy(-(_: Double))
    val m = Slope.fit(df, featuresCol, labelCol,
      params.copy(sigma = Some(sorted)))
    sigmas.map { s =>
      val i = sorted.indexWhere(_ == s)
      (m.intercepts(i), m.coefs(i))
    }
  }

  /** [[coefExact]] over pre-collected, content-sorted rows (the
    * features and labels [[Slope.collectLocal]] returns) — for callers that already hold
    * the local-path data from the main fit (r17 optimization round:
    * q_coef_interp paid a second full collect + content sort of the
    * same frame for its exact-refit path). Identical mechanics: one
    * descending user-sigma path, each point warm-starting from the
    * previous. */
  def coefExact(xs: Array[org.apache.spark.ml.linalg.Vector],
                rawY: Array[Any], params: SlopeParams,
                sigmas: Array[Double])
    : Array[(Array[Double], Array[Double])] = {
    require(sigmas.nonEmpty, "sigmas must be non-empty")
    require(sigmas.forall(_ >= 0), "sigma must be non-negative")
    val sorted = sigmas.distinct.sortBy(-(_: Double))
    val m = Slope.fitLocal(xs, rawY, params.copy(sigma = Some(sorted)))
    sigmas.map { s =>
      val i = sorted.indexWhere(_ == s)
      (m.intercepts(i), m.coefs(i))
    }
  }

  /** Linear predictors for every path step: adds `linpred` =
    * array(steps) of array(m), lp_k = b_k + sum_j w_jk x_j
    * ([[PathPredictor]], the sum scoring and CV compute). One codegen'd
    * expression holds the coefficient cube by reference and decodes each
    * row's features from Catalyst's internal row, so a sparse row stays
    * sparse. A null features value gives a null `linpred`; a feature
    * vector whose length is not the model's p fails the query with an
    * `IllegalArgumentException` that names both lengths, and a null
    * element of an array value with one that names the column and the
    * element's index. */
  def withLinearPredictors(model: SlopeModel, df: DataFrame,
                           featuresCol: String): DataFrame =
    df.withColumn("linpred", ColumnShim.column(LinearPredictors(
      ColumnShim.expression(Slope.featuresColumn(df, featuresCol)), model.predictor,
      featuresCol)))

  /** Family response map applied to a length-m linear predictor column
    * entry (reference `R/predict.R:73-197`). For multinomial the result
    * is the full K-class softmax (implicit 0 logit appended). */
  private def responseOf(model: SlopeModel, lp: Column): Column =
    model.family match {
      // multi-task (m > 1): response IS the length-m linear predictor;
      // the m = 1 form is kept verbatim so existing plans are unchanged
      case "gaussian" =>
        if (model.m == 1) array(element_at(lp, 1)) else lp
      case "poisson"  => array(exp(element_at(lp, 1)))
      case "binomial" => array(lit(1.0) / (lit(1.0) + exp(-element_at(lp, 1))))
      case "multinomial" =>
        val withRef = concat(lp, array(lit(0.0)))
        val mx = array_max(withRef)
        val ex = transform(withRef, v => exp(v - mx))
        val tot = aggregate(ex, lit(0.0), (a, v) => a + v)
        transform(ex, v => v / tot)
    }

  /** Class label for one step (binomial: lin_pred > 0 picks the second
    * level, `R/predict.R:107`; multinomial: argmax with the reference
    * class appended, `R/predict.R:179-190`). */
  private def classOf(model: SlopeModel, lp: Column): Column =
    model.family match {
      case "binomial" =>
        when(element_at(lp, 1) > 0.0, lit(model.classNames(1)))
          .otherwise(lit(model.classNames(0)))
      case "multinomial" =>
        val withRef = concat(lp, array(lit(0.0)))
        val names = array(model.classNames.map(lit(_)): _*)
        element_at(names, array_position(withRef, array_max(withRef)).cast("int"))
      case other =>
        throw new IllegalArgumentException(s"class prediction undefined for $other")
    }

  /** Full transform: adds `linpred` plus, per requested type,
    * `response` (array per step) and/or `predicted_class` (string per
    * step). */
  def predictions(model: SlopeModel, df: DataFrame, featuresCol: String,
                  types: Seq[String] = Seq("link")): DataFrame = {
    var out = withLinearPredictors(model, df, featuresCol)
    if (types.contains("response"))
      out = out.withColumn("response",
        transform(col("linpred"), lp => responseOf(model, lp)))
    if (types.contains("class"))
      out = out.withColumn("predicted_class",
        transform(col("linpred"), lp => classOf(model, lp)))
    out
  }

  /** Path summary table (reference `print.Owl`, `R/print.R:14-31`):
    * one row per step with sigma, deviance ratio, nonzero count. */
  def pathSummary(model: SlopeModel, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    (0 until model.nSteps).map { s =>
      val nz = model.coefs(s).count(_ != 0.0)
      (s, model.sigma(s), model.devianceRatios(s), nz, model.deviances(s))
    }.toDF("step", "sigma", "deviance_ratio", "n_nonzero", "deviance")
  }

  /** Long-form coefficient table for SQL access over the fitted cube. */
  def coefTable(model: SlopeModel, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for {
      s <- 0 until model.nSteps
      k <- 0 until model.m
      j <- 0 until model.p
    } yield (s, model.sigma(s), k, j, model.coefs(s)(k * model.p + j))
    rows.toDF("step", "sigma", "target", "feature_idx", "coefficient")
  }
}

/** A model's linear predictor at every path step,
  * lp_k = b_k + sum_j w_jk x_j, through [[BackendKernels.linPred]] with
  * every feature a column: prediction ([[LinearPredictors]]), scoring and
  * CV ([[StepErrors]]) and [[SlopeModel.linearPredictor]] compute this
  * one sum in this one order. Serializable: it travels inside a serving
  * expression or a scoring pass, and each copy builds its own lookup. */
private[slope] final class PathPredictor(model: SlopeModel) extends Serializable {
  val nSteps: Int = model.nSteps
  val m: Int = model.m
  val p: Int = model.p
  // w(step)(k): coefficient column k of that step
  private val w = Array.tabulate(nSteps, m)((s, k) =>
    java.util.Arrays.copyOfRange(model.coefs(s), k * p, (k + 1) * p))
  private val b = model.intercepts
  private val cols = new ActiveColumns(p, Array.range(0, p), Array.range(0, p))
  @transient private lazy val look = cols.lookup()

  /** Fails unless `x` has the model's p features. */
  def check(x: Vector): Unit =
    require(x.size == p, s"feature vector length ${x.size} != model's $p")

  /** The m linear predictors of `x` (of length p) at `step`, into `out`. */
  def at(x: Vector, step: Int, out: Array[Double]): Unit =
    BackendKernels.linPred(x, cols, look, w(step), b(step), out)
}

/** `linpred` of [[SlopeServe.withLinearPredictors]]: the features value
  * of a row (array<double> or an ml `Vector`) to array(steps) of
  * array(m) through [[PathPredictor]]. The generated code calls
  * [[linpred]] on this object, which the stage holds by reference, so
  * its size does not grow with the cube. Null features give null; a null
  * element of `column`'s array fails. */
private[slope] case class LinearPredictors(child: Expression, predictor: PathPredictor,
                                           column: String)
    extends UnaryExpression {

  // from the optimized child's type: a cast that cannot add null
  // elements is gone by then, so arrays that hold none are not scanned
  private lazy val checkNulls = LinearPredictors.nullElements(child.dataType)

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def prettyName: String = "slope_linpred"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t if t == SQLDataTypes.VectorType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"slope_linpred requires array<double> or vector features, got ${t.catalogString}")
  }

  /** Shared by the interpreted and generated paths. */
  def linpred(features: Any): ArrayData = {
    val x = LinearPredictors.vector(features, column, checkNulls)
    predictor.check(x)
    val steps = new Array[Any](predictor.nSteps)
    val lp = new Array[Double](predictor.m)
    var s = 0
    while (s < steps.length) {
      predictor.at(x, s, lp)
      steps(s) = UnsafeArrayData.fromPrimitiveArray(lp)
      s += 1
    }
    new GenericArrayData(steps)
  }

  override protected def nullSafeEval(features: Any): Any = linpred(features)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("slopeLinpred", this, classOf[LinearPredictors].getName)
    defineCodeGen(ctx, ev, f => s"$self.linpred($f)")
  }

  override protected def withNewChildInternal(c: Expression): LinearPredictors =
    copy(child = c)
}

private[slope] object LinearPredictors {
  private val VectorType = SQLDataTypes.VectorType.asInstanceOf[UserDefinedType[Vector]]

  /** Whether an array features value of `dataType` can hold a null
    * element. */
  def nullElements(dataType: DataType): Boolean = dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  /** The row decoder of serving and scoring: a features value as
    * Catalyst holds it, array<double> data or an ml `Vector` struct
    * (dense or sparse, as stored), to a `Vector`. With `checkNulls`, a
    * null array element fails with an `IllegalArgumentException` that
    * names `column` and the element's index. */
  def vector(features: Any, column: String, checkNulls: Boolean): Vector = features match {
    case a: ArrayData =>
      var i = 0
      while (checkNulls && i < a.numElements()) {
        if (a.isNullAt(i)) throw Slope.nullElement(column, i)
        i += 1
      }
      new DenseVector(a.toDoubleArray())
    case r: InternalRow => VectorType.deserialize(r)
  }
}
