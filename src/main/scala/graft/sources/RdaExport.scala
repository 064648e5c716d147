package graft.sources

import graft.sources.RdaReader._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** One-time export of the reference's five bundled datasets
  * (bodyfat / abalone / heart / wine / student, `data-raw/datasets.R`)
  * from `.rda` to committed parquet under `golden/datasets/` — the
  * real-data fit anchors (FIXTURES.md §2). Column names come from the
  * rda objects themselves (including the reference's `foream` typo) so
  * a reference user's column references port verbatim.
  *
  * {{{ sbt "runMain graft.sources.RdaExport <reference data dir> golden/datasets" }}}
  */
object RdaExport {

  /** (name, column names, rows): every dataset as dense doubles plus
    * label column(s) — heart's dgCMatrix is densified (270x18 is tiny;
    * the SPARSITY survives in the values, which is what the fit-side
    * sparse detection consumes). */
  def load(rdaDir: String, name: String): (Array[String], Seq[Row]) = {
    val obj = RdaReader.read(s"$rdaDir/$name.rda")(name)
    val parts = names(obj).zip(obj.asInstanceOf[RList].values).toMap
    val x = parts("x")
    val y = parts("y")
    name match {
      case "bodyfat" | "abalone" =>
        val (cols, data) = numericFrame(x)
        val yv = numeric(y)
        val rows = yv.indices.map { i =>
          Row.fromSeq(i.toLong +: data.map(_(i)).toSeq :+ yv(i))
        }
        (Array("row_id") ++ cols :+ "label", rows)
      case "heart" =>
        val (nr, _, p, ri, xs) = sparseCsc(x)
        val colNames = attrsOf(x)("Dimnames") match {
          case RList(Array(_, RStr(cn, _)), _) => cn
          case other => sys.error(s"heart Dimnames: $other")
        }
        val dense = Array.fill(nr, colNames.length)(0.0)
        for (j <- colNames.indices; k <- p(j) until p(j + 1))
          dense(ri(k))(j) = xs(k)
        val yv = factorLabels(y)
        val rows = (0 until nr).map { i =>
          Row.fromSeq(i.toLong +: dense(i).toSeq :+ yv(i))
        }
        (Array("row_id") ++ colNames :+ "label", rows)
      case "wine" =>
        val (nr, nc, xs) = denseMatrix(x)
        val colNames = attrsOf(x)("dimnames") match {
          case RList(Array(_, RStr(cn, _)), _) => cn
          case other => sys.error(s"wine dimnames: $other")
        }
        require(colNames.length == nc)
        val yv = factorLabels(y)
        val rows = (0 until nr).map { i =>
          Row.fromSeq(i.toLong +: (0 until nc).map(j => xs(j * nr + i)) :+ yv(i))
        }
        (Array("row_id") ++ colNames :+ "label", rows)
      case "student" =>
        val (nr, nc, xs) = denseMatrix(x)
        val colNames = attrsOf(x)("dimnames") match {
          case RList(Array(_, RStr(cn, _)), _) => cn
          case other => sys.error(s"student x dimnames: $other")
        }
        val yv = numeric(y) // 382x2 int matrix, column-major
        val yNames = attrsOf(y)("dimnames") match {
          case RList(Array(_, RStr(cn, _)), _) => cn.map("label_" + _)
          case other => sys.error(s"student y dimnames: $other")
        }
        val rows = (0 until nr).map { i =>
          Row.fromSeq((i.toLong +: (0 until nc).map(j => xs(j * nr + i)))
            ++ yNames.indices.map(k => yv(k * nr + i)))
        }
        (Array("row_id") ++ colNames ++ yNames, rows)
      case other => sys.error(s"unknown dataset $other")
    }
  }

  def toDf(spark: SparkSession, cols: Array[String], rows: Seq[Row]): DataFrame = {
    val fields = cols.map {
      case "row_id" => StructField("row_id", LongType, nullable = false)
      case "label" if rows.head.get(cols.indexOf("label")).isInstanceOf[String] =>
        StructField("label", StringType, nullable = false)
      case c => StructField(c, DoubleType, nullable = false)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StructType(fields))
  }

  val DatasetNames = Seq("bodyfat", "abalone", "heart", "wine", "student")

  def main(args: Array[String]): Unit = {
    val rdaDir = if (args.nonEmpty) args(0) else "/root/reference/data"
    val outDir =
      if (args.length > 1) args(1) else "golden/datasets"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    DatasetNames.foreach { name =>
      val (cols, rows) = load(rdaDir, name)
      val tmp = s"$outDir/.tmp_$name"
      toDf(spark, cols, rows).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new File(tmp))
      println(s"[rda-export] $name: ${rows.size} rows x ${cols.length} cols")
    }
    spark.stop()
  }
}
