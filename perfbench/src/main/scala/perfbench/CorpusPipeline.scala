package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.functions.{ByteBpe, TextFunctions}
import graft.operators.{Dedup, Packing}
import graft.sources.{Export, Jsonl, TfRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class Doc(id: Long, source: String, lang: String, text: String)

/** A seeded document corpus with planted duplicates: `exactGroups` are
  * id sets sharing one text, `nearPairs` are (original, variant) ids
  * whose texts differ in one word. */
final case class Corpus(docs: Array[Doc], exactGroups: Seq[Array[Long]],
                        nearPairs: Seq[(Long, Long)])

object Corpus {
  // Language shares, 20 sources and 8..100-word lengths follow the
  // documents fixture; English text carries stopwords, the others do not.
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15)
  val Sources = 20
  val MinWords = 8
  val MaxWords = 100
  val ExactShare = 0.05
  val NearShare = 0.05

  private val EnStop = Seq("the", "of", "and", "to", "in", "is", "that", "for",
    "it", "with", "as", "was", "on", "be", "by", "this", "are", "from", "at", "or")
  private val EnWords = Seq("system", "data", "model", "training", "pipeline",
    "engine", "cluster", "memory", "network", "quality", "filter", "corpus",
    "document", "language", "sequence", "token", "vector", "matrix", "gradient",
    "penalty", "solver", "result", "process", "storage", "window", "stream",
    "partition", "shuffle", "scheduler", "executor", "driver", "cache", "index",
    "query", "table", "column", "record", "source", "target", "feature", "label",
    "sample", "weight", "signal", "noise", "error", "measure", "metric", "budget",
    "compute", "latency", "throughput", "schedule", "release", "version", "branch",
    "review", "change", "request", "response", "service", "client", "server",
    "packet", "buffer", "thread", "worker", "task", "stage", "job", "output",
    "input", "format", "schema", "parser", "reader", "writer", "export", "import")
  private val Vocab: Map[String, Seq[String]] = Map(
    "en" -> (EnStop ++ EnStop ++ EnWords),
    "de" -> Seq("und", "der", "die", "das", "nicht", "mit", "daten", "modell",
      "schnell", "speicher", "netz", "rechner", "ergebnis", "fehler", "quelle",
      "tabelle", "spalte", "zeile", "aufgabe", "dienst", "anfrage", "antwort",
      "schicht", "wert", "zahl", "folge", "lauf", "bericht", "stufe", "gruppe"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "donnees", "modele",
      "rapide", "memoire", "reseau", "calcul", "resultat", "erreur", "source",
      "tableau", "colonne", "ligne", "tache", "service", "requete", "reponse",
      "couche", "valeur", "nombre", "suite", "rapport", "etape", "groupe", "fichier"),
    "es" -> Seq("el", "los", "las", "y", "de", "que", "datos", "modelo",
      "rapido", "memoria", "red", "calculo", "resultado", "error", "fuente",
      "tabla", "columna", "fila", "tarea", "servicio", "consulta", "respuesta",
      "capa", "valor", "numero", "serie", "informe", "etapa", "grupo", "archivo"),
    "zh" -> Seq("数据", "模型", "训练", "系统", "网络", "质量", "速度", "内存",
      "集群", "引擎", "文档", "语言", "序列", "向量", "矩阵", "梯度", "结果",
      "任务", "服务", "请求", "响应", "表格", "字段", "记录", "来源", "目标"))

  private def lang(rng: scala.util.Random): String = {
    val u = rng.nextDouble()
    var acc = 0.0
    Langs.find { case (_, share) => acc += share; u < acc }.map(_._1).getOrElse("en")
  }

  private def words(rng: scala.util.Random, lang: String, n: Int): Array[String] = {
    val v = Vocab(lang)
    Array.fill(n)(v(rng.nextInt(v.size)))
  }

  /** Deterministic in `seed`: base documents, exact copies of some, and
    * one-word variants of some longer ones, shuffled before ids are
    * assigned so a copy may carry a smaller id than its original. */
  def generate(seed: Long, nDocs: Int): Corpus = {
    val rng = new scala.util.Random(seed)
    val nExact = (nDocs * ExactShare).toInt
    val nNear = (nDocs * NearShare).toInt
    val nBase = nDocs - nExact - nNear
    val base = Array.fill(nBase) {
      val l = lang(rng)
      (l, words(rng, l, MinWords + rng.nextInt(MaxWords - MinWords + 1)))
    }
    // (base index or -1, lang, words, kind): kind 0 base, 1 exact copy, 2 variant
    val slots = mutable.ArrayBuffer.empty[(Int, String, Array[String], Int)]
    base.indices.foreach(i => slots += ((i, base(i)._1, base(i)._2, 0)))
    (0 until nExact).foreach { _ =>
      val i = rng.nextInt(nBase)
      slots += ((i, base(i)._1, base(i)._2, 1))
    }
    val long = base.indices.filter(i => base(i)._2.length >= 40)
    (0 until nNear).foreach { _ =>
      val i = long(rng.nextInt(long.size))
      val w = base(i)._2.clone()
      val at = rng.nextInt(w.length)
      val v = Vocab(base(i)._1)
      var sub = w(at)
      while (sub == w(at)) sub = v(rng.nextInt(v.size))
      w(at) = sub
      slots += ((i, base(i)._1, w, 2))
    }
    val order = rng.shuffle(slots.indices.toVector)
    val docs = new Array[Doc](slots.size)
    val baseId = new Array[Long](nBase)
    val copies = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val variants = mutable.ArrayBuffer.empty[(Int, Long)]
    order.zipWithIndex.foreach { case (slot, id) =>
      val (i, l, w, kind) = slots(slot)
      docs(id) = Doc(id.toLong, s"src${rng.nextInt(Sources)}", l, w.mkString(" "))
      kind match {
        case 0 => baseId(i) = id
        case 1 => copies.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += id.toLong
        case _ => variants += ((i, id.toLong))
      }
    }
    val groups = copies.toSeq.sortBy(_._1).map { case (i, ids) => (baseId(i) +: ids).toArray }
    Corpus(docs, groups, variants.toSeq.map { case (i, v) => (baseId(i), v) })
  }

  /** Write the corpus as `shards` JSONL files, the `Jsonl.read` layout. */
  def writeJsonl(c: Corpus, dir: File, shards: Int): Unit = {
    dir.mkdirs()
    val outs = Array.tabulate(shards)(s => new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(dir, f"part-$s%05d.jsonl")), UTF_8)))
    try c.docs.foreach { d =>
      val line = Json.mapper.writeValueAsString(scala.collection.immutable.ListMap(
        "doc_id" -> d.id, "source" -> d.source, "lang" -> d.lang, "text" -> d.text))
      outs((d.id % shards).toInt).write(line + "\n")
    } finally outs.foreach(_.close())
  }

  def digest(c: Corpus): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    c.docs.foreach(d => md.update(s"${d.id}\t${d.source}\t${d.lang}\t${d.text}\n".getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** `corpus_pipeline`: a staged training-data pipeline over a seeded JSONL
  * corpus. Each stage reads the previous stage's output, runs one
  * operator, and writes its own output into a fresh per-iteration
  * directory (a reused directory would let `Export.writeSnapshot` skip
  * on its fingerprint marker). */
final class CorpusPipeline(ctx: Ctx) extends Workload {
  import ctx._

  private val nDocs = 2000
  private val shards = 8
  private val qualityMin = 0.6
  private val recallFloor = 0.9
  private val seqLen = 512
  private val warmPasses = 2
  private val measuredPasses = 2
  private val root = new File(workDir, "corpus")
  private val input = new File(root, "input")
  private var corpus: Corpus = _

  def prepare(): Unit = {
    corpus = Corpus.generate(seed, nDocs)
    Corpus.writeJsonl(corpus, input, shards)
  }

  def release(): Unit = delete(input)

  def inputDigest(): String = Corpus.digest(corpus)

  /** Warm-up only: the measured iterations run the output checks. The
    * first passes compile and JIT the freshly generated code, and a pass
    * stays 30-50 % slower than the steady state until the third, so two
    * passes run before any is measured. */
  def certify(): Seq[String] = {
    (1 to warmPasses).foreach(w => pipeline(-w, checked = false))
    Nil
  }

  /** Passes still differ by the JIT work left in them, so an iteration
    * measures two. */
  def iterate(k: Int): Iter = {
    val ps = (0 until measuredPasses).map(i => pipeline(k * measuredPasses + i, checked = true))
    Iter(Seq("pipeline_s" -> ps.map(_.ops.toMap.apply("pipeline_s")).sum / measuredPasses),
      ps.map(_.attempted).sum, ps.flatMap(_.failures), ps.head.counts)
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  /** Materialize `df` (cached until the iteration ends) inside the
    * current span and count it. */
  private def materialize(s: Span, df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    cached += c
    val n = c.count()
    s.attrs("rows_out") = n
    (c, n)
  }

  private def op(stage: String, in: DataFrame, rowsIn: Long)(f: DataFrame => DataFrame)
      : (DataFrame, Long) =
    tracer.span(s"op.$stage") { s =>
      s.attrs("rows_in") = rowsIn
      materialize(s, f(in))
    }

  private def write(dir: File)(body: String => Unit): Unit =
    tracer.span("src.write") { s => body(dir.getPath); s.attrs("bytes") = bytes(dir) }

  /** Write a stage's output as a snapshot and hand back its reader (the
    * scan runs inside the next operator's span). */
  private def stage(df: DataFrame, dir: File): DataFrame = {
    write(dir)(Export.writeSnapshot(df, _, "source"))
    spark.read.parquet(dir.getPath)
  }

  private def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L) else f.length

  private def pipeline(k: Int, checked: Boolean): Iter = {
    val dir = new File(root, s"iter-$k")
    delete(dir)
    try {
      val (state, seconds) = timed("pipeline") { _ =>
        val (docs, _) = tracer.span("src.read") { s =>
          materialize(s, Jsonl.read(spark, input.getPath)
            .filter(col("parse_ok")).select("doc_id", "source", "text"))
        }
        val (q, nq) = op("quality", docs, nDocs)(
          _.filter(TextFunctions.qualityScore(col("text")) >= qualityMin))
        val (ex, nEx) = op("exact_dedup", stage(q, new File(dir, "quality")), nq)(in =>
          if (fault) in else Dedup.dropExactDuplicates(in, "doc_id", "text"))
        val exIn = stage(ex, new File(dir, "exact"))
        val (pairs, nPairs) = op("minhash", exIn, nEx)(
          Dedup.minhashDupPairs(_, "doc_id", "text", parallelism = nproc))
        val (near, nNear) = op("clusters", pairs, nPairs) { pr =>
          val clusters = Dedup.dupClusters(pr).withColumnRenamed("id", "doc_id")
          exIn.join(clusters, Seq("doc_id"), "left")
            .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
            .select("doc_id", "source", "text")
        }
        val nearIn = stage(near, new File(dir, "near"))
        val (packed, _) = op("pack", nearIn, nNear)(
          Packing.packTokenSequences(_, "doc_id", "text", seqLen = seqLen,
            tokenIds = ByteBpe.gpt2TokenIdArray))
        write(new File(dir, "packed")) { path =>
          TfRecord.writeExamples(packed.select(col("seq_id").cast("long"),
            col("input_ids").cast("array<bigint>"), col("n_tokens").cast("long")),
            path, nFiles = nproc, shardKey = "seq_id")
        }
        (exIn, pairs, nearIn, packed)
      }
      val (exIn, pairs, nearIn, packed) = state
      Iter(Seq("pipeline_s" -> seconds), 1,
        if (checked) checks(exIn, pairs, nearIn, packed, new File(dir, "packed")) else Nil,
        Map("docs" -> nDocs.toDouble))
    } finally {
      cached.foreach(_.unpersist())
      cached.clear()
      delete(dir)
    }
  }

  private def checks(exact: DataFrame, pairs: DataFrame, near: DataFrame,
                     packed: DataFrame, packedDir: File): Seq[String] = {
    val survivors = exact.select("doc_id").collect().map(_.getLong(0)).toSet
    val dupLeft = corpus.exactGroups.count(g => g.count(survivors.contains) > 1)
    val exactFail = if (dupLeft == 0) Nil
      else Seq(s"$dupLeft planted exact-duplicate groups kept more than one doc")

    val found = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val eligible = corpus.nearPairs.filter { case (a, b) =>
      survivors.contains(a) && survivors.contains(b) }
    val hit = eligible.count { case (a, b) => found.contains((math.min(a, b), math.max(a, b))) }
    val recall = if (eligible.isEmpty) 0.0 else hit.toDouble / eligible.size
    val nearFail = if (recall >= recallFloor) Nil
      else Seq(f"near-duplicate recall $recall%.3f of ${eligible.size} planted pairs, floor $recallFloor")

    val wantTokens = near.agg(sum(ByteBpe.gpt2TokenCount(col("text")).cast("long")))
      .head().getLong(0)
    val packedTokens = packed.agg(sum(col("n_tokens").cast("long"))).head().getLong(0)
    val written = TfRecord.read(spark, packedDir.getPath)
      .agg(sum(element_at(element_at(col("int64_feats"), "n_tokens"), 1))).head()
    val writtenTokens = if (written.isNullAt(0)) -1L else written.getLong(0)
    val packFail =
      if (packedTokens == wantTokens && writtenTokens == wantTokens) Nil
      else Seq(s"packed $packedTokens / written $writtenTokens tokens, docs hold $wantTokens")
    exactFail ++ nearFail ++ packFail
  }
}
