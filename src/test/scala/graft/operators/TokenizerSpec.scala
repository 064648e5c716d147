package graft.operators

import graft.functions.{ByteBpe, Subword}
import graft.slope.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed BPE trainer (r12 verdict ask #1): the differential gate
  * is byte-identity against the driver-side reference trainer
  * ([[Subword.trainMerges]]) over the SAME pretoken multiset — same
  * pair counts, same argmax tie-break, same left-to-right merge
  * application, same stop condition. Gpt2VocabGen now builds the
  * committed fixture through this operator. */
class TokenizerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The reference result: driver-side trainMerges over the mapped
    * pretoken counts of `texts` (exactly the old Gpt2VocabGen loop). */
  private def referenceMerges(texts: Seq[String],
                              n: Int): Seq[(String, String)] = {
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      ByteBpe.pretokenize(t).foreach { pt =>
        val mapped = ByteBpe.toByteSymbols(pt).mkString
        counts(mapped) = counts.getOrElse(mapped, 0L) + 1L
      }
    }
    Subword.trainMerges(counts.toMap, n)
  }

  test("trainBpe == driver reference trainer on the fixture corpus") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val texts = df.collect().map(_.getString(0)).toSeq
    val expected = referenceMerges(texts, 48)
    val got = Tokenizer.trainBpe(df, "text", 48)
    // trainMerges dedupes at the end; the raw sequence dedupes to it
    assert(got.distinct == expected,
      s"first divergence at ${got.distinct.zip(expected)
        .indexWhere(p => p._1 != p._2)}")
  }

  test("trainBpe learns the leading-space convention (Ġ merges)") {
    import spark.implicits._
    val df = Seq.fill(50)("the cat sat on the mat").toDF("text")
    val merges = Tokenizer.trainBpe(df, "text", 12)
    assert(merges.nonEmpty)
    // words carry their leading space as 'Ġ', so Ġ-prefixed merges
    // must arise naturally (the GPT-2 discipline)
    assert(merges.exists { case (a, _) => a.startsWith("Ġ") },
      s"no Ġ merge in $merges")
    // every merge is well-formed BPE output: the loader accepts it
    val lines = Seq("#version: 0.2") ++
      merges.distinct.map { case (a, b) => s"$a $b" }
    assert(ByteBpe.parseMerges(lines.iterator).size == merges.distinct.size)
  }

  test("trainBpe stops early when no pair remains") {
    import spark.implicits._
    // single repeated 2-byte pretoken: exactly one merge is learnable
    val df = Seq.fill(5)("ab").toDF("text")
    val merges = Tokenizer.trainBpe(df, "text", 10)
    assert(merges == Vector(("a", "b")))
  }

  test("trainBpe pair counts include overlapping occurrences") {
    import spark.implicits._
    // "aaa" has TWO (a,a) adjacencies but "ab" repeated twice would
    // give (a,b) count 2 as well — weight "ab" higher to prove 'aaa'
    // counts 2, not 1: corpus = one "aaa" + one "ab". (a,a) count 2
    // beats (a,b) count 1.
    val df = Seq("aaa", "ab").toDF("text")
    val merges = Tokenizer.trainBpe(df, "text", 1)
    assert(merges == Vector(("a", "a")))
  }

  test("merge application: tab-rendered replace equals the array pass") {
    import spark.implicits._
    // adjacent same-pair runs: [a,a,a,a] merging (a,a) must yield
    // [aa,aa] (the shared-delimiter bug would give [aa,a,a]); the
    // training corpus 'aaaa' exercises it end to end: step 1 merges
    // (a,a) everywhere -> [aa,aa]; step 2 merges (aa,aa)
    val df = Seq("aaaa").toDF("text")
    val merges = Tokenizer.trainBpe(df, "text", 2)
    assert(merges == Vector(("a", "a"), ("aa", "aa")))
  }

  test("trainBpe minCount prunes the long tail without touching head merges") {
    import spark.implicits._
    // head word repeated 30x; 30 distinct singleton words share no
    // pairs with it — pruning them must leave the head merges intact
    val head = Seq.fill(30)("zzqq")
    val tail = (1 to 30).map(i => s"x${i}y")
    val df = (head ++ tail).toDF("text")
    val pruned = Tokenizer.trainBpe(df, "text", 3, minCount = 5L)
    val full = Tokenizer.trainBpe(df, "text", 3)
    assert(pruned.take(1) == full.take(1),
      "the head argmax must be unaffected by tail pruning")
    // (z,z),(z,q),(q,q) all count 30 — lexicographic tie-break picks
    // (q,q); the full sequence then merges (z,qq) and (z,zqq)
    assert(pruned == Vector(("q", "q"), ("z", "qq"), ("z", "zqq")))
    assert(full.take(3) == pruned)
  }

  /** The shared deep-merge corpus ([[graft.TestCorpora.richTexts]] —
    * the corpus SCALING.md's merge-depth figures were measured on):
    * the fixture corpus's ~40-word vocabulary
    * exhausts every learnable pair at 127 merges (exactly the
    * committed merges.txt), so the 512-merge differential needs
    * thousands of distinct pretokens. */
  private def richTexts: Seq[String] = graft.TestCorpora.richTexts

  test("trainBpe: local, distributed and naive reference are byte-identical at 512 merges (r13 ask #1)") {
    import spark.implicits._
    val df = richTexts.toDF("text")
    val expected = referenceMerges(richTexts, 512)
    val local = Tokenizer.trainBpe(df, "text", 512,
      localByteLimit = Long.MaxValue)
    // ride the distributed run with the skip-scan ledger (r15): the
    // trainer is deterministic on this corpus, so the per-merge
    // scanned-partition counts are a stable artifact, not a timing
    val ledger = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    Tokenizer.probeScanLedger = ledger
    val dist =
      try Tokenizer.trainBpe(df, "text", 512, localByteLimit = 0L)
      finally Tokenizer.probeScanLedger = null
    // the distributed-incremental and local-incremental paths must be
    // byte-identical to each other AND (after the writer's dedupe) to
    // the recount-everything reference trainer — counts, argmax
    // tie-break, pass semantics, stop condition
    assert(local == dist,
      s"local/dist divergence at ${local.zip(dist).indexWhere(p => p._1 != p._2)}")
    assert(local.distinct == expected,
      s"reference divergence at ${local.distinct.zip(expected).indexWhere(p => p._1 != p._2)}")
    // the corpus must actually support the full request — no early stop
    assert(local.size == 512, s"corpus exhausted at ${local.size}")
    // skip-scan evidence (r14 ask #2): every merge scanned a SUBSET of
    // base partitions, and the deep tail reads far fewer than the
    // head — the per-merge READ cost tracks affected partitions
    assert(ledger.size == 512)
    assert(ledger.forall { case (scanned, total) =>
      scanned >= 0 && scanned <= total })
    def mean(rows: Seq[(Int, Int)]): Double =
      rows.map(_._1).sum.toDouble / rows.size
    val head = mean(ledger.take(128).toSeq)
    val tail = mean(ledger.takeRight(128).toSeq)
    assert(tail < head,
      s"skip-scan not pruning with depth: first128=$head last128=$tail")
    assert(tail <= 3.0,
      s"deep merges should touch ~1 partition of 32, got mean $tail")
  }

  test("trainBpe: both paths agree on EARLY STOP at the fixture corpus's 127-pair ceiling") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    // 512 requested; the synthetic corpus's 61 distinct pretokens
    // exhaust every learnable pair at 127 (= the committed fixture's
    // merges.txt) — both paths must agree on the sequence AND the stop
    val local = Tokenizer.trainBpe(df, "text", 512,
      localByteLimit = Long.MaxValue)
    val dist = Tokenizer.trainBpe(df, "text", 512, localByteLimit = 0L)
    assert(local == dist,
      s"divergence at ${local.zip(dist).indexWhere(p => p._1 != p._2)}")
    assert(local.size == 127, s"expected the 127-merge ceiling, got ${local.size}")
  }

  test("trainWordPiece: local, distributed and naive reference are byte-identical at 512 merges (r14 ask #3)") {
    import spark.implicits._
    val df = richTexts.toDF("text")
    val counts = richTexts
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = referenceWordPiece(counts, 512)
    val local = Tokenizer.trainWordPiece(df, "text", 512,
      localByteLimit = Long.MaxValue)
    val dist = Tokenizer.trainWordPiece(df, "text", 512,
      localByteLimit = 0L)
    assert(local == dist,
      s"local/dist divergence at ${local.zip(dist).indexWhere(p => p._1 != p._2)}")
    assert(local == expected,
      s"reference divergence at ${local.zip(expected).indexWhere(p => p._1 != p._2)}")
    assert(local.size == 512, s"corpus exhausted at ${local.size}")
  }

  test("ScoreArgmax: heap argmax equals the likelihood scan under random update sequences") {
    // the WordPiece analogue of the FreqArgmax property: snapshot
    // scores re-pushed through the symbol→pairs index must agree with
    // the naive live-pair scan at every step, through pair deltas,
    // SYMBOL-count changes (which re-score pairs whose own count
    // never moved), zero-crossings and re-additions
    val rnd = new scala.util.Random(20260815L)
    val syms = (0 until 14).map(i => s"s$i")
    val pairCounts =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
    syms.foreach(s => symCounts(s) = rnd.nextInt(200).toLong + 50L)
    val keys = (0 until 70).map { _ =>
      (syms(rnd.nextInt(syms.length)), syms(rnd.nextInt(syms.length)))
    }.distinct
    keys.foreach(k => pairCounts(k) = rnd.nextInt(40).toLong + 1L)
    val sam = new Tokenizer.ScoreArgmax(pairCounts, symCounts)
    (1 to 400).foreach { step =>
      val chP = scala.collection.mutable.Set.empty[(String, String)]
      val chS = scala.collection.mutable.Set.empty[String]
      // mutate 1-3 pair counts (may hit zero)
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val k = keys(rnd.nextInt(keys.length))
        val c = math.max(0L,
          pairCounts.getOrElse(k, 0L) + rnd.nextInt(21) - 10)
        if (c == 0L) pairCounts.remove(k) else pairCounts(k) = c
        chP += k
      }
      // mutate 0-2 SYMBOL counts (floor 1: a live pair's symbols
      // always occur) — the denominator moves, the pair count doesn't
      (0 until rnd.nextInt(3)).foreach { _ =>
        val s = syms(rnd.nextInt(syms.length))
        symCounts(s) = math.max(1L, symCounts(s) + rnd.nextInt(41) - 20)
        chS += s
      }
      sam.noteChanged(chP, chS)
      assert(sam.pop() == Tokenizer.likelihoodArgmax(pairCounts, symCounts),
        s"divergence at step $step")
    }
    // drain to empty: removing every pair yields a null argmax
    keys.foreach { k => pairCounts.remove(k) }
    sam.noteChanged(keys, Nil)
    assert(sam.pop() == null)
  }

  test("FreqArgmax: heap argmax equals the scan argmax under random update sequences") {
    // the lazy-invalidation heap's correctness argument (any entry
    // ordered before the true argmax that validates would itself be a
    // better live argmax) exercised directly: seeded random count
    // mutations, including transient zero-crossings and re-additions
    val rnd = new scala.util.Random(20260816L)
    val counts =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val keys = (0 until 60).map(i => (s"a${i % 12}", s"b${i / 12}"))
    keys.foreach(k => counts(k) = rnd.nextInt(50).toLong + 1L)
    val fam = new Tokenizer.FreqArgmax(counts)
    def scanBest: (String, String) = {
      var best: (String, String) = null
      counts.foreach { case (p, c) =>
        if (c > 0L && (best == null || c > counts(best) ||
          (c == counts(best) &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))))
          best = p
      }
      best
    }
    (1 to 400).foreach { step =>
      // mutate 1-4 keys by a random delta (may hit or cross zero)
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        val k = keys(rnd.nextInt(keys.length))
        val c = math.max(0L,
          counts.getOrElse(k, 0L) + rnd.nextInt(21) - 10)
        if (c == 0L) counts.remove(k) else counts(k) = c
        fam.update(k, c)
      }
      assert(fam.pop() == scanBest, s"divergence at step $step")
    }
    // drain to empty: removing every key yields a null argmax
    keys.foreach { k => counts.remove(k); fam.update(k, 0L) }
    assert(fam.pop() == null)
  }

  test("trainer resume: split-resume == straight-through on BOTH paths (BPE + WordPiece)") {
    import spark.implicits._
    // a production 50k-merge run loses its driver eventually: resume
    // replays the committed prefix onto a fresh distinct table and
    // must continue EXACTLY where the uninterrupted run would be —
    // train(n) == train(k) ++ train(n−k, resumeFrom = <the k>)
    val df = richTexts.toDF("text")
    // BPE, local path at 512 = 256 + 256
    val fullL = Tokenizer.trainBpe(df, "text", 512,
      localByteLimit = Long.MaxValue)
    val preL = Tokenizer.trainBpe(df, "text", 256,
      localByteLimit = Long.MaxValue)
    val contL = Tokenizer.trainBpe(df, "text", 256,
      localByteLimit = Long.MaxValue, resumeFrom = preL)
    assert(preL ++ contL == fullL,
      s"local split-resume diverges at ${
        (preL ++ contL).zip(fullL).indexWhere(p => p._1 != p._2)}")
    // BPE, distributed path at 256 = 128 + 128 (the replay rides the
    // init map; skip-scan summaries build over the REPLAYED state)
    val fullD = Tokenizer.trainBpe(df, "text", 256, localByteLimit = 0L)
    val preD = Tokenizer.trainBpe(df, "text", 128, localByteLimit = 0L)
    val contD = Tokenizer.trainBpe(df, "text", 128,
      localByteLimit = 0L, resumeFrom = preD)
    assert(preD ++ contD == fullD,
      s"distributed split-resume diverges at ${
        (preD ++ contD).zip(fullD).indexWhere(p => p._1 != p._2)}")
    // WordPiece (the ## prefix survives the replay's mergedSym), and
    // a CROSS-PATH resume: prefix trained distributed, continuation
    // local — the checkpoint file doesn't remember which tier wrote it
    val fullW = Tokenizer.trainWordPiece(df, "text", 256,
      localByteLimit = Long.MaxValue)
    val preW = Tokenizer.trainWordPiece(df, "text", 128,
      localByteLimit = 0L)
    val contW = Tokenizer.trainWordPiece(df, "text", 128,
      localByteLimit = Long.MaxValue, resumeFrom = preW)
    assert(preW ++ contW == fullW,
      s"wordpiece cross-path split-resume diverges at ${
        (preW ++ contW).zip(fullW).indexWhere(p => p._1 != p._2)}")
  }

  test("PartitionPairSummary: NO false negatives under random pair sets; or-merge is a superset") {
    // the skip-scan's entire correctness burden: a summary may
    // over-approximate (extra partition scanned) but must NEVER
    // report absent for an inserted pair — byte-identity of the
    // trainer rides on it. Exercised across sizes including heavy
    // saturation (many more pairs than bits would like).
    val rnd = new scala.util.Random(20260816L)
    Seq(64, 1000, 20000).foreach { n =>
      val s = new Tokenizer.PartitionPairSummary(
        Tokenizer.PartitionPairSummary.bitsFor(n))
      val pairs = (0 until n).map { _ =>
        (rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString,
          rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
      }
      pairs.foreach { case (a, b) => s.add(a, b) }
      pairs.foreach { case (a, b) =>
        assert(s.mayContain(a, b), s"false negative on ($a,$b) at n=$n")
      }
    }
    // or-merge (the per-layer driver fold): the union sees every pair
    // either side saw
    val bits = Tokenizer.PartitionPairSummary.bitsFor(100)
    val left = new Tokenizer.PartitionPairSummary(bits)
    val right = new Tokenizer.PartitionPairSummary(bits)
    left.add("x", "y"); right.add("p", "q")
    left.orInPlace(right)
    assert(left.mayContain("x", "y") && left.mayContain("p", "q"))
    // size mismatch must fail loudly, never silently mis-merge
    intercept[IllegalArgumentException] {
      left.orInPlace(new Tokenizer.PartitionPairSummary(bits * 2))
    }
  }

  test("ScoreArgmax: heavy update churn forces the rebuild path and stays exact") {
    // few pairs, many snapshots: the 4x-size rebuild trigger must
    // fire (stale-entry garbage collection) without ever changing
    // the argmax
    val rnd = new scala.util.Random(42L)
    val pairCounts =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
    Seq("a", "b", "c").foreach(s => symCounts(s) = 100L)
    val keys = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "a"))
    keys.foreach(k => pairCounts(k) = 10L)
    val sam = new Tokenizer.ScoreArgmax(pairCounts, symCounts)
    (1 to 2000).foreach { step =>
      val k = keys(rnd.nextInt(keys.length))
      pairCounts(k) = 1L + rnd.nextInt(50)
      val s = Seq("a", "b", "c")(rnd.nextInt(3))
      symCounts(s) = math.max(1L, symCounts(s) + rnd.nextInt(11) - 5)
      sam.noteChanged(Seq(k), Seq(s))
      assert(sam.pop() == Tokenizer.likelihoodArgmax(pairCounts, symCounts),
        s"divergence at churn step $step")
    }
  }

  test("applyMergeLocal: one pass leaves NO residual (a,b) adjacency — the zero-count invariant's premise") {
    // the distributed trainer's post-merge require (winner count
    // lands on exactly 0) rests on this: the left-to-right
    // non-overlapping pass removes EVERY (a,b) occurrence, because a
    // skipped occurrence could only arise when the scan consumed its
    // left symbol into a previous merge — and then that symbol is
    // part of `merged` in the output, not an original. Randomized
    // over small alphabets (dense adjacencies, self-pairs included).
    val rnd = new scala.util.Random(20260816L)
    val alphabet = Array("a", "b", "c")
    (1 to 3000).foreach { trial =>
      val n = 1 + rnd.nextInt(12)
      val syms = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
      val a = alphabet(rnd.nextInt(alphabet.length))
      val b = alphabet(rnd.nextInt(alphabet.length))
      val out = Tokenizer.applyMergeLocal(syms, a, b, a + b)
      assert(!Tokenizer.containsPair(out, a, b),
        s"trial $trial: residual ($a,$b) in ${out.mkString("[", ",", "]")}" +
          s" from ${syms.mkString("[", ",", "]")}")
      // replacement conserves symbol material: concat is invariant
      assert(out.mkString == syms.mkString,
        s"trial $trial: pass lost or invented characters")
      // no-op rows return reference-equal (the where-used index and
      // the retire filter both rely on it being a real no-op)
      if (!Tokenizer.containsPair(syms, a, b))
        assert(out eq syms, s"trial $trial: no-op row was copied")
    }
  }

  test("trainBpe duplicate-producer merges keep exact counts on both paths") {
    import spark.implicits._
    // 'abab' learns (a,b) then (ab,ab); words containing the string
    // "abab" as a symbol BEFORE a later (a,b)-adjacent rewrite would
    // corrupt a delta scheme that reconstructs old state by
    // un-replacing — both paths must stay exact through it
    val texts = Seq.fill(40)("abab") ++ Seq.fill(30)("ababab") ++
      Seq.fill(20)("aabb") ++ Seq.fill(10)("bbaa")
    val df = texts.toDF("text")
    val expected = referenceMerges(texts, 12)
    val local = Tokenizer.trainBpe(df, "text", 12,
      localByteLimit = Long.MaxValue)
    val dist = Tokenizer.trainBpe(df, "text", 12, localByteLimit = 0L)
    assert(local == dist, s"local $local vs dist $dist")
    assert(local.distinct == expected)
  }

  test("trainBpe is case- and punctuation-preserving (byte-level)") {
    import spark.implicits._
    val df = Seq.fill(20)("It's IT'S it's").toDF("text")
    val merges = Tokenizer.trainBpe(df, "text", 8)
    val syms = merges.flatMap(m => Seq(m._1, m._2))
    // contractions pretokenize apart ('s), capitals survive
    assert(syms.exists(_.contains("'")) || syms.exists(_.head.isUpper),
      s"case/punct lost in $merges")
  }

  // ------------------------------------------------------- WordPiece

  /** Driver-side reference WordPiece trainer (the published BERT/HF
    * discipline, reimplemented independently for the differential):
    * likelihood-score argmax over ##-prefixed symbol sequences,
    * lexicographic tie-break, left-to-right non-overlapping merge
    * application. */
  private def referenceWordPiece(wordCounts: Map[String, Long],
                                 n: Int): Seq[(String, String)] = {
    var words: Vector[(Vector[String], Long)] =
      wordCounts.toVector.sortBy(_._1).map { case (w, c) =>
        w.zipWithIndex.map { case (ch, i) =>
          if (i == 0) ch.toString else "##" + ch }.toVector -> c
      }
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < n && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      val sc = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (syms, c) =>
        syms.foreach(s => sc(s) = sc.getOrElse(s, 0L) + c)
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pc(p) = pc.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        // argmax by double score (the same IEEE arithmetic the engine
        // and the oracle use), ties to the lexicographically smallest
        val best = pc.toSeq.map { case ((a, b), c) =>
          (a, b, c.toDouble / (sc(a).toDouble * sc(b).toDouble))
        }.reduceLeft { (x, y) =>
          if (y._3 > x._3 ||
            (y._3 == x._3 && (y._1 < x._1 ||
              (y._1 == x._1 && y._2 < x._2)))) y else x
        }
        val (a, b, _) = best
        val merged = a + b.stripPrefix("##")
        merges += ((a, b))
        words = words.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        m += 1
      }
    }
    merges.result()
  }

  test("trainWordPiece == driver reference trainer on the fixture corpus") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val counts = df
      .select(explode(
        graft.functions.TextFunctions.normalizedWords(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceWordPiece(counts, 24)
    val got = Tokenizer.trainWordPiece(df, "text", 24)
    assert(got == expected,
      s"first divergence at ${got.zip(expected).indexWhere(p => p._1 != p._2)}")
  }

  test("trainWordPiece argmax is LIKELIHOOD, not frequency") {
    import spark.implicits._
    // (a,##z) is 16x more frequent than (x,##y), but 'a' is diluted
    // across many words: score(x,##y) = 3/(3*3) = 1/3 beats
    // score(a,##z) = 50/(54*50) = 1/54. A frequency argmax (BPE)
    // would pick (a,##z) — this is the defining behavioral split.
    val df = (Seq.fill(3)("xy") ++ Seq.fill(4)("ab") ++
      Seq.fill(50)("az")).toDF("text")
    val wp = Tokenizer.trainWordPiece(df, "text", 1)
    assert(wp == Vector(("x", "##y")), s"got $wp")
    val bpeStyle = Tokenizer.trainBpe(df, "text", 1)
    assert(bpeStyle.head._2.contains("z"), s"got $bpeStyle")
  }

  test("trainWordPiece merges preserve the ## prefix discipline") {
    import spark.implicits._
    val df = Seq.fill(10)("abcd abcd").toDF("text")
    val merges = Tokenizer.trainWordPiece(df, "text", 3)
    assert(merges.nonEmpty)
    // every right side is a continuation; every left side keeps its
    // own prefix status (bare first symbol or ##)
    merges.foreach { case (a, b) =>
      assert(b.startsWith("##"), s"right side not ##-prefixed: ($a,$b)")
      assert(!a.drop(2).contains("#"), s"stray # inside: ($a,$b)")
    }
    // a fully-merged word is ONE bare piece: segment count 1 under the
    // learned vocab
    val vocab = (Seq("a", "##b", "##c", "##d") ++
      merges.map { case (a, b) => a + b.substring(2) }).toSet
    assert(graft.functions.WordPiece.segmentCount("abcd", vocab, 4) == 1)
  }

  test("trainWordPiece stops early when no pair remains") {
    import spark.implicits._
    val df = Seq.fill(5)("ab").toDF("text")
    val merges = Tokenizer.trainWordPiece(df, "text", 10)
    assert(merges == Vector(("a", "##b")))
  }

  // ------------------------------------------------------ Unigram LM

  /** Driver-side reference unigram trainer: same seed / hard-EM /
    * prune / quantize pipeline in plain Scala over a word-count map
    * (the Viterbi kernel itself is oracle-verified separately by
    * q_token_count_unigram's recursive-CTE replay). */
  private def referenceUnigram(wordCounts: Map[String, Long],
                               vocabSize: Int, maxLen: Int,
                               rounds: Int): Seq[(String, Long)] = {
    def q(x: Double): Long = BigDecimal(x * 1e6)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val sub = scala.collection.mutable.Map.empty[String, Long]
    wordCounts.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(w.length, i + maxLen)) {
          val p = w.substring(i, j)
          sub(p) = sub.getOrElse(p, 0L) + c
          j += 1
        }
        i += 1
      }
    }
    val singles = sub.filter(_._1.length == 1).toMap
    val multis = sub.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - singles.size))
    var kept: Map[String, Long] = singles ++ multis
    var model: Map[String, Long] = {
      val tot = kept.values.map(_.toDouble).sum
      kept.map { case (p, c) => p -> q(-math.log(c / tot)) }
    }
    var r = 0
    while (r < rounds) {
      val usage = scala.collection.mutable.Map.empty[String, Long]
      wordCounts.foreach { case (w, c) =>
        graft.functions.UnigramLm.segmentPieces(w, model, maxLen)
          .foreach(p => usage(p) = usage.getOrElse(p, 0L) + c)
      }
      kept = model.keysIterator.flatMap { p =>
        val u = usage.getOrElse(p, 0L)
        if (u > 0L) Some(p -> u)
        else if (p.length == 1) Some(p -> 1L)
        else None
      }.toMap
      val tot = kept.values.map(_.toDouble).sum
      model = kept.map { case (p, u) => p -> q(-math.log(u / tot)) }
      r += 1
    }
    model.toSeq.sortBy(_._1)
  }

  /** Independent driver re-derivation of the KUDO LOSS-PRUNED mode
    * (r14 ask #5): same seed/E/usage-prune as [[referenceUnigram]],
    * plus the removal-loss shrink — usage × (best alternative
    * segmentation cost with the piece itself excluded − own cost)
    * under the CURRENT round's costs, keep-top by (loss desc, piece
    * asc), down to the vocabSize budget on the last round. */
  private def referenceUnigramKudo(wordCounts: Map[String, Long],
                                   vocabSize: Int, maxLen: Int,
                                   rounds: Int, seedMult: Int,
                                   shrink: Double): Seq[(String, Long)] = {
    def q(x: Double): Long = BigDecimal(x * 1e6)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val inf = Long.MaxValue / 4
    def altCost(w: String, costs: Map[String, Long]): Long = {
      val dp = Array.fill(w.length + 1)(inf)
      dp(0) = 0L
      (1 to w.length).foreach { i =>
        (1 to math.min(maxLen, i)).foreach { l =>
          val piece = w.substring(i - l, i)
          if (piece != w && dp(i - l) < inf)
            costs.get(piece).foreach { c =>
              if (dp(i - l) + c < dp(i)) dp(i) = dp(i - l) + c
            }
        }
      }
      dp(w.length)
    }
    val sub = scala.collection.mutable.Map.empty[String, Long]
    wordCounts.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(w.length, i + maxLen)) {
          val p = w.substring(i, j)
          sub(p) = sub.getOrElse(p, 0L) + c
          j += 1
        }
        i += 1
      }
    }
    val singles = sub.filter(_._1.length == 1).toMap
    val multis = sub.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - singles.size) * seedMult)
    var model: Map[String, Long] = {
      val seed: Map[String, Long] = singles ++ multis
      val tot = seed.values.map(_.toDouble).sum
      seed.map { case (p, c) => p -> q(-math.log(c / tot)) }
    }
    (0 until rounds).foreach { r =>
      val usage = scala.collection.mutable.Map.empty[String, Long]
      wordCounts.foreach { case (w, c) =>
        graft.functions.UnigramLm.segmentPieces(w, model, maxLen)
          .foreach(p => usage(p) = usage.getOrElse(p, 0L) + c)
      }
      var kept = model.keysIterator.flatMap { p =>
        val u = usage.getOrElse(p, 0L)
        if (u > 0L) Some(p -> u)
        else if (p.length == 1) Some(p -> 1L)
        else None
      }.toMap
      val nSingles = kept.keysIterator.count(_.length == 1)
      val multisNow = kept.size - nSingles
      val finalTarget = math.max(0, vocabSize - nSingles)
      val target =
        if (r == rounds - 1) finalTarget
        else math.max(finalTarget,
          math.floor(multisNow * (1.0 - shrink)).toInt)
      if (multisNow > target) {
        val keep = kept.iterator.filter(_._1.length > 1)
          .map { case (p, u) =>
            val alt = altCost(p, model)
            val loss: Double =
              if (alt >= inf) Double.PositiveInfinity
              else u.toDouble * (alt - model(p)).toDouble
            (p, loss)
          }.toSeq.sortBy { case (p, l) => (-l, p) }
          .take(target).map(_._1).toSet
        kept = kept.filter { case (p, _) => p.length == 1 || keep(p) }
      }
      val tot = kept.values.map(_.toDouble).sum
      model = kept.map { case (p, u) => p -> q(-math.log(u / tot)) }
    }
    model.toSeq.sortBy(_._1)
  }

  test("trainUnigram loss-prune (Kudo) == independent driver reference (r14 ask #5)") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val counts = df
      .select(explode(
        graft.functions.TextFunctions.normalizedWords(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceUnigramKudo(counts, vocabSize = 100,
      maxLen = 5, rounds = 3, seedMult = 3, shrink = 0.4)
    val got = Tokenizer.trainUnigram(df, "text", vocabSize = 100,
      maxPieceLen = 5, emRounds = 3, seedMultiplier = 3,
      pruneShrink = 0.4)
    assert(got == expected,
      s"first divergence: ${got.zip(expected).find(p => p._1 != p._2)}")
    // the budget is reached and the coverage floor holds
    assert(got.size <= 100, s"vocab ${got.size} over budget")
    val singles = counts.keysIterator.flatMap(_.toCharArray).toSet
    singles.foreach(ch =>
      assert(got.exists(_._1 == ch.toString), s"single '$ch' pruned"))
    // the default mode is UNTOUCHED by the new parameters: same call
    // without them reproduces the committed-model discipline
    val dflt = Tokenizer.trainUnigram(df, "text", vocabSize = 120,
      maxPieceLen = 5, emRounds = 2)
    val dfltRef = referenceUnigram(counts, vocabSize = 120,
      maxLen = 5, rounds = 2)
    assert(dflt == dfltRef)
  }

  test("trainUnigram resume: initModel split == straight-through (hard-EM)") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    // EM state IS the model: 1 round + (resume: 2 rounds) == 3 rounds
    val full = Tokenizer.trainUnigram(df, "text", vocabSize = 120,
      maxPieceLen = 5, emRounds = 3)
    val pre = Tokenizer.trainUnigram(df, "text", vocabSize = 120,
      maxPieceLen = 5, emRounds = 1)
    val cont = Tokenizer.trainUnigram(df, "text", vocabSize = 120,
      maxPieceLen = 5, emRounds = 2, initModel = pre)
    assert(cont == full,
      s"first divergence: ${cont.zip(full).find(p => p._1 != p._2)}")
  }

  test("trainUnigram resume: pruneShrink split == straight-through under the absolute schedule (r15 ask #3)") {
    import spark.implicits._
    // the deep corpus (16,097 distinct pretokens): enough surviving
    // multi-char candidates that the round-0 partial shrink actually
    // keeps MORE than the final budget — on the sf0.001 fixture (and
    // even richTexts) the usage prune alone lands under every target
    // and the schedule pin would be vacuous (probed: pre=103 vs
    // solo=100 here; 100 vs 100 on the smaller corpora)
    val df = graft.TestCorpora.richTexts2.toDF("text")
    // loss-prune mode: the shrink schedule keys on the ABSOLUTE round
    // (roundsDone + r of totalRounds), so a restart that pins both
    // walks the identical per-round targets — a production restart
    // must not change the model
    val full = Tokenizer.trainUnigram(df, "text", vocabSize = 100,
      maxPieceLen = 5, emRounds = 3, seedMultiplier = 3,
      pruneShrink = 0.4)
    val pre = Tokenizer.trainUnigram(df, "text", vocabSize = 100,
      maxPieceLen = 5, emRounds = 1, seedMultiplier = 3,
      pruneShrink = 0.4, totalRounds = 3)
    val cont = Tokenizer.trainUnigram(df, "text", vocabSize = 100,
      maxPieceLen = 5, emRounds = 2, pruneShrink = 0.4,
      initModel = pre, roundsDone = 1, totalRounds = 3)
    assert(cont == full,
      s"first divergence: ${cont.zip(full).find(p => p._1 != p._2)}")
    // and the interrupted prefix is a genuinely different (larger)
    // intermediate state than a 1-round plan would produce — the
    // schedule pin is live, not vacuous
    val solo = Tokenizer.trainUnigram(df, "text", vocabSize = 100,
      maxPieceLen = 5, emRounds = 1, seedMultiplier = 3,
      pruneShrink = 0.4)
    assert(pre.size > solo.size,
      s"totalRounds pin had no effect: pre=${pre.size} solo=${solo.size}")
    // planning fewer total rounds than are actually run is an error
    intercept[IllegalArgumentException] {
      Tokenizer.trainUnigram(df, "text", vocabSize = 100,
        maxPieceLen = 5, emRounds = 2, pruneShrink = 0.4,
        initModel = pre, roundsDone = 2, totalRounds = 3)
    }
  }

  test("trainUnigram == driver reference trainer on the fixture corpus") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    val counts = df
      .select(explode(
        graft.functions.TextFunctions.normalizedWords(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceUnigram(counts, vocabSize = 120,
      maxLen = 5, rounds = 2)
    val got = Tokenizer.trainUnigram(df, "text", vocabSize = 120,
      maxPieceLen = 5, emRounds = 2)
    assert(got == expected,
      s"first divergence: ${got.zip(expected).find(p => p._1 != p._2)}")
  }

  test("trainUnigram prunes unused candidates, keeps the alphabet") {
    import spark.implicits._
    // 'abab' dominates: after EM the model keeps 'abab'/'ab' usage and
    // drops dead multis like 'aba'/'bab' (seeded but never chosen)
    val df = Seq.fill(20)("abab abab").toDF("text")
    val model = Tokenizer.trainUnigram(df, "text", vocabSize = 20,
      maxPieceLen = 4, emRounds = 2).toMap
    assert(model.contains("a") && model.contains("b"),
      "alphabet must always survive")
    assert(model.contains("abab"), s"dominant piece pruned: $model")
    assert(!model.contains("aba") && !model.contains("bab"),
      s"dead candidates must be pruned: ${model.keys.toSeq.sorted}")
    // and the trained model segments its corpus with ONE token
    assert(graft.functions.UnigramLm.segmentCount("abab", model, 4) == 1)
  }

  test("unigram E-step segmentation is a native expression: ScalaUDF-free plan, closure-identical pieces (r13 ask #3)") {
    import spark.implicits._
    // an arbitrary in-training model (NOT the committed one): integer
    // costs, a multi-char piece that wins, a cheap-single trap where
    // Viterbi must prefer two singles over one expensive piece
    val model = Map("a" -> 10L, "b" -> 10L, "c" -> 40L, "ab" -> 15L,
      "ba" -> 100L, "abc" -> 90L, "cc" -> 30L)
    val words = Seq("ababcc", "abc", "cba", "zzz", "", "a", "ccc")
    val df = words.toDF("w")
    val frame = df.select(org.apache.spark.sql.functions.col("w"),
      graft.functions.UnigramLm.segmentPiecesCol(
        org.apache.spark.sql.functions.col("w"), model, 3).as("p"))
    // the E-step plan must be ScalaUDF-free (the whole point of the
    // native expression — TRAINING shares the codegen'd kernel)
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"closure UDF in E-step plan:\n$plan")
    val got = frame.collect()
      .map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]](1).toSeq).toMap
    words.foreach { w =>
      val exp = graft.functions.UnigramLm.segmentPieces(w, model, 3)
      assert(got(w) == exp, s"'$w': got ${got(w)}, want $exp")
      // the shared-DP invariant the trainer's E/M accounting rests on
      if (exp.nonEmpty)
        assert(exp.length ==
          graft.functions.UnigramLm.segmentCount(w, model, 3))
    }
    // semanticEquals: equal models -> equal expressions (structural
    // Map equality, no Array-field reference-equality trap). The
    // child is a shared bound reference — an UNRESOLVED column wraps
    // an Origin carrying the construction stack trace, which is
    // never semantically comparable pre-analysis.
    val ch = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.StringType, nullable = true)
    val e1 = graft.functions.UnigramSegmentPieces(
      ch, Map("x" -> 1L, "y" -> 2L), 2)
    val e2 = graft.functions.UnigramSegmentPieces(
      ch, Map("y" -> 2L, "x" -> 1L), 2)
    assert(e1.semanticEquals(e2), "equal models must compare equal")
    val e3 = graft.functions.UnigramSegmentPieces(
      ch, Map("x" -> 1L, "y" -> 3L), 2)
    assert(!e1.semanticEquals(e3), "different models must compare unequal")
  }
}
