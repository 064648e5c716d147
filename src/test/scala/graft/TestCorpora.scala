package graft

/** Shared deterministic test corpora. */
object TestCorpora {

  /** A corpus RICH enough for deep tokenizer-trainer merge counts:
    * the committed testdata's ~40-word vocabulary exhausts every
    * learnable BPE pair at 127 merges, so the 512-merge three-way
    * differential (TokenizerSpec) needs thousands of distinct
    * pretokens. Base-26 words of varying length with Zipf-ish
    * repetition; the depth-scaling and skip-scan figures in
    * SCALING.md were measured on this same corpus (`rich`). */
  def richTexts: Seq[String] = {
    def word(i: Int): String = {
      var n = i
      val sb = new StringBuilder
      while (n > 0) { sb += ('a' + n % 26).toChar; n /= 26 }
      sb.result()
    }
    (1 to 1200).map { i =>
      val reps = 1 + (1200 / i min 40)
      (Seq.fill(reps)(word(i)) ++ Seq(word(i * 7 % 1200 + 1))).mkString(" ")
    }
  }

  /** The DEEP-octave corpus (`rich2` in SCALING.md): ~8000 distinct
    * base-26 words up to length 4 (plus digit suffixes for pair
    * variety), so the merge supply survives past 4096 — richTexts
    * exhausts its learnable pairs in the low thousands. SCALING.md's
    * 2048-4096 fold-cadence figures (r14 verdict ask #7) were measured
    * on it; TokenizerSpec's unigram resume case trains on it. */
  def richTexts2: Seq[String] = {
    def word(i: Int): String = {
      var n = i
      val sb = new StringBuilder
      while (n > 0) { sb += ('a' + n % 26).toChar; n /= 26 }
      sb.result()
    }
    (1 to 8000).map { i =>
      val reps = 1 + (2400 / i min 24)
      val w = word(i) + (if (i % 3 == 0) (i % 97).toString else "")
      (Seq.fill(reps)(w) ++ Seq(word(i * 13 % 8000 + 1))).mkString(" ")
    }
  }
}
