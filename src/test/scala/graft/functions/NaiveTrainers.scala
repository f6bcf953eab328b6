package graft.functions

/** The full-rescan reference trainers the incremental production
  * trainers are property-tested against ([[Bpe.trainFromWordCounts]],
  * [[WordPiece.trainFromWordCounts]]): each re-counts every pair from
  * scratch per merge — O(merges × corpus symbols), unambiguously
  * correct, too slow for production vocabularies. */
object NaiveTrainers {

  /** BPE: per step the highest-count adjacent pair (count ≥ 2), ties
    * lexicographic — the byte-parity oracle for
    * [[Bpe.trainFromWordCounts]]. */
  def bpe(counts: Iterable[(String, Long)], numMerges: Int): BpeVocab = {
    var words: Array[(Array[String], Long)] =
      counts.iterator.map { case (w, c) => (BpeVocab.codepoints(w), c) }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          pairCounts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestCount = 1L // require count >= 2: merging a singleton pair is noise
      pairCounts.forEach { (p, c) =>
        if (c > bestCount ||
          (c == bestCount && best != null &&
            implicitly[Ordering[(String, String)]].lt(p, best))) {
          best = p; bestCount = c
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        val (a, b) = best
        val merged = a + b
        words = words.map { case (syms, c) =>
          var has = false
          var i = 0
          while (i < syms.length - 1 && !has) {
            has = syms(i) == a && syms(i + 1) == b; i += 1
          }
          if (!has) (syms, c)
          else {
            val out = new Array[String](syms.length)
            var n = 0
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                out(n) = merged; n += 1; j += 2
              } else { out(n) = syms(j); n += 1; j += 1 }
            }
            (java.util.Arrays.copyOf(out, n), c)
          }
        }
        step += 1
      }
    }
    BpeVocab(merges.result())
  }

  /** WordPiece: the r16 trainer, kept VERBATIM — re-counts every
    * symbol and adjacent pair from scratch per merge and arg-maxes by
    * exact BigInt cross-multiplication over all pairs. The byte-parity
    * oracle for [[WordPiece.trainFromWordCounts]]. */
  def wordPiece(counts: Iterable[(String, Long)],
                vocabSize: Int): WordPieceVocab = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    val words = counts.toArray.sortBy(_._1)
    val wc = words.map(_._2)
    val segs: Array[Array[String]] = words.map { case (w, _) =>
      val cps = BpeVocab.codepoints(w)
      val out = new Array[String](cps.length)
      var i = 0
      while (i < cps.length) {
        out(i) = if (i == 0) cps(i) else "##" + cps(i)
        i += 1
      }
      out
    }
    val alphabet: Vector[String] =
      segs.iterator.flatten.toSet.toVector.sorted
    val have = scala.collection.mutable.HashSet[String](alphabet: _*)
    val merges = Vector.newBuilder[String]

    var done = false
    while (!done && have.size + 1 < vocabSize) {
      val symCount = new java.util.HashMap[String, Long]()
      val pairCount = new java.util.HashMap[(String, String), Long]()
      var wi = 0
      while (wi < segs.length) {
        val s = segs(wi)
        val c = wc(wi)
        var j = 0
        while (j < s.length) {
          symCount.merge(s(j), c, _ + _)
          if (j < s.length - 1) pairCount.merge((s(j), s(j + 1)), c, _ + _)
          j += 1
        }
        wi += 1
      }
      // arg-max of count(xy)/(count(x)·count(y)) by exact BigInt
      // cross-multiplication; ties lexicographic — order-independent
      // of the HashMap walk
      var best: (String, String) = null
      var bestNum = BigInt(0) // count(xy) of best
      var bestDen = BigInt(1) // count(x)·count(y) of best
      pairCount.forEach { (p, c) =>
        if (c >= 2L) {
          val num = BigInt(c)
          val den = BigInt(symCount.get(p._1)) * BigInt(symCount.get(p._2))
          val cmp = (num * bestDen).compare(bestNum * den)
          if (best == null || cmp > 0 ||
            (cmp == 0 && implicitly[Ordering[(String, String)]].lt(p, best))) {
            best = p; bestNum = num; bestDen = den
          }
        }
      }
      if (best == null) done = true
      else {
        val (a, b) = best
        val name = a + b.stripPrefix("##")
        // two different merges can spell the same piece (("a","##bc")
        // and ("ab","##c") → "abc"); fuse occurrences either way, add
        // the piece once
        if (have.add(name)) merges += name
        var t = 0
        while (t < segs.length) {
          val s = segs(t)
          var has = false
          var j = 0
          while (j < s.length - 1 && !has) {
            has = s(j) == a && s(j + 1) == b; j += 1
          }
          if (has) {
            val out = new Array[String](s.length)
            var n = 0
            j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
                out(n) = name; n += 1; j += 2
              } else { out(n) = s(j); n += 1; j += 1 }
            }
            segs(t) = java.util.Arrays.copyOf(out, n)
          }
          t += 1
        }
      }
    }
    WordPieceVocab((WordPieceVocab.Unk +: alphabet) ++ merges.result())
  }
}
