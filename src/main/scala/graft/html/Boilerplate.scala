package graft.html

/** Block-level boilerplate classifier — text-density / link-density
  * heuristics with an Otsu-style auto threshold.
  *
  * The reference binarizes each page with Otsu's method before OCR
  * (reference: image_preprocess.py:24 — cv2.THRESH_BINARY+THRESH_OTSU);
  * our domain analogue classifies text blocks as content vs boilerplate
  * at an auto-chosen word-count threshold over the document's own block
  * histogram (SURVEY.md §2.4 A6, §2.8 F4).
  *
  * Determinism (SURVEY.md §7.7): the histogram has a fixed 64-bin
  * layout and the argmax uses exact integer arithmetic with a
  * lowest-threshold tie-break — no floating point anywhere.
  */
object Boilerplate {

  /** Classifier strategy parameters — the pluggable-recognizer seam
    * (reference: engine combo "Tesseract"/"EasyOCR"/"كلاهما",
    * main_window.py:450; both engines share one interface and differ
    * only in their decision behavior, main_window.py:365-374).
    *
    * @param minContentWords absolute word-count floor for body content
    * @param maxAutoThreshold upper clamp for the Otsu auto threshold —
    *   the estimate may move the cut within [minContentWords, this]
    *   but never above: an auto threshold must not reject a clearly
    *   substantial block however odd the document's histogram is
    * @param maxNoiseMean Otsu accepted only when the low cluster looks
    *   like noise/teaser text (mean ≤ this many words)
    * @param linkShareNum/Den max link-word share num/den (exceeding ⇒
    *   the block is link-dense and never content) */
  final case class Params(
      minContentWords: Int,
      maxAutoThreshold: Int,
      maxNoiseMean: Int,
      linkShareNum: Int,
      linkShareDen: Int)

  /** Primary engine (the "Tesseract" analogue) — precision-biased. */
  val Default: Params = Params(15, 24, 12, 1, 3)

  /** Alternate engine (the "EasyOCR" analogue) — recall-biased: lower
    * content floor, tighter Otsu clamp, laxer link-density gate. */
  val Alt: Params = Params(8, 16, 8, 1, 2)

  val HistBins = 64

  /** Keep decision over a whole document's segmented blocks (all
    * parts jointly), one flag per block in document order. Index-based
    * single pass over the block arrays (hot loop: no intermediate
    * collections). kindId: 0=content 1=heading 2=list. */
  def classifyRaw(rb: FusedSegmenter.RawBlocks, p: Params): Array[Boolean] = {
    val n = rb.n
    val parts = rb.parts
    val kindIds = rb.kindIds
    val words = rb.words
    val linkWords = rb.linkWords
    val boiler = rb.boiler
    @inline def dense(i: Int): Boolean =
      linkWords(i) * p.linkShareDen > words(i) * p.linkShareNum
    // Stage 1 — hard rules (ROI analogue): structural boilerplate
    // containers and link-dense blocks are never content.
    // Stage 2 — Otsu threshold over candidate body-block word counts.
    val hist = new Array[Long](HistBins)
    var i = 0
    while (i < n) {
      if (!boiler(i) && words(i) > 0 && !dense(i) && kindIds(i) != 1)
        hist(math.min(words(i), HistBins - 1)) += 1
      i += 1
    }
    val threshold = otsu(hist, p.maxNoiseMean) match {
      case Some(t) => math.min(p.maxAutoThreshold, math.max(p.minContentWords, t))
      case None    => p.minContentWords
    }

    @inline def candidate(i: Int): Boolean =
      !boiler(i) && words(i) > 0 && !dense(i)
    @inline def keptBody(i: Int): Boolean =
      candidate(i) && kindIds(i) != 1 && words(i) >= threshold

    // Stage 3 — region rule for headings: a heading survives iff a kept
    // body block follows it within the same part before the next
    // heading (mirrors the reference's region-bounded psm-6 block
    // model, main_window.py:355-368).
    val keep = new Array[Boolean](n)
    i = 0
    while (i < n) {
      if (keptBody(i)) keep(i) = true
      else if (kindIds(i) == 1 && candidate(i)) {
        var j = i + 1
        var found = false
        var stop = false
        while (j < n && !stop && !found) {
          if (parts(j) != parts(i)) stop = true
          else if (kindIds(j) == 1) stop = true
          else if (keptBody(j)) found = true
          j += 1
        }
        if (found) keep(i) = true
      }
      i += 1
    }
    keep
  }

  /** Otsu's threshold over an integer histogram, exact integer math.
    *
    * Maximizes between-class variance w0*w1*(mu0-mu1)^2, compared as
    * fractions num(t)^2 * denom(t') vs num(t')^2 * denom(t) where
    * num(t) = sum0*cnt1 - sum1*cnt0 and denom(t) = cnt0*cnt1 — no
    * floats, so bit-identical on every JVM/arch. Tie-break: lowest t.
    * Returns the chosen threshold (first bin of the upper class) only
    * when the split is meaningful: both classes non-empty and the low
    * class mean ≤ `maxNoiseMean`.
    */
  def otsu(hist: Array[Long], maxNoiseMean: Int): Option[Int] = {
    val n = hist.length
    var total = 0L
    var totalSum = 0L
    var i = 0
    while (i < n) { total += hist(i); totalSum += hist(i) * i; i += 1 }
    if (total == 0) return None

    var bestT = -1
    var bestNum = 0L   // num(t) — guaranteed >= 0 is NOT true; track squared compare
    var bestDen = 1L
    var cnt0 = 0L
    var sum0 = 0L
    var t = 1
    while (t < n) {
      cnt0 += hist(t - 1)
      sum0 += hist(t - 1) * (t - 1)
      val cnt1 = total - cnt0
      if (cnt0 > 0 && cnt1 > 0) {
        val sum1 = totalSum - sum0
        val num = sum0 * cnt1 - sum1 * cnt0 // |num| ≤ ~4e6 at doc scale
        val den = cnt0 * cnt1
        // compare num^2/den > bestNum^2/bestDen via cross-multiply;
        // exact Long when safe, BigInt beyond — same result either way,
        // still no floats. Worst case |num|² · den ≈ 992·total⁶, which
        // stays under Long.MaxValue only for total ≤ ~458 — hence the
        // 450 gate (a higher gate could silently overflow and pick a
        // different threshold than the BigInt path).
        val better =
          if (bestT < 0) true
          else if (total <= 450)
            num * num * bestDen > bestNum * bestNum * den
          else
            BigInt(num) * num * bestDen > BigInt(bestNum) * bestNum * den
        if (better) { bestT = t; bestNum = num; bestDen = den }
      }
      t += 1
    }
    if (bestT < 0) return None
    // quality gate: low-class mean must look like noise, not content
    var lowCnt = 0L; var lowSum = 0L
    i = 0
    while (i < bestT) { lowCnt += hist(i); lowSum += hist(i) * i; i += 1 }
    if (lowCnt > 0 && lowSum <= maxNoiseMean.toLong * lowCnt) Some(bestT) else None
  }
}
