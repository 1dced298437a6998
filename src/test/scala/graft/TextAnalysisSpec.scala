package graft

import graft.functions.text
import graft.operators.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

import scala.math.BigDecimal.RoundingMode

/** langId (q27) has no SQL oracle — check the Spark expression against a
  * plain-Scala model of the documented semantics (argmax of stopword-marker
  * ratio, ties to the greatest language code, all-zero → "und").
  */
class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  private def ratio(toks: Seq[String], set: Seq[String]): Double = {
    val hits = toks.count(set.contains)
    BigDecimal.valueOf(hits.toDouble / math.max(toks.size, 1))
      .setScale(4, RoundingMode.HALF_UP).toDouble
  }

  private def model(s: String): String = {
    val toks = tokens(s)
    val scored = text.stopwords.keys.toSeq.sorted
      .map(l => (ratio(toks, text.stopwords(l)), l))
    val best = scored.max // lexicographic (score, lang): ties → greatest lang
    if (best._1 > 0) best._2 else "und"
  }

  test("langId expression matches the Scala model on all sf0.001 docs") {
    val rows = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("text"),
        text.langId(org.apache.spark.sql.functions.col("text")).as("pred"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1) === model(r.getString(0)),
        s"langId mismatch on: ${r.getString(0).take(60)}")
    }
  }

  test("winnowing fingerprints match the Scala model and detect shared substrings") {
    import org.apache.spark.sql.functions.col
    import graft.functions.expressions.sketch
    val k = 8; val w = 4
    def model(s: String): Seq[Long] = {
      if (s.length < k) return Seq.empty
      val B = 0x100000001b3L
      val gh = s.sliding(k).map(_.foldLeft(0L)((h, c) => h * B + c)).toArray
      (0 to math.max(gh.length - w, 0)).map { i =>
        gh.slice(i, math.min(i + w, gh.length)).min
      }.distinct.sorted
    }
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a totally different document body here",
      "xx the quick brown fox jumps over the lazy dog yy", // shares a long run
      "short")
    val got = docs.toDF("text")
      .select(sketch.winnowFingerprints(col("text"), k, w))
      .collect().map(_.getSeq[Long](0).toSeq)
    docs.zip(got).foreach { case (d, fps) => assert(fps === model(d), d) }
    // guarantee: a shared substring of length >= k+w-1 shares a fingerprint
    assert(got(0).toSet.intersect(got(2).toSet).nonEmpty)
    assert(got(0).toSet.intersect(got(1).toSet).isEmpty)
  }

  test("BPE-ish tokens cover the text and count at least whitespace tokens") {
    import org.apache.spark.sql.functions.col
    val rows = Tables.documents(spark, dir)
      .select(col("text"), text.bpeishTokens(col("text")).as("t"),
        text.tokenCount(col("text")).as("ws"))
      .collect()
    rows.foreach { r =>
      val joined = r.getSeq[String](1).mkString
      assert(joined === r.getString(0).toLowerCase, "tokens must tile the text")
      assert(r.getSeq[String](1).size >= r.getLong(2))
    }
  }

  test("q27 output is one row per doc with a non-null prediction") {
    val df = TextAnalysis.langIdScores(spark, dir).collect()
    assert(df.length === 500)
    assert(df.forall(_.getString(1) != null))
  }

  test("native wordNgrams equals the HOF form on fixture and edge strings") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the lambda n-grams text.wordNgrams replaced; docs shorter than n
    // take the empty branch (the sequence() bound would otherwise descend
    // into negative slice starts and throw)
    def hofNgrams(t: Column, n: Int): Column = {
      val toks = TestSpark.lambdaTokens(t)
      val grams = transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))
      when(size(toks) >= n, grams).otherwise(typedLit(Array.empty[String]))
    }
    val edge = Seq("", "   ", "one", "one two", "one two three",
      "A-B_c 42x y!", " lead", "trail ", "Über Straße İstanbul ok",
      "a b c d e f").toDF("text")
    val docs = Tables.documents(spark, dir).select(col("text")).unionAll(edge)
    for (n <- Seq(1, 2, 3)) {
      val rows = docs.select(
        text.wordNgrams(col("text"), n).as("native"),
        hofNgrams(col("text"), n).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n drift")
      }
    }
  }

  /** q81 OOV on a planted corpus with a deliberate tie at the vocab cutoff:
    * counts aa=3, bb=2, cc=2, dd=1 with k=2 — bb beats cc on the token-asc
    * tie-break, so cc and dd are out-of-vocab everywhere.
    */
  test("OOV rate: deterministic vocab cutoff incl. tie-break, token-less docs restored") {
    import spark.implicits._
    val df = Seq(
      (1L, "aa bb cc"), // 1 oov of 3
      (2L, "aa bb"), // 0 oov
      (3L, "aa cc dd"), // 2 oov of 3
      (4L, "...")) // tokenless: restored with 0/0
      .toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(df, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((3L, 1L, 333333L)))
    assert(got(2L) === ((2L, 0L, 0L)))
    assert(got(3L) === ((3L, 2L, 666666L)))
    assert(got(4L) === ((0L, 0L, 0L)))
  }

  /** q91 LM fit: corpus uni/bigram counts and every per-doc mean
    * log-probability hand-computed. Corpus: uni a=3 b=3 c=1 (V=3); bigram
    * "a b"=3, "b a"=1; lp(ab)=ln(4/6), lp(ba)=ln(2/6).
    */
  test("LM fit score: add-one bigram logprobs, short and null docs report zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),                 // ab, ba, ab -> (2*ln(4/6)+ln(2/6))/3
      (2L, "a b"),                     // ab -> ln(4/6)
      (3L, "c"),                       // one token: no transitions
      (4L, null.asInstanceOf[String])) // null text: no transitions
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmFitScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lpAb = math.log(4.0 / 6.0)
    val lpBa = math.log(2.0 / 6.0)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, RoundingMode.HALF_UP).toDouble
    assert(got === Array(
      (1L, 3L, r4((2 * lpAb + lpBa) / 3)), // -0.6365
      (2L, 1L, r4(lpAb)),                  // -0.4055
      (3L, 0L, 0.0),
      (4L, 0L, 0.0)))
  }

  /** q94 classifier: the hashed-feature weight table recomputed in plain
    * Scala (md5 → first 15 hex chars → mod 2001, centered), scores summed
    * over token OCCURRENCES; token-less and null-text docs report
    * (0, 0, 0, keep).
    */
  test("classifier score matches the plain-Scala weight model; edge docs keep") {
    import spark.implicits._
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    def model(s: String): (Long, Long) = {
      val toks = tokens(s)
      (toks.size.toLong, toks.map(weight).sum)
    }
    val docs = Seq(
      (1L, "the quick brown fox the"), // repeated token counts twice
      (2L, "zzz"),
      (3L, "..."),                     // tokenless
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.classifierScores(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    def row(id: Long, s: String): (Long, Long, Long, Long, Boolean) = {
      val (n, sum) = model(s)
      (id, n, sum, math.floor(sum.toDouble * 1000 / math.max(n, 1)).toLong,
        sum >= 0)
    }
    assert(got === Array(
      row(1L, "the quick brown fox the"),
      row(2L, "zzz"),
      (3L, 0L, 0L, 0L, true),
      (4L, 0L, 0L, 0L, true)))
    // the model is exercised on both verdicts somewhere in the vocabulary:
    // weights span negative and positive values
    val ws = Seq("the", "quick", "brown", "fox", "zzz").map(weight)
    assert(ws.exists(_ < 0) && ws.exists(_ > 0),
      s"degenerate weight draw: $ws")
  }

  /** The per-row classifier expression (q109's micro-batch scorer) must be
    * BIT-IDENTICAL per doc to the batch explode→groupBy form — the two
    * implementations of one model; q94's DuckDB oracle then transitively
    * covers the expression. Checked over the whole fixture corpus (real
    * punctuation, casing, repeated tokens) plus the edge docs.
    */
  test("mdWeightScore expression equals the explode-groupBy classifier per doc") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fixture = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val edges = Seq(
      (100001L, "the quick BROWN fox the"),
      (100002L, "..."), (100003L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val docs = fixture.unionByName(edges)
    val viaExpr = docs.select(col("doc_id"),
        graft.functions.expressions.sketch.mdWeightScore(col("text")).as("sc"))
      .select(col("doc_id"),
        coalesce(col("sc.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sc.score_milli"), lit(0L)).as("score_milli"))
    val viaGroup = TextAnalysis.classifierScoresUnsorted(docs)
      .select(col("doc_id"), col("n_tokens"), col("score_milli"))
    assert(viaExpr.count() === docs.count())
    assert(viaExpr.except(viaGroup).count() === 0L)
    assert(viaGroup.except(viaExpr).count() === 0L)
  }

  /** q102 gate sweep against the same plain-Scala weight model: per-doc
    * mean_e6 computed independently, then every grid row's (kept_docs,
    * kept_tokens) hand-folded. Structural properties on top: kept counts
    * are monotone non-increasing in the threshold, the lowest grid point
    * (the weight floor) keeps every doc, and exactly one row — the
    * deployed q88 operating point — is flagged.
    */
  test("gate sweep matches the weight model, is monotone, and flags the deployed point") {
    import spark.implicits._
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    val texts = Seq(
      (1L, "the quick brown fox the"), (2L, "zzz"), (3L, "..."),
      (4L, null.asInstanceOf[String]), (5L, "quick quick quick"),
      (6L, "fox brown zzz the"))
    val docs = texts.toDF("doc_id", "text")
    val scored = texts.map { case (_, s) =>
      val toks = if (s == null) Seq.empty[String] else tokens(s)
      val n = toks.size.toLong
      val sum = toks.map(weight).sum
      (n, math.floor(sum.toDouble * 1000 / math.max(n, 1)).toLong)
    }
    val want = TextAnalysis.GateSweepThresholds.map { thr =>
      val kept = scored.filter(_._2 >= thr)
      (thr, kept.size.toLong, kept.map(_._1).sum,
        thr == graft.operators.Pipeline.ClassifierFloorE6)
    }
    val got = TextAnalysis.gateSweep(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === want)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3, s"kept counts grew at thr ${b._1}") }
    assert(got.head._2 === texts.size.toLong,
      "the weight-floor threshold must keep every doc")
    assert(got.count(_._4) === 1, "exactly one deployed row")
  }

  /** Round-13 contract fix: the calibration grid must survive an empty
    * corpus — all 13 threshold rows with zero counts, never a vanished
    * table (the grid fans back via a left join with coalesce-to-0).
    */
  test("gate sweep on an empty corpus emits the full zero-count grid") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = TextAnalysis.gateSweep(empty).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSeq === TextAnalysis.GateSweepThresholds,
      "grid rows missing on empty input")
    assert(got.forall(r => r._2 == 0L && r._3 == 0L), "non-zero empty counts")
    assert(got.count(_._4) === 1, "deployed flag must survive the empty edge")
  }

  /** q112: each Gopher rule isolated on a planted doc that fails exactly
    * it (the fixture docs are single-line, so the line-based rules 4/5 are
    * only exercised here). Expectations hand-computed in the documented
    * 4-dp integer-ratio domain.
    */
  test("gopher rules: each planted doc trips exactly its rule") {
    import spark.implicits._
    val sent = "the cats jumped over and little dogs ran that day for fun"
    val docs = Seq(
      // d1: 60 words all from the stopword list -> mean wl 144/60 = 2.4 < 3
      1L -> Array.fill(6)("the a of and to in is that it for").mkString(" "),
      // d2: 60 words, 46 chars/12 words -> mean 3.8333; 4 stopwords; passes
      2L -> Array.fill(5)(sent).mkString(" "),
      // d3: 10/10 lines bullet-led -> bullet_ratio 1.0 > 0.9
      3L -> Array.fill(10)(s"- $sent").mkString("\n"),
      // d4: 4/10 lines end '...' -> ellipsis_ratio 0.4 > 0.3 (symbol
      // ratio 4/120 = 0.0333 stays under 0.1)
      4L -> (Array.fill(4)(s"$sent ...") ++ Array.fill(6)(sent)).mkString("\n"),
      // d5: 20 alpha words of 60 -> alpha_word_frac 0.3333 < 0.8
      5L -> (Array.fill(40)("12345") ++ Array.fill(4)("the and is that of"))
        .mkString(" "),
      // d6: 10 '#' over 60 words -> symbol_ratio 0.1667 > 0.1
      6L -> (Array.fill(5)(sent).mkString(" ") + " " + "#" * 10),
      // d7: 2 words -> word-count floor
      7L -> "the cat",
      // d8: null text -> the empty doc: zero signals, rejected, non-null
      8L -> null.asInstanceOf[String])
      .toDF("doc_id", "text")
    val rows = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def d(r: org.apache.spark.sql.Row, i: Int): Double = r.getDouble(i)
    // columns: 1 n_words, 2 mean_word_len, 3 symbol_ratio, 4 bullet_ratio,
    //          5 ellipsis_ratio, 6 alpha_word_frac, 7 stop_hits, 8 pass
    assert(rows(1L).getLong(1) === 60L && d(rows(1L), 2) === 2.4 &&
      !rows(1L).getBoolean(8), "d1 must fail on mean word length")
    assert(rows(1L).getInt(7) === 10)
    assert(d(rows(2L), 2) === 3.8333 && rows(2L).getInt(7) === 4 &&
      rows(2L).getBoolean(8), "d2 must pass every rule")
    assert(d(rows(3L), 4) === 1.0 && !rows(3L).getBoolean(8),
      "d3 must fail on bullets")
    assert(d(rows(4L), 5) === 0.4 && d(rows(4L), 3) === 0.0333 &&
      !rows(4L).getBoolean(8), "d4 must fail on ellipsis lines only")
    assert(d(rows(5L), 6) === 0.3333 && !rows(5L).getBoolean(8),
      "d5 must fail on alpha fraction")
    assert(d(rows(6L), 3) === 0.1667 && !rows(6L).getBoolean(8),
      "d6 must fail on symbols")
    assert(rows(7L).getLong(1) === 2L && !rows(7L).getBoolean(8),
      "d7 must fail on the word-count floor")
    assert(rows(8L).getLong(1) === 0L && !rows(8L).getBoolean(8),
      "null text must gate as the rejected empty doc, never a null verdict")
  }

  /** q116: the full PSI table recomputed by a plain-Scala model (same md5
    * weights, same bucket fold, same smoothing, java.lang.Math.log — the
    * identical libm the engine's codegen calls, so 6-dp equality is
    * exact), plus the empty-corpus grid contract.
    */
  test("psi drift table matches the plain-Scala model; empty corpus keeps the grid") {
    import spark.implicits._
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(15), 16) % 2001 - 1000
    }
    def meanE6(s: String): Long = {
      val toks = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.isEmpty) 0L
      else math.floor(toks.map(weight).sum.toDouble * 1000 / toks.length).toLong
    }
    val texts = (0L until 40L)
      .map(i => i -> (0 until 30).map(j => s"t${i}x$j").mkString(" ")).toMap
    val got = TextAnalysis.scoreDriftPsi(
        texts.toSeq.toDF("doc_id", "text")).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    val edges = TextAnalysis.GateSweepThresholds
    val nB = edges.size + 1
    def bucketOf(m: Long): Int =
      edges.indexWhere(m <= _) match { case -1 => edges.size; case i => i }
    val buckets = texts.map { case (i, t) => (i, bucketOf(meanE6(t))) }
    assert(buckets.values.toSet.size >= 3, "degenerate score spread")
    val (tc, tp) = (40L, texts.keys.count(_ % 10 != 9).toLong)
    (0 to edges.size).foreach { b =>
      val nc = buckets.values.count(_ == b).toLong
      val np = buckets.count { case (i, bb) => bb == b && i % 10 != 9 }.toLong
      val (pc, pp) = ((nc + 1).toDouble / (tc + nB), (np + 1).toDouble / (tp + nB))
      val psi = BigDecimal((pc - pp) * math.log(pc / pp))
        .setScale(6, RoundingMode.HALF_UP).toDouble
      assert(got(b) === ((np, nc,
        (np + 1) * 1000000L / (tp + nB), (nc + 1) * 1000000L / (tc + nB),
        psi)), s"bucket $b")
    }
    // empty corpus: the full grid with zero counts and zero psi
    val empty = TextAnalysis.scoreDriftPsi(
        Seq.empty[(Long, String)].toDF("doc_id", "text")).collect()
    assert(empty.length === nB)
    assert(empty.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L &&
      r.getDouble(6) == 0.0))
  }

  /** q118: hand-computed token drift on a corpus where the current
    * snapshot's two new docs (the doc_id % 10 == 9 slice) introduce new
    * tokens and shift shares; axis rank, counts, e6 shares, and KL terms
    * all asserted against the smoothed model.
    */
  test("token drift: hand-computed axis, counts, shares, and KL terms") {
    import spark.implicits._
    val docs = ((1L to 8L).map(i => i -> "aa bb") ++
      Seq(9L -> "aa cc cc", 19L -> "dd")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDrift(docs).collect()
      .map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6)))).toMap
    val nB = TextAnalysis.TokenDriftVocab + 1
    val (tp, tc) = (16L, 20L)
    def row(np: Long, nc: Long): (Long, Long, Double) = {
      val (p, q) = ((nc + 1).toDouble / (tc + nB), (np + 1).toDouble / (tp + nB))
      ((np + 1) * 1000000L / (tp + nB), (nc + 1) * 1000000L / (tc + nB),
        BigDecimal(p * math.log(p / q))
          .setScale(6, RoundingMode.HALF_UP).toDouble)
    }
    def full(np: Long, nc: Long): (Long, Long, Long, Long, Double) = {
      val (pe, ce, kl) = row(np, nc); (np, nc, pe, ce, kl)
    }
    assert(got.size === 5)
    assert(got(1)._1 === "aa" && (got(1)._2, got(1)._3, got(1)._4,
      got(1)._5, got(1)._6) === full(8L, 9L))
    assert(got(2)._1 === "bb" && (got(2)._2, got(2)._3) === ((8L, 8L)))
    assert(got(3)._1 === "cc" && (got(3)._2, got(3)._3, got(3)._4,
      got(3)._5, got(3)._6) === full(0L, 2L))
    assert(got(4)._1 === "dd" && (got(4)._2, got(4)._3) === ((0L, 1L)))
    val o = got(TextAnalysis.TokenDriftVocab + 1)
    assert(o._1 === "<other>" && o._2 === 0L && o._3 === 0L)
    // a stable token's KL term is tiny but nonzero (totals shifted)
    assert(math.abs(got(2)._6) < 0.01)
    // empty corpus: only the <other> row, all zero, kl 0
    val empty = TextAnalysis.tokenDrift(
        Seq.empty[(Long, String)].toDF("doc_id", "text")).collect()
    assert(empty.length === 1 && empty.head.getString(1) === "<other>" &&
      empty.head.getDouble(6) === 0.0)
  }

  /** q139/q140: the BPE merge learner on a planted corpus whose merge
    * order is hand-computable, including BOTH tie-break arms (count ties
    * broken by lhs ASC at steps 2 and 4) and the same-symbol greedy rule.
    * The oracle gate re-checks the same semantics against DuckDB at
    * sf0.01; this pins the hand-derivable ground truth.
    */
  test("BPE learning: planted merge order, tie-breaks, greedy application") {
    import spark.implicits._
    val docs = Seq(
      1L -> "banana banana banana",
      2L -> "bandana",
      3L -> "aaaa").toDF("doc_id", "text")
    val got = TextAnalysis.bpeLearnMerges(docs, 8)
    // step 1: (a,n)=8; step 2: (an,a)=4 ties (b,an)=4, lhs "an" < "b";
    // step 4: (a,a)=3 ties (ban,ana)=3, lhs "a" < "ban"
    val expected = Seq(
      (1, "a", "n", 8L),
      (2, "an", "a", 4L),
      (3, "b", "an", 4L),
      (4, "a", "a", 3L),
      (5, "ban", "ana", 3L),
      (6, "aa", "aa", 1L),
      (7, "ban", "d", 1L),
      (8, "band", "ana", 1L))
    assert(got === expected, s"merge order drifted: $got")
    // greedy left-to-right on a same-symbol run: 5 a's -> [aa, aa, a],
    // never [aa, a, aa] (the replace-all grouping a naive oracle computes)
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def merge(syms: Seq[String], l: String, r: String): Seq[String] = {
      val arr = graft.functions.expressions.BpeMergeStepExpr.compute(
        new GenericArrayData(syms.map(UTF8String.fromString).toArray),
        UTF8String.fromString(l), UTF8String.fromString(r))
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    assert(merge(Seq("a", "a", "a", "a", "a"), "a", "a")
      === Seq("aa", "aa", "a"))
    assert(merge(Seq("l", "r", "l", "r"), "l", "r") === Seq("lr", "lr"))
    assert(merge(Seq("x"), "a", "a") === Seq("x"))
  }

  /** The single-expression merge chain (BpeMergeAllExpr — one generated
    * source for any merge count, the r19 codegen-cache fix) must equal
    * folding BpeMergeStepExpr left-to-right, pass for pass: random symbol
    * sequences over a small alphabet (dense adjacency collisions,
    * same-symbol runs, merges that enable later merges) plus the planted
    * corpus's actual learned chain.
    */
  test("BPE merge chain: BpeMergeAllExpr equals the BpeMergeStepExpr fold") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def stepFold(syms: Seq[String],
        merges: Seq[(String, String)]): Seq[String] =
      merges.foldLeft(syms) { case (s, (l, r)) =>
        val arr = graft.functions.expressions.BpeMergeStepExpr.compute(
          new GenericArrayData(s.map(UTF8String.fromString).toArray),
          UTF8String.fromString(l), UTF8String.fromString(r))
        (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
      }
    def chainAll(syms: Seq[String],
        merges: Seq[(String, String)]): Seq[String] = {
      val arr = graft.functions.expressions.BpeMergeAllExpr.compute(
        new GenericArrayData(syms.map(UTF8String.fromString).toArray),
        merges.map(m => UTF8String.fromString(m._1)).toArray,
        merges.map(m => UTF8String.fromString(m._2)).toArray)
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("a", "b", "c")
    for (trial <- 1 to 200) {
      val syms = Vector.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(3)))
      // merge symbols drawn from single chars AND concatenations so later
      // merges can consume earlier merges' outputs (e.g. (a,b) then (ab,c))
      val pool = alphabet ++ Vector("ab", "bc", "aa", "abc")
      val merges = Vector.fill(1 + rnd.nextInt(6))(
        (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size))))
      assert(chainAll(syms, merges) === stepFold(syms, merges),
        s"trial $trial: syms=$syms merges=$merges")
    }
    // the planted corpus's actual learned chain over its own vocabulary
    val learned = Seq(("a", "n"), ("an", "a"), ("b", "an"), ("a", "a"),
      ("ban", "ana"), ("aa", "aa"), ("ban", "d"), ("band", "ana"))
    for (w <- Seq("banana", "bandana", "aaaa", "ban", "n"))
      assert(chainAll(w.map(_.toString), learned)
        === stepFold(w.map(_.toString), learned), s"word $w")
  }

  /** q140 semantics on a planted dir: learned-vocab token counts per doc,
    * with an over-length word (> BpeMaxWordLen) excluded from merging and
    * counted as its characters.
    */
  test("BPE token counts: merged words count symbols, long words count chars") {
    TestSpark.withTemp { dir =>
      import spark.implicits._
      val longWord = "z" * 30
      Seq(
        (1L, "banana banana banana", "en", "web", 20L),
        (2L, "bandana", "en", "web", 7L),
        (3L, "aaaa", "en", "web", 4L),
        (4L, s"banana $longWord", "en", "web", 37L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = TextAnalysis.q140BpeTokenCounts(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the extra "banana" in doc 4 leaves the planted merge chain intact
      // (banana cnt 4 only strengthens steps 1/2/3/5); 8 merges still end
      // with banana/bandana/aaaa single-symbol words
      assert(got(1L) === 3L, "3 x banana -> one symbol each")
      assert(got(2L) === 1L)
      assert(got(3L) === 1L)
      assert(got(4L) === 1L + 30L,
        "long word must count its characters, merged word one symbol")
    }
  }

  /** q142 (round-17 #4): batched merge selection must be EXACTLY the
    * sequential learner's sequence — on the banana corpus (dense count
    * ties, the worst case for batching), on the fixture at K=8, and on a
    * corpus PLANTED so that a naive skip-conflicts-and-keep-walking
    * batcher provably diverges at step 2.
    */
  test("batched BPE equals sequential on tie-dense and planted-conflict corpora") {
    import spark.implicits._
    val banana = Seq(
      1L -> "banana banana banana",
      2L -> "bandana",
      3L -> "aaaa").toDF("doc_id", "text")
    val seqMerges = TextAnalysis.bpeLearnMerges(banana, 8)
    val (batched, _) = TextAnalysis.bpeLearnMergesBatched(banana, 8)
    assert(batched === seqMerges,
      "tie-dense corpus: the guard must degenerate rounds to sequential")

    // planted conflict: one doc, word "aaab" x100 + word "cd" x90.
    // Ranked round-1 pairs: (a,a)=200, (a,b)=100, (c,d)=90. A naive
    // batcher accepts (a,a), skips (a,b) as conflicting, and EMITS (c,d)
    // as merge #2 — but sequential's step 2 is (a,b) (count 100 after the
    // (a,a) merge, tie-broken by lhs over (aa,a)). The guard must stop the
    // round at the (a,b) conflict instead.
    val planted = Seq(
      1L -> (("aaab " * 100) + ("cd " * 90))).toDF("doc_id", "text")
    val seq4 = TextAnalysis.bpeLearnMerges(planted, 4)
    assert(seq4.map(m => (m._2, m._3)) ===
      Seq(("a", "a"), ("a", "b"), ("aa", "ab"), ("c", "d")),
      s"the planted conflict lost its shape: $seq4")
    val (batched4, rounds4) = TextAnalysis.bpeLearnMergesBatched(planted, 4)
    assert(batched4 === seq4,
      "planted-conflict corpus: batched must not emit (c,d) early")
    assert(rounds4 < 4,
      s"the final (aa,ab)+(c,d) round must batch: $rounds4 rounds")
  }

  /** Plain-Scala reference for q145's tie-accepting batcher: the same
    * algorithm in memory — per round, rank pairs (count DESC, lhs, rhs),
    * walk the top `lookahead` accepting every symbol-disjoint pair up to
    * `maxPerRound`, apply all accepted merges (greedy one-pass per word,
    * BpeMergeStepExpr's exact rule), repeat. The engine is checked against
    * THIS, not q139's oracle, because the approximation may legitimately
    * diverge from the sequential sequence.
    */
  private def refMergeOnce(s: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def refDeepLearn(words: Seq[(String, Long)], steps: Int,
      maxPerRound: Int = 64, lookahead: Int = 256)
      : (Seq[(Int, String, String, Long)], Int) = {
    var vocab = words.map { case (w, c) =>
      (w.split("").filter(_.nonEmpty).toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rounds = 0
    var exhausted = false
    while (out.size < steps && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (s, c) =>
        var i = 0
        while (i + 1 < s.length) { counts((s(i), s(i + 1))) += c; i += 1 }
      }
      val ranked = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.take(lookahead)
        .map { case ((l, r), c) => (l, r, c) }
      if (ranked.isEmpty) exhausted = true
      else {
        rounds += 1
        val used = scala.collection.mutable.Set.empty[String]
        val accepted =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var i = 0
        while (i < ranked.length &&
            accepted.size < math.min(maxPerRound, steps - out.size)) {
          val (l, r, _) = ranked(i)
          if (!used(l) && !used(r)) { accepted += ranked(i); used += l; used += r }
          i += 1
        }
        accepted.foreach { case (l, r, c) => out += ((out.size + 1, l, r, c)) }
        vocab = vocab.map { case (s, c) =>
          (accepted.foldLeft(s) { case (cur, (l, r, _)) =>
            refMergeOnce(cur, l, r) }, c)
        }
      }
    }
    (out.toSeq, rounds)
  }

  /** q145: the tie-accepting deep-K batcher must (a) match the plain-Scala
    * reference on a tie-dense corpus, on the planted-conflict corpus, and
    * on the fixture at the registered K; (b) actually batch (rounds << K)
    * where q142's exactness guard degenerates; (c) diverge from sequential
    * EXACTLY where the approximation says it may (the planted conflict) —
    * the divergence is the documented trade, not a bug.
    */
  test("deep-K BPE matches the plain-Scala reference and batches through ties") {
    import spark.implicits._
    def refFromDocs(docs: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      docs.select(org.apache.spark.sql.functions.explode(
          graft.functions.text.cleanTokens(
            org.apache.spark.sql.functions.col("text"))).as("word"))
        .filter(org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("word")) <= TextAnalysis.BpeMaxWordLen)
        .groupBy("word").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    val banana = Seq(
      1L -> "banana banana banana",
      2L -> "bandana",
      3L -> "aaaa").toDF("doc_id", "text")
    val (deepB, roundsB) = TextAnalysis.bpeLearnMergesDeep(banana, 12)
    assert(deepB === refDeepLearn(refFromDocs(banana), 12)._1)
    assert(roundsB < deepB.size,
      s"tie-dense corpus: ${deepB.size} merges took $roundsB rounds — " +
        "the tie-accepting batcher must not degenerate like q142's guard")

    // planted conflict (q142's spec corpus): sequential's step 2 is (a,b);
    // the tie-accepting walk skips the (a,b) conflict and emits (c,d) —
    // the documented approximation, asserted so it can't silently change
    val planted = Seq(
      1L -> (("aaab " * 100) + ("cd " * 90))).toDF("doc_id", "text")
    val (deepP, _) = TextAnalysis.bpeLearnMergesDeep(planted, 4)
    assert(deepP === refDeepLearn(refFromDocs(planted), 4)._1)
    assert(deepP.map(m => (m._2, m._3)).take(2) === Seq(("a", "a"), ("c", "d")),
      s"planted conflict: expected the documented divergence, got $deepP")
    val seqP = TextAnalysis.bpeLearnMerges(planted, 4)
    assert(deepP.map(m => (m._2, m._3)) !== seqP.map(m => (m._2, m._3)),
      "the approximation should diverge from sequential here by design")

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("text"))
    val (deepF, roundsF) =
      TextAnalysis.bpeLearnMergesDeep(docs, TextAnalysis.BpeDeepSteps)
    assert(deepF === refDeepLearn(refFromDocs(docs), TextAnalysis.BpeDeepSteps)._1)
    assert(deepF.size === TextAnalysis.BpeDeepSteps)
    assert(roundsF * 4 <= TextAnalysis.BpeDeepSteps,
      s"fixture: ${TextAnalysis.BpeDeepSteps} merges in $roundsF rounds — " +
        "expected at least 4x batching at the registered K")
  }

  /** q142 on the fixture: same merges as q139 at K=8, in FEWER rounds —
    * the latency-wall evidence (K sequential jobs -> ~K/M rounds).
    */
  test("batched BPE matches q139 on the fixture and actually batches") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("text"))
    val seqMerges = TextAnalysis.bpeLearnMerges(docs, 8)
    val (batched, rounds) = TextAnalysis.bpeLearnMergesBatched(docs, 8)
    assert(batched === seqMerges)
    assert(rounds < 8, s"8 merges took $rounds rounds — nothing batched")
  }
}
