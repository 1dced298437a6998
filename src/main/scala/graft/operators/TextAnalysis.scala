package graft.operators

import graft.functions.text
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY §2.9 Q19 + the
  * LLM-pipeline text battery): token/ngram frequency, quality scoring,
  * language ID. Tokenization is the reference's P2 normalization generalized
  * to every `[a-z0-9]` run of the lowercased text: `text.cleanTokens` and
  * `text.wordNgrams`, native codegen'd expressions — no UDFs and no
  * lambdas, so the projections stay inside whole-stage codegen and the only
  * shuffle is the frequency group-by.
  */
object TextAnalysis {

  /** Q19: token frequency top-100 by (count DESC, token). Low-cardinality
    * token space aggregates map-side; the explode itself never shuffles.
    */
  def q19Tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(text.cleanTokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  /** Q19b: word-trigram frequency top-100 — same shape over the word
    * n-grams.
    */
  def q19Ngrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(text.wordNgrams(col("text"), 3)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(100)

  /** Quality scoring: per-doc heuristic signals (char/token counts, mean
    * token length, alpha ratio, stopword ratio) — pure per-row expressions.
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val sigs = text.qualitySignals(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .orderBy(col("doc_id"))
  }

  /** q112: the Gopher rule battery (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", Appendix A — the published heuristic gate most
    * production corpora deploy some variant of), adapted to the engine's
    * canonical tokenizer and stopword list. Seven rules per document:
    *
    *   1. word count in [50, 100,000]
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio ('#', '…', '...') ≤ 0.1
    *   4. ≤ 90% of lines start with a bullet ('-', '*', '•')
    *   5. ≤ 30% of lines end with an ellipsis ('...' or '…')
    *   6. ≥ 80% of words contain at least one alphabetic character
    *   7. ≥ 2 distinct stopwords present (Gopher's "stop word" filter over
    *      our canonical 10-word English list)
    *
    * This is deliberately a SEPARATE gate from q26's signals: q26 reports
    * raw per-doc statistics for downstream calibration; q112 applies a
    * NAMED published operating point, the way a pipeline config would cite
    * it. All signals are integer-ratio doubles rounded to 4 dp (q59's
    * cross-engine rule) computed by codegen'd regexp counts — one
    * projection pass, no joins, no HOFs, no shuffle beyond the presentation
    * sort. Line-based rules (4/5) read '\n'-separated lines; the fixture
    * docs are single-line so they degenerate there (q61/q80 precedent) —
    * the planted spec drives multi-line and bullet-heavy docs.
    *
    * 100 TB shape: stateless per-row — the gate runs inside the scan's
    * whole-stage codegen like q44/q94 and costs nothing beyond the one
    * corpus read it shares with whatever pipeline stage hosts it.
    */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanWl = 3.0
  val GopherMaxMeanWl = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMaxBulletRatio = 0.9
  val GopherMaxEllipsisRatio = 0.3
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2

  def q112(spark: SparkSession, dir: String): DataFrame =
    // Tables.spread: the battery is heavy per-row compute; an unsplittable
    // single-row-group fixture file would otherwise run it on ONE task
    // (identity on splittable input — see the helper's scaladoc)
    gopherRules(Tables.spread(Tables.documents(spark, dir), col("doc_id")))

  /** The seven-rule conjunction over a name→column lookup — written once
    * so the registered report ([[gopherRules]], reading its own output
    * columns) and the standalone verdict ([[gopherVerdict]], reading raw
    * signal expressions) can never drift.
    */
  private def gopherPass(c: String => Column): Column =
    c("n_words").between(GopherMinWords, GopherMaxWords) &&
      c("mean_word_len").between(GopherMinMeanWl, GopherMaxMeanWl) &&
      c("symbol_ratio") <= GopherMaxSymbolRatio &&
      c("bullet_ratio") <= GopherMaxBulletRatio &&
      c("ellipsis_ratio") <= GopherMaxEllipsisRatio &&
      c("alpha_word_frac") >= GopherMinAlphaFrac &&
      c("stop_hits") >= GopherMinStopHits

  /** The full battery verdict as ONE boolean column over a raw text
    * column — CurationRun's opt-in gopher gate filters on this (stateless
    * per-row, rides the scan's codegen like q44's gates).
    */
  def gopherVerdict(raw: Column): Column = {
    val m = gopherSignals(raw).toMap
    gopherPass(m)
  }

  /** The q112 battery over any (doc_id, text) frame — planted specs run it
    * directly.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id") +:
        gopherSignals(col("text")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("pass_gopher", gopherPass(col))
      // the presentation sort's range sampling is a SEPARATE execution of
      // its child, and this child is the seven-regex signal projection
      // sitting directly on the scan (no shuffle in between to resume
      // from) — uncheckpointed, every signal computed twice per run
      // (q141's lesson at batch-expression scale; measured −35% r18).
      // What materializes is doc_id + 8 narrow signal columns. PlanSpec
      // pins the plan this checkpoint action executes, read off Spark's
      // query-execution listener (the checkpoint truncates the frame's
      // own visible plan to a scan + sort).
      .transform(Materialize(_))
      .orderBy(col("doc_id"))

  /** The seven q112 signal columns over a raw text column. */
  private def gopherSignals(raw: Column): Seq[(String, Column)] = {
    // null payload = empty doc at the gate: counted, rejected, every
    // signal non-null (a gate report with null verdicts is ambiguous to
    // consumers; q110's null-text contract)
    val t = coalesce(raw, lit(""))
    val lt = lower(t)
    val nWords = text.tokenCount(t)
    val nw = greatest(nWords, lit(1L))
    val meanWl = round(text.tokenChars(t).cast("double") / nw, 4)
    // symbols: '#' + the one-char ellipsis + non-overlapping '...' runs
    val symbols = regexp_count(t, lit("#")) +
      regexp_count(t, lit("…")) +
      regexp_count(t, lit("\\.\\.\\."))
    val symbolRatio = round(symbols.cast("double") / nw, 4)
    val nLines = greatest(size(split(t, "\n")), lit(1))
    val bulletRatio = round(
      regexp_count(t, lit("(?m)^[-*•]")).cast("double") / nLines, 4)
    val ellipsisRatio = round(
      regexp_count(t, lit("(?m)(\\.\\.\\.|…)$")).cast("double")
        / nLines, 4)
    // a maximal [a-z0-9]+ run contains a letter iff it matches this
    // (greedy, cannot span runs — so exactly one match per such run)
    val alphaWords = regexp_count(lt, lit("[0-9]*[a-z][a-z0-9]*"))
    val alphaFrac = round(alphaWords.cast("double") / nw, 4)
    // distinct stopword presence: one boundary-anchored rlike per word
    // (10 codegen'd finds, not a tokenize pass)
    val stopHits = text.stopwords("en").map { w =>
      lt.rlike(s"(^|[^a-z0-9])$w([^a-z0-9]|$$)").cast("int")
    }.reduce(_ + _)
    Seq("n_words" -> nWords, "mean_word_len" -> meanWl,
      "symbol_ratio" -> symbolRatio, "bullet_ratio" -> bulletRatio,
      "ellipsis_ratio" -> ellipsisRatio, "alpha_word_frac" -> alphaFrac,
      "stop_hits" -> stopHits)
  }

  /** q67: unpivot (melt) — the wide per-doc quality-signal row reshaped to
    * long (doc_id, signal, value) form, the layout feature stores and
    * signal-drift monitors ingest. The inverse reshape of q32's pivot;
    * `Dataset.unpivot` plans a one-pass Expand (each input row fans out to
    * 5 output rows node-locally — no shuffle, no join), so the reshape adds
    * nothing to the scan+project cost at any scale. Counts are cast to
    * double (unpivot requires one common value type; exact up to 2^53).
    */
  def q67(spark: SparkSession, dir: String): DataFrame =
    // signals projected directly, NOT via qualityScores: its presentation
    // orderBy would survive under the Expand as a pointless inner
    // Sort+Exchange pair (PlanSpec pins the single-exchange shape)
    Tables.documents(spark, dir)
      .select(col("doc_id") +:
        text.qualitySignals(col("text")).map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id"),
        col("n_chars").cast("double").as("n_chars"),
        col("n_tokens").cast("double").as("n_tokens"),
        col("mean_token_len"), col("alpha_ratio"), col("stopword_ratio"))
      .unpivot(
        Array(col("doc_id")),
        Array(col("n_chars"), col("n_tokens"), col("mean_token_len"),
          col("alpha_ratio"), col("stopword_ratio")),
        "signal", "value")
      .orderBy(col("doc_id"), col("signal"))

  /** Language ID: n-gram/stopword-marker heuristic (text.langId), checked
    * against a Scala model in TextAnalysisSpec AND oracle-checked: the
    * argmax + tie-break maps to DuckDB list_max over (score, lang) structs
    * (struct comparison is field-order lexicographic on both sides), and the
    * scores are integer-ratio doubles rounded to 4 dp, so both engines
    * compute identical IEEE values.
    */
  def langIdScores(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        text.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_label"))
      .orderBy(col("doc_id"))

  /** BPE-ish token counting (LLM-pipeline budgeting): whitespace tokens vs
    * BPE-style pre-tokens per doc, oracle-checked (the regex is restricted
    * to the RE2 ∩ Java-regex dialect).
    */
  def q35TokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        text.tokenCount(col("text")).as("n_ws_tokens"),
        text.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (rolling-hash k-grams, window minima): the
    * document-fingerprint face of near-dup detection — a shared fingerprint
    * pins a shared substring of length >= k+w-1. Model-checked in
    * TextAnalysisSpec AND oracle-checked: the Long-wraparound polynomial
    * hash is reproduced in DuckDB with HUGEINT mod-2^64 arithmetic (see
    * winnowOracle), valid because the fixture text is pure ASCII (ascii()
    * == the UTF-16 unit the engine hashes).
    */
  def q34Fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        graft.functions.expressions.sketch
          .winnowFingerprints(col("text"), 8, 4).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fps"),
        element_at(col("fps"), 1).as("min_fp"))
      .orderBy(col("doc_id"))

  private val toksCte =
    """WITH d AS (
      |  SELECT doc_id, text, lang,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS toks
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of WinnowFingerprintsExpr (k=8, w=4), generated with the
    * same constants. The engine's Long arithmetic wraps mod 2^64; DuckDB
    * BIGINT throws on overflow, so each polynomial step runs in HUGEINT
    * with an explicit `% 2^64`, and the result re-centers to signed before
    * the (signed) window-minimum compare.
    */
  private def winnowOracle: String = {
    val B = 0x100000001b3L // WinnowFingerprintsExpr.B
    val M = BigInt(1) << 64
    val H = BigInt(1) << 63
    val k = 8
    val w = 4
    var e = "CAST(ascii(substr(text, i, 1)) AS HUGEINT)"
    for (j <- 1 until k)
      e = s"(($e) * $B + ascii(substr(text, i+$j, 1))) % $M"
    val signed = s"CASE WHEN ($e) >= $H THEN ($e) - $M ELSE ($e) END"
    s"""WITH g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(length(text) - ${k - 1}, 0)),
       |      i -> CAST($signed AS BIGINT)) AS gh
       |  FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    CASE WHEN len(gh) = 0 THEN CAST([] AS BIGINT[]) ELSE
       |      list_sort(list_distinct(list_transform(
       |        generate_series(1, greatest(len(gh) - $w, 0) + 1),
       |        s -> list_min(gh[s:least(s + ${w - 1}, len(gh))])))) END AS fps
       |  FROM g)
       |SELECT doc_id, CAST(len(fps) AS INT) AS n_fps, fps[1] AS min_fp
       |FROM w ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of text.langId, generated from the same stopword map so
    * the two can never drift.
    */
  private def langIdOracle: String = {
    val structs = text.stopwords.keys.toSeq.sorted.map { l =>
      val words = text.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
      s"""{'score': round(CAST(len(list_filter(toks, t -> list_contains($words, t))) AS DOUBLE) / greatest(len(toks), 1), 4), 'lang': '$l'}"""
    }.mkString(",\n")
    s"""$toksCte,
       |s AS (SELECT doc_id, lang, [$structs] AS scored FROM d)
       |SELECT doc_id,
       |  CASE WHEN list_max(scored).score > 0 THEN list_max(scored).lang
       |       ELSE 'und' END AS lang_pred,
       |  lang AS lang_label
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** q58: repetition signals — the Gopher-style quality filters a
    * pre-training corpus applies to catch degenerate/boilerplate text:
    * distinct-token fraction, top-token fraction (most frequent token's
    * share), duplicate-2-gram fraction. The array-based signals are pure
    * per-row projections (native n-gram expression, zero shuffles); the
    * top-token share needs one (doc_id, token)-keyed count — a key space
    * that partial-aggregates map-side and never concentrates (doc_id in the
    * key), so it scales with the corpus.
    */
  def q58(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // every token stat comes from the ONE exploded (doc, token) aggregate
    // (total = sum of counts, distinct = group count, top = max count) —
    // a separate per-row branch would tokenize the corpus a second time
    val tokStats = docs
      .select(col("doc_id"), explode(text.cleanTokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
    // the 2-gram repeat signal is inherently array-local: one per-row pass
    val gramStats = docs
      .select(col("doc_id"), text.wordNgrams(col("text"), 2).as("g2"))
      .filter(size(col("g2")) > 0)
      .select(col("doc_id"),
        (lit(1.0) - size(array_distinct(col("g2"))).cast("double") / size(col("g2")))
          .as("dup_2gram_frac"))
    tokStats.join(gramStats, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_frac"),
        (col("top_cnt").cast("double") / col("n_tokens")).as("top_token_frac"),
        col("dup_2gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** q60: per-document TF-IDF top-K terms — the classic corpus-statistics
    * pass (salient-term extraction for tagging/clustering). tf = in-doc
    * share, idf = ln((N+1)/(df+1)); the score is ROUNDED to 6 dp BEFORE
    * ranking so the (score DESC, term) order is identical cross-engine even
    * if a libm ulp differs. Shuffles: one (doc,term) count, one term-keyed
    * df aggregate + join (vocabulary-sized, partial-aggregated), one
    * doc-keyed window — all shuffle keys scale with data, nothing global.
    */
  val TfIdfTopK = 5

  def q60(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(text.cleanTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tc"))
    // doc totals and document frequency as WINDOWS over the one tf
    // aggregate — separate groupBy branches would re-scan and re-tokenize
    // the corpus once each ((doc_id, term) is unique after the aggregate,
    // so count-over-term == docs containing the term); n_docs is the one
    // scalar branch, a metadata-only columnar count
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("dt", sum(col("tc")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round((col("tc").cast("double") / col("dt")) *
          log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rnk") <= TfIdfTopK)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** q64: corpus heavy hitters via the mergeable Misra-Gries sketch
    * (k = 64 counters) — the bounded-memory stand-in for q19's exact
    * token group-by at 100 TB: each task's state is 64 counters regardless
    * of vocabulary size. Rows-only (estimates are merge-order-dependent in
    * the tail); the containment and error-bound guarantees are asserted
    * against exact counts in HeavyHittersSpec.
    */
  val HeavyHittersK = 64

  def q64(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(text.cleanTokens(col("text"))).as("token"))
      .as[String]
      .select(new graft.functions.HeavyHittersAggregator(HeavyHittersK).toColumn)
      .toDF("hh")
      .select(explode(col("hh")).as("e"))
      .select(col("e._1").as("token"), col("e._2").as("est_count"))
  }

  /** q65: point token frequencies via the mergeable Count-Min sketch — the
    * companion to q64's Misra-Gries: MG surfaces WHICH tokens are frequent,
    * CMS answers "how often does THIS token occur" for an arbitrary probe
    * list from a fixed depth×width counter matrix (~224 KB here) regardless
    * of vocabulary size. Counters are pure sums, so unlike MG the estimates
    * are IDENTICAL under every partitioning and merge order. Rows-only
    * (the oracle engine cannot mirror the sketch's hash family); the
    * always-overcount and eps·N error-bound guarantees plus cross-
    * partitioning determinism are asserted against exact counts in
    * CountMinSpec.
    */
  val CmsProbes: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "that", "it", "for",
    "data", "model", "training", "language", "zebra", "qwertyuiop")
  val CmsEps = 0.0005
  val CmsConfidence = 0.99
  val CmsSeed = 42

  def q65(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(text.cleanTokens(col("text"))).as("token"))
      .as[String]
      .select(new graft.functions.CountMinAggregator(
        CmsProbes, CmsEps, CmsConfidence, CmsSeed).toColumn)
      .toDF("cms")
      .select(explode(col("cms")).as("e"))
      .select(col("e._1").as("probe"), col("e._2").as("est_count"))
  }

  /** Corpus vocabulary size for the OOV signal — small enough that the
    * fixture's 31-token vocabulary leaves a real out-of-vocab tail.
    */
  val VocabK = 16

  /** q81: out-of-vocabulary rate — per doc, the fraction of tokens outside
    * the corpus's own top-VocabK vocabulary (count-desc, token-asc
    * tie-break, so the cutoff is deterministic cross-engine). A cheap
    * quality/contamination signal: gibberish, code-in-prose, and
    * wrong-language docs all spike it.
    *
    * Shape for 100 TB: vocab = one two-phase token count + top-k (tiny),
    * then BROADCAST back over the token stream — the corpus never shuffles
    * for the membership join; the per-doc rollup is the only wide exchange.
    */
  def q81(spark: SparkSession, dir: String): DataFrame =
    oovRate(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      VocabK)

  /** The q81 core over any (doc_id, text) frame with a parametrized k. */
  def oovRate(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(text.cleanTokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(k)
      .select(col("tok"), lit(true).as("in_vocab"))
    val per = toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        floor(coalesce(col("n_oov"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L)) * lit(1000000))
          .cast("long").as("oov_e6"))
      .orderBy(col("doc_id"))
  }

  /** q94 weight table: the per-token weight of the hashed-feature linear
    * classifier, in milli-units ([-1000, 1000]). Production quality
    * classifiers (the fastText/CCNet stage) ship a trained weight vector
    * indexed by feature hash; here the weight IS a deterministic function
    * of the token's md5 (a 60-bit draw mod 2001, centered), standing in for
    * the trained table so the DuckDB oracle can recompute the exact scores.
    * The scale property is identical either way: the "model" travels inside
    * the expression (or as a broadcast map lookup for a real table) — no
    * join, no shuffle, scoring is pure map-side work in the scan's codegen.
    */
  private def featWeight(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10)
      .cast("long") % 2001 - 1000

  /** q94: quality-classifier scoring — the model-based filter stage of the
    * curation pipeline (CCNet/DataComp's fastText gate), as a hashed-
    * feature linear classifier: score(doc) = Σ w(token) over token
    * OCCURRENCES (a bag-of-words dot product), verdict = score >= 0.
    * Integer milli-unit weights keep every engine's sum exact (the
    * fixed-point money discipline); mean_e6 is the per-token mean weight in
    * micro-units (one IEEE double division, deterministic cross-engine).
    *
    * Shape for 100 TB: weights evaluate per row inside whole-stage codegen
    * (md5 + conv + arithmetic, no UDF); the per-doc rollup is the only
    * exchange, and it's map-side combinable. A doc with no tokens scores
    * (0, 0, 0, keep) — no-signal is not a drop reason at this stage.
    */
  def q94(spark: SparkSession, dir: String): DataFrame =
    // Tables.spread: md5-per-token scoring otherwise runs single-task on an
    // unsplittable fixture file (identity on splittable input)
    classifierScores(Tables.spread(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id")))

  /** The q94 core over any (doc_id, text) frame — planted specs run it
    * directly; the q88 funnel consumes the unsorted form (it joins on
    * doc_id, so a presentation sort would only add a range exchange).
    */
  def classifierScores(docs: DataFrame): DataFrame =
    classifierScoresUnsorted(docs).orderBy(col("doc_id"))

  /** [[classifierScores]] without the presentation sort. */
  def classifierScoresUnsorted(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("doc_id"),
        explode(text.cleanTokens(col("text"))).as("tok"))
      .select(col("doc_id"), featWeight(col("tok")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score_milli"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_milli"), lit(0L)).as("score_milli"),
        floor(coalesce(col("score_milli"), lit(0L)).cast("double") * lit(1000)
          / greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L)))
          .cast("long").as("mean_e6"),
        (coalesce(col("score_milli"), lit(0L)) >= 0).as("keep"))
  }

  /** q102's threshold grid: mean_e6 operating points from -1,000,000 (the
    * weight floor — keeps everything) to +200,000, step 100,000. The
    * deployed q88 gate ([[Pipeline.ClassifierFloorE6]] = -300,000) is a
    * grid point, so the sweep JUSTIFIES the operating point instead of
    * asserting it.
    */
  val GateSweepThresholds: Seq[Long] = (-10L to 2L).map(_ * 100000L)

  /** q102: classifier-gate operating-point sweep — the calibration table a
    * team reads before picking a model-gate threshold (the step between
    * training a quality classifier and deploying it in the funnel): for
    * every candidate threshold, the docs and tokens that would survive
    * `mean_e6 >= thr`, with the deployed q88 point flagged. One scoring
    * pass (q94's — the weights evaluate inside the scan's codegen), then a
    * broadcast 13-row grid fan-out into a map-side-combinable aggregate:
    * the exchange is 13 rows per task regardless of corpus size.
    */
  def q102(spark: SparkSession, dir: String): DataFrame =
    gateSweep(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The q102 core over any (doc_id, text) frame — the model spec runs it
    * directly. The calibration table always has all
    * [[GateSweepThresholds]] rows: the counts aggregate fans back onto the
    * grid via a left join with coalesce-to-0, so an EMPTY corpus yields 13
    * zero-count rows, not a vanished table (a calibration surface that
    * disappears when its input is empty would surprise its consumers).
    */
  def gateSweep(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grid = GateSweepThresholds.toDF("thr_e6")
    val counts = classifierScoresUnsorted(docs)
      .crossJoin(broadcast(grid))
      .groupBy(col("thr_e6"))
      .agg(
        sum(when(col("mean_e6") >= col("thr_e6"), 1L).otherwise(0L))
          .as("kd"),
        sum(when(col("mean_e6") >= col("thr_e6"), col("n_tokens"))
          .otherwise(0L)).as("kt"))
    grid.join(counts, Seq("thr_e6"), "left")
      .select(col("thr_e6"),
        coalesce(col("kd"), lit(0L)).as("kept_docs"),
        coalesce(col("kt"), lit(0L)).as("kept_tokens"),
        (col("thr_e6") === Pipeline.ClassifierFloorE6).as("deployed"))
      .orderBy(col("thr_e6"))
  }

  /** q116: classifier-score drift between snapshots as a Population
    * Stability Index table — THE standard deployed-model monitoring metric
    * (banking/ML-ops shorthand: PSI < 0.1 stable, 0.1–0.25 watch, > 0.25
    * retrain): bucket the q94 score distribution of the PREVIOUS snapshot
    * (q105's doc_id-slice stand-in) and the CURRENT one over the fixed
    * [[GateSweepThresholds]] grid (13 edges → 14 buckets — the SAME axis
    * the q102 calibration table uses, so drift reads directly against the
    * deployed operating point), Laplace-smooth the shares ((n+1)/(N+B) —
    * PSI is undefined on empty buckets), and report each bucket's
    * contribution (p_cur − p_prev)·ln(p_cur/p_prev). A mass shift across
    * the deployed threshold's bucket is the "recalibrate the gate" alarm
    * q109's streaming monitor watches for — this is its between-snapshots
    * batch form.
    *
    * Determinism: bucket edges are integer comparisons on exact mean_e6;
    * counts are exact; smoothed shares are ONE IEEE division each (exact
    * integer inputs → bit-identical doubles); the e6 share columns use
    * INTEGER division (exact at any corpus size — a double product would
    * lose exactness past 2^53); ln rounds at 6 dp under q60/q91's
    * documented libm-agreement margin. Grid rows survive an empty corpus
    * (q102's contract): all 14 buckets, zero counts, psi 0.
    *
    * Shape for 100 TB: ONE scoring pass (weights in scan codegen), a
    * 14-ary CASE, and one map-side-combinable conditional aggregate — the
    * exchange is ≤14 rows per task; prev ⊂ current by the slice contract,
    * so the previous snapshot costs a conditional count, not a second
    * scan. (Against a real prior run, the prev side reads the persisted
    * score table — same plan with the conditional swapped for a join.)
    */
  def q116(spark: SparkSession, dir: String): DataFrame =
    scoreDriftPsi(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The q116 core over any (doc_id, text) frame — specs run it directly. */
  def scoreDriftPsi(docs: DataFrame): DataFrame = {
    val scored = classifierScoresUnsorted(docs.filter(col("doc_id").isNotNull))
    psiReport(scored.select(col("mean_e6"),
      (col("doc_id") % Pipeline.DriftHoldout =!=
        Pipeline.DriftHoldout - 1).as("is_prev"),
      lit(true).as("is_cur")))
  }

  /** q116 between REAL runs: `prevScores`/`curScores` are two snapshots'
    * persisted score tables (CurationRun's `verdicts/scores/`, carrying
    * `mean_e6`) — the prev side is READ, never recomputed, which is the
    * collapse the q116 scaladoc promises for production. Same grid, same
    * smoothing, same exactness discipline as the registered slice form.
    */
  def scoreDriftPsiBetween(prevScores: DataFrame,
      curScores: DataFrame): DataFrame =
    psiReport(
      prevScores.select(col("mean_e6"),
        lit(true).as("is_prev"), lit(false).as("is_cur"))
        .unionByName(curScores.select(col("mean_e6"),
          lit(false).as("is_prev"), lit(true).as("is_cur"))))

  /** The shared PSI tail over (mean_e6, is_prev, is_cur) rows. The slice
    * form marks every row is_cur with prev ⊂ cur (one conditional sum, no
    * second scan); the between-runs form unions two disjointly-flagged
    * score tables. Identical arithmetic either way.
    */
  private def psiReport(flagged: DataFrame): DataFrame = {
    val spark = flagged.sparkSession
    import spark.implicits._
    val edges = GateSweepThresholds
    val nB = edges.size + 1 // buckets
    val bucket = edges.zipWithIndex.reverse
      .foldLeft(lit(edges.size)) { case (acc, (e, i)) =>
        when(col("mean_e6") <= e, lit(i)).otherwise(acc)
      }
    val counts = flagged
      .select(bucket.as("bucket"), col("is_prev"), col("is_cur"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_cur"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("is_prev"), 1L).otherwise(0L)).as("np"))
    // full grid fan-back (q102's empty-corpus contract); hi_e6 = the
    // bucket's inclusive upper edge, null for the open top bucket
    val grid = (0 to edges.size)
      .map(b => (b, if (b < edges.size) Some(edges(b)) else None))
      .toDF("bucket", "hi_e6")
    val filled = grid.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), col("hi_e6"),
        coalesce(col("np"), lit(0L)).as("n_prev"),
        coalesce(col("nc"), lit(0L)).as("n_cur"))
    val tot = filled.agg(sum(col("n_prev")).as("tp"), sum(col("n_cur")).as("tc"))
    val pPrev = (col("n_prev") + 1).cast("double") / (col("tp") + nB)
    val pCur = (col("n_cur") + 1).cast("double") / (col("tc") + nB)
    filled.crossJoin(broadcast(tot))
      .select(col("bucket"), col("hi_e6"), col("n_prev"), col("n_cur"),
        expr(s"CAST(((n_prev + 1) * 1000000) DIV (tp + $nB) AS BIGINT)")
          .as("p_prev_e6"),
        expr(s"CAST(((n_cur + 1) * 1000000) DIV (tc + $nB) AS BIGINT)")
          .as("p_cur_e6"),
        round((pCur - pPrev) * log(pCur / pPrev), 6).as("psi_term"))
      .orderBy(col("bucket"))
  }

  /** q118's vocabulary axis size: the top-V current-snapshot tokens get
    * their own drift rows; everything else folds into one `<other>`
    * bucket (rank V+1).
    */
  val TokenDriftVocab = 100

  /** q118: token-distribution drift between snapshots — the LANGUAGE
    * member of the drift family (q116 watches the score distribution,
    * q106/q108 the embedding space, q105 per-doc fates; this watches what
    * the corpus is actually made of): KL(current ‖ previous) decomposed
    * per token over the current snapshot's top-[[TokenDriftVocab]]
    * vocabulary plus an `<other>` bucket. A crawl that shifts language
    * mix, picks up a new boilerplate family, or loses a source moves mass
    * between these rows before any downstream gate notices — the "did the
    * corpus's language change between crawls" monitor.
    *
    * Determinism: the vocabulary cutoff is (count DESC, token) — q81's
    * deterministic-cutoff rule; counts are exact; smoothed shares
    * (n+1)/(N+V+1) are one IEEE division over exact integers; e6 share
    * columns use integer division; the KL term p_cur·ln(p_cur/p_prev)
    * rounds at 6 dp (q60/q91's libm margin). Prev ⊂ current by q105's
    * slice contract, so the previous snapshot is a conditional sum on the
    * SAME tokenize pass, never a second scan.
    *
    * Shape for 100 TB: one tokenize pass → a token-keyed count exchange
    * that map-side combines (q19's shape); the axis itself is a bounded
    * TakeOrdered + one broadcast membership join back onto the counts;
    * the `<other>` fold is a two-row aggregate. Output is V+1 rows
    * regardless of corpus size.
    */
  def q118(spark: SparkSession, dir: String): DataFrame =
    tokenDrift(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The q118 core over any (doc_id, text) frame — specs run it directly. */
  def tokenDrift(docs: DataFrame): DataFrame = {
    val toks = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(text.cleanTokens(col("text"))).as("tok"))
      .select(col("tok"),
        (col("doc_id") % Pipeline.DriftHoldout =!=
          Pipeline.DriftHoldout - 1).as("is_prev"))
    val counts = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("nc"),
        sum(when(col("is_prev"), 1L).otherwise(0L)).as("np"))
      .transform(Materialize(_)) // vocab-sized; feeds the axis, the join, totals
    val axis = counts.orderBy(col("nc").desc, col("tok"))
      .limit(TokenDriftVocab)
      // one-partition rank over the LIMITed axis (<= TokenDriftVocab rows);
      // the non-foldable key declares the boundedness so WindowExec's
      // corpus-scale warning can't fire (see num.boundedOnePartition)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.num.boundedOnePartition(col("tok")))
          .orderBy(col("nc").desc, col("tok"))))
      .select(col("rank"), col("tok"), col("np").as("n_prev"),
        col("nc").as("n_cur"))
    // <other> = totals − the axis rows (two bounded aggregates)
    val tot = counts.agg(sum(col("np")).as("tp"), sum(col("nc")).as("tc"))
    val axisTot = axis.agg(
      coalesce(sum(col("n_prev")), lit(0L)).as("ap"),
      coalesce(sum(col("n_cur")), lit(0L)).as("ac"))
    val other = tot.crossJoin(axisTot)
      .select(lit(TokenDriftVocab + 1).as("rank"), lit("<other>").as("tok"),
        (coalesce(col("tp"), lit(0L)) - col("ap")).as("n_prev"),
        (coalesce(col("tc"), lit(0L)) - col("ac")).as("n_cur"))
    val nB = TokenDriftVocab + 1
    val pPrev = (col("n_prev") + 1).cast("double") / (col("tp") + nB)
    val pCur = (col("n_cur") + 1).cast("double") / (col("tc") + nB)
    axis.unionByName(other)
      .crossJoin(broadcast(
        tot.select(coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("tc"), lit(0L)).as("tc"))))
      .select(col("rank"), col("tok"), col("n_prev"), col("n_cur"),
        expr(s"CAST(((n_prev + 1) * 1000000) DIV (tp + $nB) AS BIGINT)")
          .as("p_prev_e6"),
        expr(s"CAST(((n_cur + 1) * 1000000) DIV (tc + $nB) AS BIGINT)")
          .as("p_cur_e6"),
        round(pCur * log(pCur / pPrev), 6).as("kl_term"))
      .orderBy(col("rank"))
  }

  /** q91: corpus-fit language-model score — a CCNet-style quality signal
    * computed from the corpus itself, no external model: fit an add-one-
    * smoothed bigram LM on the whole corpus, then score every doc by its
    * mean token-transition log-probability, ln((c(w1,w2)+1)/(c(w1)+V)).
    * Low scores mark docs whose token transitions the corpus has never
    * seen — gibberish, wrong-language remnants, mangled boilerplate — the
    * knife perplexity filtering applies between q26's surface heuristics
    * and model-based scoring. Docs with <2 tokens report (0, 0.0): no
    * transitions is a fact of the doc, not an error.
    *
    * Shape for 100 TB: ONE tokenize pass feeds everything. Transitions
    * shuffle as 64-bit chain hashes (gramHashes n=2 — q74's fixed-width-key
    * discipline; string-vs-hash count parity is the q86 collision argument),
    * pre-aggregated per (doc, gram) so a repetitive doc contributes one row
    * per distinct transition before the corpus-wide count join — map-side
    * combine bounds hot transitions ("of the") by doc count exactly like
    * q74's hot grams. The bigram/unigram count frames are vocabulary²-sized
    * (not corpus-positions-sized); V is a one-row broadcast. Two wide aggs +
    * two gram-keyed joins, all on 8-byte keys; AQE's skew split handles the
    * Zipf head at cluster scale.
    */
  def q91(spark: SparkSession, dir: String): DataFrame =
    lmFitScore(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The q91 core over any (doc_id, text) frame — planted specs run it
    * directly.
    */
  def lmFitScore(docs: DataFrame): DataFrame = {
    import graft.functions.expressions.sketch
    val base = docs.filter(col("doc_id").isNotNull)
    val th = base.select(col("doc_id"),
      sketch.tokenHashes(col("text")).as("th"))
    // per-position transitions, zipped so a row never carries the token
    // array (gram i spans tokens [i, i+2); its context unigram is th[i])
    val occ = th.filter(size(col("th")) >= 2)
      .select(col("doc_id"),
        sketch.gramHashes(col("th"), 2).as("gh_arr"),
        slice(col("th"), lit(1), size(col("th")) - 1).as("h1_arr"))
      .select(col("doc_id"),
        explode(arrays_zip(col("gh_arr"), col("h1_arr"))).as("z"))
      .select(col("doc_id"), col("z.gh_arr").as("gh"), col("z.h1_arr").as("h1"))
      .groupBy(col("doc_id"), col("gh"), col("h1"))
      .agg(count(lit(1)).as("k"))
    val bigramCounts = occ.groupBy(col("gh")).agg(sum(col("k")).as("bc"))
    val unigramCounts = th.select(explode(col("th")).as("h1"))
      .groupBy(col("h1")).agg(count(lit(1)).as("uc"))
    val vocabSize = unigramCounts.agg(count(lit(1)).as("v"))
    val perDoc = occ
      .join(bigramCounts, Seq("gh"))
      .join(unigramCounts, Seq("h1"))
      .crossJoin(broadcast(vocabSize))
      .select(col("doc_id"), col("k"),
        log((col("bc") + lit(1.0)) / (col("uc") + col("v"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        (sum(col("k") * col("lp")) / sum(col("k"))).as("al"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("al"), lit(0.0)), 4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge-table learning (q139/q140): the one LLM-pipeline stage
    * between text cleaning and layout the engine previously ASSUMED
    * (q35/q115/q124/q135 all consume token counts) rather than computed.
    * Standard byte-pair encoding (Sennrich et al. 2016,
    * arXiv:1508.07909): start from the character sequence of each word,
    * repeatedly take the adjacent symbol pair with the highest
    * corpus-frequency-weighted count and merge every occurrence, greedy
    * left-to-right within a word.
    *
    * Scale shape (the 100 TB story): the corpus is scanned ONCE to build
    * the vocabulary table (word, count, symbols) — everything after runs
    * over that table, which is bounded by DISTINCT words (~10^8 at web
    * scale), not corpus bytes. Each learning step is one map-side-
    * combinable pair-count aggregation plus a 1-row collect (the argmax —
    * a model-fit boundary, same rule as the quantizer seeds) and one
    * codegen'd merge projection
    * ([[graft.functions.expressions.textnative.bpeMergeAll]]), checkpointed
    * so step k+1's aggregation re-reads materialized partitions instead of
    * re-running k merge projections. K steps = K bounded shuffles of the
    * vocab table; the corpus never reshuffles.
    *
    * Operating points: [[BpeSteps]] merges; words longer than
    * [[BpeMaxWordLen]] chars are excluded from BOTH the pair statistics
    * and merge application (they are overwhelmingly URLs/junk — the
    * standard practice of capping the word length a tokenizer trains on)
    * and count their characters as tokens in q140.
    *
    * Determinism: ties in the pair count break by (count DESC, lhs ASC,
    * rhs ASC) — a total order, since (lhs, rhs) is the grouping key. The
    * DuckDB oracle mirrors the whole computation as K unrolled CTE steps
    * (the q117 idiom): pair counts via index-unnest over the symbol
    * list, the argmax via the same ORDER BY ... LIMIT 1, and the merge
    * application via `list_reduce` folding singleton lists with the
    * engine's exact greedy rule (a merged symbol lhs||rhs can never equal
    * lhs, so the fold never re-matches to the left — the same argument
    * that makes the engine's one-pass scan correct).
    */
  val BpeSteps = 8
  val BpeMaxWordLen = 24

  /** The vocabulary table: (word, cnt, syms) over the standard tokenizer,
    * length-capped, symbols initialized to single characters.
    */
  private def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(text.cleanTokens(col("text"))).as("word"))
      .filter(length(col("word")) <= BpeMaxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // split("") appends a trailing empty string on some engines; the
      // filter pins the char-array init regardless (vocab-sized column,
      // so the CodegenFallback lambda costs nothing that matters)
      .withColumn("syms", filter(split(col("word"), ""), s => s =!= lit("")))

  /** Merge projections accumulated on the vocab lineage before the next
    * round's pair count pays a re-materialization ([[Materialize]]) job.
    * The merge application is a cheap codegen expression over the
    * vocab-sized frame, so recomputing a bounded chain of merges inside
    * the next aggregation job is cheaper than a dedicated materialization
    * job per round — and the depth is proven: the deep batcher has always
    * applied up to 64 merges inside a single round. Selection math is
    * untouched (each round's pair count still reads the exact
    * post-all-previous-merges vocab, just through lineage instead of a
    * materialized copy); the final round's vocab, which nothing reads,
    * no longer pays a materialization at all.
    *
    * The un-checkpointed merges ride ONE
    * [[graft.functions.expressions.textnative.bpeMergeAll]] projection
    * (merge table as a reference object, never k stacked expression
    * nodes), so every round's generated whole-stage source is
    * byte-identical and the codegen cache serves rounds 2..n — stacked
    * per-merge projections made each round's source structurally new, and
    * the measured cost was 45 janino compiles per fresh q139 session and 27
    * per WARM q135b run (cache self-thrash).
    */
  private val BpeCkptEveryMerges = 32

  /** The vocab frame `base` with `pending` merges applied in order — one
    * [[graft.functions.expressions.textnative.bpeMergeAll]] projection, or
    * `base` itself while no merges are pending.
    */
  private def vocabWithMerges(base: DataFrame,
      pending: Seq[(String, String)]): DataFrame =
    if (pending.isEmpty) base
    else base.withColumn("syms",
      graft.functions.expressions.textnative.bpeMergeAll(col("syms"), pending))

  /** The first `limit` adjacent symbol pairs of a vocab frame, ranked by
    * count DESC, lhs, rhs (q139's total order), as (lhs, rhs, count) —
    * one map-side-combinable pair count and one bounded collect per
    * learner round.
    */
  private def rankedPairs(vocab: DataFrame,
      limit: Int): Array[(String, String, Long)] =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("cnt"),
        slice(col("syms"), lit(1), size(col("syms")) - 1).as("la"),
        slice(col("syms"), lit(2), size(col("syms")) - 1).as("ra"))
      .select(col("cnt"), explode(arrays_zip(col("la"), col("ra"))).as("z"))
      .groupBy(col("z.la").as("l"), col("z.ra").as("r"))
      .agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("l"), col("r"))
      .limit(limit).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** The one BPE learner loop: per round, rank the first `lookahead`
    * adjacent pairs of the vocab with every merge so far applied, let
    * `pick` choose the round's merges from them (given how many of the
    * `steps` are left), and queue those merges on the vocab lineage,
    * re-materializing it every [[BpeCkptEveryMerges]] merges. Stops at
    * `steps` merges or when no pair is left. Returns the merges as (step,
    * lhs, rhs, weight) in order, and the number of rounds.
    */
  private def bpeLearn(docs: DataFrame, steps: Int, lookahead: Int)(
      pick: (Array[(String, String, Long)], Int) => Seq[(String, String, Long)])
      : (Seq[(Int, String, String, Long)], Int) = {
    var base = Materialize(bpeVocab(docs))
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rounds = 0
    var exhausted = false
    while (out.size < steps && !exhausted) {
      if (pending.size >= BpeCkptEveryMerges) {
        base = Materialize(vocabWithMerges(base, pending.toSeq))
        pending.clear()
      }
      val top = rankedPairs(vocabWithMerges(base, pending.toSeq), lookahead)
      if (top.isEmpty) exhausted = true
      else {
        rounds += 1
        val kept = pick(top, steps - out.size)
        kept.foreach { case (l, r, c) => out += ((out.size + 1, l, r, c)) }
        pending ++= kept.map { case (l, r, _) => (l, r) }
      }
    }
    (out.toSeq, rounds)
  }

  /** Learn `steps` merges; returns (step, lhs, rhs, weight) in order. One
    * argmax per round: the batched learner with a 1-row lookahead and one
    * pick per round, whose guard then keeps exactly the top pair.
    */
  def bpeLearnMerges(docs: DataFrame,
      steps: Int = BpeSteps): Seq[(Int, String, String, Long)] =
    bpeLearnMergesBatched(docs, steps, maxPerRound = 1, lookahead = 1)._1

  /** q139: the learned merge table — (step, lhs, rhs, merged, weight). */
  def q139BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeLearnMerges(Tables.documents(spark, dir).select(col("text")))
      .map { case (k, l, r, c) => (k, l, r, l + r, c) }
      .toDF("step", "lhs", "rhs", "merged", "weight")
      .orderBy(col("step"))
  }

  /** q140: per-doc token counts under the learned vocab — merges applied
    * to the DISTINCT word table (never per word instance), instances
    * joined back; length-capped words count their characters.
    */
  def q140BpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    bpeTokenCountsUnsorted(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))

  /** The q140 computation WITHOUT the presentation sort — the form every
    * joining consumer (bpeDocTokenCounts → q115b/q124b/q135b) wants: the
    * r18 baseline plans showed q140's trailing orderBy feeding a join,
    * i.e. a range exchange + full sort immediately destroyed by the
    * join's hash exchange (guide §2.4: "an orderBy used only to make
    * output deterministic"). Merges come from the exactness-GUARDED
    * batched learner (bpeLearnMergesBatched): the accepted set per round
    * is provably the next merges the sequential learner picks (see its
    * scaladoc — q142 shares q139's oracle verbatim on that ground), so
    * the counts are bit-identical while the learning drops from K
    * sequential shuffle+collect rounds to ~K/M (q140's oracle re-verified
    * after the swap). q139 keeps the per-merge sequential protocol as the
    * labeled anchor.
    */
  def bpeTokenCountsUnsorted(docs: DataFrame): DataFrame = {
    val (merges, _) = bpeLearnMergesBatched(docs)
    val docWords = docs.select(col("doc_id"),
      explode(text.cleanTokens(col("text"))).as("word"))
    val applied = vocabWithMerges(
        docWords.filter(length(col("word")) <= BpeMaxWordLen)
          .select(col("word")).distinct()
          .withColumn("syms",
            filter(split(col("word"), ""), s => s =!= lit(""))),
        merges.map { case (_, l, r, _) => (l, r) })
      .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
    docWords.join(applied, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("n_sub"), length(col("word")).cast("long")))
        .as("n_bpe_tokens"))
  }

  /** Batched BPE merge selection (q142, VERDICT r16 #4): q139's per-merge
    * cost is one shuffle + one 1-row collect = K SEQUENTIAL Spark jobs —
    * at a production vocabulary (K = 10^4–10^5) that is a driver-side
    * latency wall. The standard trick: per round, take the TOP-M
    * NON-CONFLICTING pairs from one ranked pair count and apply them all
    * in one projection, cutting rounds to ~K/M.
    *
    * This implementation batches WITHOUT changing the answer — the
    * accepted set per round is provably the next |accepted| merges the
    * sequential learner would pick, so q142 shares q139's DuckDB oracle
    * verbatim. The guard:
    *
    *   1. walk the ranked list (count DESC, lhs, rhs — q139's total
    *      order), accepting pairs whose symbols are DISJOINT from every
    *      previously accepted pair's; STOP the round at the first
    *      conflicting pair (count `cq`), the lookahead horizon, or the
    *      per-round cap;
    *   2. keep the first accepted pair unconditionally (it is the global
    *      argmax — sequential's own pick) and every later accepted pair
    *      only while its count is STRICTLY above `cq` (and above the last
    *      collected count when the table extends past the lookahead).
    *
    * Why that equals sequential: disjoint merges commute and leave each
    * other's counts untouched, so after applying accepted pairs 1..i-1
    * the candidate set at sub-step i is (a) untouched pairs — every one
    * ranked below p_i, since the walk accepted all disjoint pairs in rank
    * order, and (b) pairs changed or created by earlier accepted merges.
    * A created pair (x, ab) needs an (x, a) adjacency, so its count is
    * bounded by the OLD count of a conflicting pair — and every
    * conflicting pair's count is <= cq < c_i by the guard; changed pairs
    * only lose occurrences. Hence p_i is the strict argmax at sub-step i.
    * When counts cluster (cq ties c_2), the guard degenerates the round
    * to one merge — exactly sequential, never approximate.
    */
  def bpeLearnMergesBatched(docs: DataFrame, steps: Int = BpeSteps,
      maxPerRound: Int = 16, lookahead: Int = 64)
      : (Seq[(Int, String, String, Long)], Int) =
    bpeLearn(docs, steps, lookahead) { (top, left) =>
      val used = scala.collection.mutable.Set.empty[String]
      val accepted =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      // cq: the count bound below which sequential picks could diverge —
      // the first conflicting pair, or the last collected row when the
      // ranked table extends past the lookahead window
      var cq = -1L
      var i = 0
      while (cq < 0 && i < top.length &&
          accepted.size < math.min(maxPerRound, left)) {
        val (l, r, c) = top(i)
        if (used(l) || used(r)) cq = c
        else { accepted += top(i); used += l; used += r }
        i += 1
      }
      // loop may also exit at the cap or the lookahead horizon: every
      // UNEXAMINED pair is a potential conflict, so the bound must cover
      // the best of them (the next uncollected rank / the last collected
      // row when the table extends past the window)
      if (cq < 0 && i < top.length) cq = top(i)._3
      else if (cq < 0 && top.length == lookahead) cq = top.last._3
      accepted.head +: accepted.tail.takeWhile(_._3 > cq).toSeq
    }

  /** Deep-K operating point of the tie-ACCEPTING batcher (q145): deep
    * enough that q142's exactness guard visibly plateaus on the fixture
    * (its K=64 gain is only ×1.3 — SCALE.md, "Round-17 rows"), small
    * enough for Verify's time budget. K ∈ {256, 1024} is measured in
    * SCALE.md's "Round-18 rows".
    */
  val BpeDeepSteps = 64

  /** Tie-accepting batched BPE learning (q145, VERDICT r17 #4) — the
    * STANDARD deep-vocabulary approximation, deliberately separate from
    * q142: q142's guard keeps the answer provably identical to sequential
    * but degenerates to ~one merge per round whenever counts tie (the
    * fixture ties constantly — K=64 gains only ×1.3), while real
    * vocabularies need 10⁴–10⁵ merges. This variant walks the same ranked
    * list (count DESC, lhs, rhs) and accepts EVERY symbol-disjoint pair up
    * to `maxPerRound` — skipping conflicts and continuing, never stopping
    * at ties — so rounds ≈ K/M regardless of the count distribution.
    *
    * What stays exact: symbol-disjoint merges commute and leave each
    * other's pair counts untouched (merging (a,b)→ab can neither create
    * nor destroy an (x,y) adjacency when {x,y} ∩ {a,b} = ∅), so every
    * accepted pair's weight is its true corpus count at application time.
    * What is approximate: a pair CREATED by an earlier merge of the same
    * round (x,ab) only competes from the next round, and a tied pair may
    * be emitted in rank order where sequential would have preferred the
    * created pair — the answer MAY diverge from q139's sequence, which is
    * why q145 is property-checked against a plain-Scala reference learner
    * (same algorithm, in-memory) instead of sharing q139's oracle.
    *
    * Scale shape: unchanged from q139/q142 — everything runs over the
    * distinct-word vocab table; each round is one map-side-combinable
    * pair-count aggregation, one bounded `lookahead`-row collect (model-
    * fit boundary) and one codegen'd merge projection, checkpointed.
    */
  def bpeLearnMergesDeep(docs: DataFrame, steps: Int = BpeDeepSteps,
      maxPerRound: Int = 64, lookahead: Int = 256)
      : (Seq[(Int, String, String, Long)], Int) =
    bpeLearn(docs, steps, lookahead) { (top, left) =>
      val used = scala.collection.mutable.Set.empty[String]
      val accepted =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var i = 0
      while (i < top.length && accepted.size < math.min(maxPerRound, left)) {
        val (l, r, _) = top(i)
        if (!used(l) && !used(r)) { accepted += top(i); used += l; used += r }
        i += 1
      }
      // rank order application — and because accepted pairs are symbol-
      // disjoint, the application order is immaterial to the result
      accepted.toSeq
    }

  /** q145: the deep-K merge table — same columns as q139/q142, learned by
    * the tie-accepting batcher at [[BpeDeepSteps]].
    */
  def q145BpeMergesDeep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) =
      bpeLearnMergesDeep(Tables.documents(spark, dir).select(col("text")))
    merges.map { case (k, l, r, c) => (k, l, r, l + r, c) }
      .toDF("step", "lhs", "rhs", "merged", "weight")
      .orderBy(col("step"))
  }

  /** q142: the q139 merge table learned BATCHED — same output, same
    * oracle, ~K/M rounds instead of K.
    */
  def q142BpeMergesBatched(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) =
      bpeLearnMergesBatched(Tables.documents(spark, dir).select(col("text")))
    merges.map { case (k, l, r, c) => (k, l, r, l + r, c) }
      .toDF("step", "lhs", "rhs", "merged", "weight")
      .orderBy(col("step"))
  }

  /** Per-doc token counts under the LEARNED vocab as a joinable
    * (doc_id, n_tokens) frame — the q140 computation re-exposed so the
    * layout tier (q115b/q124b/q135b) budgets with computed subword counts
    * instead of the q35 whitespace-ish proxy (VERDICT r16 #6). Docs with
    * no tokens count 0.
    */
  def bpeDocTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id").isNotNull)
      .select(col("doc_id"))
      .join(bpeTokenCountsUnsorted(
          Tables.documents(spark, dir).select(col("doc_id"), col("text"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_tokens"))
      // every consumer (q115b's window ladder, q124b's packing, q135b's
      // budget select) holds this frame in 2+ places of its final plan,
      // and each one's trailing presentation sort range-samples its input
      // — unmaterialized, the whole learn+apply chain re-executed per
      // consumer occurrence (21 documents scans in the r18 baseline q135b
      // plan). The frame is 2 longs/doc; materializing it is the same
      // decision q141/q143 made for their fingerprint frames.
      .transform(Materialize(_))

  /** The unrolled-CTE oracle prelude shared by q139/q140: w0 = the capped
    * vocabulary with char symbol lists; per step k, mK = the argmax pair,
    * pK = its (lhs, rhs) with a never-matching sentinel when mK is empty
    * (a scalar subquery over an empty table is NULL, and a NULL merge
    * symbol would nuke the fold), wK = the merge applied via the
    * list_reduce greedy fold.
    */
  private def bpeOracleCtes(steps: Int): String = {
    val sb = new StringBuilder(
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    [ tok[i] for i in generate_series(1, len(tok)) ] AS syms
         |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
         |      '[^a-z0-9]+'), t -> t <> '')) AS tok FROM documents)
         |  WHERE len(tok) <= $BpeMaxWordLen
         |  GROUP BY tok)""".stripMargin)
    for (k <- 1 to steps) {
      sb.append(
        s""",
           |m$k AS MATERIALIZED (
           |  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
           |    SELECT syms[i] AS l, syms[i + 1] AS r, cnt FROM (
           |      SELECT cnt, syms,
           |        unnest(generate_series(1, len(syms) - 1)) AS i
           |      FROM w${k - 1}))
           |  GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1),
           |p$k AS (SELECT coalesce((SELECT l FROM m$k), chr(216)) AS l,
           |               coalesce((SELECT r FROM m$k), chr(216)) AS r),
           |w$k AS MATERIALIZED (
           |  SELECT word, cnt, list_reduce(
           |    [ [x] for x in syms ],
           |    (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[-1] = p$k.l
           |                      AND x[1] = p$k.r
           |                THEN acc[1:len(acc) - 1] || [p$k.l || p$k.r]
           |                ELSE acc || x END) AS syms
           |  FROM w${k - 1}, p$k)""".stripMargin)
    }
    sb.toString
  }

  private def bpeMergesOracle(steps: Int): String = {
    val unions = (1 to steps).map(k =>
      s"SELECT CAST($k AS INTEGER) AS step, l AS lhs, r AS rhs, " +
        s"l || r AS merged, c AS weight FROM m$k").mkString("\nUNION ALL\n")
    s"${bpeOracleCtes(steps)}\n$unions\nORDER BY step"
  }

  /** Oracle prelude for consumers of the learned token counts: the q139
    * CTE chain plus a `bpe_counts(doc_id, n_tokens)` CTE — q115b/q124b/
    * q135b splice it where their base oracles compute the proxy count.
    * CTE names are prefixed `bpe_` to stay clear of the consumers' own.
    */
  private[operators] def bpeDocCountsCtes(steps: Int): String =
    s"""${bpeOracleCtes(steps)},
       |bpe_sizes AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub
       |              FROM w$steps),
       |bpe_dw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(
       |    lower(text), '[^a-z0-9]+'), t -> t <> '')) AS word
       |  FROM documents),
       |bpe_counts AS (SELECT doc_id,
       |    CAST(SUM(coalesce(n_sub, len(word))) AS BIGINT) AS n_tokens
       |  FROM bpe_dw LEFT JOIN bpe_sizes USING (word)
       |  GROUP BY doc_id)""".stripMargin

  private def bpeTokensOracle(steps: Int): String =
    s"""${bpeOracleCtes(steps)},
       |sizes AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub
       |          FROM w$steps),
       |dw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(
       |    lower(text), '[^a-z0-9]+'), t -> t <> '')) AS word
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(SUM(coalesce(n_sub, len(word))) AS BIGINT) AS n_bpe_tokens
       |FROM dw LEFT JOIN sizes USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q139_bpe_merges", q139BpeMerges, Some(bpeMergesOracle(BpeSteps))),
    QueryDef("q140_bpe_token_counts", q140BpeTokenCounts,
      Some(bpeTokensOracle(BpeSteps))),
    // q142 shares q139's SEQUENTIAL oracle on purpose: the batching guard
    // is exactness-preserving, and the shared oracle is what certifies it
    QueryDef("q142_bpe_merges_batched", q142BpeMergesBatched,
      Some(bpeMergesOracle(BpeSteps))),
    // q145 deliberately has NO oracle: the tie-accepting batcher's answer
    // may diverge from the sequential sequence (that is its point), so it
    // is property-checked against a plain-Scala reference learner in
    // TextAnalysisSpec instead of sharing q139's unrolled-CTE mirror
    QueryDef("q145_bpe_merges_deepk", q145BpeMergesDeep, None),
    QueryDef("q112_gopher_rules", q112,
      // every signal is an integer-ratio double rounded at 4 dp; the
      // stopword finds are generated from the SAME Scala list the engine
      // uses, so the two sides cannot drift
      Some {
        val stopHitsSql = text.stopwords("en").map { w =>
          s"(CASE WHEN regexp_matches(lt, '(^|[^a-z0-9])$w([^a-z0-9]|$$)')" +
            " THEN 1 ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    lower(coalesce(text, '')) AS lt
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lt, '[^a-z0-9]+'),
        |                         t -> t <> '')) AS BIGINT) AS n_words,
        |    length(regexp_replace(lt, '[^a-z0-9]', '', 'g')) AS token_chars,
        |    len(regexp_extract_all(text, '#')) +
        |      len(regexp_extract_all(text, '…')) +
        |      len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
        |    greatest(len(string_split(text, chr(10))), 1) AS n_lines,
        |    len(regexp_extract_all(text, '(?m)^[-*•]')) AS bullets,
        |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)$$')) AS elines,
        |    len(regexp_extract_all(lt, '[0-9]*[a-z][a-z0-9]*')) AS alpha_words,
        |    $stopHitsSql AS stop_hits
        |  FROM d),
        |r AS (SELECT doc_id, n_words,
        |    round(CAST(token_chars AS DOUBLE) / greatest(n_words, 1), 4)
        |      AS mean_word_len,
        |    round(CAST(symbols AS DOUBLE) / greatest(n_words, 1), 4)
        |      AS symbol_ratio,
        |    round(CAST(bullets AS DOUBLE) / n_lines, 4) AS bullet_ratio,
        |    round(CAST(elines AS DOUBLE) / n_lines, 4) AS ellipsis_ratio,
        |    round(CAST(alpha_words AS DOUBLE) / greatest(n_words, 1), 4)
        |      AS alpha_word_frac,
        |    CAST(stop_hits AS INT) AS stop_hits
        |  FROM s)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_word_frac, stop_hits,
        |  (n_words BETWEEN $GopherMinWords AND $GopherMaxWords
        |   AND mean_word_len BETWEEN $GopherMinMeanWl AND $GopherMaxMeanWl
        |   AND symbol_ratio <= $GopherMaxSymbolRatio
        |   AND bullet_ratio <= $GopherMaxBulletRatio
        |   AND ellipsis_ratio <= $GopherMaxEllipsisRatio
        |   AND alpha_word_frac >= $GopherMinAlphaFrac
        |   AND stop_hits >= $GopherMinStopHits) AS pass_gopher
        |FROM r ORDER BY doc_id""".stripMargin
      }),
    QueryDef("q91_lm_fit_score", q91,
      // string-gram mirror of the hash-keyed engine counts (q86/q90's
      // collision argument); DuckDB's avg-of-ln vs the engine's weighted
      // sum agree to ~1e-13 relative, rounded at 4 dp (q60's ln precedent)
      Some("""WITH base AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL),
        |uni AS (
        |  SELECT t.t AS w, count(*) AS c
        |  FROM base, unnest(toks) AS t(t) GROUP BY 1),
        |v AS (SELECT count(*) AS vs FROM uni),
        |occ AS (
        |  SELECT doc_id, toks[i] AS w1,
        |    toks[i] || ' ' || toks[i + 1] AS g
        |  FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        |  WHERE len(toks) >= 2),
        |bc AS (SELECT g, count(*) AS c FROM occ GROUP BY 1),
        |lp AS (
        |  SELECT occ.doc_id, ln((bc.c + 1.0) / (uni.c + v.vs)) AS l
        |  FROM occ JOIN bc USING (g) JOIN uni ON uni.w = occ.w1 CROSS JOIN v),
        |per AS (SELECT doc_id, count(*) AS nb, avg(l) AS al FROM lp GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(coalesce(per.nb, 0) AS BIGINT) AS n_bigrams,
        |  round(coalesce(per.al, 0.0), 4) AS avg_logprob
        |FROM base b LEFT JOIN per ON per.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin)),
    QueryDef("q94_classifier_score", q94,
      // the weight table is recomputed from md5 in both engines, so the
      // integer milli-unit sums are exact; mean_e6 is one double division
      // + floor (the q81 oov_e6 idiom)
      Some("""WITH t0 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2001 - 1000 AS w
        |  FROM t0),
        |per AS (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM w GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(per.s, 0) AS BIGINT) AS score_milli,
        |  CAST(FLOOR(CAST(coalesce(per.s, 0) AS DOUBLE) * 1000 /
        |    greatest(coalesce(per.n, 0), 1)) AS BIGINT) AS mean_e6,
        |  (coalesce(per.s, 0) >= 0) AS keep
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q118_token_drift", q118,
      // one tokenize CTE feeds counts, the deterministic top-V axis
      // (count DESC, token — q81's cutoff rule), totals, and the <other>
      // fold; shares/ln follow q116's exactness discipline
      Some(s"""WITH t AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                            x -> x <> '')) AS tok,
        |    (doc_id % ${Pipeline.DriftHoldout} <>
        |     ${Pipeline.DriftHoldout - 1}) AS is_prev
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS nc,
        |        CAST(SUM(CASE WHEN is_prev THEN 1 ELSE 0 END) AS BIGINT)
        |          AS np
        |      FROM t GROUP BY 1),
        |a AS (SELECT tok, np AS n_prev, nc AS n_cur,
        |        CAST(row_number() OVER (ORDER BY nc DESC, tok) AS INT)
        |          AS rank
        |      FROM (SELECT * FROM c ORDER BY nc DESC, tok
        |            LIMIT $TokenDriftVocab)),
        |tot AS (SELECT CAST(COALESCE(SUM(np), 0) AS BIGINT) AS tp,
        |               CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS tc FROM c),
        |at AS (SELECT CAST(COALESCE(SUM(n_prev), 0) AS BIGINT) AS ap,
        |              CAST(COALESCE(SUM(n_cur), 0) AS BIGINT) AS ac FROM a),
        |u AS (SELECT rank, tok, n_prev, n_cur FROM a
        |      UNION ALL
        |      SELECT CAST(${TokenDriftVocab + 1} AS INT), '<other>',
        |        tp - ap, tc - ac
        |      FROM tot CROSS JOIN at)
        |SELECT u.rank, u.tok, u.n_prev, u.n_cur,
        |  CAST(((n_prev + 1) * 1000000) // (tp + ${TokenDriftVocab + 1})
        |    AS BIGINT) AS p_prev_e6,
        |  CAST(((n_cur + 1) * 1000000) // (tc + ${TokenDriftVocab + 1})
        |    AS BIGINT) AS p_cur_e6,
        |  round((CAST(n_cur + 1 AS DOUBLE) / (tc + ${TokenDriftVocab + 1})) *
        |        ln((CAST(n_cur + 1 AS DOUBLE) / (tc + ${TokenDriftVocab + 1})) /
        |           (CAST(n_prev + 1 AS DOUBLE) / (tp + ${TokenDriftVocab + 1}))),
        |        6) AS kl_term
        |FROM u CROSS JOIN tot ORDER BY rank""".stripMargin)),
    QueryDef("q116_score_drift_psi", q116,
      // q94's scoring CTEs + a CASE bucket chain and VALUES grid generated
      // from the same edge list the engine folds; shares are one IEEE
      // division each over exact integers, e6 shares use integer division
      // (// = Spark's DIV), ln rounds at 6 dp (q60/q91's libm margin)
      Some {
        val edges = GateSweepThresholds
        val nB = edges.size + 1
        val caseChain = edges.zipWithIndex
          .map { case (e, i) => s"WHEN mean_e6 <= $e THEN $i" }
          .mkString(" ") + s" ELSE ${edges.size}"
        val gridVals = (0 to edges.size)
          .map(b => s"($b, ${if (b < edges.size) edges(b).toString else "NULL"})")
          .mkString(", ")
        s"""WITH t0 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2001 - 1000 AS w
        |  FROM t0),
        |per AS (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM w GROUP BY doc_id),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(FLOOR(CAST(coalesce(per.s, 0) AS DOUBLE) * 1000 /
        |      greatest(coalesce(per.n, 0), 1)) AS BIGINT) AS mean_e6
        |  FROM documents d LEFT JOIN per USING (doc_id)
        |  WHERE d.doc_id IS NOT NULL),
        |b AS (SELECT CASE $caseChain END AS bucket,
        |        (doc_id % ${Pipeline.DriftHoldout} <>
        |         ${Pipeline.DriftHoldout - 1}) AS is_prev
        |      FROM sc),
        |c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nc,
        |        CAST(SUM(CASE WHEN is_prev THEN 1 ELSE 0 END) AS BIGINT) AS np
        |      FROM b GROUP BY 1),
        |g(bucket, hi_e6) AS (VALUES $gridVals),
        |f AS (SELECT g.bucket, g.hi_e6,
        |        coalesce(np, 0) AS n_prev, coalesce(nc, 0) AS n_cur
        |      FROM g LEFT JOIN c USING (bucket)),
        |tot AS (SELECT CAST(SUM(n_prev) AS BIGINT) AS tp,
        |               CAST(SUM(n_cur) AS BIGINT) AS tc FROM f)
        |SELECT CAST(bucket AS INT) AS bucket, CAST(hi_e6 AS BIGINT) AS hi_e6,
        |  CAST(n_prev AS BIGINT) AS n_prev, CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(((n_prev + 1) * 1000000) // (tp + $nB) AS BIGINT) AS p_prev_e6,
        |  CAST(((n_cur + 1) * 1000000) // (tc + $nB) AS BIGINT) AS p_cur_e6,
        |  round((CAST(n_cur + 1 AS DOUBLE) / (tc + $nB) -
        |         CAST(n_prev + 1 AS DOUBLE) / (tp + $nB)) *
        |        ln((CAST(n_cur + 1 AS DOUBLE) / (tc + $nB)) /
        |           (CAST(n_prev + 1 AS DOUBLE) / (tp + $nB))), 6) AS psi_term
        |FROM f CROSS JOIN tot ORDER BY bucket""".stripMargin
      }),
    QueryDef("q102_gate_sweep", q102,
      // q94's scoring CTEs verbatim, then a 13-row grid cross join into
      // the conditional counts — same md5 weight recomputation, so the
      // kept sets are exact in both engines
      Some(s"""WITH t0 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2001 - 1000 AS w
        |  FROM t0),
        |per AS (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM w GROUP BY doc_id),
        |sc AS (SELECT d.doc_id,
        |    CAST(coalesce(per.n, 0) AS BIGINT) AS n,
        |    CAST(FLOOR(CAST(coalesce(per.s, 0) AS DOUBLE) * 1000 /
        |      greatest(coalesce(per.n, 0), 1)) AS BIGINT) AS mean_e6
        |  FROM documents d LEFT JOIN per USING (doc_id)),
        |g AS (SELECT CAST(unnest(range(-10, 3)) AS BIGINT) * 100000 AS thr_e6),
        |cnt AS (SELECT g.thr_e6,
        |    SUM(CASE WHEN sc.mean_e6 >= g.thr_e6 THEN 1 ELSE 0 END) AS kd,
        |    SUM(CASE WHEN sc.mean_e6 >= g.thr_e6 THEN sc.n ELSE 0 END) AS kt
        |  FROM sc CROSS JOIN g GROUP BY g.thr_e6)
        |SELECT g.thr_e6,
        |  CAST(coalesce(cnt.kd, 0) AS BIGINT) AS kept_docs,
        |  CAST(coalesce(cnt.kt, 0) AS BIGINT) AS kept_tokens,
        |  (g.thr_e6 = ${Pipeline.ClassifierFloorE6}) AS deployed
        |FROM g LEFT JOIN cnt USING (thr_e6) ORDER BY thr_e6""".stripMargin)),
    QueryDef("q81_oov_rate", q81,
      Some(s"""WITH t0 AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents),
        |tt AS (SELECT doc_id, tok FROM t0 WHERE tok <> ''),
        |v AS (SELECT tok FROM (
        |  SELECT tok, COUNT(*) AS n FROM tt GROUP BY tok
        |  ORDER BY n DESC, tok LIMIT $VocabK)),
        |per AS (
        |  SELECT tt.doc_id, COUNT(*) AS n_tokens,
        |    SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM tt LEFT JOIN v ON tt.tok = v.tok
        |  GROUP BY tt.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(per.n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(FLOOR(CAST(coalesce(per.n_oov, 0) AS DOUBLE) /
        |    greatest(coalesce(per.n_tokens, 0), 1) * 1000000) AS BIGINT) AS oov_e6
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q64_heavy_hitters", q64, None),
    QueryDef("q65_cms_counts", q65, None),
    QueryDef("q58_repetition_signals", q58,
      Some(s"""$toksCte,
        |g AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 2
        |         THEN list_transform(generate_series(1, len(toks) - 1),
        |                             i -> array_to_string(toks[i:i+1], ' '))
        |         ELSE [] END AS g2
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_frac,
        |  CAST(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
        |    / len(toks) AS top_token_frac,
        |  1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_2gram_frac
        |FROM g WHERE len(toks) > 0 AND len(g2) > 0
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q60_tfidf_topk", q60,
      Some(s"""$toksCte,
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tc
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        |  GROUP BY doc_id, term),
        |dtot AS (SELECT doc_id, SUM(tc) AS dt FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    round((CAST(tc AS DOUBLE) / dt) * ln((n_docs + 1.0) / (df + 1.0)), 6)
        |      AS tfidf
        |  FROM tf JOIN dtot USING (doc_id) JOIN dfreq USING (term), n),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
        |  FROM s)
        |SELECT doc_id, rnk, term, tfidf FROM r WHERE rnk <= $TfIdfTopK
        |ORDER BY doc_id, rnk""".stripMargin)),
    QueryDef("q19_token_top100", q19Tokens,
      Some(s"""$toksCte
        |SELECT token, COUNT(*) AS n FROM (SELECT unnest(toks) AS token FROM d)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin)),
    QueryDef("q19_ngram_top100", q19Ngrams,
      Some(s"""$toksCte
        |SELECT gram, COUNT(*) AS n FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
        |  FROM d WHERE len(toks) >= 3)
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 100""".stripMargin)),
    QueryDef("q26_text_quality", qualityScores,
      Some(s"""$toksCte
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(coalesce(list_aggregate(list_transform(toks, t -> length(t)),
        |          'sum'), 0) AS DOUBLE) / greatest(len(toks), 1), 4)
        |    AS mean_token_len,
        |  round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
        |          AS DOUBLE) / greatest(length(text), 1), 4) AS alpha_ratio,
        |  round(CAST(len(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','that','it','for'], t)))
        |          AS DOUBLE) / greatest(len(toks), 1), 4) AS stopword_ratio
        |FROM d ORDER BY doc_id""".stripMargin)),
    QueryDef("q67_unpivot_signals", q67,
      Some(s"""$toksCte,
        |q AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(toks) AS DOUBLE) AS n_tokens,
        |    round(CAST(coalesce(list_aggregate(list_transform(toks, t -> length(t)),
        |            'sum'), 0) AS DOUBLE) / greatest(len(toks), 1), 4)
        |      AS mean_token_len,
        |    round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
        |            AS DOUBLE) / greatest(length(text), 1), 4) AS alpha_ratio,
        |    round(CAST(len(list_filter(toks, t -> list_contains(
        |        ['the','a','of','and','to','in','is','that','it','for'], t)))
        |            AS DOUBLE) / greatest(len(toks), 1), 4) AS stopword_ratio
        |  FROM d)
        |-- INCLUDE NULLS: Spark's Dataset.unpivot retains rows whose value
        |-- is NULL; DuckDB's default UNPIVOT drops them — a null text row
        |-- would silently diverge under the default
        |SELECT doc_id, signal, value FROM q
        |  UNPIVOT INCLUDE NULLS (value FOR signal IN
        |    (n_chars, n_tokens, mean_token_len, alpha_ratio, stopword_ratio))
        |ORDER BY doc_id, signal""".stripMargin)),
    QueryDef("q27_lang_id", langIdScores, Some(langIdOracle)),
    QueryDef("q47_edit_distance",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          levenshtein(substring(col("text"), 1, 20),
            lit("the quick brown fox")).as("edit_dist"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  CAST(levenshtein(substr(text, 1, 20), 'the quick brown fox') AS INT)
        |    AS edit_dist
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q34_fingerprints", q34Fingerprints, Some(winnowOracle)),
    QueryDef("q35_token_counts", q35TokenCounts,
      Some(s"""WITH d AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '${text.bpeishPattern.replace("'", "''")}')) AS BIGINT)
        |    AS n_bpeish_tokens
        |FROM d ORDER BY doc_id""".stripMargin)))
}
