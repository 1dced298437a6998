package graft.operators

import graft.functions.expressions.vecexprs
import graft.functions.vectors
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (SURVEY §2.9 Q20 + the LLM-pipeline
  * ANN tier).
  *
  * Q20 is the exact baseline: a fixed probe set is broadcast against the
  * corpus (the corpus itself never shuffles or self-joins). Two ANN tiers
  * are the 100 TB paths — q25 (random-hyperplane LSH, multi-table +
  * multi-probe) and q39 (IVF with a KMeans coarse quantizer); both prune
  * candidates to bucket/cell-local sets and are recall-checked against the
  * exact top-k in SimilaritySpec. q24 is the cosine near-dup face of the
  * same bucketing.
  *
  * Spread policy: [[vectorBase]] is the one place it is decided, and
  * the queries that spread read their vectors through it. Its
  * `repartition(..., vec_id)` before the vector math
  * pays at sf0.1 — the NTables×Planes×dim bucket dot products (and the
  * pairwise cosines they feed) dominate the shuffle cost (q24: spread
  * 0.60s vs plain 0.74s). Elsewhere a spread pays once the single-task
  * work exceeds the exchange's fixed cost: [[graft.Tables.spread]] takes
  * that mass as its floor, e.g. ~95 KB for the inverted index's tokenize
  * map (0.05 s exchange / 0.54 s per MB on one core, measured on 4 cores;
  * see InvertedIndex.PostingsSpreadMinBytes).
  */
object Similarity {

  /** The spread read (the header's spread policy): `embeddings`
    * hash-repartitioned on vec_id over every core, then
    * (vec_id, `keep`..., v: array<double>).
    * The exchange sits before the cast, so the cast and all the vector
    * math downstream run spread. Null embeddings stay as a null `v`; each
    * caller keeps its own null handling.
    */
  private[graft] def vectorBase(spark: SparkSession, dir: String,
      keep: Column*): DataFrame =
    Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select((col("vec_id") +: keep :+
        vectors.toDouble(col("embedding")).as("v")): _*)

  /** The `k` lowest-id vectors of a (vec_id, v) frame: the deterministic
    * codebook of the seeded twins (q39b's idiom). A k-row, KB-scale take
    * of model state, not a data-path collect; empty for an empty frame.
    */
  private[graft] def lowestIdSeeds(base: DataFrame,
      k: Int): Array[Array[Double]] =
    base.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)

  /** Shared ranking tail for the exact and ANN variants: rank candidates
    * per probe by (cosine DESC, neighbor_id), keep top `TopK`, round to
    * `ScoreDp`. One definition so the ANN tiers can never drift from the
    * exact baseline they are recall-checked against.
    */
  val TopK = 10
  val ScoreDp = 6
  private def rankTopK(candidates: DataFrame): DataFrame =
    candidates
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rnk") <= TopK)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        round(col("c"), ScoreDp).as("score"))
      .orderBy(col("probe_id"), col("rnk"))

  /** Q20: brute-force cosine top-10 for 5 fixed probes. Probes broadcast;
    * ranking is a per-probe window (5 partitions of corpus size, top-10
    * kept). Scores rounded to 6 dp per the oracle contract.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectorBase(spark, dir)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    rankTopK(emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c")))
  }

  /** Probe stride for the bitext anchor — bounded like q20/q23's probe sets
    * so the exact form never goes quadratic.
    */
  val BitextProbeEvery = 25

  /** q82: margin-based cross-lingual candidate mining — the CCMatrix/LASER
    * alignment criterion over the embedding column: for each English probe
    * doc, the best non-English neighbor by cosine plus its MARGIN over the
    * runner-up (absolute margin; a thin one means the "translation" is not
    * distinctive and gets dropped by the alignment gate downstream).
    *
    * Exact anchor with a bounded probe set (doc_id % BitextProbeEvery,
    * broadcast); the production-scale candidate generator is q25's
    * multi-probe LSH / q39's IVF over the same vectors — the ranking+margin
    * tail here is what those candidates feed.
    */
  def q82(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(Tables.embeddings(spark, dir),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("id"), col("lang"),
        vectors.toDouble(col("embedding")).as("v"))
    bitextMargin(e.filter(pmod(col("id"), lit(BitextProbeEvery)) === 0))(e)
  }

  /** The q82 ranking+margin tail over any (id, lang, v) frames: `probes`
    * supplies the English side, `candidates` everything else — planted
    * specs run it directly; q25/q39 candidate generators feed the same
    * tail at scale.
    */
  def bitextMargin(probeSrc: DataFrame)(candidateSrc: DataFrame): DataFrame = {
    val probes = probeSrc.filter(col("lang") === "en")
      .select(col("id").as("probe_id"), col("v").as("pv"))
    val ranked = candidateSrc.filter(col("lang") =!= "en")
      .crossJoin(broadcast(probes))
      .select(col("probe_id"), col("id").as("cand_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c").desc, col("cand_id"))))
      .filter(col("rnk") <= 2)
    ranked.groupBy(col("probe_id"))
      .agg(max(when(col("rnk") === 1, col("cand_id"))).as("best_id"),
        max(when(col("rnk") === 1, col("c"))).as("c1"),
        max(when(col("rnk") === 2, col("c"))).as("c2"))
      .select(col("probe_id"), col("best_id"),
        round(col("c1"), ScoreDp).as("best_score"),
        round(col("c1") - col("c2"), ScoreDp).as("margin"))
      .orderBy(col("probe_id"))
  }

  /** Hard negatives kept per probe. */
  val HardNegK = 5

  /** Probe stride for the hard-negative anchor — bounded like q82's. */
  val HardNegProbeEvery = 40

  /** Cross-label cosine above this is a suspected duplicate/mislabel, not a
    * hard negative — the standard false-negative guard in contrastive
    * mining. Reuses the fixture's near-dup bar (q48).
    */
  def hardNegCeiling: Double = NearDupCosine

  /** q92: hard-negative mining for contrastive/retrieval training — for
    * each probe vector, the top-K MOST similar vectors of a DIFFERENT
    * label, excluding cross-label pairs so similar they are suspected
    * duplicates or label noise (rounded cosine >= the q48 near-dup bar).
    * The batch-construction step every embedding/reranker training
    * pipeline runs: negatives that are nearly positives carry the
    * gradient signal, but actual positives mislabeled as negatives poison
    * it — hence the ceiling.
    *
    * Exact anchor with a bounded broadcast probe set (q82's contract):
    * cost = probes × corpus, linear in the corpus for a fixed probe
    * batch. The production candidate generator at 100 TB is q25's
    * multi-probe LSH / q39's IVF feeding this same rank-and-gate tail —
    * the anchor is the ground truth those are recall-checked against.
    * Ranking compares ROUNDED cosines (ties broken by cand_id) so the
    * boundary row cannot flip on a last-bit engine difference.
    */
  def q92(spark: SparkSession, dir: String): DataFrame = {
    val e = vectorBase(spark, dir, col("label"))
      .withColumnRenamed("vec_id", "id")
    hardNegatives(
      e.filter(pmod(col("id"), lit(HardNegProbeEvery)) === 0), e, HardNegK)
  }

  /** The q92 rank-and-gate tail over any (id, label, v) frames — planted
    * specs run it directly; q25/q39 candidate generators feed it at scale.
    */
  def hardNegatives(probeSrc: DataFrame, candidateSrc: DataFrame,
      k: Int): DataFrame = {
    val probes = probeSrc.select(col("id").as("probe_id"),
      col("label").as("plabel"), col("v").as("pv"))
    candidateSrc
      .crossJoin(broadcast(probes))
      .transform(hardNegRank(k))
  }

  /** Shared gate+rank tail: scored (probe_id, plabel, id, label, pv, v)
    * rows → top-k cross-label negatives per probe, duplicate-suspects
    * excluded ([[hardNegCeiling]]), ROUNDED-cosine ranking with cand_id
    * tie-break so the boundary row cannot flip on a last-bit difference.
    */
  private def hardNegRank(k: Int)(scored: DataFrame): DataFrame =
    scored
      .filter(col("label") =!= col("plabel"))
      .select(col("probe_id"), col("id").as("cand_id"),
        round(vecexprs.cosineSim(col("pv"), col("v")), ScoreDp).as("c"))
      .filter(col("c") < lit(hardNegCeiling))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c").desc, col("cand_id"))))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("cand_id"),
        col("c").as("cosine"))
      .orderBy(col("probe_id"), col("rnk"))

  /** q92b: q92's PRODUCTION twin — the same rank-and-gate tail fed by IVF
    * candidate generation instead of the exact probes × corpus score. The
    * trained index ([[AnnIndex.fitted]], ~√n cells) assigns every
    * candidate its single nearest cell in one codegen'd pass; each probe
    * fans out to its nearest cells ([[AnnIndex.probe]], q39's shape) and
    * scores only cell-mates. Cost: |probe cells| is
    * KB-scale and broadcasts, the corpus never shuffles, and scored pairs
    * shrink from probes × N to probes × (IvfProbes/k̂) × N — the
    * q82-vs-q25 anchor/twin contract applied to hard-negative mining. A
    * candidate holds ONE cell, so a (probe, cand) pair surfaces at most
    * once per probe cell and needs no pair dedup before scoring (q25's
    * score-once rule holds by shape). Rows-only registry surface; recall
    * vs the exact q92 anchor is property-checked in SimilaritySpec.
    */
  def q92b(spark: SparkSession, dir: String): DataFrame = {
    val e = vectorBase(spark, dir, col("label"))
      .withColumnRenamed("vec_id", "id")
      .filter(col("v").isNotNull)
    hardNegativesIvf(
      e.filter(pmod(col("id"), lit(HardNegProbeEvery)) === 0), e, HardNegK)
  }

  /** The IVF-fed q92 candidate generator + shared tail — planted specs and
    * the recall property run it directly.
    */
  def hardNegativesIvf(probeSrc: DataFrame, candidateSrc: DataFrame,
      k: Int): DataFrame = {
    // one captured count serves both the empty-corpus test and the cell
    // sizing, riding the checkpoint job itself (Materialize.observed)
    val (cand, n) = Materialize.observed(candidateSrc)
    AnnIndex.fitted(cand.select(col("id").as("vec_id"), col("v")), n) match {
      case Some(index) => hardNegativesQuantized(probeSrc, index.assign(cand), k)
      case None => cand.select(col("id").as("probe_id"), lit(1).as("rnk"),
        col("id").as("cand_id"), lit(0.0).as("cosine"))
    }
  }

  /** The quantized candidate generator + shared gate/rank tail over an
    * index assigned over the (id, label, v) candidates —
    * [[hardNegativesIvf]] (trained codebook) and q92c (deterministic
    * lowest-id seeds) run this same code, so q92c's DuckDB hash row pins
    * the cell-join + cross-label-gate + rank machinery the trained form
    * reuses.
    */
  private def hardNegativesQuantized(probeSrc: DataFrame, index: AnnIndex,
      k: Int): DataFrame =
    index.probe(probeSrc.select(col("id").as("probe_id"),
        col("label").as("plabel"), col("v").as("pv")))
      .transform(hardNegRank(k))

  /** q92c: q92b's DETERMINISTIC-SEED twin (q39b's trick applied to the
    * hard-negative tier) — the [[IvfCells]] lowest-id vectors are the
    * codebook, so the IVF-fed candidate generation, cross-label gate, and
    * rounded-cosine rank — the literal [[hardNegativesQuantized]] code
    * q92b runs under its trained quantizer — carry a DuckDB hash row.
    */
  def q92c(spark: SparkSession, dir: String): DataFrame = {
    val labeled = vectorBase(spark, dir, col("label"))
      .filter(col("v").isNotNull)
    val e = labeled.withColumnRenamed("vec_id", "id")
    AnnIndex.seeded(labeled) match {
      case Some(index) => hardNegativesQuantized(
        e.filter(pmod(col("id"), lit(HardNegProbeEvery)) === 0),
        index.assign(e), HardNegK)
      case None => e.select(col("id").as("probe_id"), lit(1).as("rnk"),
        col("id").as("cand_id"), lit(0.0).as("cosine"))
    }
  }

  /** Seed count for q93's deterministic coarse quantizer. */
  val OutlierSeeds = 8

  /** |z| above this marks a vector as a cluster outlier. Compared on the
    * 4-dp ROUNDED z so the verdict cannot flip on a last-bit difference.
    */
  val OutlierZ = 2.0

  /** q93: embedding outlier pruning — the DataComp-style "prototypicality"
    * filter that completes the embedding-curation family (q85 removes
    * semantic DUPLICATES; this removes semantic STRAYS): assign every
    * vector to its nearest centroid, then flag vectors whose cosine
    * distance to their own centroid is an extreme z-score outlier within
    * the cluster — mis-embedded docs, encoder failures, content that
    * belongs to no mode of the corpus.
    *
    * The quantizer here is deliberately deterministic — the K lowest-id
    * vectors are the seeds — so the WHOLE operator is exactly
    * SQL-mirrorable (KMeans centroids are init-dependent; lowest-id seeds
    * are a total order any engine reproduces). A trained quantizer's
    * centroids would feed the same assign→stats→z tail. Shape: seeds and
    * the K-row stats frame broadcast, the corpus
    * never shuffles — one scan, one map-side-combined argmin, one K-row
    * agg.
    */
  def q93(spark: SparkSession, dir: String): DataFrame = {
    embeddingOutliers(vectorBase(spark, dir), OutlierSeeds)
  }

  /** The q93 assign→stats→z tail over any (vec_id, v) frame — planted
    * specs run it directly.
    */
  def embeddingOutliers(src: DataFrame, k: Int): DataFrame = {
    // Null and zero-norm vectors have no defined cosine distance (NULL /
    // NaN d) and would win Spark's min(struct) NULL-first ordering while
    // the oracle's NULLS-LAST rank picks the best real distance — exclude
    // them from seeding AND assignment (q85's .isNotNull guard, plus the
    // 0-norm case cosine can't serve).
    val clean =
      src.filter(col("v").isNotNull && vectors.dot(col("v"), col("v")) > 0)
    val seeds = clean.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    // argmin via map-side-combinable min(struct): the broadcast join leaves
    // the corpus partitioning intact, so all K candidate rows of a vector
    // collapse to one BEFORE any exchange (a window here would shuffle N×K)
    val assigned = clean.crossJoin(broadcast(seeds))
      .select(col("vec_id"),
        round(lit(1.0) - vecexprs.cosineSim(col("v"), col("sv")), ScoreDp)
          .as("d"),
        col("seed_id"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("seed_id"))).as("m"))
      .select(col("vec_id"), col("m.seed_id").as("cluster_id"),
        col("m.d").as("cos_dist"))
    val stats = assigned.groupBy(col("cluster_id"))
      .agg(avg(col("cos_dist")).as("mu"),
        stddev_pop(col("cos_dist")).as("sigma"))
    assigned.join(broadcast(stats), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("cos_dist"),
        round(when(col("sigma") > 0,
          (col("cos_dist") - col("mu")) / col("sigma"))
          .otherwise(lit(0.0)), 4).as("z"))
      .withColumn("is_outlier", col("z") > lit(OutlierZ))
      .orderBy(col("vec_id"))
  }

  // ---- ANN: random-hyperplane LSH ----------------------------------------

  /** Number of hyperplanes = bucket bits. Sized so buckets hold ~corpus/2^P
    * vectors: 6 bits → 64 buckets (≈8 vectors/bucket on the 500-vector
    * fixture). At cluster scale this grows with the corpus (e.g. 20 bits for
    * 1e9 vectors) — candidate count per probe stays roughly constant.
    */
  val Planes = 6

  /** Hash tables for the OR-construction: a vector lands in `Tables`
    * independent buckets; a probe's candidates are the union of its buckets
    * across tables — recall amplifies as 1-(1-p^Planes)^Tables.
    */
  val NTables = 4

  /** Sign-bucket of a double-array vector in hash table `t`: bit j is the
    * sign of v·r_{t,j} where r's component d is ±1 derived from
    * Murmur3(d, t*Planes+j) — deterministic pseudo-random hyperplanes with
    * no stored model, computed per row inside codegen.
    */
  def hyperplaneBucket(v: Column, t: Int): Column = {
    val bits = transform(sequence(lit(0), lit(Planes - 1)), j => {
      val dot = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, d) => when(pmod(hash(d, j + lit(t * Planes)), lit(2)) === 0, x)
            .otherwise(-x)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L)).otherwise(lit(0L))
    })
    // table id in the high bits so buckets of different tables never collide
    aggregate(bits, lit(t.toLong << Planes), (acc, bit) => acc * 2 + bit)
  }

  /** q25: LSH-bucketed ANN top-k with multi-probe — each probe scores its
    * own bucket plus the `Planes` buckets at Hamming distance 1 in bucket
    * bits (classic multi-probe LSH: recall back without more tables). The
    * corpus is bucketed once; only the tiny probe side fans out. Rows-only
    * for the driver; recall vs q20 property-checked in SimilaritySpec.
    */
  def q25(spark: SparkSession, dir: String): DataFrame = {
    // bucket computation (NTables x Planes x dim dot products per row) is
    // the hot spot — spread it even when the input is one small split
    val base = vectorBase(spark, dir)
    // corpus: one bucket per table (NTables rows per vector), ids only
    val emb = base.select(col("vec_id"),
      explode(vecexprs.hyperplaneBuckets(col("v"), Planes, NTables)).as("bucket"))
    // probes: per table, own bucket + all 1-bit flips (multi-probe) — all
    // NTables buckets from ONE native evaluation (bucket bits are the low
    // `Planes` bits, so flips stay inside the table's keyspace)
    val probeBuckets = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"),
        explode(flatten(transform(
          vecexprs.hyperplaneBuckets(col("v"), Planes, NTables),
          b => concat(array(b), transform(
            typedLit((0 until Planes).map(i => 1L << i).toArray),
            m => b.bitwiseXOR(m))))))
          .as("bucket"))
    // a pair surfaces from several tables/probings: dedupe ids BEFORE
    // fetching vectors and scoring, so each candidate is scored exactly once
    val pairs = emb.join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    pairs
      .join(broadcast(base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))), Seq("probe_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c"))
      .transform(rankTopK)
  }

  /** Embedding-cosine near-dup: bucketed candidate pairs with cosine above
    * threshold — the vector-space twin of MinHash near-dup. Full oracle
    * since round 18 ([[q24OracleSql]] mirrors the bucketing bit-exactly);
    * recall vs the exact anchor remains property-checked in SimilaritySpec.
    */
  def q24(spark: SparkSession, dir: String): DataFrame = {
    lshNearDupPairs(vectorBase(spark, dir), NearDupCosine)
  }

  /** Bucket-size target for the near-dup self-join: planes scale as
    * ceil(log2(n / 256)) so Σ|bucket|² ≈ NTables · n · 256 stays LINEAR
    * in n. The round-17 sf10 sweep caught the cost of not doing this:
    * with planes pinned at 6, 500k vectors meant 64 buckets/table of ~8k
    * rows — Σ|bucket|² ≈ 1.6e10 cosine evaluations, hour-long tasks at
    * the second decade (quadratic, exactly what the Planes scaladoc's
    * "at cluster scale this grows with the corpus" had promised away).
    * Small frames (every spec fixture, sf ≤ 0.1) stay at [[Planes]] = 6,
    * so recall properties and fixture outputs are untouched.
    */
  val NearDupBucketTarget = 256L

  def planesFor(n: Long): Int = {
    val buckets = math.max(1L, n / NearDupBucketTarget)
    val ceilLog2 =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(24, math.max(Planes, ceilLog2))
  }

  /** The LSH near-dup core on any (vec_id, v: array<double>) frame —
    * factored out so SimilaritySpec can recall-check it at the production
    * threshold (cosine >= 0.95, where the banding theory gives ~0.95
    * recall) as well as the fixture threshold q24 declares.
    */
  def lshNearDupPairs(base: DataFrame, threshold: Double): DataFrame = {
    // Materialize the (id, v) frame ONCE before anything reads it: the
    // plane-sizing count and the bucketing explode would otherwise re-run
    // the whole upstream pipeline (ADVICE r17 — a real extra pass at sf10).
    // (checkpoint + plane-sizing count in one job — Materialize.observed)
    val (b, nB) = Materialize.observed(base)
    // the count sizes the planes (the q92b captured-count idiom): the
    // self-join's bucket fan-in must shrink as the corpus grows
    val planes = planesFor(nB)
    // Vectors RIDE the bucket join and cosine evaluates inside it — the
    // r18 sf10 decomposition (bench/SCALE_CHECK_sf10_r18.txt) killed the
    // previous ids-first plan at this geometry: with bucket target 256,
    // every vector averages ~NTables·256/2 ≈ 500 candidate pairs, so the
    // "dedupe ids, then fetch vectors per pair" tail shipped dim·pairs
    // doubles through two wide joins (~60 GB of shuffle at 200k vectors,
    // 298 s) and paid a 94 s distinct over 10⁸ id-pairs that eliminated
    // only 21% duplicates. In-join scoring ships dim·n·NTables doubles
    // (~400 MB — smaller whenever pairs/vector > 2·NTables, true at every
    // scale of this geometry), streams the cross-bucket pairs through
    // whole-stage codegen'd cosine, and the distinct runs AFTER the
    // threshold filter on the tiny surviving set. Same output set: cosine
    // is deterministic per pair, so post-filter distinct ≡ pre-score
    // distinct (oracle unchanged).
    val bucketed = b.select(col("vec_id"), col("v"),
      explode(vecexprs.hyperplaneBuckets(col("v"), planes, NTables)).as("bucket"))
    bucketed.select(col("bucket"), col("vec_id").as("a_id"), col("v").as("av"))
      .join(bucketed.select(
        col("bucket"), col("vec_id").as("b_id"), col("v").as("bv")),
        Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(vecexprs.cosineSim(col("av"), col("bv")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Threshold tuned to the synthetic fixture (max pairwise cosine ≈ 0.51 —
    * no true near-dups exist); production near-dup would sit at ~0.95.
    */
  val NearDupCosine = 0.35

  /** Embedding dimension of the driver's fixture tables (TESTDATA contract;
    * asserted against the parquet at registry-build time is overkill — the
    * oracle's own hash compare fails loudly if it ever drifts).
    */
  val FixtureDim = 64

  /** DuckDB WITH-clause fragment computing EXACTLY q24's LSH candidate pair
    * set — CTEs `e` (vectors), `b` (per-table buckets), `p` (deduped id
    * pairs). This is what upgrades q24 (and q56b, which consumes the pairs)
    * from rows-only to a full oracle row: the hyperplane ±1 signs are pure
    * integer constants (Murmur3 of (dim, plane) — [[graft.functions
    * .expressions.HyperplaneBucketsExpr.sign]], the SAME function the
    * native expression evaluates), so the builder embeds the sign matrix
    * as `+v[i]`/`-v[i]` literals and the per-plane dot product is the
    * identical left-to-right fold — `0 + t0 + t1 + …` in both engines, so
    * every bucket bit matches bit-for-bit (±1 multiplies and left-assoc
    * double addition are exact in IEEE-754 in both engines; -0.0 and 0.0
    * both pass `>= 0`).
    *
    * Validity bound: bakes `planes = Planes` (6), which equals
    * [[planesFor]](n) while n ≤ [[NearDupBucketTarget]]·2^Planes = 16384
    * vectors — both driver fixture scales (500 / 5k). Beyond that the
    * engine widens planes and this static SQL stops mirroring it; scale
    * sweeps check q24/q56b by property, not this oracle.
    */
  private[graft] def lshPairCtes: String = {
    import graft.functions.expressions.HyperplaneBucketsExpr
    def planeSum(p: Int): String =
      (0 until FixtureDim).map { d =>
        val pos = HyperplaneBucketsExpr.sign(d, p) > 0
        if (d == 0) (if (pos) s"v[1]" else s"-v[1]")
        else (if (pos) s" + v[${d + 1}]" else s" - v[${d + 1}]")
      }.mkString
    def bucketExpr(t: Int): String =
      (0 until Planes).map { j =>
        val weight = 1L << (Planes - 1 - j)
        s"(CASE WHEN ${planeSum(t * Planes + j)} >= 0 THEN $weight ELSE 0 END)"
      }.mkString(s"${t.toLong << Planes} + ", " + ", "")
    val tables = (0 until NTables).map(t =>
      s"  SELECT vec_id, ${bucketExpr(t)} AS bucket FROM e")
      .mkString("\n  UNION ALL\n")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |b AS (
       |$tables),
       |p AS (
       |  SELECT DISTINCT ba.vec_id AS a_id, bb.vec_id AS b_id
       |  FROM b ba JOIN b bb
       |    ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id)""".stripMargin
  }

  /** q24's full oracle: the mirrored pair set scored with the same rounded
    * cosine + threshold as the engine (q48's list_cosine_similarity
    * bit-compat precedent).
    */
  private[graft] def q24OracleSql: String =
    s"""WITH $lshPairCtes
       |SELECT p.a_id, p.b_id,
       |  round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
       |FROM p JOIN e ea ON ea.vec_id = p.a_id
       |  JOIN e eb ON eb.vec_id = p.b_id
       |WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= $NearDupCosine
       |ORDER BY a_id, b_id""".stripMargin

  /** q48: EXACT cosine near-dup pairs — the oracle-checkable ground truth
    * the LSH variant (q24) is recall-checked against. All-pairs via a
    * broadcast nested-loop self-join on `a_id < b_id`: fine at fixture scale
    * (2k vectors = 2M pairs at sf0.1); at 100 TB this query is exactly what
    * q24's bucketing replaces, and exists here as the correctness anchor,
    * not the scale path. Threshold applied to the ROUNDED score on both
    * sides so the oracle can never disagree at the boundary.
    */
  def q48(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
    base.select(col("vec_id").as("a_id"), col("v").as("av"))
      .join(broadcast(base.select(col("vec_id").as("b_id"), col("v").as("bv"))),
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(vecexprs.cosineSim(col("av"), col("bv")), 6).as("cosine"))
      .filter(col("cosine") >= NearDupCosine)
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- ANN: IVF (KMeans coarse quantizer) --------------------------------

  /** IVF cells and probe fan-out. Cells ~ sqrt(corpus) at real scale; the
    * fixture gets 16 cells / 8 probes.
    *
    * The fan-out FLOOR moved 4 → 8 in round 14, moved by the closed loop
    * the r13 calibration started: the new recall-contract spec reads the
    * q103 sweep and found the deployed point at 4/16 cells delivering
    * recall 0.88 on the fixture geometry — below the
    * [[ServedRecallTarget]] 0.9 contract — with (nprobe 8, shortlist 160)
    * the cheapest sufficient grid point. The floor only binds at tiny
    * cell counts (≤ 64 cells, where probing half of very little is
    * trivially cheap); at scale the ⌈√k⌉ co-scaling of [[AnnIndex]]'s
    * fan-out dominates (√5041 = 71 > 8 at the 200k decade) so production
    * scanned mass is unchanged.
    */
  val IvfCells = 16
  val IvfProbes = 8

  /** q39: IVF ANN — the production retrieval form, sharing the family's ONE
    * index ([[AnnIndex.fitted]], round 12 — previously a full-corpus
    * 16-cell ML KMeans fit private to this query): bounded hash-keyed
    * sample fit, √n cells, flat plan-literal codebook below the 4096-cell
    * cap and the two-level IMI product past it, √cells probe fan-out
    * ([[AnnIndex.probe]]). Corpus-wide assignment
    * stays a native codegen'd expression (never ML `model.transform`,
    * whose prediction column is a per-row Scala UDF). The one captured
    * `count()` serves the empty short-circuit AND the cell sizing (q92b's
    * single-probe idiom). Rows-only; recall vs exact q20
    * property-checked in SimilaritySpec.
    */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val baseRaw = vectorBase(spark, dir)
      // null embeddings can't train or be assigned a cell; the cosine
      // tiers drop them via null propagation, the IVF tier drops them here
      .filter(col("v").isNotNull)
    val (base, n) = Materialize.observed(baseRaw)
    AnnIndex.fitted(base, n).fold(emptyTopK(spark))(ivfTopK(base))
  }

  /** Empty, schema-correct rankTopK result — the q39/q39b/q123 short-circuit
    * for a corpus the quantizer cannot be built on.
    */
  private[graft] def emptyTopK(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("probe_id", LongType), StructField("rnk", IntegerType),
        StructField("neighbor_id", LongType), StructField("score", DoubleType))))
  }

  /** The shared IVF retrieval tail over a clean (vec_id, v) frame: assign
    * every corpus row its cell, fan each fixed probe (vec_id < 5) out to
    * its nearest cells ([[AnnIndex.probe]]), score cell-mates, rank top-k.
    * q39 (trained KMeans codebook) and q39b (deterministic lowest-id seeds)
    * run this same code — q39b's DuckDB hash row therefore pins the
    * assignment/cell-join/rank machinery q39's trained form reuses, leaving
    * only the init-dependent KMeans fit property-checked.
    */
  private def ivfTopK(base: DataFrame)(index: AnnIndex): DataFrame = {
    val assigned = index.assign(base)
    assigned.probe(assigned.cells.get.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c"))
      .transform(rankTopK)
  }

  /** q39b: q39's DETERMINISTIC-SEED twin — the q93 trick applied to the ANN
    * tier. The [[IvfCells]] lowest-id vectors ARE the codebook (init-free
    * model state, KB-scale, within the same no-driver-data rule as q39's
    * trained centroid table), so the entire assign→cell-join→rank path —
    * the literal [[ivfTopK]] code q39 runs — is exactly SQL-mirrorable:
    * assignment is argmin of squared euclidean distance with a lowest-cell
    * tie-break ([[vecexprs.nearestCells]]'s contract), probe fan-out is the
    * top-[[IvfProbes]] of the same ranking, both `row_number` over a seed
    * cross join in DuckDB. Recall needs no separate floor here: the oracle
    * IS exact equality of the retrieved lists.
    */
  def q39b(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    // quantizer state: the K lowest-id vectors (a 16-row, KB-scale take —
    // model state like q39's fitted centroids, not a data-path collect)
    AnnIndex.seeded(base).fold(emptyTopK(spark))(ivfTopK(base))
  }

  /** [[ivfTopK]]'s serve half over an index whose assignment frame is a
    * MAINTAINED (cell, vec_id) table — a streaming state store's drain in
    * q123, a persisted artifact in a batch deployment — instead of being
    * recomputed per query; neighbor vectors are fetched from the at-rest
    * table by id. Keeper-independent: when the frame holds exactly
    * [[CellQuantizer.assign]]'s cells for `base`'s rows, the output is
    * bit-identical to [[ivfTopK]]'s (q39b's oracle applies verbatim).
    */
  def ivfServe(index: AnnIndex, base: DataFrame): DataFrame =
    index.probe(base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")))
      .join(base.select(col("vec_id"), col("v")), Seq("vec_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c"))
      .transform(rankTopK)

  // ---- Product quantization (PQ-ADC) --------------------------------------

  /** PQ geometry: M subspaces × K codewords per subspace. The demo point
    * (8 × 16, 4-bit codes over the fixture's 64 dims) keeps the oracle's
    * cross-join CTEs fixture-sized; the production knobs are M = 8–64,
    * K = 256 (one BYTE per code). The scale claim PQ adds on top of the
    * IVF family: the corpus's RESIDENT form shrinks from dim floats to M
    * bytes + id per row (768-dim float corpus → 3 KB/vector becomes
    * 8–64 B, a 48–384× residency cut), so the scored pass of a
    * 10^11-vector search reads terabytes, not petabytes. IVF-PQ —
    * [[AnnIndex]] cells for routing, codes for scoring — is exactly the
    * FAISS production layout (q101); q39 demonstrates routing and q98
    * scoring alone, so each tier is verified in isolation.
    */
  val PqSubspaces = 8

  /** Codewords per subspace (see [[PqSubspaces]]). */
  val PqCodewords = 16

  /** ADC shortlist size per probe before the exact refine. ADC ranks are
    * approximate by construction; re-scoring this bounded shortlist with
    * exact cosines buys back the quantization's rank error for R·dim
    * extra float reads per probe.
    *
    * Round-13 operating point: 160 = 16 × [[TopK]], chosen FROM the q103
    * calibration sweep at the 200k decade (SCALE.md) — recall@10 there is
    * entirely shortlist-bound (0.08 / 0.50 / 1.00 at R = 10 / 40 / 160,
    * for every fan-out and for both K = 16 and K = 256 codebooks), so the
    * previous 4×TopK FAISS-rule default was the binding constraint on the
    * whole IVF-PQ stack while costing only 120 more exact re-scores per
    * probe to fix — the sweep exists precisely to catch this.
    */
  val PqShortlist = 160

  /** Subspace m covers dims [⌊dim·m/M⌋, ⌊dim·(m+1)/M⌋) — the same integer
    * rule the trained fit ([[Quantizers.pqFitCodebooks]]) and the DuckDB
    * mirror apply, so all agree on ragged dims.
    */
  private def pqOffsets(widths: Array[Int]): Array[Int] =
    widths.scanLeft(0)(_ + _)

  /** Slice the M per-subspace codebooks out of K whole-vector seeds (the
    * q39b/q93 deterministic-codebook idiom: the K lowest-id vectors ARE
    * the model state, so the whole encode→ADC path is SQL-mirrorable).
    */
  def pqCodebooksFromSeeds(
      seeds: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val dim = seeds.head.length
    require(dim >= PqSubspaces,
      s"PQ needs dim >= $PqSubspaces subspaces, got $dim")
    (0 until PqSubspaces).toArray.map { m =>
      val lo = dim * m / PqSubspaces
      val hi = dim * (m + 1) / PqSubspaces
      seeds.map(s => s.slice(lo, hi))
    }
  }

  /** PQ encode + asymmetric-distance (ADC) shortlist + exact refine over a
    * clean (vec_id, v) frame, given fitted per-subspace codebooks.
    *
    * Encode is ONE codegen'd pass ([[vecexprs.nearestCells]] per subspace —
    * subspace 0 rides the expression's documented width-truncation, the
    * rest pay one native `slice`), and the encoded frame is materialized:
    * the scored pass reads (vec_id, M ints), never the vectors — that IS
    * the PQ claim, visible in the plan.
    *
    * Scoring is true lookup-table ADC, O(M) per pair instead of O(dim):
    * each bounded probe precomputes its M K-entry inner-product tables
    * (lut_m[j] = ⟨pv_m, cb_m[j]⟩ — [[vecexprs.dotProduct]], probe rows
    * only) plus |pv|²; each codeword's |cb_m[j]|² is a plan literal.
    * Because subspaces partition the dims,
    *   ⟨pv, x̂⟩ = Σ_m lut_m[code_m]   and   |x̂|² = Σ_m n2_m[code_m],
    * so the per-pair work is M `element_at` lookups and adds (statically
    * unrolled, whole-stage codegen — the ImiQuantizer idiom), one divide,
    * two sqrt. Sums run in subspace order, matching the oracle's pivoted
    * left-assoc addition bit for bit — so ADC doubles are bit-identical
    * cross-engine and the UNROUNDED shortlist rank (ties by neighbor_id)
    * cannot diverge.
    *
    * The final order is the [[PqShortlist]]-bounded exact refine: ADC's
    * top R per probe re-scored with true cosines (probes × R rows — the
    * only place vectors are read after encode), then [[rankTopK]].
    */
  def pqAdcTopK(base: DataFrame,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    // the resident form: M small ints per vector, vectors dropped
    val codes = base.select(col("vec_id") +: pqCodeCols(cbs): _*)
      .transform(Materialize(_))
    val probeLut = base.filter(col("vec_id") < 5).select(
      col("vec_id").as("probe_id") +:
        vecexprs.dotProduct(col("v"), col("v")).as("np2") +: pqLutCols(cbs): _*)
    val shortlist = codes.crossJoin(broadcast(probeLut))
      .filter(col("vec_id") =!= col("probe_id"))
      .transform(pqAdcShortlist(cbs))
    pqRefine(base, shortlist)
  }

  /** Per-subspace code columns c0..cM-1 from `v` — one codegen'd
    * [[vecexprs.nearestCells]] per subspace (subspace 0 rides the
    * documented width truncation, the rest pay one native slice).
    */
  private[operators] def pqCodeCols(
      cbs: Array[Array[Array[Double]]]): Seq[Column] = {
    val offsets = pqOffsets(cbs.map(_.head.length))
    cbs.zipWithIndex.map { case (cb, i) =>
      val sub = if (i == 0) col("v")
        else slice(col("v"), lit(offsets(i) + 1), lit(cb.head.length))
      element_at(vecexprs.nearestCells(sub, cb, 1), 1).as(s"c$i")
    }.toSeq
  }

  /** Probe-side LUT columns lut0..lutM-1 from `v`: lut_m[j] = ⟨v_m,
    * cb_m[j]⟩, statically unrolled [[vecexprs.dotProduct]]s (probe rows
    * only).
    */
  private[operators] def pqLutCols(
      cbs: Array[Array[Array[Double]]]): Seq[Column] = {
    val offsets = pqOffsets(cbs.map(_.head.length))
    cbs.zipWithIndex.map { case (cb, i) =>
      array(cb.toIndexedSeq.map(cw =>
        vecexprs.dotProduct(
          slice(col("v"), lit(offsets(i) + 1), lit(cb.head.length)),
          typedLit(cw.toSeq))): _*).as(s"lut$i")
    }.toSeq
  }

  /** The ADC rank over joined (codes × probe-LUT) rows: score from M
    * element_at lookups (codeword norms as plan literals, sums in
    * m-ascending left-assoc order — the oracle's exact fold), unrounded
    * rank with neighbor_id ties, top [[PqShortlist]] per probe.
    *
    * Degenerate norms guard: a zero-norm probe (np2 = 0) or an all-zero
    * reconstructed code (n2 = 0) would make the quotient NaN, and Spark
    * sorts NaN FIRST under desc — handing such a probe an arbitrary
    * NaN-ranked shortlist. The `when` guard nulls the score instead, and
    * nulls sort LAST under desc, so degenerate rows drop out of the rank
    * deterministically — the same null-propagation contract as the cosine
    * tiers (cosineSim's 0/0 → null).
    */
  private[operators] def pqAdcShortlist(cbs: Array[Array[Array[Double]]])(
      joined: DataFrame): DataFrame =
    joined
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        pqAdcScoreCol(cbs).as("adc"))
      .withColumn("arnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc").desc, col("neighbor_id"))))
      .filter(col("arnk") <= PqShortlist)
      .select(col("probe_id"), col("neighbor_id"))

  /** The raw ADC score expression over a joined (codes × probe-LUT) row —
    * the arithmetic [[pqAdcShortlist]] ranks by, shared with the q103
    * calibration sweep so the sweep measures the literal deployed scoring.
    * |cb_m[j]|² are plan literals with the same left-to-right fold as the
    * oracle's list_inner_product(csub, csub); degenerate norms null out
    * (see [[pqAdcShortlist]]'s guard note).
    */
  private def pqAdcScoreCol(cbs: Array[Array[Array[Double]]]): Column = {
    val n2Lits = cbs.map(cb => typedLit(cb.map { cw =>
      var acc = 0.0; var i = 0
      while (i < cw.length) { acc += cw(i) * cw(i); i += 1 }
      acc
    }.toSeq))
    val ip = cbs.indices
      .map(i => element_at(col(s"lut$i"), col(s"c$i") + 1)).reduce(_ + _)
    val n2 = cbs.indices
      .map(i => element_at(n2Lits(i), col(s"c$i") + 1)).reduce(_ + _)
    when(col("np2") > 0 && n2 > 0, ip / (sqrt(col("np2")) * sqrt(n2)))
  }

  /** Exact-cosine refine over the bounded shortlist — probes×R rows
    * broadcast to fetch their vectors; the corpus still never shuffles.
    */
  private[operators] def pqRefine(base: DataFrame,
      shortlist: DataFrame): DataFrame = {
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    base.select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c"))
      .transform(rankTopK)
  }

  /** IVF-PQ retrieval: the two tiers COMPOSED — the FAISS production
    * layout. The corpus's resident form is (vec_id, cell, M codes):
    * routing metadata plus compressed payload, one codegen'd encode pass
    * for both ([[AnnIndex.assign]]), materialized so the scored pass
    * ([[AnnIndex.search]]) is a cell equi-join reading codes only —
    * per-probe scanned mass ~n^(3/4) rows × M bytes, against the flat
    * q98's n × M bytes and the exact q20's n × dim floats.
    */
  private def ivfPqTopK(base: DataFrame)(index: AnnIndex): DataFrame =
    index.copy(cells = index.assign(base).cells.map(Materialize(_)))
      .search(base)

  /** q101: IVF-PQ, production form — the trained coarse quantizer (q39's)
    * routes, trained PQ codebooks (q98's) score, exact refine orders.
    * Rows-only; recall vs exact q20 and score-parity-on-overlap are
    * property-checked in SimilaritySpec.
    */
  def q101(spark: SparkSession, dir: String): DataFrame = {
    val baseRaw = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    val (base, n) = Materialize.observed(baseRaw)
    AnnIndex.fitted(base, n, pq = true).fold(emptyTopK(spark))(ivfPqTopK(base))
  }

  /** q101b: q101's DETERMINISTIC-SEED twin — ONE seed set (the
    * max([[IvfCells]], [[PqCodewords]]) lowest-id vectors) supplies both
    * the coarse cells (q39b's codebook) and the per-subspace PQ codebooks
    * (q98b's slices), so the composed route→ADC→refine path is exactly
    * DuckDB-mirrorable: q39b's assignment CTEs produce the cell-mate
    * pairs, q98b's encode/LUT CTEs produce the ADC sums over exactly
    * those pairs, and the final CTEs refine — the full production ANN
    * stack under one oracle hash.
    */
  def q101b(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    AnnIndex.seeded(base, pq = true).fold(emptyTopK(spark))(ivfPqTopK(base))
  }

  /** q121: IVF-PQ served from a PERSISTED ENCODED INDEX — the artifact
    * seam one level below q104's model round trip. q101b's premise is that
    * the (vec_id, cell, M codes) frame is the corpus's resident form, but
    * the one-shot query rebuilds it from raw vectors every invocation; a
    * production deployment encodes ONCE, persists the index, and serves
    * thousands of queries from it. This query runs that lifecycle under
    * the registry: encode with q101b's deterministic-seed codebooks, WRITE
    * the index ([[AnnIndex.save]]: codebook table plus cell-clustered
    * parquet), and run the literal [[AnnIndex.search]] off the RELOADED
    * frame. Codes are small exact ints, so the round trip is bit-lossless
    * and q101b's DuckDB oracle applies VERBATIM, putting the index
    * save→load→serve seam itself under a hash. At 100 TB the served pass
    * reads M small ints + two ids per corpus row (the 8–64 B/vector PQ
    * residency, on disk); the fit+encode wall is paid once at build time
    * (bench pair in SCALE.md).
    */
  def q121(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    // per-process scratch + overwrite (graft.sources.Scratch): this
    // artifact is corpus-proportional by design (~5 B/vector), so a fresh
    // temp dir per invocation would leak one data-sized copy per bench
    // sample, while one fixed path would collide across concurrent runs
    AnnIndex.seeded(base, pq = true).fold(emptyTopK(spark))(_.assign(base)
      .save(spark, graft.sources.Scratch.dir("q121-index")).search(base))
  }

  /** q121b's session-persistent index: one saved [[AnnIndex]] per (JVM,
    * corpus dir), built by whichever invocation arrives first. Model state
    * is seed-derived and KB-scale; the index artifact lives in the
    * per-process [[graft.sources.Scratch]] root. Keyed by the
    * CANONICAL dir (so `out` and `out/` share one artifact, and specs on
    * other fixtures don't). The cache assumes a corpus dir is immutable
    * for the JVM's lifetime — the standing contract of every persisted
    * artifact consumer here (a corpus regenerated in place mid-session
    * needs a new dir or a new session, same as a prod index rebuild).
    */
  private val servedIndex =
    new java.util.concurrent.ConcurrentHashMap[String, AnnIndex]()

  private def canonicalDir(dir: String): String =
    try new java.io.File(dir).getCanonicalPath
    catch { case _: java.io.IOException => dir }

  /** q121b: the SERVED half of q121 priced on its own — the production
    * steady state. q121 pays fit+encode+save+load inside the registered
    * query (the oracle must hash the whole artifact seam), so its bench
    * row prices index-BUILD time; a deployment builds the index once per
    * corpus snapshot and serves thousands of queries from it. Here the
    * index is built ONCE per (JVM, corpus), so every invocation after the
    * first runs the literal [[AnnIndex.search]] off the RELOADED
    * cell-clustered parquet. Output ≡ q101b's (same seeds, same serve
    * code), so q101b's oracle applies verbatim.
    */
  def q121b(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    val index = servedIndex.computeIfAbsent(canonicalDir(dir), _ =>
      AnnIndex.seeded(base, pq = true).map(_.assign(base).save(spark,
        // md5 of the dir, not String.hashCode: two corpus dirs colliding
        // on the 32-bit hash in one long-lived JVM would share the scratch
        // path and the second build would overwrite the first's index
        // while its cache entry still points there
        graft.sources.Scratch.dir("q121b-index-" +
          java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(16)))).orNull)
    if (index == null) emptyTopK(spark) else index.search(base)
  }

  // ---- ANN operating-point calibration (q103) -----------------------------

  /** The served tier's recall contract: the deployed (fan-out, shortlist)
    * operating point must reach at least this recall@[[TopK]] against the
    * exact ground truth on the calibration corpus. 0.9 is the operating
    * point the round-13 200k-decade sweep was tuned to (SCALE.md — the
    * shortlist move 40 → 160 took the deployed point from 0.50 to 1.00
    * there). The q103 sweep MEASURES the grid; SimilaritySpec's contract
    * test closes the loop — it picks the cheapest grid point meeting this
    * target and asserts the deployed constants sit at or above it, so a
    * data change that silently degrades the operating point fails a test
    * instead of a dashboard.
    */
  val ServedRecallTarget = 0.9

  /** q103's probe-fan-out grid. The deployed [[IvfProbes]] (= the floor
    * of [[AnnIndex]]'s fan-out, and its exact value at the fixture's 16
    * cells) is a grid point, so the sweep JUSTIFIES the operating point
    * instead of asserting it — q102's discipline applied to the ANN tier.
    */
  val SweepProbes: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** q103's ADC-shortlist grid; the deployed [[PqShortlist]] is a point. */
  val SweepShortlists: Seq[Int] = Seq(10, 40, 160)

  private def sweepGrid(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (for (p <- SweepProbes; r <- SweepShortlists) yield (p, r))
      .toDF("nprobe", "shortlist")
  }

  /** q103: ANN operating-point sweep — the calibration table a team reads
    * before picking the IVF-PQ knobs (probe fan-out × ADC shortlist), the
    * step between fitting an index and serving it: for every grid point,
    * the scanned candidate mass and the recall@[[TopK]] against the exact
    * q20 ground truth, with the deployed (nprobe=[[IvfProbes]],
    * shortlist=[[PqShortlist]]) point flagged. Recall here is EXACTLY the
    * production stack's: a true top-k member reaches the output iff the
    * probe rectangle covers its cell AND its ADC rank clears the
    * shortlist — the bounded exact refine then always surfaces it — so
    * |exact top-k ∩ shortlist| / |exact top-k| is the served recall, not
    * a proxy.
    *
    * Cost shape: ONE encode pass and ONE cell join at the max fan-out
    * produce every grid point — per-candidate probe-cell rank (prnk) and
    * ADC score are computed once, then each fan-out is a filter + bounded
    * per-probe window and each shortlist a threshold inside one
    * map-side-combinable aggregate. 15 grid points cost one corpus scan
    * plus |probes|-keyed windows, NOT 15 independent ANN runs. Like q102
    * the output is grid-sized regardless of corpus, and like q102 the
    * grid survives an empty corpus (zero counts, null recall). At 100 TB
    * the calibration runs over a bounded corpus sample — the operating
    * point transfers because recall depends on the quantizer geometry,
    * not the corpus size — while the ground-truth column stays exact on
    * that sample.
    *
    * Deterministic-seed codebooks (q101b's idiom) so the table is
    * reproducible run-to-run; rows-only registry surface with the
    * structural properties (shortlist monotonicity, scanned-mass
    * saturation, deployed flag) spec-checked in SimilaritySpec.
    */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    AnnIndex.seeded(base, pq = true).fold(
      sweepGrid(spark).select(col("nprobe"), col("shortlist"),
        lit(0L).as("scanned_pairs"), lit(0L).as("hits"),
        lit(0L).as("exact_pairs"), lit(null).cast("double").as("recall"),
        (col("nprobe") === IvfProbes && col("shortlist") === PqShortlist)
          .as("deployed"))
        .orderBy(col("nprobe"), col("shortlist")))(annSweep(base))
  }

  // ---- embedding cluster-trim curation (q125) ------------------------------

  /** q125's trim denominator: per cell, the farthest ⌊n/[[TrimDecile]]⌋
    * members are flagged. Floor, not ceil — a cell smaller than the decile
    * has no fringe to spare, so tiny cells trim nothing.
    */
  val TrimDecile = 10

  /** q125: embedding cluster-trim curation — the distance-to-centroid
    * outlier cut an embedding-filtered pipeline runs after clustering
    * (trim each cluster's farthest fringe before the cluster is trusted
    * for dedup/sampling; the per-cluster analog of q93's global z-score
    * gate): every vector takes its nearest cell under the deterministic
    * lowest-id seed quantizer (q39b's idiom — the trained twin is the
    * q111-refreshed codebook), ranks within its cell by distance to the
    * cell seed FARTHEST-FIRST, and the top ⌊n/[[TrimDecile]]⌋ of each
    * cell are flagged. Rank key is the e6-rounded distance (vec_id
    * tie-break), so a last-ulp disagreement between engines collapses to
    * the same tie and breaks the same way; the raw distance itself never
    * leaves the plan.
    *
    * Shape for 100 TB: assignment is the one corpus pass (plan-literal
    * codegen, q39's machinery); the seed fan-back is a 16-row broadcast;
    * the per-cell window partitions on cell — at real scale cells ≈ √n
    * ([[AnnIndex.fitted]]), so a BALANCED corpus keeps every window partition
    * ~√n rows. Under hot-cell skew (sf1skew's one-clique cell = 10% of
    * the corpus) the wall measured flat, but the full per-cell rank IS
    * this query's output; a deployment that needs only the verdicts at
    * extreme skew drops the non-survivor ranks and collapses to q113's
    * map-side order-statistic shape (SCALE.md, round-14 skew probes).
    */
  def q125(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    val seeds = lowestIdSeeds(base, IvfCells)
    if (seeds.isEmpty) return emptyClusterTrim(spark)
    clusterTrim(base, seeds)
  }

  /** Empty, schema-correct q125 result for a seedless corpus. */
  private def emptyClusterTrim(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType), StructField("cell", IntegerType),
        StructField("far_rnk", IntegerType), StructField("cell_n", LongType),
        StructField("is_trimmed", BooleanType))))
  }

  /** q126's per-cell keep budget and its deterministic draw salt (a new
    * salt is a fresh draw — re-balancing reshuffles by bumping it, q100's
    * epoch idiom).
    */
  val ClusterSampleCap = 24
  val ClusterSampleSalt = "cluster-sample:1:"

  /** q126: cluster-balanced sampling — the diversity downsampler an
    * embedding-curated pipeline runs after q125's fringe trim (the
    * SemDeDup→DataComp shape: trim each cluster, then BALANCE the
    * clusters so no dense region dominates the training mix): under the
    * same seeded quantizer, each cell keeps its [[ClusterSampleCap]]
    * lowest-md5(salt‖vec_id) members — a uniform deterministic draw
    * (q89's idiom on embedding cells instead of sources), rerun-stable
    * and independent of input order. Output carries the draw rank and
    * cell size so the balance audit is one GROUP BY away.
    *
    * Shape for 100 TB: one codegen assignment pass; the draw key is
    * computed map-side (8 bytes + id leave the scan); the per-cell window
    * co-scales as q125's (cells ≈ √n, measured flat under sf1skew's
    * hot cell). No doubles anywhere past the assignment — every output
    * column is exact cross-engine. At extreme per-cell skew a
    * verdict-only deployment is exactly q89's salted two-phase draw
    * (keep the cap per (cell, salt) bucket, re-rank ≤ buckets×cap
    * survivors) — the same kept set without ranking non-survivors.
    */
  def q126(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    val seeds = lowestIdSeeds(base, IvfCells)
    if (seeds.isEmpty) return emptyClusterSample(spark)
    clusterSample(base, seeds)
  }

  /** Empty, schema-correct q126 result for a seedless corpus. */
  private def emptyClusterSample(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType), StructField("cell", IntegerType),
        StructField("pick_rnk", IntegerType), StructField("cell_n", LongType),
        StructField("is_kept", BooleanType))))
  }

  /** The q126 core over a clean (vec_id, v) frame and explicit seed
    * centroids — planted specs run it directly.
    */
  def clusterSample(base: DataFrame, seeds: Array[Array[Double]]): DataFrame = {
    val w = Window.partitionBy(col("cell"))
    base.select(col("vec_id"),
        element_at(vecexprs.nearestCells(col("v"), seeds, 1), 1).as("cell"),
        md5(concat(lit(ClusterSampleSalt), col("vec_id").cast("string"))
          .cast("binary")).as("dk"))
      .select(col("vec_id"), col("cell"),
        row_number().over(w.orderBy(col("dk"), col("vec_id")))
          .as("pick_rnk"),
        count(lit(1)).over(w).as("cell_n"))
      .withColumn("is_kept", col("pick_rnk") <= lit(ClusterSampleCap))
      .orderBy(col("cell"), col("pick_rnk"))
  }

  /** The q125 core over a clean (vec_id, v) frame and explicit seed
    * centroids — planted specs run it directly.
    */
  def clusterTrim(base: DataFrame, seeds: Array[Array[Double]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val seedDf = seeds.zipWithIndex
      .map { case (sv, i) => (i, sv.toSeq) }.toSeq.toDF("cell", "sv")
    val assigned = base.select(col("vec_id"), col("v"),
      element_at(vecexprs.nearestCells(col("v"), seeds, 1), 1).as("cell"))
    val w = Window.partitionBy(col("cell"))
    assigned.join(broadcast(seedDf), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        round(vecexprs.l2Dist(col("v"), col("sv")), ScoreDp).as("rd"))
      .select(col("vec_id"), col("cell"),
        row_number().over(w.orderBy(col("rd").desc, col("vec_id")))
          .as("far_rnk"),
        count(lit(1)).over(w).as("cell_n"))
      .withColumn("is_trimmed",
        col("far_rnk") <= expr(s"cell_n DIV $TrimDecile"))
      .orderBy(col("cell"), col("far_rnk"))
  }

  /** The q103 core over any clean (vec_id, v) frame and an IVF-PQ index —
    * a TRAINED index plugs in the same way to calibrate the production
    * stack. The sweep grades its own fan-out grid, so it probes the
    * quantizer directly rather than through [[AnnIndex.probe]]'s deployed
    * fan-out.
    */
  private def annSweep(base: DataFrame)(index: AnnIndex): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val (quant, cbs) = (index.quant, index.pq.get)
    val maxP = math.min(SweepProbes.max, quant.nCells)
    // the resident form once (q101's encode pass), reused by every point
    val codes = Materialize(index.assign(base).cells.get)
    // probe side: ALL maxP ranked cells (prnk = how deep a fan-out must
    // reach to see this cell) + the ADC LUTs, broadcast once
    val pl = base.filter(col("vec_id") < 5).select(
      col("vec_id").as("probe_id") +:
        vecexprs.dotProduct(col("v"), col("v")).as("np2") +:
        quant.probeCells(col("v"), maxP).as("pcells") +: pqLutCols(cbs): _*)
    val probeCells = pl.select(
      col("probe_id") +: col("np2") +:
        posexplode(col("pcells")).as(Seq("pos", "cell")) +:
        cbs.indices.map(i => col(s"lut$i")): _*)
      .withColumn("prnk", col("pos") + 1)
    // each candidate scored ONCE with its reach depth; every grid point is
    // a filter over this frame
    val scored = codes.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("prnk"), pqAdcScoreCol(cbs).as("adc"))
      .transform(Materialize(_))
    val graded = SweepProbes.map { p =>
      scored.filter(col("prnk") <= math.min(p, maxP))
        .withColumn("arnk", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(col("adc").desc, col("neighbor_id"))))
        .select(lit(p).as("nprobe"), col("probe_id"), col("neighbor_id"),
          col("arnk"))
    }.reduce(_.union(_))
    // exact ground truth: q20's ranking over the same clean frame
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val exact = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        vecexprs.cosineSim(col("pv"), col("v")).as("c"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rnk") <= TopK)
      .select(col("probe_id"), col("neighbor_id"), lit(true).as("is_true"))
      .transform(Materialize(_))
    val tot = exact.agg(count(lit(1)).as("exact_pairs"))
    val slGrid = SweepShortlists.toDF("shortlist")
    val counts = graded
      .join(broadcast(exact), Seq("probe_id", "neighbor_id"), "left")
      .crossJoin(broadcast(slGrid))
      .groupBy(col("nprobe"), col("shortlist"))
      .agg(count(lit(1)).as("sp"),
        sum(when(col("arnk") <= col("shortlist") && col("is_true"), 1L)
          .otherwise(0L)).as("h"))
    sweepGrid(spark)
      .join(counts, Seq("nprobe", "shortlist"), "left")
      .crossJoin(broadcast(tot))
      .select(col("nprobe"), col("shortlist"),
        coalesce(col("sp"), lit(0L)).as("scanned_pairs"),
        coalesce(col("h"), lit(0L)).as("hits"),
        col("exact_pairs"),
        when(col("exact_pairs") > 0,
          round(coalesce(col("h"), lit(0L)) / col("exact_pairs"), 6))
          .as("recall"),
        (col("nprobe") === IvfProbes && col("shortlist") === PqShortlist)
          .as("deployed"))
      .orderBy(col("nprobe"), col("shortlist"))
  }

  /** q98: PQ-ADC similarity search, production form — per-subspace KMeans
    * codebooks fit on the family's bounded hash-keyed sample
    * ([[Quantizers.pqFitCodebooks]]), feeding [[pqAdcTopK]]. Rows-only;
    * ADC-vs-exact recall is property-checked in SimilaritySpec (the
    * codebook fit is init-dependent, q39's situation exactly).
    */
  def q98(spark: SparkSession, dir: String): DataFrame = {
    val baseRaw = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    val (base, n) = Materialize.observed(baseRaw)
    if (n == 0) return emptyTopK(spark)
    pqAdcTopK(base,
      Quantizers.pqFitCodebooks(base, PqSubspaces, PqCodewords))
  }

  /** q98b: q98's DETERMINISTIC-SEED twin (q39b's idiom) — the
    * [[PqCodewords]] lowest-id vectors, sliced per subspace, ARE the
    * codebooks, so the literal [[pqAdcTopK]] encode→LUT→ADC-rank code q98
    * runs is exactly DuckDB-mirrorable: per-subspace argmin via
    * row_number over a seed cross join, the ADC sum via a pivoted
    * per-subspace inner-product join. Only the init-dependent KMeans fit
    * stays property-only.
    */
  def q98b(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    // flat PQ has no cells to route through, so it keeps pqAdcTopK
    AnnIndex.seeded(base, pq = true)
      .fold(emptyTopK(spark))(index => pqAdcTopK(base, index.pq.get))
  }

  // ---- Semantic decontamination -------------------------------------------

  /** Eval stride for the semantic-decon anchor: every 10th vector plays the
    * benchmark side (bounded like q82's probe contract — real eval suites
    * are thousands of items against a 100 TB train corpus).
    */
  val SemDeconEvery = 10

  /** q99: semantic decontamination — the embedding-space member of the
    * decontamination family (q57/q66 n-gram detect, q86 surgery, q90
    * eval-side view): for every TRAIN vector, its maximum cosine to any
    * EVAL vector and the eval item achieving it; `contaminated` = rounded
    * max cosine ≥ the [[SemDedupCosine]] bar. This is the leak n-gram
    * decon cannot see — an eval item paraphrased, translated, or
    * re-templated into train shares no 8-token window but sits at
    * near-dup cosine; SemDeDup-era pipelines run exactly this screen
    * between embedding dedup and training.
    *
    * Exact anchor: eval broadcasts (bounded by contract), train never
    * shuffles, and the per-train argmax is a map-side-combined
    * `min(struct(-c, eval_id))` (q93's argmin idiom — a window here would
    * shuffle the full train × eval score mass). Still labeled an anchor:
    * score cost is train × eval; the production twin q99b prunes it to
    * cell-mates via the family's shared quantizer.
    */
  def q99(spark: SparkSession, dir: String): DataFrame = {
    val e = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    semanticDecon(
      e.filter(pmod(col("vec_id"), lit(SemDeconEvery)) === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("ev")),
      e.filter(pmod(col("vec_id"), lit(SemDeconEvery)) =!= 0),
      SemDedupCosine)
  }

  /** The q99 core over any eval (eval_id, ev) / train (vec_id, v) frames —
    * planted specs run it directly. Ties on the rounded max break toward
    * the lowest eval_id (the struct ordering), matching the oracle's
    * row_number.
    *
    * Output contract (shared with [[semanticDeconQuantized]]): EVERY train
    * row appears exactly once. A train row with no scored eval partner —
    * only possible when the eval set is empty here, but routine for the
    * quantized twin's cell pruning — fans back clean with a null
    * (eval_id, cosine) and contaminated = false: an empty benchmark suite
    * contaminates nothing, it doesn't erase the training corpus. With a
    * non-empty eval set the cross join scores every train row, so the
    * fan-back join changes nothing and the anchor's oracle hash holds.
    */
  def semanticDecon(evalSet: DataFrame, train: DataFrame,
      threshold: Double): DataFrame = {
    val hits = train.crossJoin(broadcast(evalSet))
      .select(col("vec_id"), col("eval_id"),
        round(vecexprs.cosineSim(col("v"), col("ev")), ScoreDp).as("c"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("c")).as("nc"), col("eval_id"))).as("m"))
      .select(col("vec_id"), col("m.eval_id").as("eval_id"),
        (-col("m.nc")).as("cosine"),
        (-col("m.nc") >= lit(threshold)).as("contaminated"))
    train.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("eval_id"), col("cosine"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** q99b: q99's PRODUCTION twin — the same per-train argmax fed by the
    * family's shared quantizer instead of the full train × eval score:
    * train rows take their single nearest cell (one codegen'd pass), eval
    * items fan out to their nearest cells and broadcast
    * ([[AnnIndex.probe]]), and only cell-mates are scored — the q92b contract applied to decontamination,
    * shrinking scored pairs from train × eval to train × (cell-mate
    * evals). Train rows with no eval cell-mate fan back as clean with a
    * null (eval_id, cosine): at a 0.95 bar, a contaminated pair is
    * near-identical, and near-identical vectors share a nearest cell with
    * the same soft-assignment argument as q85. Rows-only; planted
    * agreement with the exact q99 is spec-checked in SimilaritySpec.
    */
  def q99b(spark: SparkSession, dir: String): DataFrame = {
    val e = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    semanticDeconQuantized(
      e.filter(pmod(col("vec_id"), lit(SemDeconEvery)) === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("ev")),
      e.filter(pmod(col("vec_id"), lit(SemDeconEvery)) =!= 0),
      SemDedupCosine)
  }

  /** The quantized q99 candidate generator + shared argmax/fan-back tail —
    * planted specs run it directly.
    */
  def semanticDeconQuantized(evalSet: DataFrame, train: DataFrame,
      threshold: Double): DataFrame = {
    // one captured count: empty short-circuit AND cell sizing (the q92b
    // single-probe idiom), riding the checkpoint job (Materialize.observed)
    val (tr, n) = Materialize.observed(train)
    val index = AnnIndex.fitted(tr, n) match {
      case Some(fit) => fit.assign(tr)
      case None =>
        return tr.select(col("vec_id"), lit(null).cast("long").as("eval_id"),
          lit(null).cast("double").as("cosine"), lit(false).as("contaminated"))
    }
    val hits = index.probe(evalSet, "ev")
      .select(col("vec_id"), col("eval_id"),
        round(vecexprs.cosineSim(col("v"), col("ev")), ScoreDp).as("c"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("c")).as("nc"), col("eval_id"))).as("m"))
      .select(col("vec_id"), col("m.eval_id").as("eval_id"),
        (-col("m.nc")).as("cosine"),
        (-col("m.nc") >= lit(threshold)).as("contaminated"))
    tr.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("eval_id"), col("cosine"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  // ---- Semantic dedup (SemDeDup shape) ------------------------------------

  /** Cosine threshold for the semantic-dedup verdict — the production
    * SemDeDup operating point (the paper prunes at ~0.95+). The driver
    * fixture's max pairwise cosine is ~0.5, so its oracle row resolves to
    * all-singletons (q61 precedent: the discriminating behavior is
    * planted-spec-checked); the sf1skew clique exercises the full path.
    */
  val SemDedupCosine = 0.95

  /** q85: embedding-space semantic dedup — the SemDeDup curation step, the
    * third leg of the dedup family after doc/line/span (text-space) and
    * dHash (image-space): cluster the corpus with the IVF coarse quantizer
    * (q39's KMeans), generate candidate pairs WITHIN cells only, keep pairs
    * with cosine >= 0.95, resolve components (q56's pointer-jumped CC), and
    * keep each component's min vec_id.
    *
    * Shape for 100 TB: candidate generation is an ids-only cell self-join —
    * pair cost Σ|cell|² (cells ~ √N at real scale), never N²; vectors are
    * fetched once per surviving candidate pair (the lshNearDupPairs
    * pattern). Each vector is SOFT-assigned to its 2 nearest cells (IVF
    * multi-probe applied to dedup): a dup-heavy region attracts several
    * near-identical centroids whose boundary can pass BETWEEN two copies —
    * measured here with a planted 5-clique at k=16, which hard assignment
    * split. With top-2 assignment a >= 0.95 pair shares a cell unless both
    * members' top-2 sets are disjoint, which near-identical distance
    * profiles all but rule out. The oracle mirrors with UNRESTRICTED exact
    * pairs, which coincides at fixture scale (see FIXTURES.md §4 for the
    * recall assumption).
    */
  def q85(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(
      Tables.embeddings(spark, dir).select(col("vec_id")),
      vectorBase(spark, dir).filter(col("v").isNotNull),
      SemDedupCosine)

  /** Soft-assignment width for q85's quantizer cells (see q85 doc). */
  val SemProbeCells = 2

  /** The q85 core: `ids` is every vector id (null-embedding rows resolve as
    * singletons), `base` the clusterable (vec_id, v) frame — planted specs
    * run it directly.
    */
  def semanticDedup(ids: DataFrame, base: DataFrame,
      threshold: Double): DataFrame = {
    // vectors feed the quantizer fit, the cell explode, and two candidate
    // fetch joins: materialize once (q76 precedent); one captured count
    // serves both the empty test and the cell sizing
    val (b, n) = Materialize.observed(base)
    // bounded sample fit + native corpus-wide soft assignment: no
    // full-corpus pass belongs to the fit, and no ScalaUDF or interpreted
    // lambda touches the N-row assignment pass (PlanSpec-pinned). Cells
    // scale ~√n so the within-cell pair mass stays sub-quadratic; past
    // [[Quantizers.FlatCellCap]] cells the quantizer is the two-level IMI
    // product (same contract, same joins). No quantizer fits an empty
    // corpus: no vectors → no pairs → the CC tail resolves everything as
    // singletons.
    val cells = AnnIndex.fitted(b, n).fold(
      b.select(col("vec_id"), lit(0).as("cell")))(_.assignSoft(b).cells.get)
    semanticDedupCells(ids, b, cells, threshold)
  }

  /** q104: semantic dedup SERVED from a persisted model — the
    * [[AnnIndex.save]] → [[AnnIndex.load]] round trip under the registry:
    * fit the family quantizer exactly as q85 does, WRITE the codebook
    * artifact, RELOAD it, and run the shared dedup tail under the LOADED model. A
    * reloaded codebook carries identical centroid doubles (QuantizerSpec's
    * round-trip contract), so the output ≡ q85's and q85's DuckDB oracle
    * applies VERBATIM — putting the artifact seam itself (model → parquet
    * → model → plan literal) under a hash, not just under specs. This is
    * the serve-from-artifact path `CurationRun --reuse-models` takes in
    * production: a train job fits and saves once, every downstream job
    * loads; at 100 TB the load side is a KB-scale parquet read + one
    * plan-literal rebuild — free next to any scan.
    */
  def q104(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
    val (b, n) = Materialize.observed(vectorBase(spark, dir).filter(col("v").isNotNull))
    AnnIndex.fitted(b, n) match {
      case None => semanticDedup(ids, b, SemDedupCosine)
      case Some(fit) =>
        // per-process scratch, overwritten in place (q121's idiom): a temp
        // dir per invocation would leak one codebook per call
        val path = graft.sources.Scratch.dir("q104-model")
        fit.save(spark, path)
        // [[semanticDedupQuantized]] minus its checkpoint: `b` is already
        // materialized by the Materialize.observed above, and a second
        // checkpoint would re-materialize the full corpus frame — one
        // wasted corpus-sized job per q104 run (r19c job-trace find)
        semanticDedupCells(ids, b,
          AnnIndex.load(spark, path).assignSoft(b).cells.get, SemDedupCosine)
    }
  }

  /** q85 driven by a PRE-FITTED quantizer — the same candidate/CC tail fed
    * by an injected codebook: specs force the two-level [[ImiQuantizer]]
    * through it at fixture scale (where [[AnnIndex.fitted]] would pick flat),
    * and an externally trained codebook plugs in the same way at scale.
    */
  def semanticDedupQuantized(ids: DataFrame, base: DataFrame,
      threshold: Double, quant: CellQuantizer): DataFrame = {
    val b = Materialize(base)
    semanticDedupCells(ids, b, AnnIndex(quant).assignSoft(b).cells.get,
      threshold)
  }

  /** The shared q85 tail: soft cell assignments → ids-only within-cell
    * candidate pairs → cosine gate → CC → min-id keeper verdicts.
    * Public since round 14: `cells` can come from a live
    * [[AnnIndex.assignSoft]] pass OR from a persisted (vec_id, cell)
    * index artifact ([[AnnIndex.save]]) — CurationRun `--reuse-index`
    * feeds a prior run's assignments here, so the full-corpus assignment
    * scan is paid once per quantizer, not per run.
    */
  def semanticDedupCells(ids: DataFrame, b: DataFrame,
      cells: DataFrame, threshold: Double): DataFrame = {
    // soft assignment surfaces a pair once per shared cell (<= 2): dedupe
    // the ids BEFORE fetching vectors and scoring, so each candidate is
    // scored exactly once (q25's rule)
    val cand = cells.select(col("cell"), col("vec_id").as("a_id"))
      .join(cells.select(col("cell"), col("vec_id").as("b_id")), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val pairs = cand
      .join(b.select(col("vec_id").as("a_id"), col("v").as("av")), Seq("a_id"))
      .join(b.select(col("vec_id").as("b_id"), col("v").as("bv")), Seq("b_id"))
      .filter(round(vecexprs.cosineSim(col("av"), col("bv")), 6) >= threshold)
      .select(col("a_id"), col("b_id"))
    Dedup.connectedComponents(ids.select(col("vec_id").as("v")), pairs)
      .select(col("v").as("vec_id"), col("lab").as("rep_id"),
        (col("lab") === col("v")).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** q96: per-dimension embedding statistics — the profiling pass that
    * precedes every embedding-tier operator: per dimension, the count,
    * mean, and standard deviation across the corpus. What it buys at
    * curation time: dead dimensions (std 0) and mean-shifted encoders
    * surface immediately, and the (mean, std) table IS the whitening
    * transform SemDeDup-style pipelines apply before cosine work.
    *
    * Determinism: each float quantizes to q = floor(v·1e4) (exact,
    * order-independent — the fixed-point money discipline), so n/Σq/Σq²
    * are exact integers in both engines; mean/std then take one IEEE
    * double expression each (sqrt is correctly-rounded, unlike ln/exp, so
    * it's allowed in hash-checked output). The quantized std is a
    * well-defined statistic of the quantized values, not an approximation
    * of the float std — documented, and identical cross-engine.
    *
    * Shape for 100 TB: explode fans n×d rows but the aggregate is keyed by
    * the d-sized dim space — partial aggregation collapses each task to d
    * rows of 3 longs, so the exchange moves #partitions×d tiny rows no
    * matter the corpus size. Σq² stays in Long range until ~1e10 vectors
    * (4e8 per element × rows); past that the q-scale drops a digit.
    */
  def q96(spark: SparkSession, dir: String): DataFrame =
    embeddingStats(Tables.embeddings(spark, dir))

  /** The q96 core over any (embedding ARRAY<FLOAT>) frame — planted specs
    * run it directly.
    */
  def embeddingStats(emb: DataFrame): DataFrame = {
    val x = emb
      .filter(col("embedding").isNotNull)
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).cast("int").as("dim"),
        floor(col("col").cast("double") * lit(10000)).cast("long").as("q"))
    x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("ss"))
      .select(col("dim"), col("n"), col("s").as("sum_q"),
        floor(col("s").cast("double") * lit(100) / col("n"))
          .cast("long").as("mean_e6"),
        floor(sqrt(greatest(
          (col("ss").cast("double") - col("s").cast("double") * col("s")
            / col("n")) / col("n"), lit(0.0))) * lit(100))
          .cast("long").as("std_e6"))
      .orderBy(col("dim"))
  }

  /** q111: incremental codebook refresh — ONE exact Lloyd refinement step
    * of a served coarse quantizer, the RETRAIN action the q106/q108 drift
    * monitors call for ("cell mass shifted, mean affinity fell — retrain").
    * This closes the model lifecycle the round-13 family built: train
    * (Quantizers.fit) → persist (ModelStore) → serve (q104/q106/q108) →
    * monitor (drift) → REFRESH (here) → persist again.
    *
    * Semantics: every corpus vector takes its nearest cell under the
    * current codebook (the literal [[FlatQuantizer.assign]] codegen pass
    * every IVF consumer runs), then each cell's new centroid is the exact
    * per-dimension mean of its members; a cell that attracted no member
    * keeps its old centroid (standard empty-cell practice — dropping it
    * would renumber every downstream cell id). The registered output is
    * the per-(cell, dim) refresh report: member count, new mean, old
    * value, and the shift — the "how stale is the model" table an ANN
    * deployment reviews before swapping artifacts.
    *
    * Determinism (the q96 fixed-point discipline): member dims quantize to
    * q = floor(v·1e4) so per-cell sums are exact integers in both engines;
    * the mean takes ONE IEEE double division then floors to e6. The old
    * centroid quantizes directly to floor(c·1e6). Both engines therefore
    * compute identical BIGINTs — no float-sum order anywhere. The codebook
    * is the q39b deterministic-seed idiom (the [[IvfCells]] lowest-id
    * vectors), so the whole assign→aggregate→blend path sits under a
    * DuckDB hash; a trained/ModelStore-loaded codebook plugs into the same
    * [[codebookRefresh]] core (QuantizerSpec covers the round trip).
    *
    * Shape for 100 TB: assignment + quantize ride the one corpus scan
    * (posexplode fans n×d rows but the aggregate keys on cells×d — partial
    * aggregation collapses each task to cells×d rows of 2 longs, q96's
    * argument, so the exchange is #partitions×cells×d tiny rows no matter
    * the corpus). The old-centroid frame is model state (cells×d rows,
    * KB-scale), and the blend join is model-sized on both sides. One
    * refresh pass costs exactly one corpus scan — the incremental
    * alternative to a full KMeans refit (FitIters scans).
    */
  def q111(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    // model state: the K lowest-id vectors (q39b's init-free codebook —
    // KB-scale, the legitimate model-fit boundary, not a data-path collect)
    val seeds = lowestIdSeeds(base, IvfCells)
    if (seeds.isEmpty) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("cell", IntegerType),
          StructField("dim", IntegerType), StructField("n", LongType),
          StructField("new_mean_e6", LongType),
          StructField("old_e6", LongType),
          StructField("shift_e6", LongType))))
    }
    codebookRefresh(base, seeds)
  }

  /** The q111 core over any clean (vec_id, v: array<double>) frame and any
    * codebook — planted specs and ModelStore-loaded models run it
    * directly.
    */
  def codebookRefresh(base: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val quant = FlatQuantizer(centroids)
    val x = base
      .select(quant.assign(col("v")).as("cell"), posexplode(col("v")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("dim"),
        floor(col("col") * lit(10000)).cast("long").as("q"))
    val g = x.groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
    // model state as a frame: cells×dim rows of (cell, dim, old_e6)
    val old = centroids.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, d) =>
        (cell, d + 1, math.floor(v * 1e6).toLong) }
    }.toSeq.toDF("cell", "dim", "old_e6")
    old.join(g, Seq("cell", "dim"), "left")
      .select(col("cell"), col("dim"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNotNull,
          floor(col("sq").cast("double") * lit(100) / col("n"))
            .cast("long"))
          .otherwise(col("old_e6")).as("new_mean_e6"),
        col("old_e6"))
      .withColumn("shift_e6", col("new_mean_e6") - col("old_e6"))
      .orderBy(col("cell"), col("dim"))
  }

  /** Materialize the refreshed codebook from [[codebookRefresh]]'s output
    * (new means at e6 back to doubles) — the array a caller hands to
    * [[AnnIndex.save]] to complete the
    * monitor→refresh→persist loop. Model-sized collect (cells×dim rows).
    */
  def refreshedCodebook(refresh: DataFrame): Array[Array[Double]] =
    refresh.select(col("cell"), col("dim"), col("new_mean_e6"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getLong(2) / 1e6)
      }.toArray

  /** q119's rank-discount weights, e6-quantized ONCE in Scala
    * (w(k) = ⌊1e6 / log2(k+1)⌋) and embedded as literals in BOTH engines —
    * integer summation is exact and order-free, and neither engine's libm
    * is on the hash path at all.
    */
  lazy val NdcgWeightsE6: IndexedSeq[Long] = (1 to TopK)
    .map(k => math.floor(1e6 / (math.log(k + 1) / math.log(2.0))).toLong)

  /** Prefix sums of [[NdcgWeightsE6]]: IDCG_e6 for a truth set of size n. */
  lazy val NdcgIdealE6: IndexedSeq[Long] =
    NdcgWeightsE6.scanLeft(0L)(_ + _).tail

  /** q119: retrieval-evaluation report — the quality scoreboard every ANN
    * deployment reads before swapping an index: per probe, the served
    * tier's recall@10, MRR, and NDCG@10 against exact ground truth. Truth
    * = q20's exact top-10; served = q39b's deterministic-seed IVF (the
    * literal ivfTopK path the trained tier runs), so the WHOLE eval —
    * including the metrics — sits under a DuckDB hash; the trained
    * q39/q98/q101 forms plug into the same [[retrievalEval]] core (their
    * recall floors in SimilaritySpec and the q103 sweep are this
    * computation's property-checked form).
    *
    * Determinism: hits/ranks are exact integers; recall/MRR are integer
    * divisions; DCG uses [[NdcgWeightsE6]] — e6-quantized rank discounts
    * computed once in Scala and embedded as literals in both engines, so
    * the sums are exact integer folds with no float-sum order and no
    * libm anywhere.
    *
    * Shape for 100 TB: both inputs are probes×K frames (the bounded
    * output of the search tiers); everything here is model-sized.
    */
  def q119(spark: SparkSession, dir: String): DataFrame =
    retrievalEval(q20(spark, dir), q39b(spark, dir))

  /** The q119 core over any truth/served (probe_id, rnk, neighbor_id)
    * frames — specs run it directly; truth size per probe must be ≤
    * [[TopK]] (the weight tables are K-long).
    */
  def retrievalEval(truth: DataFrame, served: DataFrame): DataFrame = {
    val wLit = typedLit(NdcgWeightsE6)
    val pLit = typedLit(NdcgIdealE6)
    val t = truth.select(col("probe_id"), col("neighbor_id"),
      lit(true).as("rel"))
    val per = served.select(col("probe_id"), col("rnk"), col("neighbor_id"))
      .join(t, Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"))
      .agg(
        sum(when(col("rel"), element_at(wLit, col("rnk"))).otherwise(0L))
          .as("dcg_e6"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("hits"),
        min(when(col("rel"), col("rnk"))).as("minr"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_truth"))
      .join(per, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("dcg_e6"), lit(0L)).as("dcg_e6"),
        col("minr"),
        element_at(pLit, col("n_truth").cast("int")).as("idcg_e6"))
      .select(col("probe_id"), col("n_truth"), col("hits"),
        expr("CAST((hits * 1000000) DIV n_truth AS BIGINT)").as("recall_e6"),
        coalesce(expr("CAST(1000000 DIV minr AS BIGINT)"), lit(0L))
          .as("mrr_e6"),
        col("dcg_e6"),
        expr("CAST((dcg_e6 * 1000000) DIV idcg_e6 AS BIGINT)").as("ndcg_e6"))
      .orderBy(col("probe_id"))
  }

  /** IMI form of the q111 refresh: each half-space codebook refreshes
    * through the SAME [[codebookRefresh]] core over the corresponding
    * vector slice — an IMI half-assignment IS a flat assignment in the
    * half space, so the retrain step covers the tier past the flat
    * plan-literal ceiling with zero new machinery. Returns the refreshed
    * quantizer ready for [[AnnIndex.save]].
    * (Refreshing the halves independently is the IMI analogue of the
    * Lloyd step: each half's SSE is minimized by its half-means, and the
    * joint distance is their sum.)
    */
  def imiRefresh(base: DataFrame, quant: ImiQuantizer): ImiQuantizer = {
    val split = quant.cbA.head.length
    def half(from: Int, cb: Array[Array[Double]]): Array[Array[Double]] =
      refreshedCodebook(codebookRefresh(
        base.select(slice(col("v"), from, cb.head.length).as("v")), cb))
    ImiQuantizer(half(1, quant.cbA), half(split + 1, quant.cbB))
  }

  /** q122: per-subspace PQ codebook refresh — the q111 Lloyd step applied
    * to the STORAGE tier, closing the last open loop of the model
    * lifecycle: the coarse quantizer (q111) and IMI halves ([[imiRefresh]])
    * already refresh, but the PQ codebooks — whose staleness directly
    * degrades every ADC ranking q98/q101/q121 serve — did not. Semantics
    * per subspace m: every vector's m-slice takes its nearest codeword
    * under the current codebook (the literal [[pqCodeCols]] encode pass
    * every PQ consumer runs), each codeword's new centroid is the exact
    * per-dimension mean of its member slices, and a codeword with no
    * members keeps its old value (q111's empty-cell rule). Output: the
    * per-(m, cw, dim) refresh report — member count, new mean, old value,
    * shift — the "how stale is the storage tier" table to read before a
    * refreshed codebook replaces the artifact.
    *
    * Determinism is q111's verbatim: member dims quantize to
    * q = floor(v·1e4) so per-codeword sums are exact integers in both
    * engines; ONE IEEE division then floor to e6; old values floor to e6
    * directly. The codebook is q98b's deterministic-seed idiom, so the
    * whole encode→aggregate→blend path carries a DuckDB hash; a trained
    * codebook plugs into the same [[pqRefresh]] core.
    *
    * Shape for 100 TB: ONE corpus scan — all M per-subspace assignments
    * ride the same codegen'd pass ([[pqCodeCols]], M plan-literal argmins
    * per row), the dim explode fans n×dim rows but the aggregate keys on
    * M×K×(dim/M) = K×dim — partial aggregation collapses each task to
    * K×dim rows of two longs (q96's argument), so the exchange is
    * #partitions × K×dim tiny rows at any corpus size. Contrast: a naive
    * per-subspace loop would pay M corpus scans. The subspace of an
    * exploded dim is pure integer arithmetic (m = ⌊((pos+1)·M−1)/dim⌋ —
    * the exact inverse of the ⌊dim·m/M⌋ slice rule all PQ code shares).
    */
  def q122(spark: SparkSession, dir: String): DataFrame = {
    val base = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    val seeds = lowestIdSeeds(base, PqCodewords)
    if (seeds.isEmpty) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("m", IntegerType),
          StructField("cw", IntegerType), StructField("dim", IntegerType),
          StructField("n", LongType), StructField("new_mean_e6", LongType),
          StructField("old_e6", LongType), StructField("shift_e6", LongType))))
    }
    pqRefresh(base, pqCodebooksFromSeeds(seeds))
  }

  /** The q122 core over any clean (vec_id, v: array<double>) frame and any
    * per-subspace codebooks — planted specs run it directly.
    */
  def pqRefresh(base: DataFrame,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val mCount = cbs.length
    val x = base
      .select(array(pqCodeCols(cbs): _*).as("codes"),
        size(col("v")).as("dt"), posexplode(col("v")))
      .select(col("codes"), col("dt"), col("pos"), col("col"),
        expr(s"CAST(((pos + 1) * $mCount - 1) DIV dt AS INT)").as("m"))
      .select(col("m"),
        element_at(col("codes"), col("m") + 1).as("cw"),
        (col("pos") - expr(s"(dt * m) DIV $mCount") + 1).cast("int")
          .as("dim"),
        floor(col("col") * lit(10000)).cast("long").as("q"))
    val g = x.groupBy(col("m"), col("cw"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
    // model state as a frame: M×K×(dim/M) rows of (m, cw, dim, old_e6)
    val old = cbs.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.flatMap { case (cwv, cw) =>
        cwv.zipWithIndex.map { case (v, d) =>
          (m, cw, d + 1, math.floor(v * 1e6).toLong) } }
    }.toSeq.toDF("m", "cw", "dim", "old_e6")
    old.join(g, Seq("m", "cw", "dim"), "left")
      .select(col("m"), col("cw"), col("dim"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNotNull,
          floor(col("sq").cast("double") * lit(100) / col("n"))
            .cast("long"))
          .otherwise(col("old_e6")).as("new_mean_e6"),
        col("old_e6"))
      .withColumn("shift_e6", col("new_mean_e6") - col("old_e6"))
      .orderBy(col("m"), col("cw"), col("dim"))
  }

  /** MMR trade-off λ: 0.5 is the Carbonell & Goldstein '98 balanced point
    * (and keeps 1−λ = 0.5 an exact double — a λ like 0.7 would make the
    * two engine/oracle constants 0.7 and 0.30000000000000004, a parity
    * trap). At λ ≥ ~0.7 the relevance term dominates so hard that a pool
    * whose top hits cluster near the probe never diversifies — measured on
    * the planted spec geometry before settling on 0.5.
    */
  val MmrLambda = 0.5

  /** Candidate pool per probe before diversification (the served ANN
    * shortlist MMR re-ranks in production).
    */
  val MmrPool = 40

  /** Diversified results per probe. */
  val MmrK = 10

  /** q117: MMR-diversified retrieval (Carbonell & Goldstein '98 maximal
    * marginal relevance) — the re-ranking step between a similarity search
    * and a consumer that can't use ten near-identical hits (RAG context
    * assembly, dedup-aware retrieval eval): greedily select K results,
    * each maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), ties to
    * the lowest cand_id. Pure top-k returns a near-dup pile when the
    * corpus has one (exactly what q85/q76 exist to measure); MMR charges
    * each candidate for its similarity to what's already chosen.
    *
    * Determinism: rel and pairwise sims round to 6 dp first; the MMR
    * score is one multiply-subtract over those identical doubles (λ and
    * 1−λ both exact), rounded again at 6 dp before the argmax with a
    * cand_id tie-break — both engines walk the identical greedy path.
    *
    * Shape for 100 TB: the probe side is bounded (q20's contract) and the
    * pool is MmrPool per probe, so EVERYTHING after the one relevance
    * pass is model-sized: the pairwise frame is probes × Pool² rounded
    * scalars, and each greedy step is an argmax over ≤ Pool rows per
    * probe (K bounded Spark jobs on KB-scale frames — the corpus is
    * touched exactly once). In production the relevance pass IS the
    * served ANN shortlist (q39/q98/q101 feed the same tail).
    */
  def q117(spark: SparkSession, dir: String): DataFrame = {
    val emb = vectorBase(spark, dir)
      .filter(col("v").isNotNull)
    mmrTopK(
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")),
      emb)
  }

  /** The q117 core over bounded (probe_id, pv) probes and a (vec_id, v)
    * corpus — planted specs run it directly.
    *
    * Round-14 shape: the greedy selection runs as ONE job — the pool rows
    * carry their pairwise-sim maps (probes × Pool rows, Pool-sized maps)
    * into a per-probe `flatMapGroups` walk over the ≤ [[MmrPool]]
    * in-memory candidates. Round 13 scheduled the walk as MmrK−1
    * sequential Spark jobs with a checkpoint each (~3 s of fixed
    * job-dispatch overhead on KB-scale frames — flat in the corpus, but
    * pure waste). Every hash-bearing double is computed BEFORE the typed
    * walk by the same codegen'd expressions as before (rounded rel and
    * pairwise sims); the walk itself only compares those exact doubles and
    * applies λ·rel − (1−λ)·msim with [[mmrRound6]] — the literal
    * scala.math.BigDecimal HALF_UP arithmetic Catalyst's `round` runs on
    * doubles — so the selected path and the oracle's unrolled-CTE walk are
    * unchanged bit for bit. The typed operator touches probes×Pool rows
    * (model-sized), never the corpus: the zero-ScalaUDF rule on data paths
    * holds.
    */
  def mmrTopK(probes: DataFrame, corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // relevance pass: the one corpus touch; pool = top-MmrPool per probe
    val rel = corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(vecexprs.cosineSim(col("pv"), col("v")), ScoreDp).as("rel"),
        col("v"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("rnk") <= MmrPool)
      .transform(Materialize(_)) // bounded: probes × Pool rows; feeds 3 consumers
    // pairwise sims within each pool (probes × Pool² rounded scalars),
    // folded to a Pool-sized map per candidate; null sims (zero-norm
    // members) drop here exactly as max(s) ignored them before
    val a = rel.select(col("probe_id"), col("cand_id"), col("v"))
    val b = rel.select(col("probe_id"), col("cand_id").as("other_id"),
      col("v").as("ov"))
    val simMaps = a.join(b, Seq("probe_id"))
      .filter(col("cand_id") =!= col("other_id"))
      .select(col("probe_id"), col("cand_id"), col("other_id"),
        round(vecexprs.cosineSim(col("v"), col("ov")), ScoreDp).as("s"))
      .filter(col("s").isNotNull)
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(map_from_entries(collect_list(struct(col("other_id"), col("s"))))
        .as("sims"))
    val pool = rel.select(col("probe_id"), col("cand_id"), col("rel"))
      .join(simMaps, Seq("probe_id", "cand_id"), "left")
    pool.as[(Long, Long, Option[Double], Option[Map[Long, Double]])]
      .groupByKey(_._1)
      .flatMapGroups { (probe, it) =>
        val cands = it.map(t =>
          (t._2, t._3, t._4.getOrElse(Map.empty[Long, Double]))).toVector
        mmrWalk(cands).map { case (step, cand, r, m) =>
          (probe, step, cand, r, m) }
      }
      .toDF("probe_id", "step", "cand_id", "rel", "mmr")
      .orderBy(col("probe_id"), col("step"))
  }

  /** Catalyst's `round(double, 6)` arithmetic, verbatim (RoundBase:
    * BigDecimal HALF_UP on the double) — the walk must round exactly as
    * the Column expression the round-13 form used, or the greedy path
    * could diverge from the oracle at a boundary.
    */
  private def mmrRound6(v: Double): Double =
    BigDecimal(v).setScale(ScoreDp, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** The per-probe greedy walk over ≤ [[MmrPool]] pooled candidates of
    * (cand_id, rounded rel, rounded sims-to-pool-mates). Selection order
    * mirrors the round-13 frame loop exactly: step 1 = best DEFINED rel
    * (ties to lowest id; absent when no rel is defined — a degenerate
    * all-null pool starts selecting at step 2 by lowest id, as the
    * window's nulls-last rank did); steps 2..[[MmrK]] = argmax of
    * λ·rel − (1−λ)·max-sim-to-selected with null rel ranking last and
    * missing sims coalescing to 0.
    */
  private def mmrWalk(
      cands: Vector[(Long, Option[Double], Map[Long, Double])])
      : Seq[(Int, Long, Option[Double], Option[Double])] = {
    val byId = cands.map(c => c._1 -> c).toMap
    val out = Seq.newBuilder[(Int, Long, Option[Double], Option[Double])]
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    var ids = cands.map(_._1).toSet
    val defined = cands.filter(_._2.isDefined)
    if (defined.nonEmpty) {
      val best = defined.minBy(c => (-c._2.get, c._1))
      out += ((1, best._1, best._2, Some(mmrRound6(MmrLambda * best._2.get))))
      selected += best._1; ids -= best._1
    }
    var step = 2
    while (step <= MmrK && ids.nonEmpty) {
      val pick = ids.toSeq.map { id =>
        val (_, r, sims) = byId(id)
        val msims = selected.flatMap(sims.get)
        val msim = if (msims.nonEmpty) msims.max else 0.0
        (id, r, r.map(x => mmrRound6(MmrLambda * x - (1 - MmrLambda) * msim)))
      }.minBy { case (id, _, m) =>
        (m.map(-_).getOrElse(Double.MaxValue), id) }
      out += ((step, pick._1, pick._2, pick._3))
      selected += pick._1; ids -= pick._1
      step += 1
    }
    out.result()
  }

  /** The q85 DuckDB mirror (unrestricted exact pairs + recursive-CTE CC +
    * min-id keepers) — shared verbatim by q104, whose served-from-artifact
    * output is bit-identical by the ModelStore reload contract.
    */
  private val semanticDedupOracle: String =
    s"""WITH RECURSIVE
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |      FROM e a, e b
      |      WHERE a.vec_id < b.vec_id
      |        AND round(list_cosine_similarity(a.v, b.v), 6) >=
      |            $SemDedupCosine),
      |edges AS (SELECT a_id AS s, b_id AS d FROM p
      |          UNION ALL SELECT b_id, a_id FROM p),
      |cc(v, lab) AS (
      |  SELECT vec_id, vec_id FROM e
      |  UNION
      |  SELECT edges.d, cc.lab FROM cc JOIN edges ON edges.s = cc.v)
      |SELECT v AS vec_id, MIN(lab) AS rep_id, (MIN(lab) = v) AS is_kept
      |FROM cc GROUP BY v ORDER BY vec_id""".stripMargin

  /** The q39b DuckDB mirror — assignment = argmin of euclidean distance
    * with a lowest-cell tie-break, probe fan-out = top-[[IvfProbes]] of
    * the same ranking. Shared VERBATIM by q123 (the streaming-maintained
    * index serve): the drained (cell, vec_id) state holds exactly
    * `assign`'s cells, so the online path's serve is bit-identical to the
    * batch assignment this SQL mirrors — q107's keeper-independence idiom
    * applied to the ANN tier.
    */
  val ivfSeededOracle: String =
    s"""WITH e AS (
    |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    |  WHERE embedding IS NOT NULL),
    |s AS (SELECT v AS sv,
    |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
    |          AS cell
    |      FROM e ORDER BY vec_id LIMIT $IvfCells),
    |nd AS (SELECT e.vec_id, s.cell, list_distance(e.v, s.sv) AS d
    |       FROM e CROSS JOIN s),
    |a AS (SELECT vec_id, cell,
    |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
    |          AS rn
    |      FROM nd),
    |asg AS (SELECT vec_id, cell FROM a WHERE rn = 1),
    |pc AS (SELECT vec_id AS probe_id, cell FROM a
    |       WHERE vec_id < 5 AND rn <= $IvfProbes),
    |sc AS (SELECT pc.probe_id, asg.vec_id AS neighbor_id,
    |    list_cosine_similarity(p.v, n.v) AS c
    |  FROM asg JOIN pc USING (cell)
    |    JOIN e p ON p.vec_id = pc.probe_id
    |    JOIN e n ON n.vec_id = asg.vec_id
    |  WHERE asg.vec_id <> pc.probe_id),
    |r AS (SELECT *, CAST(row_number() OVER (
    |    PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS INTEGER)
    |      AS rnk
    |  FROM sc)
    |SELECT probe_id, rnk, neighbor_id, round(c, $ScoreDp) AS score
    |FROM r WHERE rnk <= $TopK ORDER BY probe_id, rnk""".stripMargin

  /** The q101b DuckDB mirror — q39b's assignment CTEs (s/nd/ar/asg/pc)
    * produce the cell-mate pairs, q98b's encode/LUT CTEs
    * (sq/ms/sub/enc/ae/codes) produce the ADC sums over exactly those
    * pairs, then the shared shortlist + exact-refine CTEs finish. Shared
    * VERBATIM by q121, whose served-from-persisted-index output is
    * bit-identical because the encoded codes are exact small ints (the
    * ModelStore.saveIndex round-trip contract).
    */
  private lazy val ivfPqSeededOracle: String = {
    val ipSum = (0 until PqSubspaces)
      .map(i => s"max(CASE WHEN m = $i THEN ip END)").mkString(" + ")
    val n2Sum = (0 until PqSubspaces)
      .map(i => s"max(CASE WHEN m = $i THEN q END)").mkString(" + ")
    s"""WITH e AS (
    |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    |  WHERE embedding IS NOT NULL),
    |s AS (SELECT v AS sv,
    |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
    |          AS cell
    |      FROM e ORDER BY vec_id LIMIT $IvfCells),
    |nd AS (SELECT e.vec_id, s.cell, list_distance(e.v, s.sv) AS d
    |       FROM e CROSS JOIN s),
    |ar AS (SELECT vec_id, cell,
    |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
    |          AS rn
    |       FROM nd),
    |asg AS (SELECT vec_id, cell FROM ar WHERE rn = 1),
    |pc AS (SELECT vec_id AS probe_id, cell FROM ar
    |       WHERE vec_id < 5 AND rn <= $IvfProbes),
    |pairs AS (SELECT pc.probe_id, asg.vec_id AS neighbor_id
    |          FROM asg JOIN pc USING (cell)
    |          WHERE asg.vec_id <> pc.probe_id),
    |sq AS (SELECT v AS sv,
    |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
    |          AS cw
    |       FROM e ORDER BY vec_id LIMIT $PqCodewords),
    |ms AS (SELECT CAST(unnest(range($PqSubspaces)) AS INTEGER) AS m),
    |sub AS (SELECT ms.m, sq.cw,
    |    sq.sv[(len(sq.sv)*ms.m)//$PqSubspaces + 1 :
    |          (len(sq.sv)*(ms.m+1))//$PqSubspaces] AS csub
    |  FROM sq CROSS JOIN ms),
    |enc AS (SELECT e.vec_id, sub.m, sub.cw,
    |    list_distance(e.v[(len(e.v)*sub.m)//$PqSubspaces + 1 :
    |                      (len(e.v)*(sub.m+1))//$PqSubspaces],
    |      sub.csub) AS d
    |  FROM e CROSS JOIN sub),
    |ae AS (SELECT vec_id, m, cw,
    |        row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cw)
    |          AS rn
    |       FROM enc),
    |codes AS (SELECT vec_id, m, cw FROM ae WHERE rn = 1),
    |p AS (SELECT vec_id AS probe_id, v AS pv,
    |        list_inner_product(v, v) AS np2
    |      FROM e WHERE vec_id < 5),
    |parts AS (SELECT pr.probe_id, pr.neighbor_id, c.m, p.np2,
    |    list_inner_product(
    |      p.pv[(len(p.pv)*c.m)//$PqSubspaces + 1 :
    |           (len(p.pv)*(c.m+1))//$PqSubspaces], sub.csub) AS ip,
    |    list_inner_product(sub.csub, sub.csub) AS q
    |  FROM pairs pr
    |    JOIN codes c ON c.vec_id = pr.neighbor_id
    |    JOIN sub ON sub.m = c.m AND sub.cw = c.cw
    |    JOIN p ON p.probe_id = pr.probe_id),
    |sc AS (SELECT probe_id, neighbor_id,
    |    CASE WHEN max(np2) > 0 AND ($n2Sum) > 0
    |         THEN ($ipSum) / (sqrt(max(np2)) * sqrt($n2Sum)) END AS adc
    |  FROM parts GROUP BY probe_id, neighbor_id),
    |sl AS (SELECT probe_id, neighbor_id FROM (
    |    SELECT *, row_number() OVER (
    |      PARTITION BY probe_id
    |      ORDER BY adc DESC NULLS LAST, neighbor_id) AS arnk
    |    FROM sc) WHERE arnk <= $PqShortlist),
    |ref AS (SELECT sl.probe_id, sl.neighbor_id,
    |    list_cosine_similarity(p.pv, n.v) AS c
    |  FROM sl JOIN p ON p.probe_id = sl.probe_id
    |    JOIN e n ON n.vec_id = sl.neighbor_id),
    |r AS (SELECT *, CAST(row_number() OVER (
    |    PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS INTEGER)
    |      AS rnk
    |  FROM ref)
    |SELECT probe_id, rnk, neighbor_id, round(c, $ScoreDp) AS score
    |FROM r WHERE rnk <= $TopK ORDER BY probe_id, rnk""".stripMargin
  }

  // ---- embedding storage-tier calibration (q134/q136) ----------------------

  /** q134: symmetric int8 scalar-quantization profile — the calibration
    * table behind the OTHER embedding-compression knob PQ doesn't cover:
    * per-dimension max-abs int8 (the faiss `SQ8` / "scalar quantizer"
    * storage format, 1 byte/dim = 4× smaller than float32, decoded by one
    * multiply at serve time). Per dimension: the max-abs scale the encoder
    * would ship, the exact L1/L∞ reconstruction error mass, and how many
    * codes land non-zero (a dimension whose codes are ~all zero is dead
    * weight the q96 std profile may miss when its mass sits in outliers).
    * An embedding platform reads this table to decide int8-vs-PQ-vs-float
    * per deployment, exactly as q103 reads the ANN sweep.
    *
    * Determinism (q96's fixed-point discipline): elements quantize to
    * q = floor(v·1e4) (exact BIGINT in both engines); the per-dim scale is
    * an integer max; code = floor((q·127)/scale) and recon =
    * floor((code·scale)/127) each take ONE IEEE double division with both
    * operands exactly representable, so both engines floor the same
    * correctly-rounded quotient — every output column is an exact BIGINT.
    *
    * Shape for 100 TB: two passes over the corpus (max-abs scales, then
    * encode+error — inherent to max-abs calibration), both riding
    * posexplode with the aggregate keyed by the d-sized dim space, so each
    * exchange moves #partitions×d tiny rows (q96's argument). The scales
    * frame is d rows — broadcast back onto the element stream, never a
    * shuffle of the corpus side.
    */
  def q134(spark: SparkSession, dir: String): DataFrame =
    int8QuantProfile(Tables.embeddings(spark, dir))

  /** The q134 core over any (embedding ARRAY<FLOAT>) frame — planted specs
    * run it directly.
    */
  def int8QuantProfile(emb: DataFrame): DataFrame = {
    val x = emb
      .filter(col("embedding").isNotNull)
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).cast("int").as("dim"),
        floor(col("col").cast("double") * lit(10000)).cast("long").as("q"))
    val scales = x.groupBy(col("dim"))
      .agg(greatest(max(abs(col("q"))), lit(1L)).as("scale"))
    x.join(broadcast(scales), Seq("dim"))
      .withColumn("code",
        floor((col("q") * lit(127L)).cast("double") / col("scale"))
          .cast("long"))
      .withColumn("recon",
        floor((col("code") * col("scale")).cast("double") / lit(127L))
          .cast("long"))
      .withColumn("err", abs(col("q") - col("recon")))
      .groupBy(col("dim"), col("scale"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("sum_err"),
        max(col("err")).as("max_err"),
        sum(when(col("code") =!= 0L, 1L).otherwise(0L)).as("n_nonzero"))
      .orderBy(col("dim"))
  }

  /** Prefix lengths for the q136 matryoshka fidelity sweep — powers of two
    * up to the fixture's full 64 dims (the MRL truncation grid an
    * embedding platform actually serves).
    */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** q136: matryoshka prefix-dimension retrieval fidelity — for each
    * truncation length d in [[MatryoshkaDims]], how many of the full-dim
    * exact top-[[TopK]] neighbors the d-prefix cosine ranking keeps, per
    * probe. This is the calibration table behind MRL-style embedding
    * truncation (use 8/16/32 of 64 dims at serve time for 8×/4×/2× less
    * storage and bandwidth): the measured overlap@K tells the platform
    * which prefix is safe to deploy, exactly as q103's sweep prices the
    * IVF/PQ knobs and q134 prices int8. The d = full row is the built-in
    * sanity anchor (overlap ≡ K whenever the corpus has ≥ K neighbors).
    *
    * Determinism: rankings only — no float ever reaches the output. Both
    * engines compute the same prefix-cosine doubles (same elements, same
    * fold order — the q20 contract that already hash-matches full-dim
    * cosine), rank by (c DESC, neighbor_id), and the overlap count is an
    * exact integer. Zero-norm prefixes (a vector whose first d dims are
    * all zero) make cosine 0/0 = NaN, and engines disagree on NaN/NULL
    * sort position — both sides coalesce NaN/NULL to a -2.0 sentinel so
    * undefined similarities deterministically rank last.
    *
    * Shape for 100 TB: the probe set is fixed and broadcast (q20's exact
    * tier — the corpus never shuffles or self-joins); the ×|dims| fan-out
    * applies to the probe-pair stream only, and the per-(probe, d) window
    * ranks |probes|×|dims| corpus-sized partitions, each reduced to top-K
    * before the overlap join of two K-sized frames.
    */
  def q136(spark: SparkSession, dir: String): DataFrame =
    // the core casts `embedding` itself; the base's unused `v` is pruned
    matryoshkaFidelity(vectorBase(spark, dir, col("embedding")))

  /** The q136 core over any (vec_id, embedding) frame — planted specs run
    * it directly.
    */
  def matryoshkaFidelity(emb: DataFrame): DataFrame = {
    // the K-sized per-(probe, d) shortlists feed TWO branches (full-dim
    // anchor + overlap join); materialize so the quadratic scoring
    // lineage runs once
    val topk = Materialize(matryoshkaShortlists(emb))
    val full = topk.filter(col("prefix_dim") === MatryoshkaDims.max)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
    topk.join(full, Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"), col("prefix_dim"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_overlap"))
      .orderBy(col("probe_id"), col("prefix_dim"))
  }

  /** q136's scoring half before materialization — the per-(probe, d)
    * top-K shortlists. Split out so PlanSpec can pin the pre-checkpoint
    * physical plan (broadcast probes, windowed rank — no corpus
    * self-shuffle).
    */
  private[graft] def matryoshkaShortlists(emb: DataFrame): DataFrame = {
    val base = emb
      .filter(col("embedding").isNotNull && col("vec_id").isNotNull)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("prefix_dim", explode(typedLit(MatryoshkaDims)))
      .select(col("probe_id"), col("prefix_dim"),
        col("vec_id").as("neighbor_id"),
        // zero-norm prefixes (all-zero first d dims) make cosine 0/0 = NaN,
        // and NaN/NULL ordering conventions differ across engines — pin
        // both to a -2.0 sentinel (below any real cosine) so undefined
        // similarities rank LAST deterministically in engine and oracle
        {
          val c0 = vecexprs.cosineSim(
            slice(col("pv"), lit(1), col("prefix_dim")),
            slice(col("v"), lit(1), col("prefix_dim")))
          coalesce(nanvl(c0, lit(-2.0d)), lit(-2.0d)).as("c")
        })
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"), col("prefix_dim"))
          .orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rnk") <= TopK)
      .select(col("probe_id"), col("prefix_dim"), col("neighbor_id"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q96_embedding_stats", q96,
      // quantize-then-aggregate makes the sums exact integers; mean/std
      // are single IEEE double expressions with identical association in
      // both engines (see q96 docs)
      Some("""WITH x AS (
        |  SELECT CAST(i AS INT) AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |  WHERE embedding IS NOT NULL),
        |g AS (SELECT dim, COUNT(*) AS n, SUM(q) AS s, SUM(q * q) AS ss
        |      FROM x GROUP BY dim)
        |SELECT dim, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_q,
        |  CAST(FLOOR(CAST(s AS DOUBLE) * 100 / n) AS BIGINT) AS mean_e6,
        |  CAST(FLOOR(sqrt(greatest(
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n,
        |    0)) * 100) AS BIGINT) AS std_e6
        |FROM g ORDER BY dim""".stripMargin)),
    QueryDef("q119_retrieval_eval", q119,
      // truth = q20's exact CTEs verbatim; served = q39b's CTEs verbatim
      // (renamed); the metric tail folds the SAME Scala-computed e6
      // weight/ideal literals both engines share — no libm on the hash
      // path
      Some {
        val wCase = NdcgWeightsE6.zipWithIndex
          .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
        val pCase = NdcgIdealE6.zipWithIndex
          .map { case (s, i) => s"WHEN ${i + 1} THEN $s" }.mkString(" ")
        s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
        |tp AS (
        |  SELECT probe_id, vec_id AS neighbor_id,
        |    list_cosine_similarity(pv, v) AS c
        |  FROM e, p WHERE vec_id <> probe_id),
        |tr AS (SELECT *, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS rnk
        |  FROM tp),
        |truth AS (SELECT probe_id, neighbor_id FROM tr WHERE rnk <= $TopK),
        |se AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings WHERE embedding IS NOT NULL),
        |ss AS (SELECT v AS sv,
        |         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |           AS cell
        |       FROM se ORDER BY vec_id LIMIT $IvfCells),
        |nd AS (SELECT se.vec_id, se.v, ss.cell,
        |         list_distance(se.v, ss.sv) AS d
        |       FROM se CROSS JOIN ss),
        |aa AS (SELECT vec_id, v, cell,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
        |           AS rn
        |       FROM nd),
        |asg AS (SELECT vec_id, cell FROM aa WHERE rn = 1),
        |pc AS (SELECT vec_id AS probe_id, cell FROM aa
        |       WHERE vec_id < 5 AND rn <= $IvfProbes),
        |sc AS (SELECT pc.probe_id, asg.vec_id AS neighbor_id,
        |    list_cosine_similarity(sp.v, sn.v) AS c
        |  FROM asg JOIN pc USING (cell)
        |    JOIN se sp ON sp.vec_id = pc.probe_id
        |    JOIN se sn ON sn.vec_id = asg.vec_id
        |  WHERE asg.vec_id <> pc.probe_id),
        |sr AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS INTEGER)
        |      AS rnk
        |  FROM sc),
        |srv AS (SELECT probe_id, rnk, neighbor_id FROM sr WHERE rnk <= $TopK),
        |j AS (SELECT srv.probe_id, srv.rnk,
        |        (t.neighbor_id IS NOT NULL) AS rel
        |      FROM srv LEFT JOIN truth t
        |        ON t.probe_id = srv.probe_id
        |       AND t.neighbor_id = srv.neighbor_id),
        |per AS (SELECT probe_id,
        |          CAST(SUM(CASE WHEN rel THEN CASE rnk $wCase END
        |                        ELSE 0 END) AS BIGINT) AS dcg_e6,
        |          CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
        |            AS hits,
        |          MIN(CASE WHEN rel THEN rnk END) AS minr
        |        FROM j GROUP BY 1),
        |nt AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_truth
        |       FROM truth GROUP BY 1)
        |SELECT nt.probe_id, nt.n_truth,
        |  COALESCE(per.hits, 0) AS hits,
        |  CAST((COALESCE(per.hits, 0) * 1000000) // nt.n_truth AS BIGINT)
        |    AS recall_e6,
        |  CAST(COALESCE(1000000 // per.minr, 0) AS BIGINT) AS mrr_e6,
        |  COALESCE(per.dcg_e6, 0) AS dcg_e6,
        |  CAST((COALESCE(per.dcg_e6, 0) * 1000000) //
        |    (CASE nt.n_truth $pCase END) AS BIGINT) AS ndcg_e6
        |FROM nt LEFT JOIN per USING (probe_id) ORDER BY probe_id""".stripMargin
      }),
    QueryDef("q117_mmr_diversified", q117,
      // the greedy walk as MmrK−1 generated CTE steps, each the literal
      // argmax the engine's loop iteration computes (same rounded scores,
      // same tie-break); λ and 1−λ are exact doubles in both dialects
      Some {
        val lam = MmrLambda
        val oneMinus = 1 - MmrLambda
        val steps = (2 to MmrK).map { k =>
          s"""s$k AS (
          |  SELECT probe_id, cand_id, $k AS step, mmr FROM (
          |    SELECT c.probe_id, c.cand_id,
          |      round($lam * c.rel - $oneMinus * coalesce(m.msim, 0), $ScoreDp)
          |        AS mmr,
          |      row_number() OVER (PARTITION BY c.probe_id ORDER BY
          |        round($lam * c.rel - $oneMinus * coalesce(m.msim, 0),
          |              $ScoreDp) DESC, c.cand_id) AS rn
          |    FROM r c
          |    LEFT JOIN (
          |      SELECT pr.probe_id, pr.cand_id, max(pr.s) AS msim
          |      FROM pr JOIN sel${k - 1} sl
          |        ON pr.probe_id = sl.probe_id AND pr.other_id = sl.cand_id
          |      GROUP BY 1, 2) m
          |      ON m.probe_id = c.probe_id AND m.cand_id = c.cand_id
          |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} sl
          |      WHERE sl.probe_id = c.probe_id AND sl.cand_id = c.cand_id))
          |  WHERE rn = 1),
          |sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
        |r0 AS (
        |  SELECT p.probe_id, e.vec_id AS cand_id,
        |    round(list_cosine_similarity(p.pv, e.v), $ScoreDp) AS rel, e.v
        |  FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
        |r AS MATERIALIZED (SELECT probe_id, cand_id, rel, v FROM (
        |        SELECT *, row_number() OVER (PARTITION BY probe_id
        |          ORDER BY rel DESC, cand_id) AS rn FROM r0)
        |      WHERE rn <= $MmrPool),
        |pr AS MATERIALIZED (
        |  SELECT a.probe_id, a.cand_id, b.cand_id AS other_id,
        |    round(list_cosine_similarity(a.v, b.v), $ScoreDp) AS s
        |  FROM r a JOIN r b
        |    ON a.probe_id = b.probe_id AND a.cand_id <> b.cand_id),
        |s1 AS (SELECT probe_id, cand_id, 1 AS step,
        |         round($lam * rel, $ScoreDp) AS mmr
        |       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        |         ORDER BY rel DESC, cand_id) AS rn FROM r) WHERE rn = 1),
        |sel1 AS MATERIALIZED (SELECT * FROM s1),
        |$steps
        |SELECT f.probe_id, f.step, f.cand_id, r.rel, f.mmr
        |FROM sel$MmrK f JOIN r
        |  ON r.probe_id = f.probe_id AND r.cand_id = f.cand_id
        |ORDER BY f.probe_id, f.step""".stripMargin
      }),
    QueryDef("q111_codebook_refresh", q111,
      // assignment CTEs are q39b's verbatim; the refresh tail is q96's
      // quantize-then-aggregate discipline, so every output column is an
      // exact BIGINT in both engines
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |s AS (SELECT v AS sv,
        |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |          AS cell
        |      FROM e ORDER BY vec_id LIMIT $IvfCells),
        |nd AS (SELECT e.vec_id, e.v, s.cell, list_distance(e.v, s.sv) AS d
        |       FROM e CROSS JOIN s),
        |a AS (SELECT vec_id, v, cell,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
        |          AS rn
        |      FROM nd),
        |asg AS (SELECT vec_id, v, cell FROM a WHERE rn = 1),
        |x AS (SELECT cell, CAST(i AS INT) AS dim,
        |        CAST(FLOOR(v[i] * 10000) AS BIGINT) AS q
        |      FROM asg, unnest(generate_series(1, len(v))) AS t(i)),
        |g AS (SELECT cell, dim, COUNT(*) AS n, SUM(q) AS sq
        |      FROM x GROUP BY 1, 2),
        |o AS (SELECT cell, CAST(i AS INT) AS dim,
        |        CAST(FLOOR(sv[i] * 1000000) AS BIGINT) AS old_e6
        |      FROM s, unnest(generate_series(1, len(sv))) AS t(i)),
        |r AS (SELECT o.cell, o.dim,
        |        CAST(COALESCE(g.n, 0) AS BIGINT) AS n,
        |        CASE WHEN g.n IS NOT NULL
        |             THEN CAST(FLOOR(CAST(g.sq AS DOUBLE) * 100 / g.n)
        |                       AS BIGINT)
        |             ELSE o.old_e6 END AS new_mean_e6,
        |        o.old_e6
        |      FROM o LEFT JOIN g USING (cell, dim))
        |SELECT cell, dim, n, new_mean_e6, old_e6,
        |  new_mean_e6 - old_e6 AS shift_e6
        |FROM r ORDER BY cell, dim""".stripMargin)),
    QueryDef("q122_pq_refresh", q122,
      // encode CTEs are q98b's verbatim (seed slices, per-(vector,
      // subspace) argmin); the refresh tail is q111's quantize-then-
      // aggregate discipline applied per (m, cw, dim), so every output
      // column is an exact BIGINT in both engines
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |s AS (SELECT v AS sv,
        |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |          AS cw
        |      FROM e ORDER BY vec_id LIMIT $PqCodewords),
        |ms AS (SELECT CAST(unnest(range($PqSubspaces)) AS INTEGER) AS m),
        |sub AS (SELECT ms.m, s.cw,
        |    s.sv[(len(s.sv)*ms.m)//$PqSubspaces + 1 :
        |         (len(s.sv)*(ms.m+1))//$PqSubspaces] AS csub
        |  FROM s CROSS JOIN ms),
        |enc AS (SELECT e.vec_id, sub.m, sub.cw,
        |    list_distance(e.v[(len(e.v)*sub.m)//$PqSubspaces + 1 :
        |                      (len(e.v)*(sub.m+1))//$PqSubspaces],
        |      sub.csub) AS d
        |  FROM e CROSS JOIN sub),
        |a AS (SELECT vec_id, m, cw,
        |        row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cw)
        |          AS rn
        |      FROM enc),
        |codes AS (SELECT vec_id, m, cw FROM a WHERE rn = 1),
        |x AS (SELECT c.m, c.cw, CAST(i AS INT) AS dim,
        |        CAST(FLOOR(e.v[(len(e.v)*c.m)//$PqSubspaces + i] * 10000)
        |             AS BIGINT) AS q
        |      FROM codes c JOIN e USING (vec_id),
        |        unnest(generate_series(1,
        |          (len(e.v)*(c.m+1))//$PqSubspaces -
        |          (len(e.v)*c.m)//$PqSubspaces)) AS t(i)),
        |g AS (SELECT m, cw, dim, COUNT(*) AS n, SUM(q) AS sq
        |      FROM x GROUP BY 1, 2, 3),
        |o AS (SELECT sub.m, sub.cw, CAST(i AS INT) AS dim,
        |        CAST(FLOOR(sub.csub[i] * 1000000) AS BIGINT) AS old_e6
        |      FROM sub, unnest(generate_series(1, len(sub.csub))) AS t(i)),
        |r AS (SELECT o.m, o.cw, o.dim,
        |        CAST(COALESCE(g.n, 0) AS BIGINT) AS n,
        |        CASE WHEN g.n IS NOT NULL
        |             THEN CAST(FLOOR(CAST(g.sq AS DOUBLE) * 100 / g.n)
        |                       AS BIGINT)
        |             ELSE o.old_e6 END AS new_mean_e6,
        |        o.old_e6
        |      FROM o LEFT JOIN g USING (m, cw, dim))
        |SELECT m, cw, dim, n, new_mean_e6, old_e6,
        |  new_mean_e6 - old_e6 AS shift_e6
        |FROM r ORDER BY m, cw, dim""".stripMargin)),
    QueryDef("q85_semantic_dedup", q85, Some(semanticDedupOracle)),
    // q104 = q85 through the ModelStore save→load seam; the reload is
    // bit-identical, so the SAME oracle hash pins the artifact round trip
    QueryDef("q104_semantic_dedup_served", q104, Some(semanticDedupOracle)),
    QueryDef("q93_embedding_outliers", q93,
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id AS seed_id, v AS sv FROM e
        |      ORDER BY vec_id LIMIT $OutlierSeeds),
        |d AS (
        |  SELECT e.vec_id, s.seed_id,
        |    round(1.0 - list_cosine_similarity(e.v, s.sv), $ScoreDp) AS d
        |  FROM e CROSS JOIN s),
        |a AS (SELECT vec_id, seed_id AS cluster_id, d,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, seed_id) AS rn
        |  FROM d),
        |c AS (SELECT vec_id, cluster_id, d FROM a WHERE rn = 1),
        |st AS (SELECT cluster_id, avg(d) AS mu, stddev_pop(d) AS sigma
        |       FROM c GROUP BY 1),
        |z AS (
        |  SELECT c.vec_id, c.cluster_id, c.d AS cos_dist,
        |    round(CASE WHEN st.sigma > 0 THEN (c.d - st.mu) / st.sigma
        |               ELSE 0.0 END, 4) AS z
        |  FROM c JOIN st USING (cluster_id))
        |SELECT vec_id, cluster_id, cos_dist, z, (z > $OutlierZ) AS is_outlier
        |FROM z ORDER BY vec_id""".stripMargin)),
    QueryDef("q92_hard_negatives", q92,
      Some(s"""WITH e AS (
        |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (SELECT id AS probe_id, label AS plabel, v AS pv
        |      FROM e WHERE id % $HardNegProbeEvery = 0),
        |sc AS (
        |  SELECT p.probe_id, e.id AS cand_id,
        |    round(list_cosine_similarity(p.pv, e.v), $ScoreDp) AS c
        |  FROM e JOIN p ON e.label <> p.plabel),
        |r AS (SELECT probe_id, cand_id, c,
        |    CAST(row_number() OVER (
        |      PARTITION BY probe_id ORDER BY c DESC, cand_id) AS INTEGER) AS rnk
        |  FROM sc WHERE c < $hardNegCeiling)
        |SELECT probe_id, rnk, cand_id, c AS cosine
        |FROM r WHERE rnk <= $HardNegK
        |ORDER BY probe_id, rnk""".stripMargin)),
    QueryDef("q82_bitext_margin", q82,
      Some(s"""WITH e AS (
        |  SELECT d.doc_id AS id, d.lang, CAST(emb.embedding AS DOUBLE[]) AS v
        |  FROM documents d JOIN embeddings emb ON d.doc_id = emb.vec_id),
        |p AS (SELECT id AS probe_id, v AS pv FROM e
        |      WHERE lang = 'en' AND id % $BitextProbeEvery = 0),
        |pairs AS (
        |  SELECT probe_id, id AS cand_id, list_cosine_similarity(pv, v) AS c
        |  FROM e, p WHERE e.lang <> 'en'),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY probe_id ORDER BY c DESC, cand_id) AS INTEGER) AS rnk
        |  FROM pairs),
        |top AS (
        |  SELECT probe_id,
        |    MAX(CASE WHEN rnk = 1 THEN cand_id END) AS best_id,
        |    MAX(CASE WHEN rnk = 1 THEN c END) AS c1,
        |    MAX(CASE WHEN rnk = 2 THEN c END) AS c2
        |  FROM r WHERE rnk <= 2 GROUP BY probe_id)
        |SELECT probe_id, best_id, round(c1, 6) AS best_score,
        |  round(c1 - c2, 6) AS margin
        |FROM top ORDER BY probe_id""".stripMargin)),
    QueryDef("q20_cosine_topk", q20,
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
        |pairs AS (
        |  SELECT probe_id, vec_id AS neighbor_id,
        |    list_cosine_similarity(pv, v) AS c
        |  FROM e, p WHERE vec_id <> probe_id),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM pairs)
        |SELECT probe_id, rnk, neighbor_id, round(c, 6) AS score
        |FROM r WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin)),
    QueryDef("q24_embedding_neardup", q24, Some(q24OracleSql)),
    QueryDef("q25_ann_lsh", q25, None),
    QueryDef("q39_ann_ivf", q39, None),
    // q39b pins the SAME ivfTopK code q39 runs, with an init-free codebook
    // (the IvfCells lowest-id vectors), so the IVF assignment/cell-join/rank
    // machinery gets a DuckDB hash row: assignment = argmin of euclidean
    // distance with lowest-cell tie-break (row_number over the seed cross
    // join — euclidean orders identically to nearestCells' squared form),
    // probe fan-out = top-IvfProbes of the same ranking.
    QueryDef("q39b_ann_ivf_seeded", q39b, Some(ivfSeededOracle)),
    QueryDef("q98_pq_adc", q98, None),
    // q98b pins the SAME pqAdcTopK encode→LUT→ADC-rank code q98 runs, with
    // the init-free lowest-id codebooks (q39b's idiom). The mirror encodes
    // by per-(vector, subspace) argmin over the seed slices, then rebuilds
    // the ADC sums by pivoting the per-subspace inner products into
    // m-ascending left-assoc additions — the engine's exact fold order.
    QueryDef("q98b_pq_adc_seeded", q98b,
      Some {
        val ipSum = (0 until PqSubspaces)
          .map(i => s"max(CASE WHEN m = $i THEN ip END)").mkString(" + ")
        val n2Sum = (0 until PqSubspaces)
          .map(i => s"max(CASE WHEN m = $i THEN q END)").mkString(" + ")
        s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |s AS (SELECT v AS sv,
        |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |          AS cw
        |      FROM e ORDER BY vec_id LIMIT $PqCodewords),
        |ms AS (SELECT CAST(unnest(range($PqSubspaces)) AS INTEGER) AS m),
        |sub AS (SELECT ms.m, s.cw,
        |    s.sv[(len(s.sv)*ms.m)//$PqSubspaces + 1 :
        |         (len(s.sv)*(ms.m+1))//$PqSubspaces] AS csub
        |  FROM s CROSS JOIN ms),
        |enc AS (SELECT e.vec_id, sub.m, sub.cw,
        |    list_distance(e.v[(len(e.v)*sub.m)//$PqSubspaces + 1 :
        |                      (len(e.v)*(sub.m+1))//$PqSubspaces],
        |      sub.csub) AS d
        |  FROM e CROSS JOIN sub),
        |a AS (SELECT vec_id, m, cw,
        |        row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cw)
        |          AS rn
        |      FROM enc),
        |codes AS (SELECT vec_id, m, cw FROM a WHERE rn = 1),
        |p AS (SELECT vec_id AS probe_id, v AS pv,
        |        list_inner_product(v, v) AS np2
        |      FROM e WHERE vec_id < 5),
        |parts AS (SELECT p.probe_id, c.vec_id AS neighbor_id, c.m, p.np2,
        |    list_inner_product(
        |      p.pv[(len(p.pv)*c.m)//$PqSubspaces + 1 :
        |           (len(p.pv)*(c.m+1))//$PqSubspaces], sub.csub) AS ip,
        |    list_inner_product(sub.csub, sub.csub) AS q
        |  FROM codes c JOIN sub ON sub.m = c.m AND sub.cw = c.cw
        |    CROSS JOIN p
        |  WHERE c.vec_id <> p.probe_id),
        |sc AS (SELECT probe_id, neighbor_id,
        |    CASE WHEN max(np2) > 0 AND ($n2Sum) > 0
        |         THEN ($ipSum) / (sqrt(max(np2)) * sqrt($n2Sum)) END AS adc
        |  FROM parts GROUP BY probe_id, neighbor_id),
        |sl AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY probe_id
        |      ORDER BY adc DESC NULLS LAST, neighbor_id) AS arnk
        |    FROM sc) WHERE arnk <= $PqShortlist),
        |ref AS (SELECT sl.probe_id, sl.neighbor_id,
        |    list_cosine_similarity(p.pv, n.v) AS c
        |  FROM sl JOIN p ON p.probe_id = sl.probe_id
        |    JOIN e n ON n.vec_id = sl.neighbor_id),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY probe_id ORDER BY c DESC, neighbor_id) AS INTEGER)
        |      AS rnk
        |  FROM ref)
        |SELECT probe_id, rnk, neighbor_id, round(c, $ScoreDp) AS score
        |FROM r WHERE rnk <= $TopK ORDER BY probe_id, rnk""".stripMargin
      }),
    QueryDef("q101_ivf_pq", q101, None),
    QueryDef("q103_ann_sweep", q103, None),
    QueryDef("q125_cluster_trim", q125,
      // q39b's seed/assignment CTEs, then the per-cell farthest rank on
      // the e6-rounded distance (the raw double never reaches the output)
      Some(s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE embedding IS NOT NULL),
      |s AS (SELECT v AS sv,
      |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
      |          AS cell
      |      FROM e ORDER BY vec_id LIMIT $IvfCells),
      |nd AS (SELECT e.vec_id, s.cell, list_distance(e.v, s.sv) AS d
      |       FROM e CROSS JOIN s),
      |a AS (SELECT vec_id, cell, d,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
      |          AS rn
      |      FROM nd),
      |asg AS (SELECT vec_id, cell, round(d, $ScoreDp) AS rd
      |        FROM a WHERE rn = 1),
      |r AS (SELECT vec_id, cell,
      |        CAST(row_number() OVER (
      |          PARTITION BY cell ORDER BY rd DESC, vec_id) AS INTEGER)
      |          AS far_rnk,
      |        count(*) OVER (PARTITION BY cell) AS cell_n
      |      FROM asg)
      |SELECT vec_id, cell, far_rnk, cell_n,
      |  (far_rnk <= cell_n // $TrimDecile) AS is_trimmed
      |FROM r ORDER BY cell, far_rnk""".stripMargin)),
    QueryDef("q126_cluster_sample", q126,
      // q39b's seed/assignment CTEs, then q89's deterministic md5 draw
      // ranked per cell — no doubles anywhere past the assignment
      Some(s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE embedding IS NOT NULL),
      |s AS (SELECT v AS sv,
      |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
      |          AS cell
      |      FROM e ORDER BY vec_id LIMIT $IvfCells),
      |nd AS (SELECT e.vec_id, s.cell, list_distance(e.v, s.sv) AS d
      |       FROM e CROSS JOIN s),
      |a AS (SELECT vec_id, cell,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
      |          AS rn
      |      FROM nd),
      |asg AS (SELECT vec_id, cell,
      |          md5('$ClusterSampleSalt' || CAST(vec_id AS VARCHAR)) AS dk
      |        FROM a WHERE rn = 1),
      |r AS (SELECT vec_id, cell,
      |        CAST(row_number() OVER (
      |          PARTITION BY cell ORDER BY dk, vec_id) AS INTEGER)
      |          AS pick_rnk,
      |        count(*) OVER (PARTITION BY cell) AS cell_n
      |      FROM asg)
      |SELECT vec_id, cell, pick_rnk, cell_n,
      |  (pick_rnk <= $ClusterSampleCap) AS is_kept
      |FROM r ORDER BY cell, pick_rnk""".stripMargin)),
    // q101b pins the SAME ivfPqTopK route→ADC→refine code q101 runs, with
    // ONE lowest-id seed set feeding both tiers: q39b's assignment CTEs
    // (s/nd/ar/asg/pc) produce the cell-mate pairs, q98b's encode/LUT CTEs
    // (sq/ms/sub/enc/ae/codes) produce the ADC sums over exactly those
    // pairs, then the shared shortlist + exact-refine CTEs finish — the
    // full production ANN stack under one DuckDB hash.
    QueryDef("q101b_ivf_pq_seeded", q101b, Some(ivfPqSeededOracle)),
    // q121 = q101b through the AnnIndex save→load seam; codes
    // are exact small ints so the parquet round trip is bit-lossless and
    // the SAME oracle hash pins the index-artifact lifecycle (q104's
    // contract one level down, applied to the data-sized artifact)
    QueryDef("q121_ivf_pq_served", q121, Some(ivfPqSeededOracle)),
    // q121b = the serve-only half off a SESSION-PERSISTENT index (built
    // once per JVM+corpus): the bench row that prices the production
    // steady state the SCALE.md amortization table measured by hand, under
    // the same q101b oracle (serving is deterministic given the index)
    QueryDef("q121b_ivf_pq_index_serve", q121b, Some(ivfPqSeededOracle)),
    QueryDef("q99_semantic_decon", q99,
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e
        |       WHERE vec_id % $SemDeconEvery = 0),
        |tr AS (SELECT vec_id, v FROM e WHERE vec_id % $SemDeconEvery <> 0),
        |sc AS (SELECT tr.vec_id, ev.eval_id,
        |    round(list_cosine_similarity(tr.v, ev.evv), $ScoreDp) AS c
        |  FROM tr CROSS JOIN ev),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY c DESC, eval_id) AS rn
        |  FROM sc),
        |best AS (SELECT vec_id, eval_id, c FROM r WHERE rn = 1)
        |SELECT tr.vec_id, best.eval_id, best.c AS cosine,
        |  coalesce(best.c >= $SemDedupCosine, FALSE) AS contaminated
        |FROM tr LEFT JOIN best USING (vec_id) ORDER BY vec_id""".stripMargin)),
    QueryDef("q99b_semantic_decon_ivf", q99b, None),
    QueryDef("q92b_hard_negatives_ivf", q92b, None),
    // q92c pins the SAME hardNegativesQuantized code q92b runs, with the
    // init-free lowest-id codebook (q39b's idiom): assignment + probe
    // fan-out mirror q39b's CTEs, then q92's cross-label gate and
    // rounded-cosine rank apply to cell-mates only.
    QueryDef("q92c_hard_negatives_seeded", q92c,
      Some(s"""WITH e AS (
        |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT v AS sv,
        |        CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell
        |      FROM e ORDER BY id LIMIT $IvfCells),
        |nd AS (SELECT e.id, s.cell, list_distance(e.v, s.sv) AS d
        |       FROM e CROSS JOIN s),
        |a AS (SELECT id, cell,
        |        row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
        |      FROM nd),
        |asg AS (SELECT id, cell FROM a WHERE rn = 1),
        |pc AS (SELECT id AS probe_id, cell FROM a
        |       WHERE id % $HardNegProbeEvery = 0 AND rn <= $IvfProbes),
        |sc AS (SELECT pc.probe_id, asg.id AS cand_id,
        |    round(list_cosine_similarity(p.v, n.v), $ScoreDp) AS c
        |  FROM asg JOIN pc USING (cell)
        |    JOIN e p ON p.id = pc.probe_id
        |    JOIN e n ON n.id = asg.id
        |  WHERE n.label <> p.label),
        |r AS (SELECT probe_id, cand_id, c,
        |    CAST(row_number() OVER (
        |      PARTITION BY probe_id ORDER BY c DESC, cand_id) AS INTEGER)
        |      AS rnk
        |  FROM sc WHERE c < $hardNegCeiling)
        |SELECT probe_id, rnk, cand_id, c AS cosine
        |FROM r WHERE rnk <= $HardNegK
        |ORDER BY probe_id, rnk""".stripMargin)),
    QueryDef("q48_neardup_exact", q48,
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.v, b.v), 6) >= $NearDupCosine
        |ORDER BY a_id, b_id""".stripMargin)),
    QueryDef("q134_int8_quant", q134,
      // quantize → integer max-abs scale → one exactly-representable
      // double division per code/recon (see q134 docs): every column an
      // exact BIGINT in both engines
      Some("""WITH x AS (
        |  SELECT CAST(i AS INT) AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |  WHERE embedding IS NOT NULL),
        |s AS (SELECT dim, greatest(max(abs(q)), 1) AS scale
        |      FROM x GROUP BY dim),
        |c AS (SELECT x.dim, s.scale, x.q,
        |    CAST(FLOOR(CAST(x.q * 127 AS DOUBLE) / s.scale) AS BIGINT)
        |      AS code
        |  FROM x JOIN s USING (dim)),
        |e AS (SELECT dim, scale, q, code,
        |    CAST(FLOOR(CAST(code * scale AS DOUBLE) / 127) AS BIGINT)
        |      AS recon
        |  FROM c)
        |SELECT dim, CAST(scale AS BIGINT) AS scale,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(abs(q - recon)) AS BIGINT) AS sum_err,
        |  CAST(MAX(abs(q - recon)) AS BIGINT) AS max_err,
        |  CAST(SUM(CASE WHEN code <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonzero
        |FROM e GROUP BY dim, scale ORDER BY dim""".stripMargin)),
    QueryDef("q136_matryoshka_fidelity", q136,
      // rankings only — the prefix cosines are the q20 contract's doubles
      // (same elements, same fold order), and only integer overlap counts
      // reach the output
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
        |d AS (SELECT CAST(unnest([${MatryoshkaDims.mkString(", ")}]) AS INT)
        |        AS prefix_dim),
        |pairs0 AS (
        |  SELECT probe_id, prefix_dim, vec_id AS neighbor_id,
        |    list_cosine_similarity(pv[1:prefix_dim], v[1:prefix_dim]) AS c0
        |  FROM e, p, d WHERE vec_id <> probe_id),
        |pairs AS (
        |  SELECT probe_id, prefix_dim, neighbor_id,
        |    CASE WHEN c0 IS NULL OR isnan(c0) THEN -2.0 ELSE c0 END AS c
        |  FROM pairs0),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY probe_id, prefix_dim
        |    ORDER BY c DESC, neighbor_id) AS rnk
        |  FROM pairs),
        |topk AS (SELECT probe_id, prefix_dim, neighbor_id
        |         FROM r WHERE rnk <= $TopK),
        |fd AS (SELECT probe_id, neighbor_id FROM topk
        |       WHERE prefix_dim = ${MatryoshkaDims.max})
        |SELECT t.probe_id, t.prefix_dim,
        |  CAST(SUM(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlap
        |FROM topk t LEFT JOIN fd f
        |  ON f.probe_id = t.probe_id AND f.neighbor_id = t.neighbor_id
        |GROUP BY t.probe_id, t.prefix_dim
        |ORDER BY t.probe_id, t.prefix_dim""".stripMargin)))
}
