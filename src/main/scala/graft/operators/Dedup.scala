package graft.operators

import graft.functions.expressions.sketch
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` (SURVEY §2.9 Q18/Q21 + the
  * LLM-pipeline dedup battery): exact hash dedup, MinHash+LSH banded
  * near-dup, SimHash near-dup, and probe-based n-gram Jaccard.
  *
  * 100 TB design rules:
  *  - exact dedup is one hash-shuffle on md5(text) — never on raw text;
  *  - near-dup candidate pairs come ONLY from LSH band buckets (banded
  *    signature join), never an all-pairs cross join; the band join key is a
  *    64-bit hash of the band slice so the shuffle key is fixed-width;
  *  - hot buckets (boilerplate docs) are bounded by verifying candidates
  *    with the exact measure immediately after the bucket join — AQE's
  *    skew-join split handles the shuffle side.
  */
object Dedup {

  /** Q18: exact dedup on md5(text), keeping the smallest doc_id. */
  def q18(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))

  // ---- MinHash + LSH (Q21) ------------------------------------------------

  /** Signature length and banding: 32 minhashes in 8 bands of 4 rows.
    * P(candidate) = 1-(1-j^4)^8 — ~0.97 at j=0.8, ~0.04 at j=0.2.
    */
  val MinhashK = 32
  val Bands    = 8
  val RowsPerBand: Int = MinhashK / Bands

  /** The classic universal-hash minhash family h_i(x) = a_i*x + b_i (mod
    * 2^64) over ONE base xxhash64 per shingle — strings are hashed once, not
    * k times. The pipeline computes it with the native MinHashBandKeysExpr
    * (codegen), which folds the minima straight into band keys — the
    * higher-order-function formulation benched ~10x slower at sf0.1.
    */
  val MinhashSeed = 0x5eedL

  /** Candidate near-dup pairs from banded LSH + exact Jaccard verification.
    * Input: (doc_id, text); output: (a_id, b_id, jaccard >= threshold).
    */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    nearDupPairsUnsorted(docs, threshold).orderBy(col("a_id"), col("b_id"))

  /** (doc_id, sh): hashed 3-shingle sets, computation spread over all cores.
    * Shingle-hash computation is the CPU hot spot: spread it over all cores
    * even when the input is a single small file/split (hash partitioning by
    * key, not round-robin, so the layout is deterministic). No
    * size()-filter here — it would be pushed below the exchange and
    * re-evaluate the whole shingle expression in the (serial) scan stage;
    * docs with no shingles get a null band-key array, which explode drops.
    * Tokenize+hash+chain fully native: hashing the token list through an
    * xxhash64 lambda is CodegenFallback and de-optimizes the whole
    * projection (equality with that lambda form asserted in DedupSpec).
    */
  private def shingledDocs(docs: DataFrame): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .repartition(cores, col("doc_id"))
      .select(
        col("doc_id"),
        sketch.shingleFromHashes(sketch.tokenHashes(col("text")), 3).as("sh"))
  }

  /** One row per (band_key, doc). Band keys come from ONE native-expression
    * evaluation per row (minima + per-band mixing in one pass) — slicing a
    * materialized signature in a later projection re-evaluates it per band
    * after CollapseProject inlining.
    */
  private def bandedKeys(shingled: DataFrame): DataFrame =
    shingled.select(
      col("doc_id"),
      explode(sketch.minhashBandKeys(col("sh"),
        MinhashK, Bands, MinhashSeed)).as("band_key"))

  /** Attach shingle sets to candidate (a_id, b_id) pairs and keep those at
    * or above the exact-Jaccard threshold. Jaccard over hashed shingles:
    * identical to string-shingle Jaccard up to 2^-64-scale collisions, at a
    * fraction of the compare cost.
    */
  private def verifyJaccard(pairs: DataFrame, aSh: DataFrame, bSh: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(aSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        Seq("a_id"))
      .join(bSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The pair pipeline without the presentation sort — composition inside
    * q76's verdict consumes the pairs as a join input, where a sort is
    * wasted work. Only ids travel through the band join; a true near-dup
    * collides in most of its 8 bands, so deduping pairs BEFORE fetching
    * shingles and scoring avoids recomputing the Jaccard (and shipping the
    * arrays) once per shared band.
    */
  def nearDupPairsUnsorted(docs: DataFrame, threshold: Double): DataFrame = {
    val shingled = shingledDocs(docs)
    val banded = bandedKeys(shingled)
    val pairs = banded.select(col("band_key"), col("doc_id").as("a_id"))
      .join(banded.select(col("band_key"), col("doc_id").as("b_id")),
        Seq("band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    verifyJaccard(pairs, shingled, shingled, threshold)
  }

  /** Q21 over the documents table (rows-only for the driver; recall is
    * property-checked against exact all-pairs Jaccard in DedupSpec).
    */
  def q21(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      threshold = 0.8)

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash of the doc's tokens: bit b is set when the sum of
    * (+1/-1) over tokens' xxhash64 bit b is positive. Pure per-row
    * expression — zero shuffles to fingerprint a corpus. Tokens are hashed
    * once (built-in xxhash64), the 64-bit balance loop runs in the native
    * SimHash64Expr (codegen).
    */
  def simhash(tokens: Column): Column =
    sketch.simhash64(transform(tokens, t => xxhash64(t)))

  /** SimHash near-dup pairs: pigeonhole banding — any pair within Hamming
    * distance 3 shares at least one of the 4 exact 16-bit chunks, so
    * candidates come from a chunk-equality join, verified by bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val fp = docs.repartition(cores, col("doc_id"))
      .select(col("doc_id").as("id"),
        // native tokenize+hash feeding the native simhash — one codegen'd
        // projection, no interpreted lambda dispatch per token
        sketch.simhash64(sketch.tokenHashes(col("text"))).as("fp"))
    hammingPairs64(fp, maxHamming).orderBy(col("a_id"), col("b_id"))
  }

  /** Pigeonhole Hamming pair join over ANY 64-bit fingerprint frame
    * (columns `id`, `fp`) — shared by SimHash (q22) and the perceptual
    * image hash (q77): a pair within Hamming distance 3 shares at least one
    * of the 4 exact 16-bit chunks, so candidates come from a chunk-equality
    * join, verified by bit_count(xor). Output: (a_id, b_id, hamming),
    * unsorted.
    */
  def hammingPairs64(fp: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < 4,
      s"4-chunk pigeonhole guarantees recall only below Hamming 4 (got $maxHamming)")
    // chunk key = (chunk#, 16 fp bits) packed into one long. A plain long
    // (not a struct) so a null fingerprint (token-less doc) propagates to a
    // null key and drops out of the equi-join — struct keys would treat
    // null fields as equal and pair all null-payload rows at "hamming 0".
    val chunked = fp.select(col("id"), col("fp"),
      explode(array((0 until 4).map(i =>
        lit(i.toLong << 16).bitwiseOR(
          shiftright(col("fp"), i * 16).bitwiseAND(lit(0xffffL)))): _*))
        .as("chunk"))
    // Unlike the jaccard/cosine pipelines, the verification here
    // (bit_count over two longs) is cheaper than a dedupe-then-refetch
    // round trip, so the 8-byte fingerprint rides along the chunk join and
    // duplicate pairs are dropped after scoring.
    val a = chunked.select(col("chunk"), col("id").as("a_id"), col("fp").as("a_fp"))
    val b = chunked.select(col("chunk"), col("id").as("b_id"), col("fp").as("b_fp"))
    a.join(b, Seq("chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def q22(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      maxHamming = 3)

  // ---- n-gram Jaccard (probe-based, oracle-checked) -----------------------

  /** Exact 3-gram Jaccard of 5 probe docs against the corpus — the
    * oracle-checkable face of the near-dup measure (probes broadcast; no
    * cross join of the corpus with itself).
    */
  def q23(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(
        col("doc_id"),
        array_distinct(graft.functions.text.wordNgrams(col("text"), 3)).as("g"))
    val probes = grams.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("g").as("pg"))
    grams.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id"),
        (size(array_intersect(col("pg"), col("g"))).cast("double") /
          size(array_union(col("pg"), col("g")))).as("jaccard"))
      .orderBy(col("probe_id"), col("doc_id"))
  }

  // ---- dup-cluster resolution (connected components) ----------------------

  /** Directed edge count at or below which [[connectedComponents]]
    * collects its graph and finishes on the driver: 2^20 id pairs are
    * 16 MB, and union-find over them takes well under a second, where each
    * distributed round is at least two jobs.
    */
  val DriverFinishEdges: Long = 1L << 20

  /** Connected components by iterative min-label propagation: every node
    * starts labeled with itself; each round every node takes the minimum
    * label among itself and its neighbors, until a fixpoint. The result
    * label is the component's minimum id — exactly the "keep the smallest
    * id per duplicate cluster" rule the exact dedup (q18) applies, lifted
    * to transitive NEAR-duplicate clusters (near-dup is not transitive, so
    * pair output alone under-deletes: a~b, b~c must collapse to one keeper
    * even when a~c is below threshold).
    *
    * Scale shape: each round is a shuffle join (edges ⋈ labels on the node
    * id) plus a POINTER JUMP (labels ⋈ labels: v also takes lab(lab(v))),
    * then one min-aggregate; the jump makes convergence O(log diameter)
    * instead of O(diameter) — measured on the fixture graph (diameter 16):
    * 4 counted rounds instead of 16 (since r18 the init IS the
    * post-round-1 state, so a graph needs one fewer loop round than under
    * the pre-r18 convention — `maxRounds` bounds the loop rounds, and
    * DedupSpec pins a diameter-32 path at `maxRounds = 9`).
    * [[Materialize]] truncates the lineage so
    * round N's plan doesn't replay rounds 1..N-1. The only driver-side
    * value per round is one scalar (the label sum, which strictly decreases
    * until the fixpoint — the convergence test needs no row-level diff
    * join). The fixpoint is exactly component-min: labels only travel
    * edges, and a fixpoint under neighbor-min forces labels constant per
    * component, pinned at the minimum id.
    *
    * Driver finish (the MapReduce connected-components practice of
    * Kiveris et al.: distributed rounds until the graph fits one machine,
    * then finish there): once the edge set is at most `driverEdges` rows
    * it is collected and union-find gives the component minima directly.
    * A graph that fits runs no round at all; a larger one runs the
    * distributed rounds to the fixpoint.
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      maxRounds: Int = 25,
      driverEdges: Long = DriverFinishEdges): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val (edges0, nEdges) = Materialize.observed(pairs
      .select(col("a_id").as("s"), col("b_id").as("d"))
      .union(pairs.select(col("b_id").as("s"), col("a_id").as("d"))))
    val labels =
      if (nEdges <= driverEdges) {
        // the whole graph fits: only nodes that are not their component's
        // minimum need a row (the final join labels the rest with v)
        val (v, lab) = componentMins(edges0.as[(Long, Long)].collect())
        v.indices.filter(i => v(i) != lab(i)).map(i => (v(i), lab(i)))
          .toDF("v", "lab")
      } else propagate(edges0, maxRounds)
    ids.join(labels, Seq("v"), "left")
      .select(col("v"), coalesce(col("lab"), col("v")).as("lab"))
  }

  /** [[connectedComponents]]' distributed rounds over the checkpointed
    * bidirectional edge set: (v, lab) for every edge-incident node.
    */
  private def propagate(edges0: DataFrame, maxRounds: Int): DataFrame = {
    var edges = edges0
    // Only edge-incident nodes iterate — at production dup rates that is a
    // few percent of the corpus; everyone else is a singleton (lab = v)
    // resolved by one post-loop join, never shuffled per round.
    //
    // The convergence scalar (label sum, strictly decreasing until the
    // fixpoint) rides the SAME job as the label materialization via
    // `observe` (r19): the checkpoint action fires the CollectMetrics
    // node, so the sum costs zero extra jobs — previously each round paid
    // a separate scan-the-checkpoint aggregation job, pure scheduling
    // latency at per-round data sizes (guide §1.2: the distributed
    // algorithm's job COUNT is the wall here, not data volume). The label
    // math is untouched; DedupSpec's exactness + union-find cross-checks
    // pin it.
    def labSum: Column = coalesce(sum(col("lab")), lit(0L)).as("s")
    // Init = the post-round-1 state computed directly (r18): with identity
    // labels, round 1's neighbor-min is min(v, min incoming source) and
    // its pointer jump contributes only identity rows — so labels can
    // START there for the cost of the identity checkpoint alone (every
    // active node appears as a source, edges being bidirectional). One
    // full round of next-checkpoint + labSum + contraction jobs gone from
    // every CC call; the loop's first iteration then runs over the
    // ORIGINAL edge set (round 2 previously saw it contracted — the
    // contraction is a per-round optimization, not a correctness input,
    // so the fixpoint is unchanged; exactness + contraction-soundness +
    // union-find cross-check specs in DedupSpec pin this).
    val (labels0, labSum0) = Materialize.observed(
      edges.select(col("s").as("v"), col("s").as("lab"))
        .union(edges.select(col("d").as("v"), col("s").as("lab")))
        .groupBy(col("v")).agg(min(col("lab")).as("lab")), labSum)
    var labels = labels0
    var cur = labSum0
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      val neigh = edges.join(labels, edges("s") === labels("v"))
        .select(col("d").as("v"), col("lab"))
      // Pointer jump: v takes lab²(v) off the CHECKPOINTED labels frame.
      // Probed deeper hops (lab⁴ via chained joins) in r19: round count
      // did not move on the fixture graphs (5 stays 5 — propagation is
      // edge-hop-bound under the per-round contraction, not pointer-depth
      // bound), so the extra intra-job joins were pure cost and lab²
      // stays.
      val jump = labels.select(col("v"), col("lab").as("ptr"))
        .join(labels.select(col("v").as("ptr2"), col("lab")),
          col("ptr") === col("ptr2"))
        .select(col("v"), col("lab"))
      val (next, nextSum) = Materialize.observed(
        labels.union(neigh).union(jump)
          .groupBy(col("v")).agg(min(col("lab")).as("lab")), labSum)
      done = nextSum == cur
      cur = nextSum
      labels = next
      // Convergence is decided BEFORE the edge rewrite below: in the
      // fixpoint round the contracted edge set is dead weight (the loop
      // exits without reading it), so the final round skips one full
      // join-join-distinct-checkpoint job per connectedComponents call —
      // measured r18, one scheduling-bound job off each of the 7 CC
      // consumers (q56/q56b/q76/q78/q87/q88/q113) with labels untouched.
      //
      // Edge contraction (the large-star/small-star relabeling, Kiveris et
      // al., "Connected Components in MapReduce and Beyond"): an edge
      // (u,v) with lab(u) != lab(v) is a WITNESS that those two labels
      // belong together — rewrite it to the label pair; an edge whose
      // endpoints agree needs no witness (both follow their shared label's
      // future improvements through the pointer jump) and is dropped with
      // the self-loop filter. Dup-heavy graphs collapse brutally: the
      // sf1skew 2.48M-edge pair graph shrinks to 5,460 directed edges
      // after round 1 (SCALE.md "CC edge contraction": 36% wall win, 8 -> 6
      // rounds, labels bit-identical). NOTE: merely DROPPING settled edges
      // without relabeling the rest is unsound — a settled triangle loses
      // all incident edges and its stale label never improves (measured:
      // 23k-row drift) — the rewrite to label space is what keeps the min
      // flowing between label nodes.
      // NOTE (r19, measured): the contraction must run EVERY non-final
      // round even when the edge frame is tiny — it is not just a size
      // optimization; rewriting edges to label space plants shortcuts
      // that drive the O(log d) convergence. A probed "skip contraction
      // below 65k edges" policy blew the round count up (q56 5 -> 7,
      // q56b 5 -> 13 rounds) and cost more in extra rounds than it saved
      // in contraction jobs.
      if (!done) edges = edges
        .join(next.select(col("v").as("s"), col("lab").as("ls")), Seq("s"))
        .join(next.select(col("v").as("d"), col("lab").as("ld")), Seq("d"))
        .filter(col("ls") =!= col("ld"))
        .select(col("ls").as("s"), col("ld").as("d")).distinct()
        .transform(Materialize(_))
      round += 1
    }
    require(done, s"connectedComponents did not converge in $maxRounds rounds")
    labels
  }

  /** Union-find over an undirected edge list, on the driver: (every node
    * id, sorted; its component's minimum id). Every union links the larger
    * root under the smaller, and ids are indexed in sorted order, so each
    * root IS its component's minimum.
    */
  private def componentMins(
      edges: Array[(Long, Long)]): (Array[Long], Array[Long]) = {
    val ids = edges.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val up = parent(j); parent(j) = r; j = up }
      r
    }
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(at(a)), find(at(b)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (ids, ids.indices.map(i => ids(find(i))).toArray)
  }

  /** q56: near-dup cluster resolution over the exact cosine pair graph
    * (q48) — every vector gets its cluster representative (min vec_id in
    * its component) and the keep/drop decision. The complete dedup verdict
    * a curation pipeline applies after pair generation. EXACT ANCHOR: the
    * pair input is all-pairs O(n²) by construction (like q48/q82/q99 —
    * excluded from scale sweeps on that ground); the production plan at
    * 100 TB is [[q56b]], the same component tail over q24's linear LSH
    * bucketed pairs.
    *
    * Bench note: inherently iterative — O(log diameter) sequential rounds,
    * each a Spark job (the fixture graph takes 4). Local wall time is
    * job-scheduling latency, not data volume; per-round data is one
    * (id, label) pair frame over edge-incident nodes only.
    */
  def q56(spark: SparkSession, dir: String): DataFrame =
    dupClusters(spark, dir, Similarity.q48(spark, dir))

  /** q56b: the PRODUCTION twin of q56 — the identical connected-components
    * tail fed by q24's LSH bucketed pair generator instead of the exact
    * all-pairs anchor. This is the pairing q56's scaladoc promises (and
    * VERDICT r17's #1 ask): q56 is the correctness anchor whose pair input
    * is O(n²) by construction (like q48/q82/q99 — excluded from scale
    * sweeps for that stated reason); q56b is the plan that runs at 100 TB —
    * pair mass Σ|bucket|² ≈ NTables·n·256 (linear, planes scale with n),
    * then the same O(log diameter) label-propagation rounds over
    * edge-incident nodes only.
    *
    * Oracle: the same recursive-CTE component query as q56, but over the
    * MIRRORED LSH pair set ([[Similarity.lshPairCtes]] — the hyperplane
    * sign matrix embedded as ±literals, bucket bits bit-exact with the
    * native expression), so the whole LSH → CC pipeline is hash-checked,
    * not just rows-counted.
    */
  def q56b(spark: SparkSession, dir: String): DataFrame =
    dupClusters(spark, dir, Similarity.q24(spark, dir))

  /** Shared q56/q56b tail: CC over a (a_id, b_id, …) pair frame, every
    * vector labeled with its component representative (min vec_id) and the
    * keep/drop verdict.
    */
  private def dupClusters(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame =
    connectedComponents(
      Tables.embeddings(spark, dir).select(col("vec_id").as("v")),
      pairs.select(col("a_id"), col("b_id")))
      .select(col("v").as("vec_id"), col("lab").as("rep_id"),
        (col("lab") === col("v")).as("is_kept"))
      .orderBy(col("vec_id"))

  // ---- Span-level exact substring dedup (q74) -----------------------------

  /** Duplicated-span window length, in tokens. 8 is small for production
    * (the suffix-array dedup literature uses ~50-token spans) but the same
    * plan runs at any n — the fixture's planted near-dup docs share spans
    * at this length.
    */
  val SpanTokens = 8

  /** q74: span-level exact-duplicate profiling — for each document, how many
    * of its 8-token windows (stride 1, multiplicity kept) occur at least
    * twice in the corpus (any position, same or another doc). The span
    * analogue of doc-level exact dedup (q18): doc-level hashing misses
    * boilerplate/quotation overlap between otherwise-distinct documents,
    * which is exactly what span counting surfaces. Downstream, a curation
    * pipeline drops docs above a dup_ratio threshold or cuts the flagged
    * spans.
    *
    * Shape for 100 TB: tokenize+chain-hash is ONE codegen'd pass per row
    * (native expressions, no HOF); the exploded (doc_id, gram_hash) frame is
    * hash-partitioned ONCE by gram hash, and everything until the final
    * per-doc rollup stays on that partitioning with no further wide
    * exchange: the per-(gh, doc) multiplicity agg, the per-gh total agg over
    * the collapsed frame, and their join are all gh-clustered. Hot
    * boilerplate grams collapse to one row per containing doc BEFORE the
    * join, so skew is bounded by doc count per gram, not occurrence count;
    * the shuffle key is a fixed-width 64-bit chain hash, never gram text.
    */
  def q74(spark: SparkSession, dir: String): DataFrame =
    spanDupProfile(Tables.documents(spark, dir))

  /** The q74 core over any (doc_id, text) frame — planted-corpus specs run
    * it directly.
    */
  def spanDupProfile(docs: DataFrame): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val grams = docs
      // explicit isnotnull(doc_id): the final restore join pushes this
      // filter into the multiplicity branch anyway; stating it on BOTH
      // branches makes their subtrees canonical-equal up through the gh
      // exchange, so ReuseExchange plans ONE scan+tokenize+explode+shuffle
      // instead of two (PlanSpec pins this)
      .filter(col("doc_id").isNotNull)
      // spread the tokenize+hash CPU across cores even for a one-split file
      .repartition(cores, col("doc_id"))
      .select(col("doc_id"),
        explode(sketch.gramHashes(
          sketch.tokenHashes(col("text")), SpanTokens)).as("gh"))
      .repartition(cores, col("gh"))
    // multiplicity of each gram within each doc — gh-clustered, so the two
    // aggs and the join below need no additional exchange
    val perDocGram = grams.groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("k"))
    val totals = perDocGram.groupBy(col("gh")).agg(sum(col("k")).as("c"))
    val per = perDocGram.join(totals, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_windows"),
        sum(when(col("c") > 1, col("k")).otherwise(0L)).as("dup_windows"))
    // docs shorter than SpanTokens have no windows at all: restore them via
    // an ids-only (column-pruned) left join so every doc_id appears
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        round(coalesce(col("dup_windows"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_windows"), lit(0L)), lit(1L)), 4)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q84: span-cut cleaning — the ACTION to q74's profile (the
    * exact-substring-dedup step of the dedup literature): every 8-token
    * window occurring ≥2× corpus-wide is cut from every document (covered
    * token positions removed, overlapping windows merging naturally), and
    * the surviving tokens are reassembled in order. Output per doc: token
    * counts before/after and the cleaned text.
    *
    * Shape for 100 TB: q74's positional gram pipeline (ONE codegen'd
    * tokenize+chain pass, one wide shuffle on the 64-bit gram key) plus a
    * doc-keyed rollup of flagged start positions; the final cut is a
    * per-row expression over (tokens, starts) — no extra corpus shuffle.
    * The exists() scan per token is O(flagged starts) with starts bounded
    * by doc length; fine for the corpus-cleaning pass it is.
    */
  def q84(spark: SparkSession, dir: String): DataFrame =
    spanCut(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The q84 core over any (doc_id, text) frame. */
  def spanCut(docs: DataFrame): DataFrame = sortedCut(spanCutUnsorted(docs))

  /** [[spanCut]] without the materialization and the presentation sort. */
  def spanCutUnsorted(docs: DataFrame): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val grams = docs
      .filter(col("doc_id").isNotNull)
      .repartition(cores, col("doc_id"))
      .select(col("doc_id"),
        posexplode(sketch.gramHashes(
          sketch.tokenHashes(col("text")), SpanTokens)).as(Seq("pos", "gh")))
      .repartition(cores, col("gh"))
    // per-(gh,doc) multiplicity first (map-side combine bounds hot grams by
    // doc count), then corpus totals — q74's exact shape
    val perDocGram = grams.groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("k"))
    val dupGh = perDocGram.groupBy(col("gh")).agg(sum(col("k")).as("c"))
      .filter(col("c") >= 2).select(col("gh"))
    val flagged = grams.join(dupGh, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    cutFlagged(docs, flagged)
  }

  /** q84/q86's presentation: the presentation sort's range sampling would
    * re-execute the join + the per-token zip_with/exists cut chain (the
    * expensive part of the cut), so the finished rows are materialized
    * once (q112/q141's lesson) and sorted from the checkpoint. PlanSpec
    * pins the plan this checkpoint action executes, read off Spark's
    * query-execution listener (the checkpoint truncates the frame's own
    * visible plan to a scan+sort, exactly like q88's staged frames).
    */
  private def sortedCut(cut: DataFrame): DataFrame =
    Materialize(cut).orderBy(col("doc_id"))

  /** Shared cut tail of q84/q86: given (doc_id, text) rows and per-doc
    * sorted flagged window starts, remove every covered token position
    * (overlapping windows merging naturally) and reassemble survivors in
    * order. Pure per-row expressions after the doc-keyed join — no extra
    * corpus shuffle.
    */
  private def cutFlagged(docs: DataFrame, flagged: DataFrame): DataFrame =
    docs.join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // null-input parity with the oracle's coalesce-to-0/'' tail: a null
        // text tokenizes to NULL (size would read -1) and a null doc_id never
        // entered the gram pipeline at all — both must come out as
        // (0 tokens, 0 cut, '') exactly like the SQL's LEFT JOIN + coalesce
        when(col("doc_id").isNotNull,
          coalesce(graft.functions.text.cleanTokens(col("text")),
            array().cast("array<string>")))
          .otherwise(array().cast("array<string>")).as("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        filter(zip_with(col("toks"),
            sequence(lit(0), greatest(size(col("toks")), lit(1)) - 1),
            (t, i) => when(!exists(col("starts"),
              s => i >= s && i < s + lit(SpanTokens)), t)),
          x => x.isNotNull).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_cut"),
        array_join(col("kept"), " ").as("cleaned"))

  /** q86: benchmark decontamination SURGERY — the remove step downstream of
    * q57/q66's detection (window semantics shared with q84): every 8-token
    * window of a TRAIN document that exactly matches any window of an eval
    * document (doc_id % evalEvery == 0, q57's split) is cut, and survivors
    * reassemble in order. Dropping whole contaminated docs — the blunt
    * alternative — wastes the clean 99% of a doc that quotes one benchmark
    * item; the surgical cut keeps it. Output: the cleaned TRAIN corpus
    * (eval docs are the benchmark — never rewritten).
    *
    * Shape for 100 TB: benchmark gram sets are SMALL by nature (q66's
    * premise), so flagging is a BROADCAST of distinct eval gram hashes
    * against the one codegen'd tokenize+chain-hash pass over train — unlike
    * q84 there is no corpus-wide gram shuffle at all; the only wide op is
    * the doc-keyed rollup of flagged starts.
    */
  def q86(spark: SparkSession, dir: String): DataFrame =
    decontaminateCut(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      Pipeline.EvalEvery)

  /** The q86 core over any (doc_id, text) frame with a parameterized eval
    * split — planted-corpus specs run it directly.
    */
  def decontaminateCut(docs: DataFrame, evalEvery: Long): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs.filter(col("doc_id").isNotNull)
    val train = base.filter(col("doc_id") % evalEvery =!= 0)
    val evalGh = base.filter(col("doc_id") % evalEvery === 0)
      .repartition(cores, col("doc_id"))
      .select(explode(sketch.gramHashes(
        sketch.tokenHashes(col("text")), SpanTokens)).as("gh"))
      .distinct()
    val flagged = train
      .repartition(cores, col("doc_id"))
      .select(col("doc_id"),
        posexplode(sketch.gramHashes(
          sketch.tokenHashes(col("text")), SpanTokens)).as(Seq("pos", "gh")))
      .join(broadcast(evalGh), Seq("gh"))
      // doc_id partitioning survives the broadcast join, so this rollup
      // needs no exchange
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    sortedCut(cutFlagged(train, flagged))
  }

  // ---- End-to-end dedup verdict (q76) -------------------------------------

  /** q76: the per-document dedup VERDICT a curation run actually ships —
    * every doc_id gets (rep_id, kept, reason), composed from the family's
    * production pieces end-to-end:
    *   1. exact stage (q18's key): group on md5(text), keeper = min doc_id;
    *      non-keepers drop with reason 'exact';
    *   2. near-dup stage over the exact survivors only: banded MinHash-LSH
    *      candidates verified by exact Jaccard (q21's pipeline, threshold
    *      0.8) — never all-pairs;
    *   3. cluster resolution (q56's pointer-jumped component-min): each
    *      component keeps its min doc_id; other members drop with reason
    *      'near';
    *   4. every doc maps to its FINAL representative transitively: an exact
    *      copy of a near-dup loser points at the cluster rep that actually
    *      survives, not at its dropped exact keeper.
    *
    * Shape for 100 TB: one md5 hash shuffle (exact stage), ids-only banded
    * joins for candidates, CC over edge-incident keepers only (a few
    * percent of the corpus at production dup rates), then two id-to-id
    * joins to fan the verdict back out. No stage touches raw text twice.
    *
    * The oracle mirrors the near-dup graph with exact all-pairs Jaccard +
    * a recursive-CTE component-min — at fixture scale LSH recall at
    * j >= 0.8 is total (planted dups sit far above the band threshold), so
    * the graphs coincide; divergence would surface as a hash mismatch.
    */
  def q76(spark: SparkSession, dir: String): DataFrame =
    dedupVerdict(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      threshold = 0.8)

  /** The q76 core over any (doc_id, text) frame — planted-corpus specs run
    * it directly.
    */
  def dedupVerdict(docs: DataFrame, threshold: Double): DataFrame =
    exactThenNearClusters(docs, threshold)
      .select(col("doc_id"), col("lab").as("rep_id"),
        (col("doc_id") === col("lab")).as("kept"),
        when(col("doc_id") === col("lab"), lit("kept"))
          .when(col("doc_id") =!= col("keeper"), lit("exact"))
          .otherwise(lit("near")).as("reason"))
      .orderBy(col("doc_id"))

  /** q76's and q113's shared cluster resolution over a (doc_id, text)
    * frame: every doc_id with its exact keeper (min doc_id per md5 of the
    * text) and `lab`, the near-dup component label of that keeper (LSH +
    * exact Jaccard ≥ `threshold` pairs over the exact survivors,
    * pointer-jumped to the component min). Columns: doc_id, keeper, v, lab.
    */
  private def exactThenNearClusters(docs: DataFrame,
      threshold: Double): DataFrame = {
    // keyed feeds keepers + doc2keeper, keepers feeds three consumers —
    // materialize both (ids+hash only, tiny) so no branch re-runs the
    // corpus scan+md5 through lineage (same fix measured on q78)
    val keyed = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h"))
      .transform(Materialize(_))
    val keepers = keyed.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
      .transform(Materialize(_))
    val doc2keeper = keyed.join(keepers, Seq("h"))
      .select(col("doc_id"), col("keeper"))
    // near-dup runs on the exact survivors only: exact copies of a keeper
    // would land in the same LSH buckets and re-verify the same Jaccard
    // without changing any component
    val keeperDocs = docs
      .join(keepers.select(col("keeper").as("doc_id")), Seq("doc_id"))
    val pairs = nearDupPairsUnsorted(keeperDocs, threshold)
      .select(col("a_id"), col("b_id"))
    val comp = connectedComponents(
      keepers.select(col("keeper").as("v")), pairs)
    doc2keeper.join(comp, doc2keeper("keeper") === comp("v"))
  }

  /** q113: quality-keeper dedup — q76's cluster resolution with the
    * production keeper POLICY: instead of the arbitrary min-id member, each
    * near-dup cluster keeps its HIGHEST-QUALITY member by the q94
    * classifier score (mean_e6, ties to the lowest doc_id). This is what
    * RefinedWeb/FineWeb-class pipelines actually ship — dedup decides the
    * cluster, quality decides the survivor — and it changes real outcomes:
    * a cleaned near-copy beats the boilerplate-ridden original that
    * happened to arrive first. Exact copies share a text hence a score, so
    * the tie-break keeps the lowest-id copy of the best text — min-id
    * semantics recovered exactly where quality cannot distinguish.
    *
    * Output per doc: its cluster (rep_id — the min-label component name,
    * stable regardless of policy), the policy's keeper_id, the kept
    * verdict, and the score the decision used.
    *
    * Shape for 100 TB: q76's own machinery end to end (one md5 shuffle,
    * ids-only banded joins on exact survivors, contracted CC), plus ONE
    * extra map-side-combinable aggregate: the argmax is min(struct(-score,
    * id)) per cluster (q93/q99's idiom — a window would shuffle full
    * membership rows), and scoring rides the corpus scan in codegen (q94).
    */
  def q113(spark: SparkSession, dir: String): DataFrame =
    qualityKeeperDedup(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      threshold = 0.8)

  /** The q113 core over any (doc_id, text) frame — planted specs run it
    * directly.
    */
  def qualityKeeperDedup(docs: DataFrame, threshold: Double): DataFrame = {
    val membership = exactThenNearClusters(docs, threshold)
      .select(col("doc_id"), col("lab").as("rep_id"))
    // scored feeds the per-cluster argmax AND the final join-back — the r18
    // baseline plan re-executed the q94 token-explode scoring pass (plus
    // the membership joins) once per consumer, and the trailing
    // presentation sort range-samples the final join a third time.
    // 4 narrow columns/doc; materialize once (the q88 funnel's clf lesson).
    val scored = membership.join(
      TextAnalysis.classifierScoresUnsorted(docs)
        .select(col("doc_id"), col("mean_e6")),
      Seq("doc_id"))
      .transform(Materialize(_))
    // keeper = argmax (mean_e6, -doc_id): a map-side-combined min(struct),
    // never a cluster-partitioned window
    val best = scored.groupBy(col("rep_id"))
      .agg(min(struct((-col("mean_e6")).as("neg"), col("doc_id").as("kid")))
        .as("b"))
      .select(col("rep_id"), col("b.kid").as("keeper_id"))
    scored.join(best, Seq("rep_id"))
      .select(col("doc_id"), col("rep_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("kept"), col("mean_e6"))
      .orderBy(col("doc_id"))
  }

  // ---- Incremental ingestion dedup (q78) ----------------------------------

  /** q78: incremental dedup — the shape a LIVE pipeline runs on every new
    * ingestion batch, where re-deduping the whole corpus (q76) is not an
    * option. Each NEW doc gets a verdict against (1) the existing corpus,
    * then (2) the batch itself, in strict priority order:
    *   exact_corpus — md5 matches an existing doc (matched = min such id);
    *   near_corpus  — LSH+Jaccard >= 0.8 vs an existing doc (matched = min);
    *   exact_batch  — md5 matches an earlier doc in the batch (matched =
    *                  the batch keeper);
    *   near_batch   — near-dup cluster loser within the batch (matched =
    *                  the component rep, via the pointer-jumped CC);
    *   kept         — genuinely novel (matched = NULL).
    *
    * Shape for 100 TB: the EXISTING side reduces to (md5, min id) keys and
    * (band_key, id) rows — precisely the index a production pipeline keeps
    * materialized between batches; the corpus text is scanned once, never
    * self-joined, and nothing about the corpus is recomputed per batch
    * beyond reading that index. The batch (orders of magnitude smaller)
    * drives every join.
    *
    * Fixture split: doc_id % 5 == 0 is the arriving batch (20%), the rest
    * is the existing corpus. Oracle mirrors with exact all-pairs Jaccard
    * (batch×corpus and batch×batch only) + the recursive-CTE component-min,
    * in the same priority order.
    */
  def q78(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    incrementalDedup(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      threshold = 0.8)
  }

  /** The q78 core over (existing, batch) frames of (doc_id, text) —
    * computes the corpus-side index state live, then runs the INDEXED form
    * below (one code path; the live and served-from-artifact verdicts
    * cannot drift).
    */
  def incrementalDedup(existing: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    // corpus index: ids+hash+shingles only — at scale this is PRECOMPUTED
    // state a pipeline keeps between batches (CurationRun persists exactly
    // these three frames under index/dedup/); the eager checkpoints are
    // that materialization (and stop every downstream branch from
    // re-running the corpus scan through its own lineage)
    val sh = nearDupShingles(existing.select(col("doc_id"), col("text")))
    incrementalDedupIndexed(
      Materialize(exactKeyIndex(existing)),
      sh, nearDupBandIndex(sh), batch, threshold)
  }

  /** (h, ex_id): md5-of-text → min doc_id — the exact-dup half of the
    * persistable dedup index state (what q78's `exk` CTE computes).
    */
  def exactKeyIndex(docs: DataFrame): DataFrame =
    docs.select(md5(col("text").cast("binary")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("ex_id"))

  /** (doc_id, sh): hashed 3-shingle sets — the VERIFICATION half of the
    * persistable near-dup index state (~8 B/shingle, far under the text it
    * summarizes; candidates still verify by exact Jaccard without ever
    * re-reading corpus text).
    */
  def nearDupShingles(docs: DataFrame): DataFrame = shingledDocs(docs)

  /** (band_key, doc_id) over a [[nearDupShingles]] frame — the CANDIDATE
    * half of the persistable near-dup index state.
    */
  def nearDupBandIndex(shingled: DataFrame): DataFrame = bandedKeys(shingled)

  /** [[incrementalDedup]] with the corpus side SERVED from index state —
    * the production shape, where the three frames come from a prior run's
    * persisted artifacts (CurationRun `--incremental`) and the corpus is
    * never rescanned, let alone re-deduped: the batch drives every join,
    * the corpus contributes only (h, ex_id) keys, (band_key, id) rows, and
    * the candidates' shingle sets.
    */
  def incrementalDedupIndexed(exKeys: DataFrame, corpusShingles: DataFrame,
      corpusBands: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    // the batch frame feeds FIVE consumers (m1, r1, and the final fan-out);
    // without materialization each re-executes scan+md5 through lineage
    val bk = batch.select(col("doc_id"), col("text"),
      md5(col("text").cast("binary")).as("h"))
      .transform(Materialize(_))
    // 1. exact vs corpus
    val m1 = bk.join(exKeys, Seq("h"))
      .select(col("doc_id"), col("ex_id").as("matched_id"),
        lit("exact_corpus").as("reason"))
    val r1 = Materialize(bk.join(exKeys, Seq("h"), "left_anti"))
    // 2. near vs corpus (batch side drives; min matching corpus id):
    // batch shingles/bands computed live, corpus side read from the index.
    // aSh feeds the band join AND the Jaccard verify — batch-sized, so the
    // checkpoint is cheap insurance against re-shingling
    val aSh = shingledDocs(r1.select(col("doc_id"), col("text")))
      .transform(Materialize(_))
    val candidates = bandedKeys(aSh)
      .select(col("band_key"), col("doc_id").as("a_id"))
      .join(corpusBands.select(col("band_key"), col("doc_id").as("b_id")),
        Seq("band_key"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val m2 = verifyJaccard(candidates, aSh, corpusShingles, threshold)
      .groupBy(col("a_id").as("doc_id"))
      .agg(min(col("b_id")).as("matched_id"))
      .select(col("doc_id"), col("matched_id"), lit("near_corpus").as("reason"))
    val r2 = r1.join(m2.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .transform(Materialize(_))
    // 3. exact within the batch remainder
    val bKeep = r2.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val m3 = r2.join(bKeep, Seq("h"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("keeper").as("matched_id"),
        lit("exact_batch").as("reason"))
    // r3 feeds the CC vertex set AND the in-batch near-dup pair pipeline
    // (which shingles it twice more) — batch-sized, checkpoint
    val r3 = r2.join(bKeep, r2("doc_id") === bKeep("keeper"))
      .select(r2("doc_id"), r2("text"))
      .transform(Materialize(_))
    // 4. near-dup clusters within the batch keepers (q56's CC, min-id rep)
    val comp = connectedComponents(
      r3.select(col("doc_id").as("v")),
      nearDupPairsUnsorted(r3, threshold).select(col("a_id"), col("b_id")))
    val m4 = comp.filter(col("lab") =!= col("v"))
      .select(col("v").as("doc_id"), col("lab").as("matched_id"),
        lit("near_batch").as("reason"))
    val verdicts = m1.unionByName(m2).unionByName(m3).unionByName(m4)
    bk.select(col("doc_id"))
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("reason"), lit("kept")).as("reason"),
        col("matched_id"))
      .orderBy(col("doc_id"))
  }

  // ---- LSH operating-point sweep (q133) ------------------------------------

  /** Calibration sample: the lowest-id docs, capped — the sweep's exact
    * ground truth is all-pairs Jaccard, so its cost is sample², pinned
    * independent of corpus size (q120's fixed-anchor lesson; a %-stride
    * sample would grow quadratically with the corpus).
    */
  val LshSweepSample = 400

  /** The sweep's hash modulus: 2^31-1 (prime). The mirrorable family uses
    * 28-bit md5-derived multipliers and shingle keys, so a·x+b < 2^56
    * stays exact in BIGINT on both engines while the mod WRAPS (a modulus
    * above the product range would make min(a·x+b) = a·min(x)+b — every
    * row of the signature would elect the same shingle and the sweep
    * would measure nothing).
    */
  val LshSweepM = 2147483647L

  /** The grid: every divisor split of the deployed [[MinhashK]]=32
    * signature into (bands × rows-per-band). Powers of two make the grid
    * NESTED — a 2r-row band matching implies both r-row halves match — so
    * candidate sets grow monotonically with the band count, an assertable
    * law (DedupSpec).
    */
  val LshSweepRows: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  /** q133: LSH operating-point sweep — the calibration table behind the
    * deployed ([[Bands]]=8 × [[RowsPerBand]]=4) banding, completing the
    * measure-don't-guess trilogy (q102 classifier gate, q103 ANN knobs,
    * now the near-dup LSH tier): for every (bands, rows) split of the
    * 32-row signature, the candidate-pair mass and the recall against
    * exact all-pairs Jaccard ≥ 0.8 on a bounded sample, with the deployed
    * point flagged. The S-curve P(candidate) = 1-(1-J^r)^b depends only
    * on the geometry (b, r), not the hash family, so the sweep justifies
    * the production xxhash64 banding while running a DuckDB-mirrorable
    * twin family: string 3-shingles → 28-bit md5 keys, h_i = (a_i·x+b_i)
    * mod 2^31-1 with md5-derived multipliers — every value exact integer
    * arithmetic in both engines (q94's md5-model discipline applied to
    * the hash family itself).
    *
    * Shape for 100 TB: one bounded sample drives everything — signatures
    * are sample×K rows, band values sample×K per grid point, the truth
    * join sample² — none of it corpus-proportional; the corpus-sized
    * near-dup runs stay on the codegen'd xxhash64 path (q21), this query
    * only prices its knobs.
    */
  def q133(spark: SparkSession, dir: String): DataFrame =
    lshSweep(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      threshold = 0.8)

  /** The q133 core over any (doc_id, text) frame. */
  def lshSweep(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sample = docs.filter(col("doc_id").isNotNull)
      .orderBy(col("doc_id")).limit(LshSweepSample)
      .transform(Materialize(_))
    // distinct STRING 3-shingles — the md5-able twin of the production
    // xxhash64 shingles (q23's oracle-proven construction)
    val sh = sample.select(col("doc_id"),
        array_distinct(graft.functions.text.wordNgrams(col("text"), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
      .transform(Materialize(_))
    // 28-bit shingle keys + md5-derived (a_i, b_i) family — plan literals
    // on the engine side, a md5 CTE on the oracle side, identical values
    def h7(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(7),
      16)
    val ks = (0 until MinhashK)
      .map(i => (i, h7("a" + i) | 1L, h7("b" + i)))
      .toDF("i", "a", "b")
    val sig = sh.select(col("doc_id"), explode(col("shs")).as("g"))
      .withColumn("x",
        conv(substring(md5(col("g").cast("binary")), 1, 7), 16, 10)
          .cast("long"))
      .crossJoin(broadcast(ks))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(pmod(col("a") * col("x") + col("b"), lit(LshSweepM))).as("h"))
    val grid = LshSweepRows.map(r => (MinhashK / r, r)).toDF("bands", "rpb")
    // band value = the band's h's in i order; elements carry a zero-padded
    // i prefix so a lexicographic array_sort equals the oracle's ORDER BY i
    val bandVals = sig.crossJoin(broadcast(grid))
      .select(col("doc_id"), col("bands"),
        expr("i DIV rpb").cast("int").as("band"),
        concat_ws(":", lpad(col("i").cast("string"), 2, "0"),
          col("h").cast("string")).as("ih"))
      .groupBy(col("doc_id"), col("bands"), col("band"))
      .agg(array_join(array_sort(collect_list(col("ih"))), ",").as("bv"))
    val cand = bandVals
      .select(col("bands"), col("band"), col("bv"), col("doc_id").as("a_id"))
      .join(bandVals.select(col("bands"), col("band"), col("bv"),
        col("doc_id").as("b_id")), Seq("bands", "band", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("bands"), col("a_id"), col("b_id"))
      .distinct()
      .transform(Materialize(_)) // feeds the count AND the hit join
    // exact ground truth WITHOUT a sample² nested loop: a pair can clear a
    // positive threshold only if it shares a gram, so intersections come
    // from a shared-gram equi-join (per-doc grams already distinct) and
    // |A ∪ B| = |A| + |B| - |A ∩ B| from the per-doc set sizes — exact
    // Jaccard, O(shared-gram pairs) instead of O(sample²) array compares
    // (measured 5.3 s → the band join's own cost class at sf0.1)
    val gramRows = sh.select(col("doc_id"), explode(col("shs")).as("g"))
    val sizes = sh.select(col("doc_id"), size(col("shs")).as("n"))
    val truth = gramRows.select(col("g"), col("doc_id").as("a_id"))
      .join(gramRows.select(col("g"), col("doc_id").as("b_id")), Seq("g"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
        Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")),
        Seq("b_id"))
      .filter(col("c").cast("double") /
        (col("na") + col("nb") - col("c")) >= threshold)
      .select(col("a_id"), col("b_id"))
      .transform(Materialize(_))
    val hits = cand.join(truth, Seq("a_id", "b_id"))
      .groupBy(col("bands")).agg(count(lit(1)).as("n_hit"))
    val cands = cand.groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"))
    grid.join(cands, Seq("bands"), "left")
      .join(hits, Seq("bands"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("bands"), col("rpb").as("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_true") > 0,
          round(coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_true"), 6)).as("recall"),
        (col("bands") === lit(Bands)).as("is_deployed"))
      .orderBy(col("bands").desc)
  }

  val defs: Seq[QueryDef] = Seq(
    // q133's twin hash family is md5-derived end to end (28-bit keys and
    // multipliers, mod 2^31-1), so signatures, band values, candidates,
    // and recalls are exact integers/ratios in both engines
    QueryDef("q133_lsh_sweep", (s, d) => q133(s, d),
      Some(s"""WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
        |  ORDER BY doc_id LIMIT $LshSweepSample),
        |d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM base),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS shs
        |  FROM d WHERE len(toks) >= 3),
        |g AS (SELECT doc_id, unnest(shs) AS g FROM sh),
        |x AS (SELECT doc_id, g,
        |        CAST('0x' || substr(md5(g), 1, 7) AS BIGINT) AS x FROM g),
        |ks AS (SELECT i,
        |         CAST('0x' || substr(md5('a' || CAST(i AS VARCHAR)), 1, 7) AS BIGINT) | 1 AS a,
        |         CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR)), 1, 7) AS BIGINT) AS b
        |       FROM (SELECT unnest(generate_series(0, ${MinhashK - 1})) AS i)),
        |sig AS (SELECT doc_id, i, MIN((a * x + b) % $LshSweepM) AS h
        |        FROM x CROSS JOIN ks GROUP BY doc_id, i),
        |grid AS (SELECT $MinhashK // r AS bands, r AS rpb
        |         FROM (SELECT unnest([${LshSweepRows.mkString(", ")}]) AS r)),
        |bv AS (SELECT doc_id, bands, i // rpb AS band,
        |         string_agg(lpad(CAST(i AS VARCHAR), 2, '0') || ':' || CAST(h AS VARCHAR),
        |                    ',' ORDER BY i) AS bv
        |       FROM sig CROSS JOIN grid GROUP BY 1, 2, 3),
        |cand AS (SELECT DISTINCT a.bands, a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bv a JOIN bv b USING (bands, band, bv)
        |         WHERE a.doc_id < b.doc_id),
        |truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |          WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
        |                len(list_distinct(list_concat(a.shs, b.shs))) >= 0.8),
        |nt AS (SELECT COUNT(*) AS n_true FROM truth),
        |hits AS (SELECT bands, COUNT(*) AS n_hit
        |         FROM cand JOIN truth USING (a_id, b_id) GROUP BY bands),
        |cnt AS (SELECT bands, COUNT(*) AS n_candidates FROM cand GROUP BY bands)
        |SELECT CAST(g.bands AS INTEGER) AS bands,
        |  CAST(g.rpb AS INTEGER) AS rows_per_band,
        |  CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
        |  CAST(nt.n_true AS BIGINT) AS n_true,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CASE WHEN nt.n_true > 0 THEN
        |    round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / nt.n_true, 6) END AS recall,
        |  (g.bands = $Bands) AS is_deployed
        |FROM grid g CROSS JOIN nt
        |LEFT JOIN cnt c USING (bands) LEFT JOIN hits h USING (bands)
        |ORDER BY g.bands DESC""".stripMargin)),
    QueryDef("q84_span_cut", q84,
      Some(s"""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents
        |  WHERE doc_id IS NOT NULL),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(toks[i:i+${SpanTokens - 1}], ' ') AS gram
        |  FROM d, unnest(generate_series(1, len(toks) - ${SpanTokens - 1})) AS t(i)
        |  WHERE len(toks) >= $SpanTokens),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |f AS (SELECT g.doc_id, list_sort(list(g.pos)) AS starts
        |      FROM g JOIN c USING (gram) GROUP BY g.doc_id),
        |o AS (
        |  SELECT d.doc_id, len(d.toks) AS n_tokens,
        |    list_transform(
        |      list_filter(generate_series(1, len(d.toks)),
        |        i -> len(list_filter(coalesce(f.starts, []),
        |               s -> i - 1 >= s AND i - 1 < s + $SpanTokens)) = 0),
        |      i -> d.toks[i]) AS kept
        |  FROM d LEFT JOIN f USING (doc_id))
        |SELECT documents.doc_id,
        |  CAST(coalesce(o.n_tokens, 0) AS INT) AS n_tokens,
        |  CAST(coalesce(o.n_tokens - len(o.kept), 0) AS INT) AS n_cut,
        |  coalesce(array_to_string(o.kept, ' '), '') AS cleaned
        |FROM documents LEFT JOIN o USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q86_decontaminate_cut", q86,
      Some(s"""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents
        |  WHERE doc_id IS NOT NULL),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(toks[i:i+${SpanTokens - 1}], ' ') AS gram
        |  FROM d, unnest(generate_series(1, len(toks) - ${SpanTokens - 1})) AS t(i)
        |  WHERE len(toks) >= $SpanTokens),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % ${Pipeline.EvalEvery} = 0),
        |f AS (SELECT g.doc_id, list_sort(list(g.pos)) AS starts
        |      FROM g JOIN ev USING (gram)
        |      WHERE g.doc_id % ${Pipeline.EvalEvery} <> 0
        |      GROUP BY g.doc_id),
        |tr AS (SELECT * FROM d WHERE doc_id % ${Pipeline.EvalEvery} <> 0),
        |o AS (
        |  SELECT tr.doc_id, len(tr.toks) AS n_tokens,
        |    list_transform(
        |      list_filter(generate_series(1, len(tr.toks)),
        |        i -> len(list_filter(coalesce(f.starts, []),
        |               s -> i - 1 >= s AND i - 1 < s + $SpanTokens)) = 0),
        |      i -> tr.toks[i]) AS kept
        |  FROM tr LEFT JOIN f USING (doc_id))
        |SELECT b.doc_id,
        |  CAST(coalesce(o.n_tokens, 0) AS INT) AS n_tokens,
        |  CAST(coalesce(o.n_tokens - len(o.kept), 0) AS INT) AS n_cut,
        |  coalesce(array_to_string(o.kept, ' '), '') AS cleaned
        |FROM (SELECT doc_id FROM documents
        |      WHERE doc_id IS NOT NULL AND doc_id % ${Pipeline.EvalEvery} <> 0) b
        |LEFT JOIN o USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q78_incremental_dedup", q78,
      Some(s"""WITH RECURSIVE ex AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |b AS (
        |  SELECT doc_id, text, md5(text) AS h FROM documents
        |  WHERE doc_id % 5 = 0),
        |exk AS (SELECT md5(text) AS h, MIN(doc_id) AS ex_id FROM ex GROUP BY 1),
        |m1 AS (SELECT b.doc_id, exk.ex_id AS matched_id FROM b JOIN exk USING (h)),
        |r1 AS (SELECT * FROM b WHERE doc_id NOT IN (SELECT doc_id FROM m1)),
        |shb AS (
        |  SELECT doc_id, h,
        |    list_distinct(list_transform(
        |      generate_series(1, len(list_filter(
        |        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) - 2),
        |      i -> array_to_string(list_filter(
        |        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')[i:i+2], ' ')))
        |      AS sh
        |  FROM r1),
        |she AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(list_filter(
        |        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) - 2),
        |      i -> array_to_string(list_filter(
        |        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')[i:i+2], ' ')))
        |      AS sh
        |  FROM ex),
        |m2 AS (
        |  SELECT r.doc_id, MIN(e.doc_id) AS matched_id
        |  FROM shb r, she e
        |  WHERE CAST(len(list_intersect(r.sh, e.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(r.sh, e.sh))) >= 0.8
        |  GROUP BY r.doc_id),
        |r2 AS (SELECT * FROM shb WHERE doc_id NOT IN (SELECT doc_id FROM m2)),
        |bkeep AS (SELECT h, MIN(doc_id) AS keeper FROM r2 GROUP BY h),
        |m3 AS (
        |  SELECT r2.doc_id, bkeep.keeper AS matched_id
        |  FROM r2 JOIN bkeep USING (h) WHERE r2.doc_id <> bkeep.keeper),
        |r3 AS (SELECT r2.* FROM r2 JOIN bkeep ON r2.doc_id = bkeep.keeper),
        |p AS (
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id
        |  FROM r3 a, r3 b2
        |  WHERE a.doc_id < b2.doc_id
        |    AND CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b2.sh))) >= 0.8),
        |edges AS (SELECT a_id AS s, b_id AS d FROM p
        |          UNION ALL SELECT b_id, a_id FROM p),
        |cc(v, lab) AS (
        |  SELECT doc_id, doc_id FROM r3
        |  UNION
        |  SELECT edges.d, cc.lab FROM cc JOIN edges ON edges.s = cc.v),
        |rep AS (SELECT v, MIN(lab) AS rep FROM cc GROUP BY v),
        |m4 AS (
        |  SELECT v AS doc_id, rep AS matched_id FROM rep WHERE rep <> v),
        |verdicts AS (
        |  SELECT doc_id, matched_id, 'exact_corpus' AS reason FROM m1
        |  UNION ALL SELECT doc_id, matched_id, 'near_corpus' FROM m2
        |  UNION ALL SELECT doc_id, matched_id, 'exact_batch' FROM m3
        |  UNION ALL SELECT doc_id, matched_id, 'near_batch' FROM m4)
        |SELECT b.doc_id, coalesce(v.reason, 'kept') AS reason, v.matched_id
        |FROM b LEFT JOIN verdicts v USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q76_dedup_verdict", q76,
      Some(s"""WITH RECURSIVE k AS (
        |  SELECT md5(text) AS h, MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1),
        |dk AS (
        |  SELECT d.doc_id, k.keeper FROM documents d
        |  JOIN k ON md5(d.text) = k.h),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IN (SELECT keeper FROM k)),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT a_id AS s, b_id AS d FROM p
        |          UNION ALL SELECT b_id, a_id FROM p),
        |cc(v, lab) AS (
        |  SELECT keeper, keeper FROM k
        |  UNION
        |  SELECT edges.d, cc.lab FROM cc JOIN edges ON edges.s = cc.v),
        |rep AS (SELECT v, MIN(lab) AS rep FROM cc GROUP BY v)
        |SELECT dk.doc_id, rep.rep AS rep_id,
        |  (dk.doc_id = rep.rep) AS kept,
        |  CASE WHEN dk.doc_id = rep.rep THEN 'kept'
        |       WHEN dk.doc_id <> dk.keeper THEN 'exact'
        |       ELSE 'near' END AS reason
        |FROM dk JOIN rep ON rep.v = dk.keeper
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q113_quality_keeper", q113,
      // q76's cluster CTEs verbatim + q94's md5-weight scoring CTEs
      // verbatim; the keeper policy is the only new clause (argmax via
      // row_number over (mean_e6 DESC, doc_id) — the engine's
      // min(struct(-mean_e6, doc_id)) in window form)
      Some(s"""WITH RECURSIVE k AS (
        |  SELECT md5(text) AS h, MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1),
        |dk AS (
        |  SELECT d.doc_id, k.keeper FROM documents d
        |  JOIN k ON md5(d.text) = k.h),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IN (SELECT keeper FROM k)),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT a_id AS s, b_id AS d FROM p
        |          UNION ALL SELECT b_id, a_id FROM p),
        |cc(v, lab) AS (
        |  SELECT keeper, keeper FROM k
        |  UNION
        |  SELECT edges.d, cc.lab FROM cc JOIN edges ON edges.s = cc.v),
        |rep AS (SELECT v, MIN(lab) AS rep FROM cc GROUP BY v),
        |mem AS (SELECT dk.doc_id, rep.rep AS rep_id
        |        FROM dk JOIN rep ON rep.v = dk.keeper),
        |t0 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       x -> x <> '')) AS tok
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
        |  FROM documents d LEFT JOIN per USING (doc_id)),
        |m AS (SELECT mem.doc_id, mem.rep_id, sc.mean_e6
        |      FROM mem JOIN sc USING (doc_id)),
        |best AS (
        |  SELECT rep_id, doc_id AS keeper_id FROM (
        |    SELECT rep_id, doc_id, row_number() OVER (
        |      PARTITION BY rep_id ORDER BY mean_e6 DESC, doc_id) AS rn
        |    FROM m) WHERE rn = 1)
        |SELECT m.doc_id, m.rep_id, best.keeper_id,
        |  (m.doc_id = best.keeper_id) AS kept, m.mean_e6
        |FROM m JOIN best USING (rep_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q74_span_dedup", q74,
      Some(s"""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents
        |  WHERE doc_id IS NOT NULL),
        |g AS (
        |  SELECT doc_id, array_to_string(toks[i:i+${SpanTokens - 1}], ' ') AS gram
        |  FROM d, unnest(generate_series(1, len(toks) - ${SpanTokens - 1})) AS t(i)
        |  WHERE len(toks) >= $SpanTokens),
        |c AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
        |per AS (
        |  SELECT g.doc_id, COUNT(*) AS nw,
        |    SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS dw
        |  FROM g JOIN c USING (gram) GROUP BY g.doc_id)
        |SELECT documents.doc_id,
        |  CAST(coalesce(per.nw, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(per.dw, 0) AS BIGINT) AS dup_windows,
        |  round(CAST(coalesce(per.dw, 0) AS DOUBLE) /
        |    greatest(coalesce(per.nw, 0), 1), 4) AS dup_ratio
        |FROM documents LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q56_dup_clusters", q56,
      Some(s"""WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |      FROM e a, e b
        |      WHERE a.vec_id < b.vec_id
        |        AND round(list_cosine_similarity(a.v, b.v), 6) >=
        |            ${Similarity.NearDupCosine}),
        |edges AS (SELECT a_id AS s, b_id AS d FROM p
        |          UNION ALL SELECT b_id, a_id FROM p),
        |cc(v, lab) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT edges.d, cc.lab FROM cc JOIN edges ON edges.s = cc.v)
        |SELECT v AS vec_id, MIN(lab) AS rep_id, (MIN(lab) = v) AS is_kept
        |FROM cc GROUP BY v ORDER BY vec_id""".stripMargin)),
    QueryDef("q56b_dup_clusters_lsh", q56b,
      // q56's recursive component CTE, but the edge set is q24's MIRRORED
      // LSH pair set (Similarity.lshPairCtes: sign matrix as ±literals,
      // bucket bits bit-exact) scored + thresholded exactly as the engine
      Some(s"""WITH RECURSIVE
        |${Similarity.lshPairCtes},
        |sp AS (
        |  SELECT p.a_id, p.b_id
        |  FROM p JOIN e ea ON ea.vec_id = p.a_id
        |    JOIN e eb ON eb.vec_id = p.b_id
        |  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >=
        |    ${Similarity.NearDupCosine}),
        |edges AS (SELECT a_id AS s, b_id AS d FROM sp
        |          UNION ALL SELECT b_id, a_id FROM sp),
        |cc(v, lab) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT edges.d, cc.lab FROM cc JOIN edges ON edges.s = cc.v)
        |SELECT v AS vec_id, MIN(lab) AS rep_id, (MIN(lab) = v) AS is_kept
        |FROM cc GROUP BY v ORDER BY vec_id""".stripMargin)),
    QueryDef("q18_exact_dedup", q18,
      Some("""SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin)),
    QueryDef("q21_minhash_lsh", q21, None),
    QueryDef("q22_simhash_neardup", q22, None),
    QueryDef("q23_ngram_jaccard", q23,
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS g
        |  FROM d),
        |p AS (SELECT doc_id AS probe_id, g AS pg FROM g WHERE doc_id < 5)
        |SELECT probe_id, doc_id,
        |  CAST(len(list_intersect(pg, g.g)) AS DOUBLE) /
        |    len(list_distinct(list_concat(pg, g.g))) AS jaccard
        |FROM g, p WHERE doc_id <> probe_id
        |ORDER BY probe_id, doc_id""".stripMargin)))
}
