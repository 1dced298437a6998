package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property checks for the probabilistic dedup family (Q21 MinHash-LSH and
  * SimHash) on a planted-near-dup corpus: recall vs the exact measure
  * computed by a plain-Scala model. Everything is seeded/deterministic, so
  * these assertions are stable run to run.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 10 base docs of 80 tokens (vocab 50), each with a near-copy differing
    * in 2 tokens (3-gram Jaccard ≈ 0.86), plus 10 unrelated docs.
    */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new Random(7)
    val vocab = (0 until 50).map(i => s"w$i")
    def doc() = Seq.fill(80)(vocab(rnd.nextInt(vocab.size)))
    val bases = (0 until 10).map(_ => doc())
    val nearDups = bases.map { toks =>
      val t = toks.toArray
      t(10) = "changed"; t(40) = "edited"
      t.toSeq
    }
    val unrelated = (0 until 10).map(_ => doc())
    (bases ++ nearDups ++ unrelated).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
  }

  private def grams3(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def exactPairs(threshold: Double): Set[(Long, Long)] =
    (for {
      (a, ta) <- corpus; (b, tb) <- corpus if a < b
      ga = grams3(ta); gb = grams3(tb)
      j = (ga & gb).size.toDouble / (ga | gb).size
      if j >= threshold
    } yield (a, b)).toSet

  test("MinHash-LSH finds exactly the planted near-dup pairs at j>=0.8") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.nearDupPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exactPairs(0.8)
    assert(want.size === 10, "corpus should plant exactly 10 near-dup pairs")
    // LSH candidates are verified with the exact measure, so no false
    // positives are possible; recall is the property under test.
    assert(got === want)
  }

  /** SimHash's Hamming<=3 design point is long documents with a tiny edit:
    * the expected distance grows with the edited-token fraction (each edit
    * flips bits whose +-1 balance it crosses), so the planted copies here
    * are 1500-token docs differing in one token (E[hamming] ~ 1.3). The
    * 80-token/2-edit corpus above sits at hamming ~5-8 by design — that's
    * MinHash territory, not SimHash's.
    */
  test("SimHash near-dup: single-edit long docs within Hamming 3") {
    import spark.implicits._
    val rnd = new Random(11)
    val vocab = (0 until 5000).map(i => s"t$i")
    val bases = (0 until 10).map(_ =>
      Seq.fill(1500)(vocab(rnd.nextInt(vocab.size))))
    val nearDups = bases.map { toks =>
      val t = toks.toArray; t(700) = "edited"; t.toSeq
    }
    val unrelated = (0 until 5).map(_ =>
      Seq.fill(1500)(vocab(rnd.nextInt(vocab.size))))
    val docs = (bases ++ nearDups ++ unrelated).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, (i + 10).toLong)).toSet
    assert((planted -- got).size <= 2,
      s"SimHash should find >=8/10 planted pairs, missed ${planted -- got}")
    val unrelatedHits = got.filterNot(planted)
    assert(unrelatedHits.isEmpty,
      s"unrelated docs flagged as near-dups: $unrelatedHits")
  }

  test("span dedup: planted shared/repeated spans produce exact window counts") {
    import spark.implicits._
    // n = Dedup.SpanTokens (8). Hand-built corpus:
    //   doc 0: tokens a0..a19 (20 toks, 13 windows) — shares its first 10
    //          tokens with doc 1, so windows starting at 0,1,2 (3 windows)
    //          also occur in doc 1.
    //   doc 1: a0..a9 ++ b0..b9 — windows 0,1,2 duplicated with doc 0.
    //   doc 2: c0..c7 repeated twice plus a tail c0..c7 again? -> built as
    //          (c0..c7) * 2: 16 toks, 9 windows; window 0 (c0..c7) appears
    //          at positions 0 and 8 -> those 2 windows are dups, the 7
    //          straddling windows are unique.
    //   doc 3: 7 tokens -> 0 windows.
    //   doc 4: all-unique tokens, no overlap -> 0 dup windows.
    val a = (0 until 20).map(i => s"a$i")
    val b = (0 until 10).map(i => s"b$i")
    val c = (0 until 8).map(i => s"c$i")
    val docs = Seq(
      (0L, a.mkString(" ")),
      (1L, (a.take(10) ++ b).mkString(" ")),
      (2L, (c ++ c).mkString(" ")),
      (3L, (0 until 7).map(i => s"d$i").mkString(" ")),
      (4L, (0 until 30).map(i => s"e$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupProfile(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(0L) === ((13L, 3L, 0.2308)))
    assert(got(1L) === ((13L, 3L, 0.2308)))
    assert(got(2L) === ((9L, 2L, 0.2222)))
    assert(got(3L) === ((0L, 0L, 0.0)))
    assert(got(4L) === ((23L, 0L, 0.0)))
  }

  test("span dedup matches a plain-Scala model on the random corpus") {
    import spark.implicits._
    val n = Dedup.SpanTokens
    val model: Map[Long, (Long, Long)] = {
      val grams = corpus.flatMap { case (id, text) =>
        text.split(" ").sliding(n).filter(_.size == n)
          .map(w => (id, w.mkString(" ")))
      }
      val counts = grams.groupBy(_._2).map { case (g, occ) => g -> occ.size }
      corpus.map { case (id, _) =>
        val mine = grams.filter(_._1 == id)
        id -> (mine.size.toLong, mine.count(g => counts(g._2) > 1).toLong)
      }.toMap
    }
    val got = Dedup.spanDupProfile(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === model)
    // the planted near-copies guarantee shared spans exist
    assert(model.values.map(_._2).sum > 0, "corpus should contain dup spans")
  }

  test("connected components resolve transitive near-dup chains to min-id reps") {
    import spark.implicits._
    // chain 1-2-3 (1~3 NOT paired — transitivity must come from the CC),
    // clique 10-11-12, pair 20-21, singletons 30, 31
    val ids = (Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L, 31L)).toDF("v")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 31L)
    assert(got === want)
  }

  /** Regression guard for the per-round edge contraction (round 11): a
    * triangle settles to one label in round 1 and loses every intra-edge
    * to the self-loop filter — the component MIN then arrives LATE through
    * an attached path, and must still reach all triangle members via the
    * label-graph witnesses. (Merely dropping settled edges dead-ends here
    * — the measured-unsound variant, SCALE.md "CC edge contraction".)
    * The 33-node path also pins the round count at O(log diameter): 32
    * hops must close in <= 9 rounds, not 32 — `maxRounds = 9` makes the
    * loop's convergence `require` throw past that. Both graphs pass
    * `driverEdges = 0`, so they run the distributed rounds to the end.
    */
  test("CC contraction: late-arriving min crosses a settled clique; rounds stay O(log d)") {
    import spark.implicits._
    // triangle {10,11,12} + path 1-5, 5-10: min label 1 reaches 11 and 12
    // only through the contracted label edge the triangle left behind
    val ids1 = Seq(1L, 5L, 10L, 11L, 12L).toDF("v")
    val pairs1 = Seq((10L, 11L), (11L, 12L), (10L, 12L), (5L, 10L), (1L, 5L))
      .toDF("a_id", "b_id")
    val got1 = Dedup.connectedComponents(ids1, pairs1, driverEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 === Map(1L -> 1L, 5L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L))
    // descending 33-node path (diameter 32; min at the far end so labels
    // must propagate the whole way)
    val n = 33L
    val ids2 = (0L until n).toDF("v")
    val pairs2 = (1L until n).map(i => (i - 1, i)).toDF("a_id", "b_id")
    val got2 = Dedup.connectedComponents(ids2, pairs2, maxRounds = 9,
      driverEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.forall(_ == 0L), s"path not fully resolved: $got2")
  }

  /** r19: the convergence scalar rides the label checkpoint via `observe`
    * (one job per round instead of two). The degenerate inputs exercise
    * that path's edge cases (`driverEdges = -1` keeps even the empty graph
    * off the driver finish) — an EMPTY pair set aggregates to a null sum
    * (must coalesce to 0 and converge in the confirmation round, labels
    * all singletons), and a single edge converges immediately off the
    * folded init; the driver finish must agree on the single edge.
    */
  test("CC: observe-fused convergence handles empty and singleton pair sets") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L).toDF("v")
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val got0 = Dedup.connectedComponents(ids, empty, driverEdges = -1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got0 === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    val one = Seq((2L, 3L)).toDF("a_id", "b_id")
    Seq(0L, Dedup.DriverFinishEdges).foreach { bound =>
      val got1 = Dedup.connectedComponents(ids, one, driverEdges = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got1 === Map(1L -> 1L, 2L -> 2L, 3L -> 2L), s"bound $bound")
    }
  }

  /** Union-find component minima of `ids` under `pairs`: the test's own
    * reference model, independent of [[Dedup.componentMins]].
    */
  private def unionFind(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** The driver finish against the distributed rounds on seeded random
    * graphs (sparse ones with long chains, dense ones, isolated ids): the
    * default call fits the bound and runs no round, `driverEdges = 0`
    * runs every round to the fixpoint. Both must give union-find's
    * component minima.
    */
  test("CC: the driver finish equals the distributed rounds on random graphs") {
    import spark.implicits._
    val rnd = new Random(11)
    Seq((60, 40), (60, 90), (40, 300), (80, 70)).foreach { case (n, m) =>
      val ids = rnd.shuffle((1L to n.toLong).toList)
      val pairs = Seq.fill(m) {
        val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
        (a, b)
      }.filter { case (a, b) => a != b }
      def cc(bound: Long) = Dedup.connectedComponents(ids.toDF("v"),
          pairs.toDF("a_id", "b_id"), driverEdges = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(ids, pairs)
      assert(cc(Dedup.DriverFinishEdges) === want, s"driver finish, n=$n m=$m")
      assert(cc(0) === want, s"distributed rounds, n=$n m=$m")
    }
  }

  test("q56b: CC over the LSH pair set matches union-find and refines q56") {
    // the production twin (VERDICT r17 #1): same component tail as q56 but
    // fed by q24's linear LSH pair generator. Reference model: plain
    // union-find over the collected pair set (fixture-sized; test-only
    // collect). Additionally, because q24's pairs are a SUBSET of q48's
    // (candidates scored with the same exact cosine + threshold), q56b's
    // clustering must REFINE q56's: same-cluster in q56b => same-cluster
    // in q56.
    val dir = "/root/testdata/sf0.001"
    val pairs = operators.Similarity.q24(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = Tables.embeddings(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
    val want = unionFind(ids.toSeq, pairs.toSeq)
    val got = operators.Dedup.q56b(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    val exact = operators.Dedup.q56(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.groupBy(_._2).values.foreach { members =>
      val exactLabels = members.keys.map(exact).toSet
      assert(exactLabels.size == 1,
        s"q56b cluster ${members.keys.toSeq.sorted} spans q56 clusters $exactLabels")
    }
  }

  test("MinHash signature is deterministic across evaluations") {
    import spark.implicits._
    val docs = corpus.take(5).toDF("doc_id", "text")
    val run = () => Dedup.nearDupPairs(docs, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run() === run())
  }

  /** The native tokenize+hash path must be bit-identical to the HOF form it
    * replaced in the sketch pipelines — asserted on real fixture text
    * (punctuation, digits, mixed case) plus adversarial edge strings.
    */
  test("native tokenHashes/shingleFromHashes equal the HOF forms") {
    import org.apache.spark.sql.functions._
    import graft.functions.{expressions => fe}
    import spark.implicits._
    val edge = Seq(
      (9001L, ""), (9002L, "   "), (9003L, "ONE"), (9004L, "a-b_c 42x"),
      (9005L, "Über Straße İstanbul"), (9006L, "7"),
      (9007L, "!!!"), (9008L, "trailing space "), (9009L, " leading"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).unionAll(edge)
    val rows = docs.select(
      col("doc_id"),
      fe.sketch.tokenHashes(col("text")).as("native_th"),
      transform(TestSpark.lambdaTokens(col("text")), t => xxhash64(t)).as("hof_th"),
      fe.sketch.shingleFromHashes(fe.sketch.tokenHashes(col("text")), 3).as("native_sh"),
      fe.sketch.shingleHashes(TestSpark.lambdaTokens(col("text")), 3).as("hof_sh"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"token-hash drift for doc ${r.getLong(0)}")
      assert(r.getSeq[Long](3) === r.getSeq[Long](4),
        s"shingle-hash drift for doc ${r.getLong(0)}")
    }
  }

  /** q76 end-to-end verdict on a planted corpus where every doc's fate is
    * known by construction: exact copies drop with reason 'exact', near-dup
    * cluster losers with 'near', and an exact copy of a near-dup LOSER must
    * point at the cluster rep that survives (transitive rep mapping), not
    * at its own dropped exact keeper.
    */
  test("dedup verdict: planted exact/near/transitive fates all resolve") {
    import spark.implicits._
    val base = corpus.toMap // 0-9 bases, 10-19 near-copies, 20-29 unrelated
    val planted = corpus ++ Seq(
      100L -> base(0L), // exact copy of base 0 (cluster rep)
      101L -> base(10L), // exact copy of near-dup 10 (a cluster LOSER)
      102L -> base(25L), // exact copy of unrelated 25 (a plain keeper)
      103L -> base(25L)) // second copy of 25
    val got = Dedup.dedupVerdict(planted.toDF("doc_id", "text"), 0.8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getString(3))))
      .toMap
    // bases 0-9 win their near-dup clusters (min id); 10-19 lose to base i-10
    for (i <- 0L until 10L) {
      assert(got(i) === ((i, true, "kept")), s"base $i")
      assert(got(i + 10) === ((i, false, "near")), s"near-copy ${i + 10}")
    }
    // unrelated 20-29 are singleton keeps
    for (i <- 20L until 30L)
      assert(got(i) === ((i, true, "kept")), s"unrelated $i")
    // exact copy of a kept rep: dropped 'exact', rep = the rep itself
    assert(got(100L) === ((0L, false, "exact")))
    // exact copy of near-dup loser 10: its exact keeper (10) is itself
    // dropped — the verdict must chain through to surviving rep 0
    assert(got(101L) === ((0L, false, "exact")))
    // exact copies of a plain keeper
    assert(got(102L) === ((25L, false, "exact")))
    assert(got(103L) === ((25L, false, "exact")))
  }

  /** q113 quality-keeper policy on the planted clusters: every {base,
    * near-copy} cluster must keep its higher-mean_e6 member (computed by
    * the independent plain-Scala md5 weight model), exact copies tie to
    * the lowest id of the best text, rep_id stays the min-label cluster
    * name regardless of policy, and singletons keep themselves. The seed-7
    * corpus makes several clusters' quality keeper differ from min-id —
    * asserted, so the policy is proven to bite, not coincide.
    */
  test("quality-keeper dedup: argmax-score keeper per planted cluster") {
    import spark.implicits._
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    def meanE6(s: String): Long = {
      val toks = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.isEmpty) 0L
      else math.floor(toks.map(weight).sum.toDouble * 1000 / toks.length).toLong
    }
    val base = corpus.toMap
    val planted = corpus ++ Seq(
      100L -> base(3L), // exact copy of base 3: same score, loses on id
      101L -> base(25L), 102L -> base(25L)) // copies of a singleton
    val got = Dedup.qualityKeeperDedup(planted.toDF("doc_id", "text"), 0.8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got.size === planted.size)
    // every near-dup cluster {i, i+10} (+100 for i=3): keeper = argmax
    // (mean_e6, -id) over the cluster, computed independently
    var policyBit = 0
    for (i <- 0L until 10L) {
      val members = Seq(i, i + 10) ++ (if (i == 3) Seq(100L) else Nil)
      val want = members.minBy(m => (-meanE6(base(if (m >= 100) 3L else m)), m))
      members.foreach { m =>
        val (rep, keeper, kept, s) = got(m)
        assert(rep === i, s"cluster name for $m")
        assert(keeper === want, s"keeper of cluster $i")
        assert(kept === (m == want), s"kept flag for $m")
        assert(s === meanE6(planted.toMap.apply(m)), s"score for $m")
      }
      if (want != i) policyBit += 1
    }
    assert(policyBit >= 1,
      "no cluster distinguished quality from min-id — fixture too weak")
    // unrelated singletons keep themselves; the copied singleton keeps its
    // lowest id (tie on identical text)
    for (i <- 20L until 30L if i != 25L)
      assert(got(i) === ((i, i, true, meanE6(base(i)))))
    Seq(25L, 101L, 102L).foreach { m =>
      val (rep, keeper, kept, _) = got(m)
      assert(rep === 25L && keeper === 25L && kept === (m == 25L),
        s"copied singleton member $m")
    }
  }

  /** q84 span-cut on hand-built docs: a cross-doc shared 8-token span is
    * cut from BOTH docs (and only it — the flanking windows are unique), an
    * internally repeated span is cut at both its positions leaving the
    * separator token, and a unique doc is untouched.
    */
  test("span cut removes exactly the duplicated windows, both cross- and within-doc") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $span a6 a7 a8 a9 a10"),
      (2L, s"b1 b2 b3 b4 $span"),
      (3L, s"$rep x $rep"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
      .toDF("doc_id", "text")
    val got = Dedup.spanCut(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got(1L) === ((18, 8, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10")))
    assert(got(2L) === ((12, 8, "b1 b2 b3 b4")))
    assert(got(3L) === ((17, 16, "x")))
    assert(got(4L) === ((10, 0, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")))
  }

  /** Null-input parity with the q84 oracle tail: a null text coalesces to
    * (0 tokens, 0 cut, ''), and a null doc_id row survives as
    * (NULL, 0, 0, '') — the oracle's unfiltered final LEFT JOIN keeps it.
    */
  test("span cut matches the oracle's coalesce tail on null text and null doc_id") {
    import spark.implicits._
    val docs = Seq[(java.lang.Long, String)](
      (1L, "w1 w2 w3"), (2L, null), (null, "w1 w2 w3"))
      .toDF("doc_id", "text")
    val got = Dedup.spanCut(docs).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(1L) === ((3, 0, "w1 w2 w3")))
    assert(got(2L) === ((0, 0, "")))
    assert(got(-1L) === ((0, 0, "")))
  }

  /** q86 decontamination surgery on hand-built docs: a train doc quoting a
    * full 8-token eval window loses exactly those positions, clean and
    * sub-window-length docs are untouched, a doc made entirely of eval
    * windows empties, and eval docs never appear in the output.
    */
  test("decontaminate cut removes exactly eval-matching windows from train docs only") {
    import spark.implicits._
    val e = (1 to 9).map(i => s"e$i") // eval doc: windows e1..e8 and e2..e9
    val docs = Seq(
      (10L, e.mkString(" ")), // doc_id % 10 == 0 -> eval
      (1L, s"t1 t2 ${e.take(8).mkString(" ")} t3"), // quotes window at pos 2
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"), // clean
      (3L, "short doc here"), // < 8 tokens: no windows
      (4L, s"${e.mkString(" ")} ${e.take(8).mkString(" ")}")) // all covered
      .toDF("doc_id", "text")
    val got = Dedup.decontaminateCut(docs, 10L).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L), "eval docs are never output")
    assert(got(1L) === ((11, 8, "t1 t2 t3")))
    assert(got(2L) === ((10, 0, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")))
    assert(got(3L) === ((3, 0, "short doc here")))
    assert(got(4L) === ((17, 17, "")))
  }

  /** q86 null parity with its oracle: a null-text train doc coalesces to
    * (0, 0, ''); null doc_id rows are excluded entirely (the oracle filters
    * them, unlike q84's pass-through tail).
    */
  test("decontaminate cut matches the oracle on null text and null doc_id") {
    import spark.implicits._
    val docs = Seq[(java.lang.Long, String)](
      (10L, "e1 e2 e3 e4 e5 e6 e7 e8"), (1L, "w1 w2 w3"), (2L, null),
      (null, "w1 w2 w3"))
      .toDF("doc_id", "text")
    val got = Dedup.decontaminateCut(docs, 10L).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((3, 0, "w1 w2 w3")))
    assert(got(2L) === ((0, 0, "")))
  }

  /** q78 incremental dedup: every verdict class planted with a known
    * outcome, including the priority rule (near_corpus beats exact_batch —
    * both copies of a corpus-near doc report the corpus match, not each
    * other).
    */
  test("incremental dedup: planted batch fates resolve in priority order") {
    import spark.implicits._
    val base = corpus.toMap
    val rnd = new Random(42)
    def novel() = Seq.fill(80)(s"z${rnd.nextInt(50)}").mkString(" ")
    val nearOf7 = {
      val t = base(7L).split(" ")
      t(20) = "xx"; t(60) = "yy"
      t.mkString(" ")
    }
    val novelDup = novel()
    val novelPair = novel()
    val novelNear = {
      val t = novelPair.split(" ")
      t(15) = "aa"; t(50) = "bb"
      t.mkString(" ")
    }
    val existing = corpus.toDF("doc_id", "text")
    val batchRows = Seq(
      200L -> base(5L), // exact copy of existing 5
      201L -> nearOf7, // near existing 7 (and its near-copy 17)
      202L -> novelDup, // novel, keeper of the in-batch exact pair
      203L -> novelDup, // exact copy of 202
      204L -> novelPair, // novel near-dup pair rep
      205L -> novelNear, // near_batch loser to 204
      206L -> novel() // genuinely novel
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(existing, batchRows, 0.8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(got(200L) === (("exact_corpus", 5L)))
    assert(got(201L) === (("near_corpus", 7L)))
    assert(got(202L) === (("kept", -1L)))
    assert(got(203L) === (("exact_batch", 202L)))
    assert(got(204L) === (("kept", -1L)))
    assert(got(205L) === (("near_batch", 204L)))
    assert(got(206L) === (("kept", -1L)))
  }

  /** q133 (round 15): the LSH calibration sweep. Structural laws from the
    * NESTED powers-of-two grid (a 2r-row band matching implies both r-row
    * halves match, so candidate sets only grow with the band count), the
    * deployed-point contract (q103's discipline applied to the near-dup
    * tier), and a planted exact pair that must be a candidate at every
    * grid point (identical docs share every minhash).
    */
  test("LSH sweep: nested-grid monotone laws, deployed contract, planted exact pair") {
    import spark.implicits._
    val rows = Dedup.q133(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getBoolean(6)))
    assert(rows.map(_._1).toSeq ===
      Dedup.LshSweepRows.map(Dedup.MinhashK / _).sorted.reverse,
      "one row per grid point, bands descending")
    assert(rows.count(_._7) === 1, "exactly one deployed row")
    assert(rows.find(_._7).map(r => (r._1, r._2)) ===
      Some((Dedup.Bands, Dedup.RowsPerBand)))
    // nested grid: candidates and hits monotone non-decreasing in bands
    val asc = rows.sortBy(_._1).toSeq
    asc.map(_._3).sliding(2).foreach {
      case Seq(a, b) => assert(b >= a, "candidate mass shrank as bands grew")
      case _ => ()
    }
    asc.map(_._5).sliding(2).foreach {
      case Seq(a, b) => assert(b >= a, "hits shrank as bands grew")
      case _ => ()
    }
    rows.foreach { r =>
      assert(r._5 <= r._4, "hits exceed the truth set")
      assert(r._5 <= r._3, "hits exceed the candidates")
      assert(r._4 === rows.head._4, "truth set must not vary across the grid")
    }
    // the deployed-point contract: meets the recall target, at a candidate
    // cost within 2x the cheapest sufficient grid point
    val target = 0.9
    val sufficient = rows.filter(_._6.exists(_ >= target))
    assert(sufficient.nonEmpty, s"no grid point reaches recall $target")
    val dep = rows.find(_._7).get
    assert(dep._6.exists(_ >= target),
      s"deployed banding under the $target recall target: ${dep._6}")
    assert(dep._3 <= 2 * sufficient.map(_._3).min,
      s"deployed banding scans ${dep._3} candidates, >2x the cheapest " +
        s"sufficient point (${sufficient.map(_._3).min})")
    // planted exact pair: J=1 shares every minhash, so it is a candidate
    // (and the only truth pair) at EVERY grid point
    val planted = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight")
      .toDF("doc_id", "text")
    val p = Dedup.lshSweep(planted, 0.8).collect()
      .map(r => (r.getInt(0), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(p.length === Dedup.LshSweepRows.size)
    p.foreach { r =>
      assert(r._2 === 1L, s"planted truth must be exactly the exact pair at bands=${r._1}")
      assert(r._3 === 1L, s"exact pair missed at bands=${r._1}")
      assert(r._4 === Some(1.0))
    }
  }
}
