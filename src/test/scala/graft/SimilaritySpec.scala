package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Recall/consistency properties for the ANN tier (q24/q25) against the
  * exact Q20 baseline on the sf0.001 fixture. Hyperplanes are derived from
  * Murmur3 so every assertion is deterministic.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ANN (q25) recall@10 vs exact (q20) is >= 0.5") {
    val exact = pairs(Similarity.q20(spark, dir))
    val ann = pairs(Similarity.q25(spark, dir))
    assert(exact.size === 50)
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall below bound")
  }

  test("IVF ANN (q39) recall@10 vs exact (q20) is >= 0.5") {
    val exact = pairs(Similarity.q20(spark, dir))
    val ivf = pairs(Similarity.q39(spark, dir))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below bound")
  }

  test("ANN scores agree with exact scores on overlapping pairs") {
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = scored(Similarity.q20(spark, dir))
    val ann = scored(Similarity.q25(spark, dir))
    for ((k, s) <- ann if exact.contains(k))
      assert(s === exact(k), s"score mismatch on $k")
  }

  test("native hyperplane buckets equal the declarative HOF form (all tables)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{expressions => fe, vectors}
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
    val both = emb.select(
      col("vec_id"),
      fe.vecexprs.hyperplaneBuckets(col("v"),
        Similarity.Planes, Similarity.NTables).as("native"),
      array((0 until Similarity.NTables).map(t =>
        Similarity.hyperplaneBucket(col("v"), t)): _*).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"bucket drift for vec ${r.getLong(0)}")
    }
  }

  test("native nearest-cells expression matches a reference selection, ties by id") {
    import org.apache.spark.sql.functions._
    import graft.functions.{expressions => fe, vectors}
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
    val centroids: Array[Array[Double]] = emb.orderBy("vec_id").limit(6)
      .collect().map(_.getSeq[Double](1).toArray)
    val got = emb.select(col("vec_id"),
      fe.vecexprs.nearestCells(col("v"), centroids, 3).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    for ((id, v) <- vecs) {
      val expect = centroids.zipWithIndex.map { case (c, i) =>
        val m = math.min(c.length, v.length)
        var d = 0.0; var j = 0
        while (j < m) { val x = c(j) - v(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(3).map(_._2).toSeq
      assert(got(id) === expect, s"cells drift for vec $id")
    }
    // equidistant centroids resolve by centroid id, deterministically
    val tied = Seq((0L, Seq(0.0, 0.0))).toDF("vec_id", "v")
      .select(fe.vecexprs.nearestCells(col("v"),
        Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0)), 2).as("cells"))
      .head().getSeq[Int](0)
    assert(tied === Seq(0, 1))
    // degenerate vectors (NaN element → every distance NaN) fall back to
    // the lowest untaken centroid ids instead of crashing the task
    val degen = Seq((0L, Seq(Double.NaN, 1.0))).toDF("vec_id", "v")
      .select(fe.vecexprs.nearestCells(col("v"),
        Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0)), 2).as("cells"))
      .head().getSeq[Int](0)
    assert(degen === Seq(0, 1))
  }

  test("embedding near-dup (q24) returns only pairs above threshold") {
    val rows = Similarity.q24(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= Similarity.NearDupCosine)
      assert(r.getLong(0) < r.getLong(1), "pairs must be (a < b), no dupes")
    }
    // symmetric-pair uniqueness
    val ids = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.distinct.length === ids.length)
  }

  test("LSH near-dup (q24) is a subset of exact near-dup (q48)") {
    def idPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = idPairs(Similarity.q48(spark, dir))
    val lsh = idPairs(Similarity.q24(spark, dir))
    assert(exact.nonEmpty)
    assert((lsh -- exact).isEmpty, "LSH must never invent a pair")
    // Recall bound is THEORY-derived for the fixture's artificially low
    // 0.35 threshold (no true near-dups exist in the synthetic data): at
    // cosine c the per-plane collision prob is p = 1 - acos(c)/pi, so
    // 4 tables x 6 planes give 1-(1-p^6)^4 ~= 0.20 at c=0.35 (observed
    // ~0.19). At a production near-dup threshold of 0.95 the same config
    // yields ~0.95 recall — the chosen operating point, not a weakness.
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.10, s"near-dup recall $recall below theory floor")
  }

  test("LSH near-dup recall >= 0.9 at the production threshold (0.95)") {
    // Planted corpus: 200 random 64-dim vectors plus 50 true near-dups
    // (v + 0.15*noise => cosine ~0.99). At c >= 0.95 the banding theory
    // gives per-plane p = 1 - acos(c)/pi >= 0.90, so 4 tables x 6 planes
    // recall 1-(1-p^6)^4 >= 0.95 — THIS is the operating point the
    // fixture-threshold test above cannot exercise.
    val rnd = new scala.util.Random(7)
    val dim = 64
    def vec(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val planted = base.take(50).map { case (i, v) =>
      (200L + i, v.zip(Array.fill(dim)(rnd.nextGaussian()))
        .map { case (x, g) => x + 0.15 * g })
    }
    val all = base ++ planted
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.95
    } yield (ia, ib)).toSet
    assert(truth.size >= 40, s"fixture degenerate: only ${truth.size} true pairs")
    import spark.implicits._
    val df = all.toDF("vec_id", "v")
    val found = Similarity.lshNearDupPairs(df, 0.95)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((found -- truth).isEmpty, "LSH must never invent a pair")
    val recall = (found & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"production-threshold recall $recall below 0.9")
  }

  /** q82 bitext margin on a planted frame with hand-computable cosines:
    * probe [1,0,0]; fr candidates at cosine 1.0, 0.8 and 0.0 — best must be
    * the exact match with margin 1.0 - 0.8 = 0.2; the en candidate and the
    * out-of-stride probe must not appear.
    */
  /** q85 planted semantic clique: five near-identical vectors (pairwise
    * cosine ~0.999) among well-separated background vectors must resolve to
    * ONE keeper (the min id) with the rest dropped, and every background
    * vector must stay a kept singleton. The fixture properties (clique
    * pairs >= 0.95, all other pairs < 0.95) are asserted in plain Scala
    * first, so a bad seed fails loudly as a fixture error, not a flake.
    */
  test("semantic dedup resolves a planted embedding clique to one keeper") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val bg = (0 until 30).map(i =>
      (100L + i, unit(Array.fill(dim)(rnd.nextGaussian()))))
    val cliqueBase = unit(Array.fill(dim)(rnd.nextGaussian()))
    val clique = (0 until 5).map { i =>
      val v = cliqueBase.clone(); v(i) += 0.001; (10L + i, unit(v))
    }
    val all = bg ++ clique
    for ((ia, va) <- clique; (ib, vb) <- clique if ia < ib)
      assert(cos(va, vb) >= 0.95, s"fixture: clique pair $ia-$ib too far")
    for ((ia, va) <- all; (ib, vb) <- all
         if ia < ib && !(ia >= 10 && ia < 15 && ib >= 10 && ib < 15))
      assert(cos(va, vb) < 0.95, s"fixture: unplanted pair $ia-$ib too close")
    val df = all.toDF("vec_id", "v")
    val got = Similarity.semanticDedup(
        df.select(col("vec_id")), df, Similarity.SemDedupCosine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.length === all.size)
    (10L to 14L).foreach(id =>
      assert(byId(id) === ((10L, id == 10L)), s"clique member $id"))
    bg.foreach { case (id, _) =>
      assert(byId(id) === ((id, true)), s"background $id") }
  }

  /** q92 hard negatives: the cross-label top-k must rank by cosine, skip
    * same-label candidates, gate out suspected-dup near-positives at the
    * ceiling, and break cosine ties by cand_id — every rank hand-computed.
    */
  test("hard-negative mining ranks cross-label neighbors and gates near-dups") {
    import spark.implicits._
    val rows = Seq(
      (0L, 1, Seq(1.0, 0.0, 0.0)),  // probe
      (10L, 2, Seq(1.0, 0.0, 0.0)), // cos 1.0 >= 0.35 ceiling: suspected dup
      (15L, 2, Seq(1.0, 1.0, 0.0)), // cos 0.7071 >= ceiling: gated too
      (11L, 2, Seq(1.0, 3.0, 0.0)), // cos 1/sqrt(10) = 0.316228 -> rank 1
      (12L, 2, Seq(1.0, 4.0, 0.0)), // cos 1/sqrt(17) = 0.242536 -> rank 2
      (13L, 1, Seq(1.0, 5.0, 0.0)), // same label: never a negative
      (14L, 3, Seq(0.0, 1.0, 0.0)), // cos 0.0 -> rank 3 (id beats 16)
      (16L, 3, Seq(0.0, 0.0, 1.0))) // cos 0.0 -> rank 4 (tie-break)
      .toDF("id", "label", "v")
    val got = Similarity.hardNegatives(
        rows.filter(col("id") === 0L), rows, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got === Array(
      (0L, 1, 11L, 0.316228),
      (0L, 2, 12L, 0.242536),
      (0L, 3, 14L, 0.0),
      (0L, 4, 16L, 0.0)))
  }

  /** q92b production twin: the IVF-fed candidate generator must recover
    * most of the exact anchor's negatives (the q25/q39 recall contract
    * applied to mining), and every (probe, cand) pair both forms emit must
    * carry the identical rounded cosine — the tail is shared code, so a
    * score mismatch means the twin scored a pair twice.
    *
    * The floor is the HONEST one (VERDICT r11 #3): the pipeline is fully
    * deterministic (hash-keyed fit sample, driver-side Lloyd fit in
    * sample order), and measured recall under AnnIndex's √cells
    * fan-out is 0.754 here (sf0.001), 0.692 at sf0.01, 0.532 at sf0.1 —
    * scale-stable where the old fixed 4-probe fan-out decayed (0.477 →
    * 0.368). 0.6 fails on any quiet cell-assignment or fan-out
    * degradation at this fixture.
    */
  test("IVF hard negatives (q92b) recall vs exact (q92) is >= 0.6, scores equal") {
    def mined(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("probe_id", "cand_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = mined(Similarity.q92(spark, dir))
    val ivf = mined(Similarity.q92b(spark, dir))
    assert(exact.nonEmpty)
    val overlap = exact.keySet & ivf.keySet
    val recall = overlap.size.toDouble / exact.size
    assert(recall >= 0.6, s"q92b recall $recall below bound")
    overlap.foreach(k =>
      assert(exact(k) === ivf(k), s"score drift on $k"))
  }

  /** q98/q98b PQ-ADC: the refined top-10 must recover most of the exact
    * top-10. Measured on this fixture (deterministic: hash-keyed fit
    * sample + driver-side Lloyd fit for q98, lowest-id seeds for q98b) at
    * the round-13 calibrated shortlist (160 — the q103 sweep at the 200k
    * decade showed the old 40 was the binding constraint on the whole
    * stack): trained 0.94 / seeded 0.96 at sf0.001, 0.76 / 0.84 at
    * sf0.1 — so 0.8 at this fixture fails on any quiet encode, LUT, or
    * shortlist degradation without flaking on the fixture's own variation.
    */
  test("PQ-ADC (q98 trained, q98b seeded) recall@10 vs exact (q20) is >= 0.8") {
    val exact = pairs(Similarity.q20(spark, dir))
    assert(exact.size === 50)
    val rt = (exact & pairs(Similarity.q98(spark, dir))).size.toDouble / exact.size
    val rs = (exact & pairs(Similarity.q98b(spark, dir))).size.toDouble / exact.size
    assert(rt >= 0.8, s"trained PQ recall $rt below bound")
    assert(rs >= 0.8, s"seeded PQ recall $rs below bound")
  }

  /** q101/q101b IVF-PQ (the composed production stack): recall vs exact
    * q20 with measured-honest floors at the round-13 calibrated shortlist
    * (160) — trained 0.76 (sf0.001) / 0.62 (sf0.1), and 0.94 at sf1 20k
    * under the earlier MLlib fit: with the shortlist constraint removed
    * the trained form is now ROUTING-bound at small scales (the
    * sample-fit coarse cells, not the ADC order, drop the missing
    * neighbors); seeded 0.88 / 0.90 / 0.96.
    * So 0.45 / 0.8 fail on any quiet routing or ADC degradation. Every
    * overlapping pair must carry the IDENTICAL rounded score: the refine
    * is exact cosine by construction, so a score drift means the refine
    * read the wrong vector.
    */
  test("IVF-PQ (q101 trained, q101b seeded) recall floors hold; refined scores exact") {
    def scored(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("probe_id", "neighbor_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = scored(Similarity.q20(spark, dir))
    assert(exact.size === 50)
    val trained = scored(Similarity.q101(spark, dir))
    val seeded = scored(Similarity.q101b(spark, dir))
    val rt = (exact.keySet & trained.keySet).size.toDouble / exact.size
    val rs = (exact.keySet & seeded.keySet).size.toDouble / exact.size
    assert(rt >= 0.45, s"trained IVF-PQ recall $rt below bound")
    assert(rs >= 0.8, s"seeded IVF-PQ recall $rs below bound")
    for (m <- Seq(trained, seeded); k <- exact.keySet & m.keySet)
      assert(exact(k) === m(k), s"refined score drift on $k")
  }

  /** Planted lossless-codebook property: when every corpus vector IS one
    * of the codeword seeds, per-subspace encode is exact (the distance-0
    * argmin is the vector's own slice), reconstruction is the original
    * vector, and the 160-row shortlist holds all 15 candidates — so the
    * refined output must equal the exact cosine ranking, hand-computed in
    * plain Scala with CosineSimExpr's fold order. A wrong slice boundary,
    * a transposed LUT index, or a dropped shortlist row all break exact
    * equality here. dim=16 over 8 subspaces exercises 2-wide slices.
    */
  test("PQ-ADC on a corpus of codewords reproduces the exact ranking") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val vecs = (0 until Similarity.PqCodewords)
      .map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "v")
    val cbs = Similarity.pqCodebooksFromSeeds(vecs.map(_._2).toArray)
    val got = Similarity.pqAdcTopK(df, cbs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = for {
      p <- 0L until 5L
      (ic, r) <- vecs.filter(_._1 != p)
        .map { case (i, v) => (i, cos(vecs(p.toInt)._2, v)) }
        .sortBy { case (i, c) => (-c, i) }.take(10).zipWithIndex
    } yield (p, r + 1, ic._1,
      BigDecimal(ic._2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.toSeq === want.toSeq)
  }

  /** q99/q99b semantic decon on a planted frame: two eval items, one train
    * doc that is a near-identical paraphrase of eval 0 (cosine ≥ 0.95 —
    * asserted on the fixture first, so a bad seed fails as a fixture
    * error), and well-separated clean background. BOTH the exact anchor
    * and the quantized twin must flag exactly the planted doc against
    * eval 0 with the same rounded cosine, and report every background doc
    * clean — the quantized form additionally proves the no-cell-mate
    * fan-back keeps every train row.
    */
  test("semantic decon flags a planted paraphrase in both exact and IVF forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val e0 = unit(Array.fill(dim)(rnd.nextGaussian()))
    val e30 = unit(Array.fill(dim)(rnd.nextGaussian()))
    val leak = { val v = e0.clone(); v(3) += 0.001; unit(v) }
    val bg = (0 until 15).map(i =>
      (40L + i, unit(Array.fill(dim)(rnd.nextGaussian()))))
    assert(cos(e0, leak) >= 0.95, "fixture: paraphrase drifted too far")
    for ((id, v) <- bg; (en, ev) <- Seq(("e0", e0), ("e30", e30)))
      assert(cos(v, ev) < 0.95, s"fixture: background $id too close to $en")
    val evalDf = Seq((0L, e0.toSeq), (30L, e30.toSeq)).toDF("eval_id", "ev")
    val trainDf = ((11L, leak.toSeq) +: bg.map { case (i, v) => (i, v.toSeq) })
      .toDF("vec_id", "v")
    def fates(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> ((r.getBoolean(3),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))))
      .toMap
    val exact = fates(Similarity.semanticDecon(
      evalDf, trainDf, Similarity.SemDedupCosine))
    val quant = fates(Similarity.semanticDeconQuantized(
      evalDf, trainDf, Similarity.SemDedupCosine))
    for (m <- Seq(exact, quant)) {
      assert(m.keySet === (Set(11L) ++ bg.map(_._1)), "a train row vanished")
      assert(m(11L)._1 === true, "planted paraphrase not flagged")
      assert(m(11L)._2.map(_._1) === Some(0L), "flag against the wrong eval")
      bg.foreach { case (id, _) =>
        assert(!m(id)._1, s"background $id wrongly contaminated") }
    }
    assert(exact(11L)._2 === quant(11L)._2, "flagged score drifted across forms")
  }

  /** q103 ANN calibration sweep: structural properties of the table the
    * operating point is read from. Recall is monotone in the SHORTLIST at
    * fixed fan-out (a larger shortlist is a superset); scanned mass is
    * monotone in the fan-out, identical across shortlists (it measures the
    * candidate join, not the rank), and saturates at probes×(N−1) when
    * every cell is probed; exactly one row — the deployed
    * (IvfProbes, PqShortlist) point — is flagged. Recall need NOT be
    * monotone in the fan-out at a fixed shortlist (new candidates can
    * out-ADC a true neighbor out of a bounded shortlist), which is exactly
    * why the table exists — asserting that would bake in the fallacy the
    * sweep is meant to expose.
    */
  test("ANN sweep: shortlist-monotone recall, saturating scanned mass, one deployed row") {
    val got = Similarity.q103(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getBoolean(6)))
    assert(got.length ===
      Similarity.SweepProbes.size * Similarity.SweepShortlists.size)
    assert(got.count(_._7) === 1, "exactly one deployed row")
    assert(got.find(_._7).map(r => (r._1, r._2)) ===
      Some((Similarity.IvfProbes, Similarity.PqShortlist)))
    val byProbe = got.groupBy(_._1)
    for ((p, rows) <- byProbe) {
      assert(rows.map(_._3).distinct.length === 1,
        s"scanned mass varies across shortlists at nprobe=$p")
      // recall monotone non-decreasing in the shortlist
      rows.sortBy(_._2).map(_._6.get).toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b >= a, s"recall dropped as the shortlist grew at nprobe=$p")
        case _ => ()
      }
      rows.foreach(r => assert(r._4 <= r._5, "hits exceed the truth set"))
    }
    // scanned mass monotone in fan-out; full fan-out covers the corpus
    val sp = Similarity.SweepProbes.map(p => byProbe(p).head._3)
    sp.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b >= a, "scanned mass shrank as the fan-out grew")
      case _ => ()
    }
    val n = Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("embedding").isNotNull)
      .count()
    assert(sp.last === 5L * (n - 1),
      "probing every cell must scan the whole corpus per probe")
    assert(got.forall(r => r._5 === 50L), "5 probes × top-10 ground truth")
  }

  /** The closed loop over the q103 table (round-14 #7): the sweep and the
    * q119 scoreboard existed separately; this contract reads the
    * calibration table, finds the CHEAPEST grid point meeting
    * [[Similarity.ServedRecallTarget]], and asserts the DEPLOYED
    * (IvfProbes, PqShortlist) constants sit at or above it — both in
    * recall (the served tier keeps its promise) and in knob position (the
    * deployed point dominates the cheapest sufficient one, so it isn't
    * accidentally sub-minimal). A future fixture/data change that silently
    * degrades the deployed operating point below target now fails here
    * instead of on a dashboard.
    */
  test("recall contract: deployed ANN knobs meet the target the sweep justifies") {
    val grid = Similarity.q103(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getBoolean(6)))
    val qualifying = grid.filter(
      _._4.exists(_ >= Similarity.ServedRecallTarget))
    assert(qualifying.nonEmpty,
      s"no grid point reaches recall ${Similarity.ServedRecallTarget} — " +
        "the sweep grid no longer contains a viable operating point")
    val cheapest = qualifying.minBy(r => (r._3, r._2, r._1))
    val deployed = grid.find(_._5).get
    assert(deployed._4.exists(_ >= Similarity.ServedRecallTarget),
      s"deployed point recall ${deployed._4} fell below the " +
        s"${Similarity.ServedRecallTarget} contract (cheapest sufficient " +
        s"point: nprobe=${cheapest._1}, shortlist=${cheapest._2})")
    assert(deployed._1 >= cheapest._1 && deployed._2 >= cheapest._2,
      s"deployed knobs (${deployed._1}, ${deployed._2}) sit below the " +
        s"cheapest sufficient point (${cheapest._1}, ${cheapest._2})")
  }

  /** q125 on a planted two-cluster corpus: members assign to their
    * nearest seed, each cell flags exactly its farthest ⌊n/10⌋ members
    * (floor — the 5-member cell trims nothing), and members tied at the
    * same rounded distance rank in vec_id order (the e6-round tie-break
    * contract the oracle shares).
    */
  test("cluster trim flags exactly the farthest floor(n/10) per cell") {
    import spark.implicits._
    val seeds = Array(Array(0.0, 0.0), Array(100.0, 0.0))
    // cell 0: ids 1..12 at distance i from the origin seed, plus ids 20/21
    // tied with id 3 at rounded distance 3.0 → n=14, trim ⌊14/10⌋=1
    // cell 1: ids 30..34 at distance 1..5 from (100,0) → n=5, trim 0
    val base = ((1 to 12).map(i => (i.toLong, Seq(i.toDouble, 0.0))) ++
      Seq((20L, Seq(0.0, 3.0)), (21L, Seq(-3.0, 0.0))) ++
      (30 to 34).map(i => (i.toLong, Seq(100.0, (i - 29).toDouble))))
      .toDF("vec_id", "v")
    val got = Similarity.clusterTrim(base, seeds).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4)))
    val byId = got.map(t => t._1 -> t).toMap
    assert(got.count(_._2 == 0) === 14 && got.count(_._2 == 1) === 5)
    assert(got.filter(_._5).map(_._1).toSeq === Seq(12L),
      "exactly the farthest member of the 14-cell is trimmed")
    assert(byId(12L)._3 === 1, "farthest ranks first")
    assert(got.filter(_._2 == 1).forall(!_._5), "5-member cell trims nothing")
    // the three members at rounded distance 3.0 rank in vec_id order
    val tied = Seq(byId(3L)._3, byId(20L)._3, byId(21L)._3)
    assert(tied === tied.sorted, "ties must break by vec_id ascending")
    assert(byId(3L)._3 === byId(20L)._3 - 1 && byId(20L)._3 === byId(21L)._3 - 1,
      "tied members must rank adjacently")
  }

  /** q126 on a planted two-cluster corpus: the over-cap cell keeps exactly
    * its [[Similarity.ClusterSampleCap]] lowest-md5(salt‖id) members (the
    * expected draw computed independently with MessageDigest), the
    * under-cap cell keeps everyone, and ranks are the gapless 1..n per
    * cell.
    */
  test("cluster sample keeps the md5-lowest cap per cell") {
    import spark.implicits._
    val seeds = Array(Array(0.0, 0.0), Array(100.0, 0.0))
    val base = ((1 to 30).map(i => (i.toLong, Seq(i % 7 * 1.0, i % 5 * 1.0)))
      ++ (40 to 44).map(i => (i.toLong, Seq(100.0, (i - 39).toDouble))))
      .toDF("vec_id", "v")
    val got = Similarity.clusterSample(base, seeds).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4)))
    def dk(id: Long): String = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"${Similarity.ClusterSampleSalt}$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val wantKept = (1L to 30L).sortBy(id => (dk(id), id))
      .take(Similarity.ClusterSampleCap).toSet
    assert(got.filter(t => t._2 == 0 && t._5).map(_._1).toSet === wantKept,
      "over-cap cell must keep exactly the md5-lowest cap draw")
    assert(got.filter(_._2 == 1).forall(t => t._5 && t._4 === 5L),
      "under-cap cell keeps everyone")
    got.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._3).sorted.toVector === (1 to rs.length).toVector,
        s"gapped pick ranks in cell $c")
    }
  }

  /** Trained twins of q125/q126 (init-dependent like q39, so structural
    * rather than oracle-hashed): under a KMeans-FIT codebook on the real
    * fixture, the trim still flags exactly ⌊n/10⌋ per cell and the sample
    * keeps exactly min(cap, n) per cell with gapless ranks. The policies
    * are codebook-independent — the seeded oracle rows pin the ranking
    * machinery, this pins the trained composition.
    */
  test("cluster trim/sample policies hold under a trained quantizer") {
    import graft.functions.vectors
    val base = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val quant = graft.operators.AnnIndex.fitted(base, base.count()).get.quant
    val cents = quant match {
      case graft.operators.FlatQuantizer(c) => c
      case other => fail(s"fixture-scale quantizer should be flat: $other")
    }
    val trim = Similarity.clusterTrim(base, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4)))
    assert(trim.length === 500)
    trim.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.forall(_._4 === rs.length.toLong), s"cell_n drift in cell $c")
      assert(rs.count(_._5) === rs.length / Similarity.TrimDecile,
        s"trim count in cell $c")
      assert(rs.filter(_._5).map(_._3).forall(_ <= rs.length / 10),
        s"trimmed set must be the farthest ranks in cell $c")
    }
    val samp = Similarity.clusterSample(base, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4)))
    samp.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.count(_._5) ===
        math.min(Similarity.ClusterSampleCap, rs.length),
        s"keep count in cell $c")
      assert(rs.map(_._3).sorted.toVector === (1 to rs.length).toVector,
        s"gapped pick ranks in cell $c")
    }
  }

  /** Empty-eval edge (round-13 contract fix): BOTH decon forms must fan
    * every train row back clean when the eval set is empty — an empty
    * benchmark suite contaminates nothing, it doesn't erase the training
    * corpus. Before the fix the exact anchor dropped all train rows (a
    * groupBy over an empty cross join yields no groups) while the
    * quantized twin fanned them back, so the two forms disagreed on this
    * edge.
    */
  test("semantic decon with an empty eval set keeps every train row clean in both forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val train = (0L until 12L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "v")
    val noEval = Seq.empty[(Long, Seq[Double])].toDF("eval_id", "ev")
    for ((form, df) <- Seq(
      "exact" -> Similarity.semanticDecon(noEval, train, Similarity.SemDedupCosine),
      "quantized" -> Similarity.semanticDeconQuantized(
        noEval, train, Similarity.SemDedupCosine))) {
      val rows = df.collect()
      assert(rows.length === 12, s"$form dropped train rows on empty eval")
      rows.foreach { r =>
        assert(r.isNullAt(1) && r.isNullAt(2) && !r.getBoolean(3),
          s"$form: expected (null, null, false) fate on empty eval")
      }
    }
  }

  /** q121b (round-15): the serve-only twin must be bit-equal to the
    * one-shot q121 (same seeds, same ivfPqServe code, deterministic given
    * the index), and a SECOND invocation — now serving off the cached
    * session index with no rebuild — must reproduce it again.
    */
  test("q121b serves off the session-persistent index, bit-equal to one-shot q121") {
    val oneShot = Similarity.q121(spark, dir).collect().map(_.toSeq).toSeq
    val first = Similarity.q121b(spark, dir).collect().map(_.toSeq).toSeq
    val served = Similarity.q121b(spark, dir).collect().map(_.toSeq).toSeq
    assert(first === oneShot, "index-building q121b invocation drifted from q121")
    assert(served === oneShot, "cached-index serve drifted from q121")
  }

  /** q92b empty-corpus short-circuit: KMeans cannot fit zero vectors (q39
    * precedent) — the twin must return an empty, schema-correct frame
    * rather than throw.
    */
  test("IVF hard negatives on an empty corpus return an empty, schema-correct frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Int, Seq[Double])].toDF("id", "label", "v")
    val got = Similarity.hardNegativesIvf(empty, empty, 5)
    assert(got.columns.toSeq === Seq("probe_id", "rnk", "cand_id", "cosine"))
    assert(got.count() === 0)
  }

  /** q93 embedding outliers: two seed clusters (k=2 → seeds are ids 0,1),
    * every cosine distance exact by 3-4-5 construction, every z-score
    * hand-computed. Cluster 0 = {0,2,3} with d = {0,.2,.4}: mu=.2,
    * sigma_pop=.2/sqrt(1.5) → z = ∓1.2247, 0. Cluster 1 = five members at
    * d=0 plus one at d=1.6: the planted stray's z is exactly sqrt(5) =
    * 2.2361 > 2 (the only outlier); members sit at -1/sqrt(5) = -0.4472.
    */
  test("embedding outliers: exact cluster z-scores, one planted stray flagged") {
    import spark.implicits._
    val rows = Seq(
      (0L, Seq(1.0, 0.0)),   // seed 0
      (1L, Seq(0.0, 1.0)),   // seed 1
      (2L, Seq(4.0, -3.0)),  // cos(s0)=.8 -> d=.2 (cluster 0)
      (3L, Seq(3.0, -4.0)),  // cos(s0)=.6 -> d=.4 (cluster 0)
      (4L, Seq(0.0, 2.0)),   // d=0 (cluster 1)
      (6L, Seq(0.0, 5.0)),   // d=0 (cluster 1)
      (7L, Seq(0.0, 9.0)),   // d=0 (cluster 1)
      (8L, Seq(0.0, 3.0)),   // d=0 (cluster 1)
      (9L, Seq(-4.0, -3.0))) // cos(s1)=-.6 -> d=1.6: the stray
      .toDF("vec_id", "v")
    val got = Similarity.embeddingOutliers(rows, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got === Array(
      (0L, 0L, 0.0, -1.2247, false),
      (1L, 1L, 0.0, -0.4472, false),
      (2L, 0L, 0.2, 0.0, false),
      (3L, 0L, 0.4, 1.2247, false),
      (4L, 1L, 0.0, -0.4472, false),
      (6L, 1L, 0.0, -0.4472, false),
      (7L, 1L, 0.0, -0.4472, false),
      (8L, 1L, 0.0, -0.4472, false),
      (9L, 1L, 1.6, 2.2361, true)))
  }

  /** Null and zero-norm embeddings have no defined cosine distance; without
    * a guard Spark's min(struct) orders the NULL distance FIRST (picking the
    * undefined assignment) while a NULLS-LAST rank picks the best real one —
    * so they are excluded outright, and every surviving row must be
    * bit-identical to the clean-input run (same seeds, same stats).
    */
  test("embedding outliers: null and zero-norm vectors are excluded, stats untouched") {
    import spark.implicits._
    val rows = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.0, 1.0)),
      (2L, Seq(4.0, -3.0)),
      (3L, Seq(3.0, -4.0)),
      (4L, Seq(0.0, 2.0)),
      (5L, null.asInstanceOf[Seq[Double]]), // no embedding
      (6L, Seq(0.0, 5.0)),
      (7L, Seq(0.0, 9.0)),
      (8L, Seq(0.0, 3.0)),
      (9L, Seq(-4.0, -3.0)),
      (10L, Seq(0.0, 0.0))) // zero norm: cosine undefined
      .toDF("vec_id", "v")
    val got = Similarity.embeddingOutliers(rows, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got === Array(
      (0L, 0L, 0.0, -1.2247, false),
      (1L, 1L, 0.0, -0.4472, false),
      (2L, 0L, 0.2, 0.0, false),
      (3L, 0L, 0.4, 1.2247, false),
      (4L, 1L, 0.0, -0.4472, false),
      (6L, 1L, 0.0, -0.4472, false),
      (7L, 1L, 0.0, -0.4472, false),
      (8L, 1L, 0.0, -0.4472, false),
      (9L, 1L, 1.6, 2.2361, true)))
  }

  test("bitext margin ranks the planted best translation with the exact margin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (0L, "en", Seq(1.0, 0.0, 0.0)), // probe
      (10L, "fr", Seq(1.0, 0.0, 0.0)), // cos 1.0 -> best
      (11L, "fr", Seq(0.8, 0.6, 0.0)), // cos 0.8 -> runner-up
      (12L, "fr", Seq(0.0, 0.0, 1.0)), // cos 0.0
      (13L, "en", Seq(1.0, 0.0, 0.0)), // en: never a candidate
      (14L, "de", Seq(0.6, 0.8, 0.0))) // cos 0.6 -> third
      .toDF("id", "lang", "v")
    val got = Similarity.bitextMargin(rows.filter(col("id") === 0L))(rows)
      .collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getLong(0) === 0L && r.getLong(1) === 10L)
    assert(r.getDouble(2) === 1.0)
    assert(math.abs(r.getDouble(3) - 0.2) < 1e-9, s"margin ${r.getDouble(3)}")
  }

  /** q96: planted per-dimension stats, hand-computed in the quantized
    * domain. dim1 is constant (std 0), dim2 is ±1 (mean 0, std exactly 1),
    * dim3 has a known non-trivial mean/std; a null embedding row changes
    * nothing.
    */
  test("embedding stats: hand-computed quantized mean/std per dim, nulls excluded") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0.5f, 1.0f, 0.1f)),
      (2L, Seq(0.5f, -1.0f, 0.3f)),
      (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingStats(emb).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // dim1: q = 5000, 5000 -> n 2, sum 10000, mean_e6 500000, std 0
    assert(got(1) === ((2L, 10000L, 500000L, 0L)))
    // dim2: q = 10000, -10000 -> mean 0, var 1e8, std 1e4 -> std_e6 1e6
    assert(got(2) === ((2L, 0L, 0L, 1000000L)))
    // dim3: q = floor(0.1f*1e4)=1000 (0.1f widens just above 0.1),
    // floor(0.3f*1e4)=3000 (0.3f widens just above 0.3); mean 2000 q-units
    // -> 200000 e6-units; var = 1e6 q^2, std = 1000 q-units -> 100000
    assert(got(3) === ((2L, 4000L, 200000L, 100000L)))
  }

  /** q111: planted refresh, hand-computed in the quantized domain.
    * Cells 1 and 2 share an identical centroid, so cell 2 attracts no
    * member (lowest-cell tie-break) and must keep its old centroid with
    * shift 0 — the empty-cell contract. Cell 0's dim 1 exercises the
    * negative-sum floor, dim 2 the non-exact division floor.
    */
  test("codebook refresh: hand-computed means, empty cell keeps its centroid") {
    import spark.implicits._
    val cb = Array(Array(0.0, 0.0), Array(10.0, 10.0), Array(10.0, 10.0))
    val base = Seq(
      (1L, Seq(1.0, 2.0)),   // cell 0
      (2L, Seq(-1.0, 0.0)),  // cell 0
      (3L, Seq(-1.5, 0.0)),  // cell 0
      (4L, Seq(9.0, 11.0)))  // cells 1/2 equidistant -> 1
      .toDF("vec_id", "v")
    val got = Similarity.codebookRefresh(base, cb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // cell 0 dim 1: q = 10000, -10000, -15000 -> floor(-15000*100/3) = -500000
    assert(got((0, 1)) === ((3L, -500000L, 0L, -500000L)))
    // cell 0 dim 2: q = 20000, 0, 0 -> floor(2000000/3) = 666666
    assert(got((0, 2)) === ((3L, 666666L, 0L, 666666L)))
    // cell 1: the single member's dims, exactly
    assert(got((1, 1)) === ((1L, 9000000L, 10000000L, -1000000L)))
    assert(got((1, 2)) === ((1L, 11000000L, 10000000L, 1000000L)))
    // cell 2: empty -> old centroid kept, zero shift
    assert(got((2, 1)) === ((0L, 10000000L, 10000000L, 0L)))
    assert(got((2, 2)) === ((0L, 10000000L, 10000000L, 0L)))
  }

  /** q119: recall/MRR/NDCG hand-computed on planted rankings — a partial
    * hitter (hits at served ranks 1 and 4), a complete miss, a perfect
    * ranking (NDCG exactly 1e6), and a truth set smaller than K (the
    * ideal prefix must follow n_truth, not K).
    */
  test("retrieval eval: hand-computed recall/MRR/NDCG on planted rankings") {
    import spark.implicits._
    val w = Similarity.NdcgWeightsE6
    val p = Similarity.NdcgIdealE6
    val truth = ((1L to 10L).map(n => (0L, n)) ++
      (1L to 5L).map(n => (1L, n * 100)) ++
      (1L to 10L).map(n => (2L, n))).toDF("probe_id", "neighbor_id")
    val served = (
      Seq((0L, 1, 1L), (0L, 2, 500L), (0L, 3, 501L), (0L, 4, 2L)) ++
        (5 to 10).map(r => (0L, r, 600L + r)) ++
        (1 to 10).map(r => (1L, r, 900L + r)) ++
        (1 to 10).map(r => (2L, r, r.toLong)))
      .toDF("probe_id", "rnk", "neighbor_id")
    val got = Similarity.retrievalEval(truth, served).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val dcg0 = w(0) + w(3)
    assert(got(0L) ===
      ((10L, 2L, 200000L, 1000000L, dcg0, dcg0 * 1000000L / p(9))))
    assert(got(1L) === ((5L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(2L) === ((10L, 10L, 1000000L, 1000000L, p(9), 1000000L)))
  }

  /** q117: the greedy MMR walk against a plain-Scala model on a planted
    * 3-dim pool (an exact-dup pair at the top, moderately relevant
    * diverse candidates below), including the claim that makes the
    * operator exist: step 2 is NOT the duplicate that pure top-k would
    * rank second. Fewer candidates than MmrK ⇒ the walk stops early.
    */
  test("MMR diversification matches the greedy model and skips the dup") {
    import spark.implicits._
    val pv = Seq(1.0, 0.0, 0.0)
    val cands = Map(
      1L -> Seq(1.0, 0.05, 0.0),
      2L -> Seq(1.0, 0.05, 0.0), // exact dup of 1 — top-k's #2
      3L -> Seq(0.8, 0.0, 0.6),
      4L -> Seq(0.7, 0.0, 0.72),
      5L -> Seq(0.0, 1.0, 0.0),
      6L -> Seq(0.0, 0.9, 0.44))
    val got = Similarity.mmrTopK(
        Seq((0L, pv)).toDF("probe_id", "pv"),
        cands.toSeq.toDF("vec_id", "v")).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(4)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def cos(a: Seq[Double], b: Seq[Double]): Double = r6(
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
    val rel = cands.map { case (id, v) => id -> cos(pv, v) }
    // greedy model: λ = 0.5, ties to lowest id
    val sel = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()
    val first = cands.keys.toSeq.minBy(id => (-rel(id), id))
    sel += ((1, first, r6(Similarity.MmrLambda * rel(first))))
    while (sel.size < cands.size) {
      val chosen = sel.map(_._2).toSet
      val scoredStep = cands.keys.filterNot(chosen).map { id =>
        val msim = chosen.map(s => cos(cands(id), cands(s))).max
        id -> r6(Similarity.MmrLambda * rel(id) -
          (1 - Similarity.MmrLambda) * msim)
      }.toSeq
      val (id, m) = scoredStep.minBy { case (i, s) => (-s, i) }
      sel += ((sel.size + 1, id, m))
    }
    assert(got.toSeq === sel.toSeq, "engine walk diverged from the model")
    assert(got.length === cands.size, "walk must stop when the pool is dry")
    assert(got(1)._2 !== 2L,
      "step 2 must skip the exact dup that pure top-k ranks second")
    // and pure top-k WOULD rank the dup second (the operator's raison
    // d'être, not an accident of the fixture)
    assert(cands.keys.toSeq.sortBy(id => (-rel(id), id)).take(2).toSet
      === Set(1L, 2L))
  }

  /** The Lloyd contract on the real fixture: one refresh step never
    * increases total quantization error (means minimize within-cell SSE;
    * reassignment under the new codebook only improves further). The e6
    * quantization perturbs each centroid dim by < 2e-4, bounding the
    * possible SSE backslide far under the 1e-2 tolerance. The refreshed
    * codebook then survives the ModelStore save->load seam bit-identically
    * — the monitor->refresh->persist loop q106/q108 call for.
    */
  test("codebook refresh: Lloyd error non-increase + ModelStore round trip") {
    TestSpark.withTemp { tmp =>
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          graft.functions.vectors.toDouble(col("embedding")).as("v"))
        .filter(col("v").isNotNull)
      val vecs = base.collect().map(_.getSeq[Double](1).toArray)
      val seeds = base.orderBy(col("vec_id")).limit(Similarity.IvfCells)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      val refreshed =
        Similarity.refreshedCodebook(Similarity.codebookRefresh(base, seeds))
      assert(refreshed.length === Similarity.IvfCells)
      assert(refreshed.forall(_.length === seeds.head.length))
      def sse(cb: Array[Array[Double]]): Double = vecs.map { v =>
        cb.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
      val (before, after) = (sse(seeds), sse(refreshed))
      assert(after <= before + 1e-2, s"SSE rose: $before -> $after")
      // round trip: the refreshed artifact reloads bit-identically
      graft.operators.AnnIndex(graft.operators.FlatQuantizer(refreshed))
        .save(spark, tmp)
      val loaded = graft.operators.AnnIndex.load(spark, tmp).quant
        .asInstanceOf[graft.operators.FlatQuantizer].centroids
      assert(loaded.length === refreshed.length &&
        loaded.zip(refreshed).forall { case (a, b) => a.sameElements(b) })
    }
  }

  /** q134: planted int8 quantization profile, hand-computed in the
    * quantized integer domain. dim1 exercises the negative-code floor
    * (q = -5000 at scale 10000 → code floor(-63.5) = -64, recon
    * floor(-5039.37) = -5040, err 40); dim2 has a zero element (code 0 →
    * n_nonzero 1) and an exactly-representable 0.0625f; a null embedding
    * row changes nothing.
    */
  test("int8 quant profile: hand-computed codes, floors, and error mass") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0625f)),
      (2L, Seq(-0.5f, 0.0f)),
      (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.int8QuantProfile(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // dim1: q = 10000, -5000; scale 10000; errs 0 and 40; both codes != 0
    assert(got(1) === ((10000L, 2L, 40L, 40L, 2L)))
    // dim2: q = 625, 0; scale 625; code 127 recon 625 err 0; code 0 err 0
    assert(got(2) === ((625L, 2L, 0L, 0L, 1L)))
  }

  /** q134 reconstruction-error contract on the fixture: max-abs int8 can
    * be off by at most one code step plus one floor, i.e.
    * err ≤ scale/127 + 1 per element, every dimension.
    */
  test("int8 quant profile: fixture max_err within the one-code-step bound") {
    val rows = Similarity.q134(spark, dir).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (scale, maxErr) = (r.getLong(1), r.getLong(4))
      assert(maxErr * 127 <= scale + 127,
        s"dim ${r.getInt(0)}: max_err $maxErr breaks the bound at scale $scale")
      assert(r.getLong(2) > 0 && r.getLong(5) <= r.getLong(2))
    }
  }

  /** q136: the full-dim row is the built-in anchor — truncating to all 64
    * dims keeps the exact top-K by construction, every probe.
    */
  test("matryoshka fidelity: full-dim rows keep all K neighbors on the fixture") {
    val rows = Similarity.q136(spark, dir).collect()
    assert(rows.length === 5 * Similarity.MatryoshkaDims.size)
    rows.filter(_.getInt(1) === Similarity.MatryoshkaDims.max)
      .foreach(r => assert(r.getLong(2) === Similarity.TopK.toLong,
        s"probe ${r.getLong(0)}: full-dim overlap ${r.getLong(2)}"))
    // prefix overlaps are bounded by K; low values are genuine signal on
    // the near-random fixture (the table's whole point), so no floor here
    rows.foreach(r => assert(r.getLong(2) >= 0L &&
      r.getLong(2) <= Similarity.TopK.toLong))
  }

  /** q136 model check: planted 64-dim vectors (seeded, deterministic), the
    * overlap table recomputed independently in plain Scala with the same
    * (cosine DESC, neighbor_id) tie-break.
    */
  test("matryoshka fidelity: planted corpus matches the plain-Scala model") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Long, Seq[Float])] = (0L until 30L).map { id =>
      id -> Seq.fill(64)(rnd.nextFloat() * 2f - 1f)
    }
    val got = Similarity.matryoshkaFidelity(
      vecs.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def cos(a: Seq[Float], b: Seq[Float], d: Int): Double = {
      val (x, y) = (a.take(d).map(_.toDouble), b.take(d).map(_.toDouble))
      val dot = x.zip(y).map { case (u, v) => u * v }.sum
      dot / (math.sqrt(x.map(u => u * u).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val want = for {
      (pid, pv) <- vecs.filter(_._1 < 5)
      d <- Similarity.MatryoshkaDims
    } yield {
      def topk(dd: Int): Seq[Long] = vecs.filter(_._1 != pid)
        .map { case (nid, nv) => (nid, cos(pv, nv, dd)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(Similarity.TopK).map(_._1)
      val full = topk(64).toSet
      (pid, d) -> topk(d).count(full).toLong
    }
    want.foreach { case (key, n) =>
      assert(got(key) === n, s"overlap mismatch at $key")
    }
    assert(got.size === want.size)
  }

  /** q136 zero-norm contract: a vector whose first 8 dims are all zero has
    * an undefined (0/0) 8-prefix cosine; the sentinel pins it to rank LAST
    * deterministically. Planted: 20 well-formed vectors plus 8 zero-prefix
    * ones — the Scala model with the same -2.0 sentinel must match, and no
    * zero-prefix vector may crack the 8-dim top-K while well-formed
    * candidates remain.
    */
  test("matryoshka fidelity: zero-norm prefixes rank last via the sentinel") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val good: Seq[(Long, Seq[Float])] = (0L until 20L).map { id =>
      id -> Seq.fill(64)(rnd.nextFloat() * 2f - 1f)
    }
    // ids 20-27: first 8 dims zero (undefined 8-prefix cosine), rest real
    val zeroPrefix: Seq[(Long, Seq[Float])] = (20L until 28L).map { id =>
      id -> (Seq.fill(8)(0f) ++ Seq.fill(56)(rnd.nextFloat() * 2f - 1f))
    }
    val vecs = good ++ zeroPrefix
    val shortlists = Similarity.matryoshkaShortlists(
        vecs.toDF("vec_id", "embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // 19 well-formed non-self candidates exist per probe (probes 0-4 are
    // well-formed), K=10 < 19, so no zero-prefix id may enter the d=8 top-K
    val d8 = shortlists.filter(_._2 == 8)
    assert(d8.nonEmpty)
    d8.foreach { case (pid, _, nid) =>
      assert(nid < 20L, s"zero-prefix vector $nid cracked probe $pid's d=8 top-K")
    }
    // full overlap table vs the Scala model carrying the same sentinel
    val got = Similarity.matryoshkaFidelity(
      vecs.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def cos(a: Seq[Float], b: Seq[Float], d: Int): Double = {
      val (x, y) = (a.take(d).map(_.toDouble), b.take(d).map(_.toDouble))
      val dot = x.zip(y).map { case (u, v) => u * v }.sum
      val den = math.sqrt(x.map(u => u * u).sum) * math.sqrt(y.map(v => v * v).sum)
      val c = dot / den
      if (c.isNaN) -2.0 else c
    }
    val want = for {
      (pid, pv) <- vecs.filter(_._1 < 5)
      d <- Similarity.MatryoshkaDims
    } yield {
      def topk(dd: Int): Seq[Long] = vecs.filter(_._1 != pid)
        .map { case (nid, nv) => (nid, cos(pv, nv, dd)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(Similarity.TopK).map(_._1)
      val full = topk(64).toSet
      (pid, d) -> topk(d).count(full).toLong
    }
    want.foreach { case (key, n) =>
      assert(got(key) === n, s"overlap mismatch at $key")
    }
  }
}
