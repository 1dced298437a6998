package graft

import graft.operators.{AnnIndex, FlatQuantizer, ImiQuantizer, Quantizers, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-level (IMI) quantizer that lifts the flat plan-literal ceiling:
  * delegation equality below [[Quantizers.FlatCellCap]], a planted q85
  * clique resolved through a FORCED IMI codebook, a > FlatCellCap cell
  * count that actually plans and runs, and the codegen pins (no ScalaUDF,
  * no interpreted lambda) on both assignment passes.
  */
class QuantizerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** ~60k deterministic 8-dim vectors with no Scala-side materialization:
    * component j of row id is a scaled xxhash64(id, j) — uniform enough for
    * KMeans to spread codewords, fully reproducible.
    */
  private def synthetic(n: Long) =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), j =>
        (pmod(xxhash64(col("id"), j), lit(1000L)).cast("double") - lit(500.0))
          / lit(250.0)).as("v"))

  test("quantizerFor delegates to the flat codebook at or below the plan cap") {
    import graft.functions.vectors
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val q = Quantizers.quantizerFor(emb, Similarity.IvfCells)
    assert(q.isInstanceOf[FlatQuantizer], "k <= cap must stay flat")
    // the delegated quantizer's columns ARE the pre-round-12 expressions:
    // same centroids (same fit), so same cells bit-for-bit
    val flat = q.asInstanceOf[FlatQuantizer]
    val direct = Quantizers.fitCentroids(emb, Similarity.IvfCells)
    assert(flat.centroids.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq,
      "fit drift between quantizerFor and fitCentroids")
    val both = emb.select(
      q.assign(col("v")).as("a"),
      element_at(graft.functions.expressions.vecexprs.nearestCells(
        col("v"), direct, 1), 1).as("b"),
      q.probeCells(col("v"), Similarity.IvfProbes).as("pa"),
      graft.functions.expressions.vecexprs.nearestCells(
        col("v"), direct, Similarity.IvfProbes).as("pb"))
      .collect()
    both.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), "assign drift vs flat")
      assert(r.getSeq[Int](2) === r.getSeq[Int](3), "probe-cell drift vs flat")
    }
  }

  test("past the plan cap quantizerFor builds an IMI product whose codebooks both fit the literal bound") {
    val q = Quantizers.quantizerFor(synthetic(20000), Quantizers.FlatCellCap + 1)
    assert(q.isInstanceOf[ImiQuantizer], "k > cap must go two-level")
    val imi = q.asInstanceOf[ImiQuantizer]
    assert(imi.cbA.length <= Quantizers.FlatCellCap)
    assert(imi.cbB.length <= Quantizers.FlatCellCap)
    assert(q.nCells >= Quantizers.FlatCellCap + 1)
  }

  test("an IMI quantizer with > 4096 cells plans, runs, and realizes more cells than the flat ceiling") {
    val df = synthetic(60000).localCheckpoint()
    val (cbA, cbB) = Quantizers.fitImiCodebooks(df, 5000)
    val q = ImiQuantizer(cbA, cbB)
    assert(q.nCells === 5041, s"71x71 expected, got ${q.nCells}") // ceil(sqrt(5000))^2
    val stats = df.select(q.assign(col("v")).as("cell"))
      .agg(countDistinct(col("cell")).as("nd"),
        min(col("cell")).as("lo"), max(col("cell")).as("hi"))
      .head()
    assert(stats.getLong(0) > Quantizers.FlatCellCap,
      s"only ${stats.getLong(0)} distinct cells realized — not past the flat ceiling")
    assert(stats.getInt(1) >= 0 && stats.getInt(2) < q.nCells, "cell id out of range")
    // the probe rectangle always contains the assignment cell and holds
    // exactly pa*pb distinct cells
    df.limit(200)
      .select(q.assign(col("v")).as("c"), q.probeCells(col("v"), 4).as("pc"))
      .collect()
      .foreach { r =>
        val pc = r.getSeq[Int](1)
        assert(pc.length === 4 && pc.distinct.length === 4, s"probe cells $pc")
        assert(pc.contains(r.getInt(0)), "probe rectangle must contain the assigned cell")
      }
  }

  /** Round-13: the IMI probe order is EXACT joint-distance order (the
    * multi-sequence walk), not the per-half rectangle it replaced — the
    * 200k probe measured the rectangle missing every moderate-cosine
    * hard negative (recall 0.000 vs flat's 1.000) because a cell whose
    * A-half ranked just past pa was unreachable however close its B-half.
    * Hand-computed grids below include exactly such a case.
    */
  test("IMI probe cells follow exact joint-distance order, not a per-half rectangle") {
    import spark.implicits._
    val cbA = Array(Array(0.0), Array(1.0), Array(2.0), Array(50.0))
    val cbB = Array(Array(0.0), Array(50.0))
    val q = ImiQuantizer(cbA, cbB)
    // v = [0,0]: dA = [0,1,4,2500], dB = [0,2500] — the 3 jointly-nearest
    // cells are (a0,b0),(a1,b0),(a2,b0) = 0,2,4: reaching A-rank 3 with
    // B-rank 1, which a 2x2 rectangle (the round-12 shape at n=3) cannot
    val got = Seq((1L, Seq(0.0, 0.0))).toDF("vec_id", "v")
      .select(q.probeCells(col("v"), 3).as("pc"), q.assign(col("v")).as("c"))
      .head()
    assert(got.getSeq[Int](0) === Seq(0, 2, 4), "not joint-distance order")
    assert(got.getInt(1) === 0, "assign must equal the joint top-1")
    // v = [1.4, 20]: dA = [1.96, .16, .36, 2362], dB = [400, 900] —
    // full 6-cell enumeration interleaves the halves by summed distance
    val pc2 = Seq((2L, Seq(1.4, 20.0))).toDF("vec_id", "v")
      .select(q.probeCells(col("v"), 6).as("pc")).head().getSeq[Int](0)
    assert(pc2 === Seq(2, 4, 0, 3, 5, 1), s"got $pc2")
  }

  test("IMI assignment and probe fan-out stay codegen-native: no ScalaUDF, no interpreted lambda") {
    val df = synthetic(1000).localCheckpoint()
    val (cbA, cbB) = Quantizers.fitImiCodebooks(df, Quantizers.FlatCellCap + 1)
    val q = ImiQuantizer(cbA, cbB)
    for (c <- Seq(q.assign(col("v")), q.probeCells(col("v"), 4))) {
      val p = df.select(c.as("cell")).queryExecution.optimizedPlan.toString
      assert(!p.contains("UDF("), p.take(800))
      assert(!p.contains("lambdafunction"), p.take(800))
    }
  }

  /** The q85 planted clique (SimilaritySpec's fixture) resolved through a
    * FORCED two-level quantizer: same verdicts as the flat path — one
    * keeper (min id) for the clique, every background vector a kept
    * singleton. kTotal = 9 keeps the codebooks un-starved (3+3 codewords
    * from 35 points); the soft top-2 probe in subspace A covers the
    * boundary-straddle case exactly as flat soft assignment does.
    */
  /** PQ codebook fitting: M codebooks of ≤ k codewords whose widths follow
    * the shared ⌊dim·m/M⌋ integer rule on a RAGGED dim (10 dims over 4
    * subspaces → widths 2,3,2,3), each codeword inside the value range of
    * its own slice — a transposed slice (codebook m fit on the wrong dims)
    * fails the range check because the synthetic ranges differ per dim
    * block. Determinism: flat, IMI and PQ codebooks are bit-identical
    * whatever the input's partition count or the session's shuffle
    * partition count — the fit sample is a total order and the Lloyd sums
    * run over it in that order.
    */
  test("pqFitCodebooks: ragged-dim slice widths, per-slice value ranges, deterministic") {
    val n = 500L
    // dim 10: block b (dims 2b..2b+1...) — give each dim a distinct offset
    // so a codeword fit on the wrong dims lands outside the slice's range
    val base = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(9)), j =>
        (pmod(xxhash64(col("id"), j), lit(100L)).cast("double") / lit(100.0))
          + j.cast("double") * lit(10.0)).as("v"))
    val m = 4
    val cbs = Quantizers.pqFitCodebooks(base, m, 8)
    assert(cbs.length === m)
    val dim = 10
    val widths = (0 until m).map(i => dim * (i + 1) / m - dim * i / m)
    assert(cbs.map(_.head.length).toSeq === widths) // 2,3,2,3
    var off = 0
    for ((cb, i) <- cbs.zipWithIndex) {
      assert(cb.length <= 8 && cb.nonEmpty)
      for (cw <- cb; (x, j) <- cw.zipWithIndex) {
        val d = off + j
        assert(x >= d * 10.0 && x < d * 10.0 + 1.0,
          s"codebook $i codeword dim $j value $x outside its slice's range")
      }
      off += widths(i)
    }
    // every fit family, from the same rows spread over 1 or 7 input
    // partitions and hashed across 1 or 7 shuffle partitions
    def fits(df: DataFrame) = {
      val (a, b) = Quantizers.fitImiCodebooks(df, 9)
      Seq(Seq(Quantizers.fitCentroids(df, 8)), Seq(a, b),
        Quantizers.pqFitCodebooks(df, m, 8).toSeq)
        .map(_.map(_.map(_.toSeq).toSeq))
    }
    val want = fits(base)
    assert(want(2) === cbs.map(_.map(_.toSeq).toSeq).toSeq)
    for (p <- Seq(1, 7))
      assert(fits(base.repartition(p)) === want, s"drift at $p input partitions")
    val conf = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(conf)
    try for (p <- Seq(1, 7)) {
      spark.conf.set(conf, p.toLong)
      assert(fits(base.repartition(col("vec_id"))) === want,
        s"drift at $p shuffle partitions")
    } finally spark.conf.set(conf, saved)
  }

  /** The duplicate-clique shape: 16 centers asked of a sample with only 3
    * distinct vectors. The fit seeds from distinct points only, so it
    * returns exactly those 3 centers — no repeated seed whose cell stays
    * empty, and no NaN from dividing an empty cell's sum.
    */
  test("a fit over 3 distinct vectors asked for 16 centers returns exactly 3") {
    import spark.implicits._
    val distinct = Seq(Seq(1.0, 0.0, 0.5), Seq(0.0, 2.0, 0.25), Seq(-1.0, 1.0, 3.0))
    val df = (0 until 300).map(i => (i.toLong, distinct(i % 3))).toDF("vec_id", "v")
    val cs = Quantizers.fitCentroids(df, 16)
    assert(cs.length === 3, s"${cs.length} centers")
    assert(cs.forall(_.forall(x => !x.isNaN)), "NaN center")
    distinct.foreach(d => assert(cs.exists(c =>
      c.zip(d).forall { case (x, y) => math.abs(x - y) < 1e-9 }), s"no center at $d"))
  }

  /** Each fit is driver-side code over one collected sample: exactly one
    * Spark job per fit, whatever the family (a chain of per-iteration
    * distributed jobs per codebook would start dozens).
    */
  test("each quantizer fit starts exactly one Spark job") {
    import graft.TestSpark.jobsOf
    val df = synthetic(5000).localCheckpoint()
    assert(jobsOf(Quantizers.quantizerFor(df, 45)) === 1, "flat fit")
    assert(jobsOf(Quantizers.fitImiCodebooks(df, 260)) === 1, "IMI fit")
    assert(jobsOf(Quantizers.pqFitCodebooks(df, 4, 16)) === 1, "PQ fit")
  }

  /** Reload equality (round-13 #1): a persisted index must reproduce the
    * original EXACTLY — same codebook doubles, same assignment rows, and
    * therefore bit-identical probe output and ADC rankings. This is the
    * train-once/serve-many contract: two corpus snapshots deduped under
    * one reloaded codebook have comparable verdicts, where per-job refits
    * would move the cell boundaries. The q39b/q98b oracles already pin the
    * downstream machinery; these tests pin the AnnIndex save/load seam for
    * the flat, IMI and IVF-PQ forms.
    */
  private def reloaded(index: AnnIndex)(check: AnnIndex => Unit): Unit =
    TestSpark.withTemp { tmp =>
      index.save(spark, tmp)
      check(AnnIndex.load(spark, tmp))
    }

  /** (vec_id, cell) assignment rows, and the (probe_id, vec_id, cell)
    * candidate rows [[AnnIndex.probe]] returns for `base`'s fixed probes.
    */
  private def served(index: AnnIndex, base: DataFrame) = {
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    (index.cells.get.select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"), col("cell")).collect().toSeq,
      index.probe(probes).select(col("probe_id"), col("vec_id"), col("cell"))
        .orderBy(col("probe_id"), col("vec_id")).collect().toSeq)
  }

  test("ModelStore round-trips a fitted flat quantizer: centroids and assignments bit-identical") {
    import graft.functions.vectors
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
      .localCheckpoint()
    val fitted = AnnIndex.fitted(emb, emb.count()).get.assign(emb)
    reloaded(fitted) { loaded =>
      assert(loaded.quant.isInstanceOf[FlatQuantizer] && loaded.pq.isEmpty)
      assert(loaded.quant.asInstanceOf[FlatQuantizer].centroids.map(_.toSeq).toSeq ===
        fitted.quant.asInstanceOf[FlatQuantizer].centroids.map(_.toSeq).toSeq,
        "centroids drifted through the store")
      val both = emb.select(fitted.quant.assign(col("v")).as("a"),
        loaded.quant.assign(col("v")).as("b"),
        fitted.quant.probeCells(col("v"), Similarity.IvfProbes).as("pa"),
        loaded.quant.probeCells(col("v"), Similarity.IvfProbes).as("pb")).collect()
      both.foreach { r =>
        assert(r.getInt(0) === r.getInt(1), "assignment drift after reload")
        assert(r.getSeq[Int](2) === r.getSeq[Int](3), "probe drift after reload")
    }
    val (wantCells, wantProbe) = served(fitted, emb)
    val (gotCells, gotProbe) = served(loaded, emb)
    assert(wantProbe.nonEmpty, "the probes found no cell-mates")
    assert(gotCells === wantCells, "assignment rows drifted through the store")
    assert(gotProbe === wantProbe, "probe output drifted after reload")
    }
  }

  test("ModelStore round-trips an IMI quantizer: both codebooks and assignments bit-identical") {
    val df = synthetic(1000).localCheckpoint()
    val (cbA, cbB) = Quantizers.fitImiCodebooks(df, Quantizers.FlatCellCap + 1)
    val fitted = AnnIndex(ImiQuantizer(cbA, cbB)).assign(df)
    reloaded(fitted) { loaded =>
      assert(loaded.quant.isInstanceOf[ImiQuantizer])
      val l = loaded.quant.asInstanceOf[ImiQuantizer]
      assert(l.cbA.map(_.toSeq).toSeq === cbA.map(_.toSeq).toSeq, "cbA drift")
      assert(l.cbB.map(_.toSeq).toSeq === cbB.map(_.toSeq).toSeq, "cbB drift")
      assert(l.nCells === fitted.quant.nCells)
      val both = df.select(fitted.quant.assign(col("v")).as("a"),
        loaded.quant.assign(col("v")).as("b")).collect()
      both.foreach(r => assert(r.getInt(0) === r.getInt(1),
        "IMI assignment drift after reload"))
      val (wantCells, wantProbe) = served(fitted, df)
      val (gotCells, gotProbe) = served(loaded, df)
      assert(wantProbe.nonEmpty, "the probes found no cell-mates")
      assert(gotCells === wantCells, "IMI assignment rows drifted through the store")
      assert(gotProbe === wantProbe, "IMI probe output drifted after reload")
    }
  }

  /** The round-14 seam one level below the codebooks: the ENCODED corpus
    * (vec_id, cell, c0..cM-1) through AnnIndex.save/load must reproduce
    * (a) the PQ codebooks and the encoded rows exactly — codes are small
    * exact ints, so parquet is bit-lossless — and (b) the served search:
    * search off the LOADED index ≡ search off the in-memory encode. This
    * is what lets a deployment pay the fit+encode wall once (q121's oracle
    * hashes the same claim against DuckDB).
    */
  test("ModelStore round-trips an encoded IVF-PQ index: rows and served search bit-identical") {
    import graft.functions.vectors
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
      .localCheckpoint()
    val fitted = AnnIndex.fitted(emb, emb.count(), pq = true).get
    val encoded = fitted.copy(cells = fitted.assign(emb).cells.map(_.localCheckpoint()))
    reloaded(encoded) { loaded =>
      assert(loaded.pq.get.map(_.map(_.toSeq).toSeq).toSeq ===
        fitted.pq.get.map(_.map(_.toSeq).toSeq).toSeq, "PQ codebooks drifted")
      assert(loaded.cells.get.columns.toSeq === encoded.cells.get.columns.toSeq)
      val wantRows = encoded.cells.get.orderBy(col("vec_id")).collect().toSeq
      val gotRows = loaded.cells.get.orderBy(col("vec_id")).collect().toSeq
      assert(gotRows === wantRows, "encoded rows drifted through the store")
      val (_, wantProbe) = served(encoded, emb)
      val (_, gotProbe) = served(loaded, emb)
      assert(wantProbe.nonEmpty, "the probes found no cell-mates")
      assert(gotProbe === wantProbe, "probe output drifted after reload")
      val want = encoded.search(emb).collect().toSeq
      val got = loaded.search(emb).collect().toSeq
      assert(want.nonEmpty)
      assert(got === want, "served search drifted off the loaded index")
    }
  }

  test("semantic dedup through a forced IMI quantizer resolves the planted clique identically") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bg = (0 until 30).map(i =>
      (100L + i, unit(Array.fill(dim)(rnd.nextGaussian()))))
    val cliqueBase = unit(Array.fill(dim)(rnd.nextGaussian()))
    val clique = (0 until 5).map { i =>
      val v = cliqueBase.clone(); v(i) += 0.001; (10L + i, unit(v))
    }
    val all = bg ++ clique
    val df = all.toDF("vec_id", "v")
    val (cbA, cbB) = Quantizers.fitImiCodebooks(df, 9)
    val got = Similarity.semanticDedupQuantized(
        df.select(col("vec_id")), df, Similarity.SemDedupCosine,
        ImiQuantizer(cbA, cbB))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.length === all.size)
    (10L to 14L).foreach(id =>
      assert(byId(id) === ((10L, id == 10L)), s"clique member $id"))
    bg.foreach { case (id, _) =>
      assert(byId(id) === ((id, true)), s"background $id") }
  }

  /** The refreshed per-subspace codebooks in [[Similarity.pqRefresh]]'s
    * output: cbs(m)(cw) in subspace-then-codeword order, each codeword's
    * new mean per dimension. Model-sized collect (K×dim rows).
    */
  private def refreshedPqCodebooks(refresh: DataFrame): Array[Array[Array[Double]]] =
    refresh.select(col("m"), col("cw"), col("dim"), col("new_mean_e6"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (_, rs) =>
          rs.sortBy(_.getInt(2)).map(_.getLong(3) / 1e6)
        }.toArray
      }.toArray

  /** The q122 retrain step for the STORAGE tier: each subspace codebook
    * refreshes through the one-pass pqRefresh core, and per-subspace SSE
    * over the sliced vectors never increases (the Lloyd contract, subspace
    * form).
    */
  test("pqRefresh: per-subspace Lloyd non-increase") {
    val df = synthetic(3000).localCheckpoint()
    val m = 4
    val cbs = Quantizers.pqFitCodebooks(df, m, 8)
    val after = refreshedPqCodebooks(Similarity.pqRefresh(df, cbs))
    assert(after.length === cbs.length)
    assert(after.zip(cbs).forall { case (a, b) =>
      a.length == b.length && a.head.length == b.head.length })
    val vecs = df.collect().map(_.getSeq[Double](1).toArray)
    val dim = vecs.head.length
    def sse(cb: Array[Array[Double]], i: Int): Double = {
      val lo = dim * i / m; val hi = dim * (i + 1) / m
      vecs.map { v =>
        val h = v.slice(lo, hi)
        cb.map(c => c.zip(h).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
    }
    cbs.indices.foreach(i =>
      assert(sse(after(i), i) <= sse(cbs(i), i) + 1e-2,
        s"subspace $i SSE rose through the refresh"))
  }

  /** The q111 retrain step through an IMI quantizer: each half refreshes
    * via the shared codebookRefresh core, per-half SSE never increases
    * (the Lloyd contract, half-space form), and the refreshed model
    * survives the AnnIndex save/load seam bit-identically — so the
    * monitor→refresh→persist loop also covers the tier past the flat
    * plan-literal ceiling.
    */
  test("imiRefresh: per-half Lloyd non-increase and ModelStore round trip") {
    TestSpark.withTemp { tmp =>
      val df = synthetic(5000).localCheckpoint()
      val (cbA, cbB) = Quantizers.fitImiCodebooks(df, 260) // 17x17 grid
      val before = ImiQuantizer(cbA, cbB)
      val after = Similarity.imiRefresh(df, before)
      assert(after.cbA.length === cbA.length &&
        after.cbB.length === cbB.length)
      val vecs = df.collect().map(_.getSeq[Double](1).toArray)
      def sse(cb: Array[Array[Double]], lo: Int, hi: Int): Double =
        vecs.map { v =>
          val h = v.slice(lo, hi)
          cb.map(c => c.zip(h).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      val split = cbA.head.length
      assert(sse(after.cbA, 0, split) <= sse(cbA, 0, split) + 1e-2,
        "A-half SSE rose")
      assert(sse(after.cbB, split, split + cbB.head.length) <=
        sse(cbB, split, split + cbB.head.length) + 1e-2, "B-half SSE rose")
      AnnIndex(after).save(spark, tmp)
      val loaded = AnnIndex.load(spark, tmp).quant.asInstanceOf[ImiQuantizer]
      assert(loaded.cbA.zip(after.cbA).forall { case (a, b) => a.sameElements(b) })
      assert(loaded.cbB.zip(after.cbB).forall { case (a, b) => a.sameElements(b) })
    }
  }
}
