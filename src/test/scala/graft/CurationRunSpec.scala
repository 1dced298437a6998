package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.operators.{AnnIndex, Pipeline}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A parquet committer whose job set-up fails for the output paths ending
  * in [[FailingCommitter.failOn]]: a sink write that throws on the driver
  * thread that submitted it, with no hook in the engine. Installed through
  * `spark.sql.parquet.output.committer.class`; every other path commits as
  * the stock [[ParquetOutputCommitter]] does.
  */
class FailingCommitter(path: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(path, ctx) {
  override def setupJob(job: JobContext): Unit = {
    FailingCommitter.failOn.filter(path.toString.endsWith(_)).foreach { s =>
      throw new java.io.IOException(s"injected write failure on $s")
    }
    super.setupJob(job)
  }
}

object FailingCommitter {
  @volatile var failOn: Option[String] = None
}

/** End-to-end curation run against the sf0.001 fixture: one command must
  * produce sink artifacts whose funnel rows match q88's (the driver's
  * oracle gate for the same six stages), plus the run-only extension
  * stages and verdict tables consistent with the corpus it wrote.
  */
class CurationRunSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Every read of a run's artifacts goes through the committed-version
    * resolver — the same seam the chained-run flags use (the artifacts no
    * longer live at the outDir top level; see [[graft.sources.Artifacts]]).
    */
  private def art(d: String): String =
    graft.sources.Artifacts.resolve(spark, d)

  /** The shared run's directory, once a test has asked for it. */
  @volatile private var madeOutDir = Option.empty[String]

  private lazy val outDir = {
    val d = Files.createTempDirectory("curation_run").toString
    madeOutDir = Some(d)
    CurationRun.run(spark, sfDir, d).collect() // materialize once
    d
  }

  override protected def afterAll(): Unit =
    try madeOutDir.foreach(d =>
      new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively())
    finally super.afterAll()

  /** CI guard on the run's job count, counted by a listener: in the
    * paper's model one unit of work is a round of map, hash-shuffle and
    * reduce, so every job beyond the chain's necessary shuffles and
    * materializations is scheduling overhead. The counted run is a warm
    * one (after [[outDir]]'s): the first run in a JVM adds up to three
    * file-listing and schema jobs on the fixture's tables. The run took
    * 140 jobs with in-chain presentation sorts, one aggregate job per
    * manifest stage, and distributed connected-components rounds. Without
    * them, 15 warm runs at 1, 2, 4 and 8 cores took 98 to 101 jobs: the
    * count moves by up to two between runs in one JVM, as AQE submits a
    * query's stages as one job or as several depending on how the
    * concurrent branch queries interleave. The ceiling is the largest
    * count seen plus one. A change that lowers the count lowers it.
    */
  test("one run on the fixture stays within its job budget") {
    TestSpark.withTemp { d =>
      outDir
      val jobs = TestSpark.jobsOf(CurationRun.run(spark, sfDir, d))
      assert(jobs <= 102, s"CurationRun.run took $jobs jobs on the fixture")
    }
  }

  test("manifest's first six rows equal q88's funnel (the oracle surface)") {
    val manifest = spark.read.parquet(s"${art(outDir)}/manifest")
      .orderBy(col("stage_idx")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val q88 = Pipeline.q88(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(manifest.take(6) === q88, "funnel drift vs the q88 oracle surface")
    assert(manifest.map(_._1).toSeq === (0 until 11),
      "eleven stages, contiguous indices")
    assert(manifest.map(_._2).contains("sem_dedup"), "SemDeDup stage missing")
    // every knife only removes: docs and tokens are monotone non-increasing
    // after the raw stage (raw counts null-text docs that quality drops)
    manifest.sliding(2).drop(1).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"stage ${b._2} grew vs ${a._2}")
    }
  }

  test("sem_dedup's doc_id == vec_id keying contract holds on the fixture") {
    // the SemDeDup stage joins documents to embeddings on doc_id == vec_id
    // (one embedding per doc, same key — the declared CurationRun
    // contract); if a fixture or schema change broke the alignment the
    // stage would silently become a pass-through, so assert the join is
    // non-trivial here
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val hits = docs.join(Tables.embeddings(spark, sfDir),
      col("doc_id") === col("vec_id")).count()
    assert(hits > 0, "documents ⋈ embeddings on doc_id == vec_id is empty — " +
      "the sem_dedup stage's keying contract is broken")
  }

  test("corpus artifact is lang-partitioned and matches the final stage row") {
    val corpus = spark.read.parquet(s"${art(outDir)}/corpus")
    val last = spark.read.parquet(s"${art(outDir)}/manifest")
      .orderBy(col("stage_idx").desc).head()
    assert(last.getString(1) === "sampled")
    assert(corpus.count() === last.getLong(2), "corpus rows != manifest docs")
    assert(corpus.agg(sum(col("n_tokens"))).head().getLong(0) ===
      last.getLong(3), "corpus tokens != manifest tokens")
    val langDirs = new java.io.File(s"${art(outDir)}/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("lang=")),
      "corpus must be Hive-partitioned by lang")
  }

  test("verdict tables agree with the corpus") {
    val corpusIds = spark.read.parquet(s"${art(outDir)}/corpus")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // every shipped doc was kept by the sampler…
    val keptIds = spark.read.parquet(s"${art(outDir)}/verdicts/sample")
      .filter(col("kept")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(corpusIds.subsetOf(keptIds), "shipped doc the sampler rejected")
    // …and survived the source cap
    val cappedIds = spark.read.parquet(s"${art(outDir)}/verdicts/source_cap")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(corpusIds.subsetOf(cappedIds), "shipped doc over the source cap")
    // doc fates cover every raw doc and agree on the shipped set
    val fates = spark.read.parquet(s"${art(outDir)}/verdicts/doc_fates")
    val rawDocs = spark.read.parquet(s"${art(outDir)}/manifest")
      .filter(col("stage") === "raw").head().getLong(2)
    assert(fates.count() === rawDocs, "doc_fates must cover every raw doc")
    val shipped = fates.filter(col("last_stage") === "sampled")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(shipped === corpusIds, "doc_fates 'sampled' set != corpus")
  }

  /** Round-13 #1: the run persists the coarse codebook it used
    * (`model/coarse`), and a second run reusing it produces an IDENTICAL
    * manifest with the fit skipped — the train-once/serve-many contract
    * that makes two snapshots' semantic-dedup verdicts comparable.
    */
  test("a reuse-models rerun loads the prior codebook and reproduces the manifest exactly") {
    TestSpark.withTemp { reuseDir =>
      // the first run (outDir) must have written its model artifact
      val stored = AnnIndex.load(spark, s"${art(outDir)}/model").quant
      assert(stored.nCells > 0, "first run wrote an empty codebook")
      CurationRun.run(spark, sfDir, reuseDir,
        CurationParams(reuseModels = Some(outDir))).collect()
      def rows(d: String) = spark.read.parquet(s"${art(d)}/manifest")
        .orderBy(col("stage_idx")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(rows(reuseDir) === rows(outDir),
        "manifest drift under a reused codebook — verdicts not comparable")
      // the reused run re-publishes the codebook it served from, so ANY run
      // can seed the next; it must be the same model bit-for-bit
      val republished = AnnIndex.load(spark, s"${art(reuseDir)}/model").quant
      (stored, republished) match {
        case (graft.operators.FlatQuantizer(a), graft.operators.FlatQuantizer(b)) =>
          assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
            "republished codebook drifted")
        case _ => fail("fixture-scale quantizer should be flat on both runs")
      }
      // provenance: the reuse source is recorded in run_params
      val rp = spark.read.parquet(s"${art(reuseDir)}/run_params").head()
      assert(rp.getAs[String]("reused_models_from") === outDir)
    }
  }

  /** Round-14 #1 (index tier): the run persists the (vec_id, cell)
    * assignment index it used (`model/index`), and a `--reuse-index` rerun
    * serves the sem_dedup stage from the PRIOR run's artifact — loading
    * both the quantizer and the assignments, paying the assignment pass
    * only for arrivals (none here) — and still reproduces the manifest
    * exactly. This is the artifact seam one level below reuse-models: the
    * model reproduces assignments, but re-deriving them costs a full
    * vector scan per run; the index artifact doesn't.
    */
  test("a reuse-index rerun serves assignments from the prior artifact and reproduces the manifest") {
    TestSpark.withTemp { reuseDir =>
      val priorIdx = AnnIndex.load(spark, s"${art(outDir)}/model").cells.get
      assert(priorIdx.count() > 0, "first run wrote an empty assignment index")
      assert(priorIdx.columns.toSet === Set("vec_id", "cell"))
      CurationRun.run(spark, sfDir, reuseDir,
        CurationParams(reuseIndex = Some(outDir))).collect()
      def rows(d: String) = spark.read.parquet(s"${art(d)}/manifest")
        .orderBy(col("stage_idx")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(rows(reuseDir) === rows(outDir),
        "manifest drift under a reused assignment index")
      // the reused run re-publishes the index it served from (any run can
      // seed the next) — same (vec_id, cell) multiset bit-for-bit
      def idx(d: String) = AnnIndex.load(spark, s"${art(d)}/model").cells.get
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(idx(reuseDir) === idx(outDir), "republished index drifted")
      val rp = spark.read.parquet(s"${art(reuseDir)}/run_params").head()
      assert(rp.getAs[String]("reused_index_from") === outDir)
    }
  }

  /** Round-14 #2: `--prev-run` diffs TWO REAL RUNS — the second run reads
    * the first's persisted `verdicts/doc_fates/` and `verdicts/scores/`
    * instead of recomputing a slice stand-in. Corpus B = corpus A plus a
    * LOWER-id exact copy of an A keeper (the regrade q105's scaladoc
    * documents: the old keeper loses its training data without its content
    * changing) plus a brand-new doc. The drift report must classify by
    * the slice-based oracle's semantics plus the between-runs-only case:
    * arrivals `arrived`, a doc present only in A `departed` (the
    * full-outer branch a cur-sided join would silently drop), the
    * regraded keeper `changed`, untouched docs `stable`; the PSI artifact
    * must carry the full 14-bucket grid with each side's raw-doc total.
    */
  test("a prev-run rerun diffs real runs: arrived, departed, stable, regraded") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      def alpha(n: Int): String =
        n.toString.map(c => ('a' + (c - '0')).toChar)
      def prose(i: Int): String = {
        val t = (0 until 80).map(j => s"p${alpha(i)}y${alpha(j)}").toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t.mkString(" ")
      }
      val aDocs = Seq(10L -> prose(1), 11L -> prose(2), 12L -> prose(3),
        13L -> prose(3)) // 13 = exact copy; A's keeper is 12
      // 52, not 50: doc_id % EvalEvery == 0 docs play the funnel's EVAL side
      // (decon holdout) and never enter the corpus or its fates.
      // B drops 11 (the departure a crawl losing a source produces) and
      // adds the regrading copy + a brand-new doc
      val bDocs = aDocs.filterNot(_._1 == 11L) ++
        Seq(5L -> prose(1), 52L -> prose(4))
      def write(dir: String, docs: Seq[(Long, String)]): Unit = {
        docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        docs.zipWithIndex.map { case ((id, _), i) =>
          (id, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.01f * i), 0)
        }.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val sfA = s"$tmp/sfA"
      val sfB = s"$tmp/sfB"
      write(sfA, aDocs); write(sfB, bDocs)
      val outA = s"$tmp/outA"
      val outB = s"$tmp/outB"
      CurationRun.run(spark, sfA, outA).collect()
      CurationRun.run(spark, sfB, outB,
        CurationParams(prevRun = Some(outA))).collect()
      val drift = spark.read.parquet(s"${art(outB)}/verdicts/drift").collect()
        .map(r => r.getLong(0) ->
          ((Option(r.getString(1)), Option(r.getString(2)), r.getString(3))))
        .toMap
      assert(drift.keySet === (aDocs ++ bDocs).map(_._1).toSet,
        "drift must cover every doc of EITHER run")
      assert(drift(5L)._3 === "arrived" && drift(5L)._1.isEmpty)
      assert(drift(52L)._3 === "arrived")
      // the departure: 11 existed in A, vanished from B's snapshot — the
      // full-outer drift must surface it, not silently drop it
      assert(drift(11L)._3 === "departed" && drift(11L)._2.isEmpty &&
        drift(11L)._1.nonEmpty,
        s"dropped doc must surface as departed, got ${drift(11L)}")
      // the regrade: 10 was A's keeper of prose(1); the lower-id arrival 5
      // takes keeper status in B, so 10's fate changes without its content
      assert(drift(10L)._1.contains("sampled") && drift(10L)._3 === "changed",
        s"regraded keeper must surface as changed, got ${drift(10L)}")
      assert(!drift(10L)._2.contains("sampled"), "10 must have lost keeper status")
      Seq(12L, 13L).foreach(id => assert(drift(id)._3 === "stable",
        s"untouched doc $id must be stable, got ${drift(id)}"))
      // the between-runs PSI: full grid, each side totalling its run's raw docs
      val psi = spark.read.parquet(s"${art(outB)}/verdicts/psi").collect()
      assert(psi.length ===
        operators.TextAnalysis.GateSweepThresholds.size + 1)
      assert(psi.map(_.getAs[Long]("n_prev")).sum === aDocs.size.toLong)
      assert(psi.map(_.getAs[Long]("n_cur")).sum === bDocs.size.toLong)
    }
  }

  /** Reused outDirs are a supported workflow (every artifact writes
    * mode=overwrite), so a `--write-scores false` rerun must DELETE a
    * prior run's scores — a later `--prev-run` reading a stale table
    * against fresh doc_fates would fabricate drift — and combining the
    * opt-out with `--prev-run` (whose PSI needs this run's scores) must
    * fail loudly.
    */
  test("write-scores opt-out removes stale scores from a reused outDir") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      val docs = Seq(1L, 2L, 3L).map(id =>
        (id, (0 until 60).map(j => s"w${id}x$j").mkString(" "),
          "en", "web", 100L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val emb = Seq(1L, 2L, 3L).zipWithIndex.map { case (id, i) =>
        (id, Array.tabulate(8)(d => if (d == i) 1.0f else 0.0f), 0)
      }.toDF("vec_id", "embedding", "label")
      val sf = s"$tmp/sf"
      docs.write.mode("overwrite").parquet(s"$sf/documents.parquet")
      emb.write.mode("overwrite").parquet(s"$sf/embeddings.parquet")
      val out = s"$tmp/out"
      CurationRun.run(spark, sf, out).collect()
      assert(new java.io.File(s"${art(out)}/verdicts/scores").exists,
        "default run must write the monitoring scores")
      CurationRun.run(spark, sf, out,
        CurationParams(writeScores = false)).collect()
      assert(!new java.io.File(s"${art(out)}/verdicts/scores").exists,
        "stale scores must not survive an opted-out rerun")
      intercept[IllegalArgumentException] {
        CurationRun.run(spark, sf, out,
          CurationParams(writeScores = false, prevRun = Some(out)))
      }
    }
  }

  /** Round-14 composition: `--refresh-models` is the middle path between
    * refit and verbatim reuse — run B loads A's persisted codebook and
    * takes ONE Lloyd step on ITS OWN subject before using/persisting it.
    * On a clean corpus (every doc passes every gate, no dups, no eval
    * ids, every doc embedded) the subject is reconstructable, so the
    * saved codebook must BE refreshedCodebook(codebookRefresh(subjectB,
    * A's centroids)) verbatim — the wiring claim; q111's specs own the
    * math — and the step must have MOVED the codebook.
    */
  test("refresh-models takes one Lloyd step on the current run's subject") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      import graft.operators.{FlatQuantizer, Similarity}
      def alpha(n: Int): String =
        n.toString.map(c => ('a' + (c - '0')).toChar)
      def prose(i: Int): String = {
        val t = (0 until 80).map(j => s"r${alpha(i)}z${alpha(j)}").toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t.mkString(" ")
      }
      val aDocs = Seq(1L, 2L, 3L, 4L).map(id => id -> prose(id.toInt))
      val bDocs = aDocs ++ Seq(6L -> prose(6), 7L -> prose(7))
      def write(dir: String, docs: Seq[(Long, String)]): Unit = {
        docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        docs.zipWithIndex.map { case ((id, _), i) =>
          (id, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.03f * i), 0)
        }.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val sfA = s"$tmp/sfA"
      val sfB = s"$tmp/sfB"
      write(sfA, aDocs); write(sfB, bDocs)
      val outA = s"$tmp/outA"
      val outB = s"$tmp/outB"
      CurationRun.run(spark, sfA, outA).collect()
      CurationRun.run(spark, sfB, outB,
        CurationParams(refreshModels = Some(outA))).collect()
      def load(dir: String): Array[Array[Double]] =
        AnnIndex.load(spark, s"${art(dir)}/model").quant match {
          case FlatQuantizer(c) => c
          case other => fail(s"expected a flat codebook, got $other")
        }
      val csA = load(outA)
      val subjB = spark.read.parquet(s"$sfB/embeddings.parquet")
        .select(graft.functions.vectors.toDouble(col("embedding")).as("v"))
        .filter(col("v").isNotNull)
      val want = Similarity.refreshedCodebook(
        Similarity.codebookRefresh(subjB, csA))
      val got = load(outB)
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq,
        "persisted codebook must be exactly one Lloyd step from A's on B's subject")
      assert(got.map(_.toSeq).toSeq !== csA.map(_.toSeq).toSeq,
        "the refresh step must move the codebook")
      val rp = spark.read.parquet(s"${art(outB)}/run_params").collect().head
      assert(rp.getAs[String]("refreshed_models_from") === outA)
      intercept[IllegalArgumentException] {
        CurationRun.run(spark, sfB, outB, CurationParams(
          refreshModels = Some(outA), reuseModels = Some(outA)))
      }
    }
  }

  /** Round-15: `--incremental` serves q78's verdict from the prior run's
    * PERSISTED index artifacts. The two-run assertion the round asked
    * for: the artifact-served verdicts must equal a full recompute of the
    * incremental dedup over (corpus, arrivals) — i.e. re-deduping the
    * corpus buys nothing the persisted md5/shingle/band index didn't
    * already know. Then a CHAINED incremental (C vs B) must verdict a
    * copy of a B-kept arrival as exact_corpus off the MERGED index, and
    * pointing --incremental at its own outDir must be rejected.
    */
  test("incremental mode serves arrival verdicts from the persisted index and chains") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      def alpha(n: Int): String =
        n.toString.map(c => ('a' + (c - '0')).toChar)
      def prose(i: Int): String = {
        val t = (0 until 80).map(j => s"i${alpha(i)}x${alpha(j)}").toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t.mkString(" ")
      }
      // 2 tokens changed out of 80 -> 3-shingle jaccard ~0.857 >= 0.8, the
      // proven-banded near-dup construction the flags test uses
      def nearOf(s: String): String = {
        val t = s.split(" "); t(10) = "qqaxz"; t(40) = "qqbxz"; t.mkString(" ")
      }
      val aDocs = Seq(10L -> prose(1), 11L -> prose(2), 12L -> prose(3))
      val arrivals = Seq(
        20L -> prose(1),                  // exact copy of corpus 10
        21L -> nearOf(prose(2)),          // near-dup of corpus 11
        22L -> prose(7), 23L -> prose(7), // exact pair within the batch
        25L -> prose(8), 26L -> nearOf(prose(8)), // near pair within the batch
        24L -> prose(9))                  // genuinely novel
      def write(dir: String, docs: Seq[(Long, String)]): Unit = {
        docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        docs.zipWithIndex.map { case ((id, _), i) =>
          (id, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.01f * i), 0)
        }.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val sfA = s"$tmp/sfA"
      val sfB = s"$tmp/sfB"
      write(sfA, aDocs); write(sfB, aDocs ++ arrivals)
      val outA = s"$tmp/outA"
      val outB = s"$tmp/outB"
      CurationRun.run(spark, sfA, outA).collect()
      def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      val got = verdicts(
        CurationRun.incremental(spark, sfB, outB, outA, CurationParams()))
      // the two-run equivalence: served-from-artifacts ≡ full recompute
      val want = verdicts(operators.Dedup.incrementalDedup(
        aDocs.toDF("doc_id", "text"), arrivals.toDF("doc_id", "text"),
        Pipeline.FunnelNearDupJaccard))
      assert(got === want,
        "artifact-served verdicts drifted from the full-recompute fates")
      // and the fates are the PLANTED ones, not merely self-consistent
      val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
      assert(byId(20L) === ("exact_corpus", Some(10L)))
      assert(byId(21L) === ("near_corpus", Some(11L)))
      assert(byId(22L) === ("kept", None))
      assert(byId(23L) === ("exact_batch", Some(22L)))
      assert(byId(25L) === ("kept", None))
      assert(byId(26L) === ("near_batch", Some(25L)))
      assert(byId(24L) === ("kept", None))
      assert(new java.io.File(s"${art(outB)}/verdicts/incremental").exists)
      // chain: C adds an exact copy of B's KEPT arrival 24 (only the merged
      // index can know it; no full run ever saw doc 24) AND an exact copy
      // of B's DROPPED near-dup arrival 21 — the merge must cover every
      // INGESTED arrival, not just keepers, or a chained verdict drifts
      // from what a full re-run over the union would decide
      val sfC = s"$tmp/sfC"
      write(sfC, aDocs ++ arrivals ++
        Seq(30L -> prose(9), 31L -> nearOf(prose(2))))
      val outC = s"$tmp/outC"
      val gotC = verdicts(
        CurationRun.incremental(spark, sfC, outC, outB, CurationParams()))
      assert(gotC === Seq(
        (30L, "exact_corpus", Some(24L)),
        (31L, "exact_corpus", Some(21L))),
        s"chained incremental must serve off the merged all-arrivals index, got $gotC")
      // flag parity: an incremental under different strip/gate flags than
      // the prior run indexed under must be rejected, not silently wrong
      intercept[IllegalArgumentException] {
        CurationRun.incremental(spark, sfC, outC, outB,
          CurationParams(stripMarkup = true))
      }
      intercept[IllegalArgumentException] {
        CurationRun.incremental(spark, sfC, outC, outC, CurationParams())
      }
    }
  }

  /** Stage 10 (q100): the shards artifact must be a PERMUTATION of the
    * shipped corpus — every corpus doc exactly once, shard dirs
    * Hive-partitioned, positions contiguous from 1 within each shard, and
    * each doc's (shard, pos) equal to what q100's registered core assigns
    * (the writer may not drift from the assignment the oracle hashes).
    */
  test("shards artifact is a training-ready permutation of the corpus") {
    val corpusIds = spark.read.parquet(s"${art(outDir)}/corpus")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val shards = spark.read.parquet(s"${art(outDir)}/shards")
      .select(col("doc_id"), col("shard"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(shards.map(_._1).toSet === corpusIds, "shards != corpus doc set")
    assert(shards.length === corpusIds.size, "a doc appears twice")
    shards.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted === (1 to rows.size).toArray,
        s"shard $shard positions not contiguous") }
    val shardDirs = new java.io.File(s"${art(outDir)}/shards").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(shardDirs.nonEmpty && shardDirs.forall(_.startsWith("shard=")),
      "shards must be Hive-partitioned by shard")
    val want = Pipeline.trainShards(
        spark.read.parquet(s"${art(outDir)}/corpus").select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("shard"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(shards.toSet === want, "written shards drifted from q100's assignment")
  }

  /** The round-13 opt-in stages on a planted corpus, run twice (defaults
    * vs all three flags): markup strip rescues a doc whose RAW text fails
    * the Gopher symbol rule via its style block, the gopher gate drops a
    * funnel-passing-but-sub-50-word doc, and the quality keeper flips a
    * near-dup cluster's survivor from the min-id member to the
    * higher-score one (scores computed by the independent Scala weight
    * model, ids ASSIGNED so the two policies must disagree). Defaults
    * remain bit-compatible: the flag-off run keeps min-id and the short
    * doc. The flagged run also packs (round 14): layout/sequences must be
    * q124 over the run's OWN final corpus, verbatim.
    */
  test("curation flags: markup strip, gopher gate, quality keeper") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      def alpha(n: Int): String =
        n.toString.map(c => ('a' + (c - '0')).toChar)
      def tok(i: Int, j: Int): String = s"w${alpha(i)}x${alpha(j)}"
      def prose(i: Int): String = {
        val t = (0 until 80).map(j => tok(i, j)).toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t.mkString(" ")
      }
      // near-dup pair: 80 tokens, 2 changed -> jaccard ~0.857 (DedupSpec's
      // proven-banded construction); higher-score text gets the HIGHER id
      val ndBase = {
        val t = (0 until 80).map(j => tok(99, j)).toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t
      }
      val ndCopy = { val t = ndBase.clone()
        t(10) = "waaxz"; t(40) = "wbbxz"; t }
      def weight(t: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          md.map("%02x".format(_)).mkString.take(15), 16) % 2001 - 1000
      }
      def meanE6(s: String): Long = {
        val toks = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        math.floor(toks.map(weight).sum.toDouble * 1000 / toks.length).toLong
      }
      val (tA, tB) = (ndBase.mkString(" "), ndCopy.mkString(" "))
      assert(meanE6(tA) != meanE6(tB), "degenerate score draw")
      assert(Seq(tA, tB).forall(meanE6(_) >= Pipeline.ClassifierFloorE6))
      val (loT, hiT) = if (meanE6(tA) < meanE6(tB)) (tA, tB) else (tB, tA)
      val css = Array.fill(12)("#aa{q:#bb}").mkString(" ")
      val docs = Seq(
        1L -> prose(1), 2L -> prose(2), 3L -> prose(3),
        21L -> s"${prose(9)} <style>$css</style>", // raw fails gopher symbols
        29L -> loT, 30L -> hiT,                    // quality beats min-id
        31L -> (0 until 30).map(j => tok(31, j)).mkString(" ")) // sub-50-word
        .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val emb = docs.select(col("doc_id")).collect().map(_.getLong(0))
        .zipWithIndex.map { case (id, i) =>
          (id, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.01f * i), 0)
        }.toSeq.toDF("vec_id", "embedding", "label")
      val sf = s"$tmp/sf"
      docs.write.mode("overwrite").parquet(s"$sf/documents.parquet")
      emb.write.mode("overwrite").parquet(s"$sf/embeddings.parquet")

      val outA = s"$tmp/outA"
      CurationRun.run(spark, sf, outA).collect()
      val corpusA = spark.read.parquet(s"${art(outA)}/corpus")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(corpusA.contains(29L) && !corpusA.contains(30L),
        "default run must keep the min-id near-dup member")
      assert(corpusA.contains(31L), "default run must keep the 30-word doc")

      val outB = s"$tmp/outB"
      CurationRun.run(spark, sf, outB, CurationParams(
        stripMarkup = true, gopherGate = true, qualityKeeper = true,
        packSequences = true)).collect()
      val corpusB = spark.read.parquet(s"${art(outB)}/corpus")
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(corpusB.contains(30L) && !corpusB.contains(29L),
        "quality keeper must keep the higher-score member (id 30)")
      assert(!corpusB.contains(31L), "gopher gate must drop the sub-50-word doc")
      assert(corpusB.contains(21L) && corpusB(21L) === prose(9),
        "markup strip must rescue the style-block doc to its exact prose")
      val rp = spark.read.parquet(s"${art(outB)}/run_params").collect().head
      assert(rp.getAs[Boolean]("strip_markup") &&
        rp.getAs[Boolean]("gopher_gate") && rp.getAs[Boolean]("quality_keeper") &&
        rp.getAs[Boolean]("pack_sequences"),
        "run_params must record the flags used")
      // the packed layout is q124 over the run's OWN final corpus, verbatim
      def packRows(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("shard"), col("seq_idx"), col("seq_off"), col("doc_id"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
          r.getAs[Int]("seq_idx"), r.getAs[Long]("seq_off"),
          r.getAs[Long]("cost"), r.getAs[Boolean]("truncated"))).toSeq
      val packed = packRows(spark.read.parquet(s"${art(outB)}/layout/sequences"))
      val want = packRows(Pipeline.packSequences(
        spark.read.parquet(s"${art(outB)}/corpus").select(col("doc_id"), col("text"))))
      assert(packed.nonEmpty && packed === want,
        "layout/sequences drifted from q124 over the run's corpus")
    }
  }

  /** --token-budget-pct: the gate keeps EXACTLY q135's prefix over the
    * sampled survivors (computable from the flag-less baseline corpus,
    * which is that same population), the verdict artifact carries the
    * selection table, dropped docs fate at 'sampled', kept at
    * 'token_budget', shards restrict to the kept set — and a flag-less
    * rerun into the same outDir deletes the stale verdict (the
    * write-scores lesson).
    */
  test("token-budget gate applies q135 and fates the dropped at 'sampled'") {
    TestSpark.withTemp { out =>
      val base = spark.read.parquet(s"${art(outDir)}/corpus")
      val want = Pipeline.tokenBudgetSelect(
          base.select(col("doc_id"), col("text")), 50L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      CurationRun.run(spark, sfDir, out,
        CurationParams(tokenBudgetPct = Some(50L))).collect()
      val gotCorpus = spark.read.parquet(s"${art(out)}/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(want.nonEmpty && want.size < base.count(), "budget did not cut")
      assert(gotCorpus === want)
      val verdict = spark.read.parquet(s"${art(out)}/verdicts/token_budget")
      assert(verdict.columns.sorted ===
        Array("cum_tokens", "doc_id", "n_tokens", "score_milli"))
      assert(verdict.select("doc_id").collect().map(_.getLong(0)).toSet
        === want)
      val fates = spark.read.parquet(s"${art(out)}/verdicts/doc_fates")
        .select("doc_id", "last_stage").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      want.foreach(id => assert(fates(id) === "token_budget"))
      val baseIds = base.select("doc_id").collect().map(_.getLong(0)).toSet
      (baseIds -- want).foreach(id => assert(fates(id) === "sampled"))
      val shardIds = spark.read.parquet(s"${art(out)}/shards")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(shardIds === want, "shards must lay out only the selected set")
      // flag-less rerun into the SAME outDir: stale budget verdict removed,
      // corpus back to the full sampled population
      CurationRun.run(spark, sfDir, out).collect()
      assert(!new java.io.File(s"${art(out)}/verdicts/token_budget").exists(),
        "stale token_budget verdict survived a flag-less rerun")
      assert(spark.read.parquet(s"${art(out)}/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet === baseIds)
    }
  }

  /** Round-16 #3: the atomic artifact commit protocol. A writer killed
    * between the artifact writes and the pointer swap (the injected-crash
    * window — by then every parquet directory of the NEW version is on
    * disk) must leave the PRIOR committed run as what every reader
    * resolves: the chained `--incremental` still verdicts against the old
    * snapshot, byte-identical manifest included. A later successful rerun
    * then publishes normally and garbage-collects the crashed stage.
    */
  test("a crash between artifact writes and pointer swap leaves the prior run readable") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      def prose(i: Int): String = {
        val t = (0 until 80).map(j => s"c${i}x$j").toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t.mkString(" ")
      }
      val aDocs = Seq(1L -> prose(1), 2L -> prose(2), 3L -> prose(3))
      def write(dir: String, docs: Seq[(Long, String)]): Unit = {
        docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        docs.zipWithIndex.map { case ((id, _), i) =>
          (id, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.01f * i), 0)
        }.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val sfA = s"$tmp/sfA"
      val sfB = s"$tmp/sfB"
      write(sfA, aDocs)
      write(sfB, aDocs ++ Seq(10L -> prose(1), 11L -> prose(9))) // dup + novel
      val out = s"$tmp/out"
      CurationRun.run(spark, sfA, out).collect()
      val v1 = art(out)
      def manifestRows(d: String) = spark.read.parquet(s"$d/manifest")
        .orderBy(col("stage_idx")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val committed = manifestRows(v1)
      // the crash window: all data written, pointer swap never happens
      graft.sources.Artifacts.crashBeforeCommit = true
      try intercept[IllegalStateException] {
        CurationRun.run(spark, sfB, out).collect()
      } finally graft.sources.Artifacts.crashBeforeCommit = false
      assert(art(out) === v1,
        "a crashed run must not move the committed pointer")
      assert(manifestRows(art(out)) === committed,
        "prior committed artifacts must be untouched by the crashed run")
      // the operational consequence: a CHAINED incremental run still reads
      // the OLD snapshot — arrival 10 verdicts exact_corpus against doc 1,
      // which only run A's (not the torn run B's) index can know
      val outIncr = s"$tmp/outIncr"
      val got = CurationRun.incremental(spark, sfB, outIncr, out,
        CurationParams()).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(10L) === "exact_corpus" && got(11L) === "kept",
        s"chained incremental must serve off the last COMMITTED index, got $got")
      // recovery: a successful rerun publishes v3 and GCs the crashed stage
      CurationRun.run(spark, sfB, out).collect()
      assert(art(out) !== v1, "the recovered run must publish a new version")
      val versions = new java.io.File(s"$out/_versions").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(versions.length <= 2,
        s"GC must keep only the committed version and its predecessor, got " +
          versions.mkString(","))
    }
  }

  /** Round-17 #7 (crash-injection breadth): the three Artifacts windows the
    * round-16 spec did NOT cover, exercised on the protocol directly.
    */
  test("artifacts: crash during pointer rename, retry loops, retention knob, scheme guard") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      def publish(out: String, tag: Int): String = {
        val staged = graft.sources.Artifacts.stage(spark, out)
        Seq(tag).toDF("v").write.mode("overwrite").parquet(s"$staged/t")
        graft.sources.Artifacts.commit(spark, out, staged)
        staged
      }
      def readTag(out: String): Int =
        spark.read.parquet(
          s"${graft.sources.Artifacts.resolve(spark, out)}/t")
          .collect().head.getInt(0)
      def versionNames(out: String): Seq[String] =
        Option(new java.io.File(s"$out/_versions").listFiles())
          .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName)
          .sorted.toSeq

      // (a) crash DURING the pointer rename: a stray _COMMITTED.tmp.* at the
      // artifact root (writer died between temp creation and rename) must not
      // confuse readers, and the next stage() must sweep it
      val outA = s"$tmp/outA"
      publish(outA, 1)
      val stray = new java.io.File(outA, "_COMMITTED.tmp.deadbeef")
      val w = new java.io.FileWriter(stray); w.write("v99999"); w.close()
      // aged past the sweep threshold = the orphan case (writer long dead)
      stray.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
      val fresh = new java.io.File(outA, "_COMMITTED.tmp.cafebabe")
      val w2 = new java.io.FileWriter(fresh); w2.write("v99998"); w2.close()
      assert(readTag(outA) === 1,
        "a dangling pointer temp must not affect resolution")
      publish(outA, 2)
      assert(!stray.exists(), "stage() must sweep AGED leftover pointer temps")
      assert(fresh.exists(),
        "stage() must NOT sweep young temps — a live writer's in-flight " +
          "commit would lose its rename (ADVICE r17 age threshold)")
      fresh.delete()
      assert(readTag(outA) === 2)

      // (b) double-crash/retry loop: stage -> crash -> stage -> crash ->
      // stage -> commit. GC keeps exactly the committed version and its
      // predecessor; every crashed staging dir is collected.
      val outB = s"$tmp/outB"
      publish(outB, 1) // v1
      graft.sources.Artifacts.stage(spark, outB) // v2, crashed (never committed)
      graft.sources.Artifacts.stage(spark, outB) // v3, crashed
      publish(outB, 4) // v4, committed
      assert(readTag(outB) === 4)
      assert(versionNames(outB) === Seq("v00001", "v00004"),
        "GC after a retry loop must keep exactly {committed, prior committed}")

      // (c) retention knob: keepVersions=3 retains two predecessors for
      // long-running chained readers (the two-commit reader window widened)
      val outC = s"$tmp/outC"
      spark.conf.set("graft.artifacts.keepVersions", "3")
      try {
        (1 to 4).foreach(publish(outC, _))
        assert(versionNames(outC) === Seq("v00002", "v00003", "v00004"))
        assert(readTag(outC) === 4)
      } finally spark.conf.unset("graft.artifacts.keepVersions")

      // (d) scheme guard: schemes that are neither atomic-rename nor a known
      // object store fail FAST at stage(), before any data is written, with
      // the protocol's own message (object-store schemes like s3a now take
      // the single-object pointer-PUT path — ArtifactsObjectStoreSpec)
      val e = intercept[IllegalArgumentException] {
        graft.sources.Artifacts.stage(spark, "ftp://host/run")
      }
      assert(e.getMessage.contains("refusing at stage() time"),
        s"stage() on an unsupported scheme must refuse with the protocol's message, got: $e")
    }
  }

  private def branchThreadsAlive(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("curation-run-branch"))
      .map(_.getName)

  test("branches: join waits for every branch, then rethrows the first failure in fork order") {
    val b = new CurationRun.Branches
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      b.fork { Thread.sleep(200); throw new IllegalStateException("first") }
      b.fork { throw new IllegalArgumentException("second") }
      b.fork { Thread.sleep(400); slowDone.set(true) }
      val e = intercept[IllegalStateException](b.join())
      assert(e.getMessage === "first",
        "join must rethrow the failure of the earliest fork, not the earliest to fail")
      assert(slowDone.get(),
        "join returned while a branch was still running")
    } finally b.close()
    assert(branchThreadsAlive().isEmpty,
      s"threads alive after close: ${branchThreadsAlive()}")
    // a clean join returns normally
    val ok = new CurationRun.Branches
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      (1 to 3).foreach(_ => ok.fork { ran.incrementAndGet(); () })
      ok.join()
    } finally ok.close()
    assert(ran.get() === 3)
  }

  /** A branch that throws (the dedup-index branch forked before the
    * funnel, or an artifact write) must keep `Artifacts.commit` from
    * running: the prior committed run still resolves, byte-identical, and
    * no branch thread outlives `run` on either outcome.
    */
  test("a failed branch never commits: the prior run stays readable and no branch thread survives") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      def prose(i: Int): String = {
        val t = (0 until 80).map(j => s"c${i}x$j").toArray
        t(5) = "the"; t(20) = "and"; t(35) = "is"; t(50) = "that"
        t.mkString(" ")
      }
      def write(dir: String, docs: Seq[(Long, String)]): Unit = {
        docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        docs.zipWithIndex.map { case ((id, _), i) =>
          (id, Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.01f * i), 0)
        }.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val sfA = s"$tmp/sfA"
      val sfB = s"$tmp/sfB"
      write(sfA, (1 to 3).map(i => i.toLong -> prose(i)))
      write(sfB, (1 to 5).map(i => i.toLong -> prose(i)))
      val out = s"$tmp/out"
      CurationRun.run(spark, sfA, out).collect()
      assert(branchThreadsAlive().isEmpty,
        s"threads alive after a committed run: ${branchThreadsAlive()}")
      val v1 = art(out)
      def manifestRows(d: String) = spark.read.parquet(s"$d/manifest")
        .orderBy(col("stage_idx")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val committed = manifestRows(v1)
      val key = "spark.sql.parquet.output.committer.class"
      // index/seen: the dedup-index branch, forked before the funnel;
      // verdicts/doc_fates: one of the artifact writes
      for (target <- Seq("index/seen", "verdicts/doc_fates")) {
        spark.conf.set(key, classOf[FailingCommitter].getName)
        FailingCommitter.failOn = Some(target)
        val e = try intercept[Exception] {
          CurationRun.run(spark, sfB, out).collect()
        } finally {
          FailingCommitter.failOn = None
          spark.conf.unset(key)
        }
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains(
            s"injected write failure on $target")),
          s"run must rethrow the $target branch's failure, got $e")
        assert(branchThreadsAlive().isEmpty,
          s"threads alive after a failed run ($target): ${branchThreadsAlive()}")
        assert(art(out) === v1,
          s"a failed $target branch must not move the committed pointer")
        assert(manifestRows(art(out)) === committed,
          "prior committed artifacts must be untouched by the failed run")
      }
    }
  }

  /** The branches change which thread submits each job, never what a job
    * computes: two runs over the same input write the same rows to every
    * artifact table (each table's rows as JSON, sorted).
    */
  test("two runs over the same input write identical rows to every artifact table") {
    TestSpark.withTemp { again =>
      CurationRun.run(spark, sfDir, again).collect()
      def tables(root: String): Map[String, Seq[String]] = {
        val base = new java.io.File(root).toPath
        Files.walk(base).iterator().asScala
          .filter(_.getFileName.toString == "_SUCCESS")
          .map { s =>
            base.relativize(s.getParent).toString ->
              spark.read.parquet(s.getParent.toString).toJSON.collect()
                .toSeq.sorted
          }.toMap
      }
      val first = tables(art(outDir))
      val second = tables(art(again))
      val expected = Set("corpus", "shards", "run_params", "manifest",
        "index/seen", "index/dedup/exact", "index/dedup/shingles",
        "index/dedup/bands", "model/coarse", "model/index",
        "verdicts/source_cap", "verdicts/sample", "verdicts/doc_fates",
        "verdicts/scores")
      assert(first.keySet === expected, "artifact tables of the first run")
      assert(second.keySet === expected, "artifact tables of the second run")
      expected.foreach { t =>
        assert(first(t).nonEmpty, s"$t is empty")
        assert(first(t) === second(t), s"$t differs between two runs")
      }
    }
  }
}
