package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors, Future}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, FlatQuantizer, ImiQuantizer, Pipeline, Quantizers, Similarity}
import graft.sources.{Artifacts, ModelStore, PartitionedParquet}

/** The tunable operating points of a curation run — every knife threshold
  * that was a compile-time constant through round 12, now a run parameter
  * so a recalibration (q102's classifier sweep, the ANN calibration table)
  * doesn't require a rebuild. Defaults are the deployed constants, so a
  * flag-less run is bit-identical to the pre-parameterized behavior and
  * the q88 manifest parity holds.
  *
  * `reuseModels` points at a PRIOR run's outDir: the sem_dedup stage then
  * RELOADS that run's fitted coarse codebook ([[ModelStore]]) instead of
  * re-fitting — the production train-once/serve-many contract. Two
  * snapshots curated under one codebook have comparable semantic-dedup
  * verdicts (cell boundaries identical); re-fitting per job would move
  * them. The run always writes the codebook it USED under
  * `outDir/model/coarse`, so any run can seed the next.
  */
final case class CurationParams(
    semDedupCosine: Double = Similarity.SemDedupCosine,
    classifierFloorE6: Long = Pipeline.ClassifierFloorE6,
    nearDupJaccard: Double = Pipeline.FunnelNearDupJaccard,
    sourceCap: Int = Pipeline.SourceCap,
    reuseModels: Option[String] = None,
    // round-14: reuse a prior run's PERSISTED (vec_id, cell) assignment
    // index (model/index) — implies reusing that run's quantizer too
    // (assignments are only valid under the codebook that produced them):
    // the sem_dedup stage assigns ONLY the arrivals and reads everything
    // else from the artifact, so the full-corpus assignment scan is paid
    // once per quantizer, not once per run
    reuseIndex: Option[String] = None,
    // round-14: the production middle path between refit and reuse — load
    // a prior run's codebook and take ONE Lloyd step on THIS run's
    // subject (q111/imiRefresh composed into the pipeline): adapts to
    // drift for one aggregate pass instead of a full KMeans refit, and
    // keeps cell semantics comparable to the prior run (centroids move,
    // they are not re-drawn)
    refreshModels: Option[String] = None,
    // round-14: diff this run against a prior run's persisted verdicts —
    // writes verdicts/drift (per-doc fate diff vs the prior doc_fates/,
    // q105's between-runs form) and verdicts/psi (score-distribution PSI
    // vs the prior scores/, q116's between-runs form)
    prevRun: Option[String] = None,
    // round-13 late additions, each default-off so a flag-less run stays
    // bit-identical to the q88-parity behavior:
    // q114's HTML-to-text transform applied to every doc BEFORE the funnel
    // (a transform, not a gate — no doc is dropped, so no manifest row;
    // null text becomes the empty doc by q114's contract)
    stripMarkup: Boolean = false,
    // q112's published rule battery as a pre-funnel gate; the funnel's
    // "raw" row then counts gated survivors (recorded in run_params)
    gopherGate: Boolean = false,
    // q113's keeper policy for the near-dup stage: the argmax-classifier
    // member survives each cluster instead of the min-id one
    qualityKeeper: Boolean = false,
    // round-14: q124's training-sequence packing over the final survivors
    // (a layout artifact beside shards/, not a gate — no doc is dropped)
    packSequences: Boolean = false,
    // round-14: opt OUT of the verdicts/scores monitoring artifact (a
    // full-snapshot scoring pass — the priciest non-funnel stage at sf10);
    // default on so any run can seed a later --prev-run chain
    writeScores: Boolean = true,
    // round-15: q135's token-budget selection as an opt-in GATE after the
    // mixture sampler — "the compute budget buys N% of the surviving
    // token mass; keep the best-scoring prefix" (the DataComp/DsDm
    // selection step). A gate, not a layout: dropped docs leave
    // corpus/shards and fate at the prior stage; the per-doc selection
    // table persists under verdicts/token_budget
    tokenBudgetPct: Option[Long] = None,
    // round-15: serve q78's batch-vs-corpus verdict as a RUN MODE — a new
    // snapshot's ARRIVALS (ids the prior run has no fate for) are
    // verdicted against the prior run's persisted dedup-index artifacts
    // (index/dedup/{exact,shingles,bands}) instead of re-deduping — or
    // even rescanning — the corpus. Dispatches to [[CurationRun
    // .incremental]]; mutually exclusive with the model/drift flags
    // (those describe full runs).
    incremental: Option[String] = None)

/** The end-to-end curation RUN: every stage of the shipped curation family,
  * chained as ONE artifact-writing job (reference: the pipeline a
  * `mapreduce.c`-style engine would run as separate driver programs over
  * intermediate files; here one driver submits the chain's Spark jobs in
  * order, with explicit materialization points, and runs the blocks that
  * do not depend on the chain as branches beside it).
  *
  *   q44 gates → q94 classifier gate → q18 exact dedup → q21+q56 near-dup
  *   resolution → q57-style
  *   eval-window doc drop   (= q88's six funnel stages, BY CONSTRUCTION:
  *   the run consumes [[Pipeline.curationStages]]'s own frames, so the
  *   manifest's first six rows hash-match the q88 oracle without any
  *   re-implementation)
  *   → q85 semantic dedup (SemDeDup, over survivors carrying embeddings)
  *   → q80b corpus-duplicated line strip (hashed production form)
  *   → q84 duplicated-span surgery
  *   → q89 per-source cap (salted two-phase)
  *   → q75 language-mixture sampling
  *   → q100 training-shard assignment (the `shards/` artifact).
  *
  * q86's eval-window CUT is deliberately absent: the funnel's stage 5
  * already DROPS every doc sharing an eval window (q88's doc-drop policy),
  * so the surgical cut over its survivors flags nothing by construction —
  * a run that prefers surgery to dropping would swap stage 5 for q86, not
  * run both.
  *
  * Artifacts under `outDir`:
  *   - `corpus/` — the cleaned corpus, Hive-partitioned by `lang` and
  *     doc_id-sorted within files ([[PartitionedParquet]]): (doc_id, lang,
  *     source, text, n_tokens)
  *   - `model/coarse/` — the fitted (or reused) coarse-quantizer codebook
  *     the sem_dedup stage ran under ([[ModelStore]] layout): the artifact
  *     a later run reuses via [[CurationParams.reuseModels]]
  *   - `verdicts/source_cap/` — q89's kept set (doc_id, source, src_rank)
  *   - `verdicts/sample/` — q75's per-doc verdict (doc_id, lang, rate_e6,
  *     kept), losers included (the run's sampling audit trail)
  *   - `verdicts/doc_fates/` — every raw doc with the LAST stage it
  *     survived (doc_id, last_stage_idx, last_stage): the per-document
  *     "why did my doc disappear" answer
  *   - `run_params/` — one row recording the operating points this run
  *     used (provenance: a verdict table without its thresholds is not
  *     reproducible)
  *   - `manifest/` — the q88 funnel extended with the run-only stages:
  *     (stage_idx, stage, docs, tokens), one row per stage.
  *
  * ON DISK the artifact paths above live under a COMMITTED VERSION of
  * `outDir`, not at its top level: a run stages everything under
  * `outDir/_versions/vNNNNN` and publishes it with one atomic
  * pointer-file swap at the very end ([[graft.sources.Artifacts]]), so a
  * writer killed mid-run leaves the previous complete run readable
  * instead of a torn artifact set. Readers — the chained-run flags here,
  * and any external consumer — go through [[Artifacts.resolve]], which
  * maps `outDir` to its last committed version (and is a no-op passthrough
  * on plain unversioned directories).
  *
  * Shape for 100 TB: per-stage costs are the member operators' own (each
  * documented at its definition); the chain adds only (a) localCheckpoints
  * at frames consumed by 2+ downstream branches (stat + next stage — q78's
  * between-stages lesson: re-reading materialized partitions beats
  * re-executing a gram-explode or CC lineage per branch), and (b) id-only
  * joins to fan dimension columns (lang, source) back onto survivor frames
  * — text never rides a join it doesn't need. The doc-fates table is ONE
  * union of (doc_id, stage_idx) id-pairs over the eleven (strictly nested)
  * survivor frames folded by a map-side-combinable `max` — one shuffle,
  * replacing round 12's chain of ten sequential id-keyed left joins over
  * the full raw-doc frame (the widest plan in the artifacts stage).
  *
  * Critical path: the chain (funnel → sem_dedup → line_dedup → span_cut →
  * source_cap → sampled) is sequential, each stage reading the one
  * before. Two blocks are branches on [[Branches]] threads instead, the
  * way the reference's map and reduce threads overlap:
  *   - the dedup index (`index/dedup/`, `index/seen`) and the scores pass
  *     (`verdicts/scores`) read only the scan, so one branch writes them
  *     from the moment `docs` exists, under the funnel;
  *   - the artifact writes (corpus, shards, the verdicts, run_params,
  *     manifest, opt-in layout/sequences) read only frames the chain has
  *     built and never each other's output, so they are submitted
  *     together.
  * Every branch joins before the pointer swap; `prev_drift` reads
  * doc_fates and scores back, so it runs after the join. The branches
  * change which thread submits a job, never the plans, the outputs or
  * the job count. On the benchmark's
  * sf0.1 curate input (4 cores, warm pass) the index and scores branch
  * finishes inside the funnel, so the run's wall is the chain plus the
  * artifacts stage, whose residual tail is the `shards/` write: AQE
  * coalesces its range exchange to one partition, so one task writes
  * every shard file (SCALE.md, "CurationRun's critical path").
  */
object CurationRun {

  /** Stage-wall timer for the scale audits (SCALE.md's CurationRun table):
    * every stage boundary in [[run]] is an EAGER materialization
    * (localCheckpoint / sink write), so wrapping the block bounds that
    * stage's wall. Branch stages overlap the chain, so walls no longer sum
    * to the run: each line also carries the stage's start offset from the
    * timer's creation (the run's start). stderr-only observability — no
    * data-path effect.
    */
  private final class StageTimer {
    private val runStart = System.nanoTime()

    def apply[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[curation-run] stage-wall $label%-19s " +
        f"${(System.nanoTime() - t0) / 1e9}%5.1f s  start +" +
        f"${(t0 - runStart) / 1e9}%.1f s")
      r
    }
  }

  /** The branch threads of one [[run]]: blocks that read only frames
    * already built, and whose output nothing on the chain reads, run here
    * beside the chain instead of on its critical path (the reference's
    * m map and n reduce threads overlap the same way). Created on the
    * calling thread, and every thread is created by a [[fork]] on that
    * thread, so branch jobs inherit the caller's Spark local properties
    * (job group, scheduler pool, description) — a global pool's threads
    * would not. [[close]] returns only once every thread has exited.
    */
  private[graft] final class Branches extends AutoCloseable {
    private val threads = new ConcurrentLinkedQueue[Thread]
    private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"curation-run-branch-${threads.size}")
      t.setDaemon(true)
      threads.add(t)
      t
    }
    private val forked = ArrayBuffer.empty[Future[_]]

    def fork(body: => Unit): Unit = {
      val task: Runnable = () => body
      forked += pool.submit(task)
    }

    /** Waits for EVERY forked branch, including after one has thrown (a
      * branch still writing must not outlive the decision not to commit),
      * then rethrows the first failure in fork order, so the reported
      * error does not depend on timing.
      */
    def join(): Unit = {
      val failures = forked.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(throw _)
    }

    def close(): Unit = {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** In-place outDir reuse is a supported workflow (every artifact writes
    * mode=overwrite), which makes "prior run == this run's outDir" a real
    * foot-gun, not a hypothetical: --prev-run <outDir> would read the
    * verdicts THIS run just overwrote as the "prev" side and fabricate an
    * all-stable drift report with zero PSI, and --reuse-index/--incremental
    * <outDir> would overwrite the parquet paths their own lazily-planned
    * inputs are still reading (AnalysisException at best, corruption at
    * worst). Every prior-run flag is rejected up front when it equals the
    * outDir, path-normalized so `out/` vs `out` doesn't slip through.
    */
  private def samePath(a: String, b: String): Boolean =
    a == b || (try new java.io.File(a).getCanonicalPath ==
      new java.io.File(b).getCanonicalPath
    catch { case _: java.io.IOException => false })

  /** Execute the chain over `sfDir`'s documents table, write all sink
    * artifacts under `outDir`, and return the manifest (also written).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): DataFrame =
    run(spark, sfDir, outDir, CurationParams())

  def run(spark: SparkSession, sfDir: String, outDir: String,
      params: CurationParams): DataFrame = {
    // --reuse-index implies the quantizer of the run that BUILT the index
    // (assignments are only valid under their own codebook), so a
    // conflicting --reuse-models would be silently ignored — reject it
    // instead of recording misleading provenance
    require(params.reuseModels.isEmpty || params.reuseIndex.isEmpty ||
      params.reuseModels == params.reuseIndex,
      s"--reuse-index ${params.reuseIndex.get} implies that run's " +
        s"quantizer; drop --reuse-models ${params.reuseModels.get} or " +
        "point both at the same prior run")
    require(params.writeScores || params.prevRun.isEmpty,
      "--prev-run needs this run's verdicts/scores for the PSI side; " +
        "drop --write-scores false")
    require(params.refreshModels.isEmpty ||
      (params.reuseModels.isEmpty && params.reuseIndex.isEmpty),
      "--refresh-models takes a Lloyd step on the prior codebook; it " +
        "cannot combine with --reuse-models/--reuse-index (which pin the " +
        "codebook verbatim)")
    require(params.incremental.isEmpty,
      "--incremental dispatches to CurationRun.incremental, not run()")
    require(params.tokenBudgetPct.forall(p => p >= 1 && p <= 100),
      s"--token-budget-pct must be in [1, 100], got " +
        s"${params.tokenBudgetPct.getOrElse(-1L)}")
    require(!params.prevRun.exists(samePath(_, outDir)),
      "--prev-run must point at a DIFFERENT prior run's outDir: this run " +
        s"overwrites $outDir's verdicts before the drift diff reads them, " +
        "so diffing against itself fabricates an all-stable report")
    require(!params.reuseIndex.exists(samePath(_, outDir)),
      "--reuse-index must point at a DIFFERENT prior run's outDir: " +
        s"saveIndex would overwrite $outDir/model/index while the reused " +
        "index is still lazily reading it")
    // every artifact writes into this staging version; ONE atomic pointer
    // swap at the end of the run publishes them as a consistent set
    // (crash-safety contract: [[graft.sources.Artifacts]])
    val art = Artifacts.stage(spark, outDir)
    val timed = new StageTimer
    val branches = new Branches
    try {
      // one parquet scan feeds the funnel AND both dimension fan-backs
      val scanned = timed("scan") {
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
          .localCheckpoint()
      }
      // opt-in q114 transform: markup out of every payload before any gate
      // reads it (per-row codegen chain; no doc dropped, so no manifest row)
      val stripped =
        if (!params.stripMarkup) scanned
        else timed("markup_strip") {
          scanned.withColumn("text",
            graft.functions.text.stripMarkup(col("text"))).localCheckpoint()
        }
      // opt-in q112 gate: the published Gopher battery ahead of the funnel;
      // the funnel's "raw" row then counts gated survivors
      val docs =
        if (!params.gopherGate) stripped
        else timed("gopher_gate") {
          stripped.filter(
            operators.TextAnalysis.gopherVerdict(col("text"))).localCheckpoint()
        }
      // branch: the dedup index and the scores read only the scan, never a
      // chain frame, so one branch thread writes them under the funnel.
      // The persistable dedup-index state (q78's production contract):
      // exact md5 keys, hashed shingle sets, and the LSH band index over
      // the snapshot this run ingested (the same population doc_fates
      // covers) — the artifacts a later `--incremental` run verdicts its
      // arrivals against WITHOUT re-deduping, or even rescanning, this
      // corpus. One extra shingle pass over the checkpointed scan; the
      // shingle table is ~8 B/shingle, far under the text it summarizes.
      branches.fork {
        timed("dedup_index") {
          val keyed = docs.select(col("doc_id"), col("text"))
          Dedup.exactKeyIndex(keyed)
            .write.mode("overwrite").parquet(s"$art/index/dedup/exact")
          val sh = Dedup.nearDupShingles(keyed).localCheckpoint()
          sh.write.mode("overwrite").parquet(s"$art/index/dedup/shingles")
          Dedup.nearDupBandIndex(sh)
            .write.mode("overwrite").parquet(s"$art/index/dedup/bands")
          // the seen-id set an --incremental successor anti-joins to find
          // its arrivals. Deliberately the RAW scanned ids, not doc_fates:
          // fates exclude the eval-side holdout (doc_id % EvalEvery == 0),
          // which a later snapshot still contains — fates-based arrival
          // detection would re-verdict the holdout every night
          scanned.select(col("doc_id")).distinct()
            .write.mode("overwrite").parquet(s"$art/index/seen")
        }
        // per-doc classifier scores of the RAW snapshot (pre-gate, so two
        // runs' tables describe the same population even when their gate
        // params differ) — the between-runs monitoring artifact the next
        // run's --prev-run PSI reads, q116's production prev side. This is
        // a full-snapshot token-explode pass (the one stage whose sf10 wall
        // dominated the round-13 profile), so a run whose output will
        // never seed a monitoring chain can opt out with --write-scores
        // false
        if (params.writeScores) timed("scores") {
          operators.TextAnalysis.classifierScoresUnsorted(
              scanned.select(col("doc_id"), col("text")))
            .write.mode("overwrite").parquet(s"$art/verdicts/scores")
        }
        // (an opted-out run needs no stale-scores delete anymore: the
        // fresh staging version starts empty, so a later --prev-run reading
        // THIS run finds no scores table and fails loudly — the hazard the
        // old Hadoop-FileSystem delete existed to close is gone
        // structurally)
      }
      // curationStages materializes its member frames eagerly, so this block
      // carries the quality-gate + exact-dedup + near-dedup wall
      val funnel = timed("funnel") {
        Pipeline.curationStages(
          docs.select(col("doc_id"), col("text")), Pipeline.EvalEvery,
          params.classifierFloorE6, params.nearDupJaccard,
          params.qualityKeeper)
      }
      // decontaminated survivors: stat + line-dedup input (gram-join lineage
      // behind it — materialize, q78 precedent)
      val dec = timed("decon_ckpt") { funnel.last._2.localCheckpoint() }

      // stage 6: semantic dedup (q85, the SemDeDup step) over survivors that
      // CARRY embeddings — text dedup cannot see a paraphrased copy, the
      // embedding space can. CONTRACT: the embeddings table is keyed so that
      // vec_id == the doc_id of the document it embeds (TESTDATA.md's
      // one-embedding-per-doc layout) — the join below depends on it, and
      // CurationRunSpec asserts a non-trivial hit count so a schema drift
      // that breaks the alignment fails loudly instead of silently turning
      // this stage into a pass-through. Docs without an embedding pass
      // through unjudged (they were never clusterable); each ≥ 0.95-cosine
      // component keeps its min doc_id. The drop set is an id-only
      // left-anti join — text never rides the vector machinery.
      // The quantizer is fit ONCE here (or reloaded from a prior run's
      // artifact) and always persisted under model/coarse — see
      // [[CurationParams.reuseModels]].
      val semdeduped = timed("sem_dedup") {
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("doc_id"),
            graft.functions.vectors.toDouble(col("embedding")).as("v"))
          .filter(col("v").isNotNull)
        val subject = dec.select(col("doc_id")).join(emb, Seq("doc_id"))
          .select(col("doc_id").as("vec_id"), col("v"))
          .localCheckpoint()
        val n = subject.count()
        if (n == 0) dec // nothing clusterable: the stage judges no one
        else {
          val quant = (params.reuseIndex.orElse(params.reuseModels),
              params.refreshModels) match {
            case (Some(prior), _) => timed("quant_load") {
              ModelStore.loadQuantizer(
              spark, s"${Artifacts.resolve(spark, prior)}/model/coarse")
            }
            // the production middle path: prior codebook + ONE Lloyd step
            // on THIS run's subject (q111/imiRefresh composed into the
            // pipeline) — adapts to drift for one aggregate pass instead
            // of a full KMeans refit
            case (None, Some(prior)) => timed("quant_refresh") {
              ModelStore.loadQuantizer(
              spark, s"${Artifacts.resolve(spark, prior)}/model/coarse") match {
                case FlatQuantizer(cs) => FlatQuantizer(
                  Similarity.refreshedCodebook(Similarity.codebookRefresh(
                    subject.select(col("v")), cs)))
                case imi: ImiQuantizer =>
                  Similarity.imiRefresh(subject.select(col("v")), imi)
              }
            }
            case (None, None) => timed("quant_fit") {
              Quantizers.quantizerFor(subject, Similarity.ivfCellsFor(n))
            }
          }
          ModelStore.saveQuantizer(spark, quant, s"$art/model/coarse")
          // the (vec_id, cell) soft-assignment index. With --reuse-index the
          // prior run's persisted rows serve every doc it already assigned
          // (valid because the quantizer IS that run's — assignment is a
          // pure function of (codebook, vector)) and only the ARRIVALS pay
          // the assignment pass; the run always persists the index it USED
          // (model/index) so any run can seed the next. The verdict then
          // reads the just-written artifact: the candidate self-join
          // consumes the cells frame twice, and re-reading clustered
          // parquet beats re-executing the N×k assignment lineage.
          val fresh: DataFrame => DataFrame = df => df.select(col("vec_id"),
            explode(quant.probeCells(col("v"), Similarity.SemProbeCells))
              .as("cell"))
          val cells = params.reuseIndex match {
            case Some(prior) => timed("index_load") {
              val priorIdx = ModelStore.loadIndex(
                spark, s"${Artifacts.resolve(spark, prior)}/model/index")
                .select(col("vec_id"), col("cell"))
              priorIdx.join(subject.select(col("vec_id")), Seq("vec_id"))
                .unionByName(fresh(subject.join(
                  priorIdx.select(col("vec_id")).distinct(),
                  Seq("vec_id"), "left_anti")))
            }
            case None => fresh(subject)
          }
          ModelStore.saveIndex(cells, s"$art/model/index")
          val verdict = Similarity.semanticDedupCells(
            subject.select(col("vec_id")), subject,
            ModelStore.loadIndex(spark, s"$art/model/index")
              .select(col("vec_id"), col("cell")),
            params.semDedupCosine)
          dec.join(
              verdict.filter(!col("is_kept"))
                .select(col("vec_id").as("doc_id")),
              Seq("doc_id"), "left_anti")
            .localCheckpoint()
        }
      }

      // stage 7: strip corpus-duplicated lines (q80b's 64-bit-key form);
      // boilerplate-only docs empty out and leave the corpus here
      val lined = timed("line_dedup") {
        Pipeline.lineDedupHashed(semdeduped.select(col("doc_id"), col("text")))
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("cleaned").as("text"))
          .withColumn("n_tokens", graft.functions.text.tokenCount(col("text")))
          .localCheckpoint()
      }

      // stage 8: cut corpus-duplicated 8-token spans (q84); span-only docs
      // leave. Post-cut token count is exact arithmetic on spanCut's own
      // columns (kept = n_tokens - n_cut), not a re-tokenize.
      val cut = timed("span_cut") {
        Dedup.spanCut(lined.select(col("doc_id"), col("text")))
          .filter(col("n_tokens") - col("n_cut") > 0)
          .select(col("doc_id"), col("cleaned").as("text"),
            (col("n_tokens") - col("n_cut")).as("n_tokens"))
          .localCheckpoint()
      }

      // stage 9: per-source cap (q89's salted two-phase rank — the verdict
      // frame is the artifact; the survivor frame is an id-only semi join)
      val (capVerdict, capped) = timed("source_cap") {
        val v = Pipeline.sourceCap(
          cut.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
          params.sourceCap).localCheckpoint()
        (v, cut.join(v.select(col("doc_id")), Seq("doc_id")).localCheckpoint())
      }

      // stage 10: language-mixture sampling (q75) — verdict keeps the losers
      // (audit trail); the corpus keeps the winners
      val (sampleVerdict, sampled) = timed("sampled") {
        val v = Pipeline.mixtureSample(
          capped.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .select(col("doc_id"), col("lang"), col("text"))).localCheckpoint()
        (v, capped
          .join(v.filter(col("kept")).select(col("doc_id")), Seq("doc_id"))
          .localCheckpoint())
      }

      // stage 10.5 (opt-in): q135's token-budget selection over the sampled
      // survivors — keep the best-classifier-scored prefix whose token mass
      // fits tokenBudgetPct% of the surviving total. The verdict frame (per
      // selected doc: score, tokens, cumulative) is the artifact; the
      // survivor frame is an id-only semi join, the source-cap idiom.
      val (budgetVerdict, selected) = params.tokenBudgetPct match {
        case None => (None, sampled)
        case Some(pct) => timed("token_budget") {
          val v = Pipeline.tokenBudgetSelect(
            sampled.select(col("doc_id"), col("text")), pct).localCheckpoint()
          (Some(v),
            sampled.join(v.select(col("doc_id")), Seq("doc_id"))
              .localCheckpoint())
        }
      }

      // the funnel's last frame is re-read by the manifest stat AND the fates
      // fold — swap in the checkpointed copy so neither re-executes the
      // gram-explode decontamination lineage
      val stages = (funnel.init :+ (funnel.last._1 -> dec)) ++
        Seq("sem_dedup" -> semdeduped, "line_dedup" -> lined, "span_cut" -> cut,
          "source_cap" -> capped, "sampled" -> sampled) ++
        (if (params.tokenBudgetPct.isDefined)
          Seq("token_budget" -> selected) else Seq.empty)
      val manifest = stages.zipWithIndex
        .map { case ((name, df), i) => Pipeline.funnelStat(df, i, name) }
        .reduce(_.union(_))
        .orderBy(col("stage_idx"))

      // per-doc fate: survivor sets are strictly nested, so the last stage a
      // doc appears in is its fate — ONE union of (doc_id, stage_idx) pairs
      // folded by a map-side-combinable max, then a plan-literal name lookup.
      // One shuffle total, vs round 12's ten chained id-keyed left joins
      // over the full raw frame (the widest plan in the artifacts stage —
      // equivalent by the nesting, measured cheaper at sf10).
      val stageName = typedLit(
        stages.zipWithIndex.map { case ((name, _), i) => i -> name }.toMap)
      val fates = stages.zipWithIndex
        .map { case ((_, df), i) =>
          df.select(col("doc_id"), lit(i).as("stage_idx")) }
        .reduce(_.union(_))
        .groupBy(col("doc_id"))
        .agg(max(col("stage_idx")).as("last_stage_idx"))
        .select(col("doc_id"), col("last_stage_idx"),
          element_at(stageName, col("last_stage_idx")).as("last_stage"))

      val corpus = selected
        .join(docs.select(col("doc_id"), col("lang"), col("source")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          col("n_tokens"))

      // stage 11: training-shard assignment (q100) over the survivors — the
      // run's OUTPUT is a training-READY corpus: shard-partitioned files
      // whose on-disk row order (pos within shard) IS the deterministic
      // training order, re-runnable to identical bytes and epoch-reseedable
      // via Pipeline.ShuffleSalt
      val sharded = corpus.join(
          Pipeline.trainShards(selected.select(col("doc_id"), col("text")))
            .select(col("doc_id"), col("shard"), col("pos")),
          Seq("doc_id"))
        .select(col("shard"), col("pos"), col("doc_id"), col("lang"),
          col("source"), col("text"), col("n_tokens"))
      // provenance: the operating points this run actually used — a verdict
      // table without its thresholds is not reproducible
      val runParams = {
        import spark.implicits._
        Seq((params.semDedupCosine, params.classifierFloorE6,
          params.nearDupJaccard, params.sourceCap,
          params.reuseModels.orNull, params.reuseIndex.orNull,
          params.refreshModels.orNull, params.prevRun.orNull,
          params.stripMarkup, params.gopherGate, params.qualityKeeper,
          params.packSequences, params.writeScores,
          params.tokenBudgetPct.map(_.toString).orNull))
          .toDF("sem_dedup_cosine", "classifier_floor_e6", "neardup_jaccard",
            "source_cap", "reused_models_from", "reused_index_from",
            "refreshed_models_from", "prev_run", "strip_markup",
            "gopher_gate", "quality_keeper", "pack_sequences", "write_scores",
            "token_budget_pct")
      }
      // every sink write reads only chain frames built above, and none
      // reads another's output, so they are submitted together; the join
      // waits for them and for the dedup-index/scores branch
      timed("artifacts") {
        def write(path: String)(f: => Unit): Unit =
          branches.fork(timed(path)(f))
        write("corpus") {
          PartitionedParquet.write(corpus, s"$art/corpus", "lang", "doc_id")
        }
        write("shards") {
          PartitionedParquet.write(sharded, s"$art/shards", "shard", "pos")
        }
        write("verdicts/source_cap") {
          capVerdict.write.mode("overwrite").parquet(s"$art/verdicts/source_cap")
        }
        write("verdicts/sample") {
          sampleVerdict.write.mode("overwrite").parquet(s"$art/verdicts/sample")
        }
        // no stale-table delete needed for a flag-less rerun (the old
        // write-scores lesson): every run stages into a FRESH version dir,
        // so a prior run's budget verdict can't leak into this one's set
        budgetVerdict.foreach(v => write("verdicts/token_budget") {
          v.write.mode("overwrite").parquet(s"$art/verdicts/token_budget")
        })
        write("verdicts/doc_fates") {
          fates.write.mode("overwrite").parquet(s"$art/verdicts/doc_fates")
        }
        write("run_params") {
          runParams.coalesce(1).write.mode("overwrite").parquet(s"$art/run_params")
        }
        write("manifest") {
          manifest.coalesce(1).write.mode("overwrite").parquet(s"$art/manifest")
        }
        // opt-in q124 layout: the packed training-sequence plan over the
        // SAME survivors the shards stage laid out (next-fit in q100's
        // salted order, so shard here == shards/'s shard) — the dataloader
        // reads sequences instead of padding per row
        if (params.packSequences) write("layout/sequences") {
          Pipeline.packSequences(selected.select(col("doc_id"), col("text")))
            .write.mode("overwrite").parquet(s"$art/layout/sequences")
        }
        branches.join()
      }
      // between-runs monitoring against a REAL prior run: BOTH sides of
      // both reports are READ from persisted artifacts (one pass + one join
      // — the collapse q105/q116 promise): the prev side from the prior
      // run's, the cur side from the files this run just wrote — re-reading
      // clustered parquet beats re-executing the 11-frame fates lineage /
      // the scoring pass (the q78 between-stages lesson). It reads
      // doc_fates and scores, so it runs after the join, not as a branch.
      params.prevRun.foreach { prior => timed("prev_drift") {
        val priorRoot = Artifacts.resolve(spark, prior)
        Pipeline.fateDrift(
            spark.read.parquet(s"$priorRoot/verdicts/doc_fates")
              .select(col("doc_id"), col("last_stage").as("fate")),
            spark.read.parquet(s"$art/verdicts/doc_fates")
              .select(col("doc_id"), col("last_stage").as("fate")))
          .write.mode("overwrite").parquet(s"$art/verdicts/drift")
        operators.TextAnalysis.scoreDriftPsiBetween(
            spark.read.parquet(s"$priorRoot/verdicts/scores"),
            spark.read.parquet(s"$art/verdicts/scores"))
          .write.mode("overwrite").parquet(s"$art/verdicts/psi")
      } }
      // the publish: everything above is invisible to readers until this
      // single pointer swap lands; a crash anywhere earlier leaves the
      // prior committed run intact
      Artifacts.commit(spark, outDir, art)
      manifest
    } finally branches.close()
  }

  /** The `--incremental <priorRun>` mode: the q78 verdict as a RUN, served
    * entirely from a prior run's persisted state. A production pipeline
    * does not re-dedup 100 TB because tonight's crawl added 0.1% — it
    * keeps exactly the index this engine persists (md5 keys, shingle
    * sets, band index) and verdicts the ARRIVALS against it:
    *
    *   - arrivals = this snapshot's docs whose ids the prior run never
    *     ingested (`index/seen`, written by full and incremental runs
    *     alike, so incremental runs CHAIN: A full → B incr → C incr);
    *   - verdict = [[graft.operators.Dedup.incrementalDedupIndexed]] — the
    *     literal q78 core, corpus side READ from `index/dedup` (exact vs
    *     corpus, near vs corpus, exact/near within the batch, kept), so
    *     the served verdicts are the same CODE PATH the oracle-hashed q78
    *     runs, just fed from parquet instead of a live scan;
    *   - the index is then MERGED (prior state ∪ kept arrivals' keys/
    *     shingles/bands, exact keys folded by min) and re-published under
    *     THIS run's outDir, so incremental runs chain: A full → B
    *     incremental → C incremental.
    *
    * Scale shape: the snapshot is scanned exactly ONCE (the seen
    * anti-join that finds the arrivals — unavoidable and cheap: a
    * column-pruned scan, nothing snapshot-sized transformed, checkpointed,
    * or shuffled beyond the id anti-join); after that the arrivals drive
    * every join, the corpus contributes index rows only, and the merge is
    * a union write of (index + arrivals)-sized frames. Cost is
    * O(arrivals) + O(index I/O) + one snapshot scan, vs run()'s
    * O(snapshot) everything.
    *
    * Artifacts under `outDir`: `verdicts/incremental` (doc_id, reason,
    * matched_id — q78's exact schema), the merged `index/dedup` tables, and
    * `run_params`.
    */
  def incremental(spark: SparkSession, sfDir: String, outDir: String,
      prior: String, params: CurationParams): DataFrame = {
    require(!samePath(prior, outDir),
      "--incremental must point at a DIFFERENT prior run's outDir: the " +
        s"merged index would overwrite $outDir/index/dedup while still " +
        "lazily reading it")
    require(params.reuseModels.isEmpty && params.reuseIndex.isEmpty &&
      params.refreshModels.isEmpty && params.prevRun.isEmpty &&
      params.tokenBudgetPct.isEmpty,
      "--incremental is the arrivals-verdict path; the model/drift/" +
        "selection flags describe full runs and cannot combine with it")
    // flag parity with the prior run: the persisted index is md5/shingles
    // OF THE TEXT FORM (and population) the prior run ingested — an
    // incremental run under different strip/gate flags would hash a
    // different text form, silently miss exact/near matches, and admit
    // duplicates. The prior run's run_params records its flags (both the
    // full-run and incremental-run shapes carry these two columns), so a
    // mismatch fails loudly here instead of corrupting verdicts.
    // reads resolve the prior run's COMMITTED version; writes stage into a
    // fresh version of THIS outDir, published by one pointer swap at the
    // end ([[graft.sources.Artifacts]]) — a crash mid-merge leaves the
    // previous committed state (not a torn index) for the next night
    val priorRoot = Artifacts.resolve(spark, prior)
    val art = Artifacts.stage(spark, outDir)
    val timed = new StageTimer
    locally {
      val rp = spark.read.parquet(s"$priorRoot/run_params").collect().head
      require(rp.getAs[Boolean]("strip_markup") == params.stripMarkup &&
        rp.getAs[Boolean]("gopher_gate") == params.gopherGate,
        s"--incremental flag mismatch: prior run $prior was built with " +
          s"strip_markup=${rp.getAs[Boolean]("strip_markup")} " +
          s"gopher_gate=${rp.getAs[Boolean]("gopher_gate")}; this run " +
          s"passed strip_markup=${params.stripMarkup} " +
          s"gopher_gate=${params.gopherGate} — the persisted index only " +
          "matches text ingested under the same flags")
      // the threshold too: the prior corpus's fates were decided at its
      // nearDupJaccard, and the republished index chains this run's
      // verdicts forward — a different bar would silently diverge from a
      // full re-run at EITHER threshold
      require(rp.getAs[Double]("neardup_jaccard") == params.nearDupJaccard,
        s"--incremental threshold mismatch: prior run $prior deduped at " +
          s"neardup_jaccard=${rp.getAs[Double]("neardup_jaccard")}; this " +
          s"run passed ${params.nearDupJaccard} — chained verdicts must " +
          "share one bar")
    }
    // arrivals FIRST, transforms after: the seen anti-join needs only ids,
    // and strip/gate are per-row, so they commute with it — running them
    // before the join (and checkpointing the snapshot) would materialize
    // and regex-scan the whole corpus for a nightly 0.1% batch, breaking
    // the O(arrivals) cost shape this mode exists for. Nothing
    // snapshot-sized is ever checkpointed here.
    val seen = spark.read.parquet(s"$priorRoot/index/seen")
    // pre-transform arrivals: the population that becomes "seen" (a
    // gate-dropped arrival must not be re-verdicted nightly — run()'s
    // seen set is likewise the pre-gate scan)
    val arrived = timed("arrivals") {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        .join(seen, Seq("doc_id"), "left_anti")
        .localCheckpoint()
    }
    val arrivals = {
      val stripped =
        if (!params.stripMarkup) arrived
        else arrived.withColumn("text",
          graft.functions.text.stripMarkup(col("text")))
      val gated =
        if (!params.gopherGate) stripped
        else stripped.filter(
          operators.TextAnalysis.gopherVerdict(col("text")))
      if (gated eq arrived) arrived else gated.localCheckpoint()
    }
    val exact = spark.read.parquet(s"$priorRoot/index/dedup/exact")
    val shingles = spark.read.parquet(s"$priorRoot/index/dedup/shingles")
    val bands = spark.read.parquet(s"$priorRoot/index/dedup/bands")
    val verdict = timed("verdict") {
      Dedup.incrementalDedupIndexed(exact, shingles, bands,
        arrivals.select(col("doc_id"), col("text")),
        params.nearDupJaccard).localCheckpoint()
    }
    verdict.write.mode("overwrite").parquet(s"$art/verdicts/incremental")
    timed("index_merge") {
      // EVERY arrival merges into the republished index, dropped dups
      // included — run() indexes its whole ingested snapshot (the funnel
      // INPUT, not the survivors), so a chained incremental must publish
      // the same population or its verdicts drift from a full re-run's:
      // a dropped near-dup Y of corpus doc X can sit closer to a future
      // arrival Z than X does (J(Z,Y) >= 0.8 > J(Z,X)); an index that
      // forgot Y would verdict Z "kept" where the full pipeline's CC
      // chain X–Y–Z drops it. Exact keys fold by min, so a dup arrival's
      // key lands under its keeper when the hash already exists.
      val arrivalsKeyed = arrivals.select(col("doc_id"), col("text"))
      exact.unionByName(Dedup.exactKeyIndex(arrivalsKeyed))
        .groupBy(col("h")).agg(min(col("ex_id")).as("ex_id"))
        .write.mode("overwrite").parquet(s"$art/index/dedup/exact")
      val arrSh = Dedup.nearDupShingles(arrivalsKeyed).localCheckpoint()
      shingles.unionByName(arrSh)
        .write.mode("overwrite").parquet(s"$art/index/dedup/shingles")
      bands.unionByName(Dedup.nearDupBandIndex(arrSh))
        .write.mode("overwrite").parquet(s"$art/index/dedup/bands")
      // every PRE-GATE arrival becomes seen (dup, gated, or kept) — a
      // dropped or gated doc must not be re-verdicted by the next night
      seen.unionByName(arrived.select(col("doc_id"))).distinct()
        .write.mode("overwrite").parquet(s"$art/index/seen")
    }
    locally {
      import spark.implicits._
      Seq((prior, params.nearDupJaccard, params.stripMarkup,
          params.gopherGate))
        .toDF("incremental_from", "neardup_jaccard", "strip_markup",
          "gopher_gate")
        .coalesce(1).write.mode("overwrite").parquet(s"$art/run_params")
    }
    Artifacts.commit(spark, outDir, art)
    verdict
  }

  /** Flag parsing for [[main]]: `--key value` pairs after the two
    * positional args, defaults = the deployed constants.
    */
  def parseParams(flags: Seq[String]): CurationParams = {
    require(flags.length % 2 == 0,
      s"dangling flag: ${flags.lastOption.getOrElse("")}")
    flags.grouped(2).foldLeft(CurationParams()) {
      case (p, Seq("--sem-cosine", v)) => p.copy(semDedupCosine = v.toDouble)
      case (p, Seq("--classifier-floor-e6", v)) =>
        p.copy(classifierFloorE6 = v.toLong)
      case (p, Seq("--neardup-jaccard", v)) =>
        p.copy(nearDupJaccard = v.toDouble)
      case (p, Seq("--source-cap", v)) => p.copy(sourceCap = v.toInt)
      case (p, Seq("--reuse-models", v)) => p.copy(reuseModels = Some(v))
      case (p, Seq("--reuse-index", v)) => p.copy(reuseIndex = Some(v))
      case (p, Seq("--refresh-models", v)) => p.copy(refreshModels = Some(v))
      case (p, Seq("--prev-run", v)) => p.copy(prevRun = Some(v))
      case (p, Seq("--strip-markup", v)) =>
        p.copy(stripMarkup = v.toBoolean)
      case (p, Seq("--gopher-gate", v)) => p.copy(gopherGate = v.toBoolean)
      case (p, Seq("--quality-keeper", v)) =>
        p.copy(qualityKeeper = v.toBoolean)
      case (p, Seq("--pack-sequences", v)) =>
        p.copy(packSequences = v.toBoolean)
      case (p, Seq("--write-scores", v)) =>
        p.copy(writeScores = v.toBoolean)
      case (p, Seq("--token-budget-pct", v)) =>
        p.copy(tokenBudgetPct = Some(v.toLong))
      case (p, Seq("--incremental", v)) => p.copy(incremental = Some(v))
      case (_, other) =>
        throw new IllegalArgumentException(
          s"unknown flag ${other.headOption.getOrElse("")}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurationRun <sfDir> <outDir> [--sem-cosine X] " +
        "[--classifier-floor-e6 N] [--neardup-jaccard X] [--source-cap N] " +
        "[--reuse-models priorOutDir] [--reuse-index priorOutDir] " +
        "[--refresh-models priorOutDir] " +
        "[--prev-run priorOutDir] [--strip-markup B] [--gopher-gate B] " +
        "[--quality-keeper B] [--pack-sequences B] [--write-scores B] " +
        "[--token-budget-pct N] [--incremental priorOutDir]")
    val params = parseParams(args.drop(2).toSeq)
    val spark = Sessions.local("graft-curation-run")
    val t0 = System.nanoTime()
    params.incremental match {
      case Some(prior) =>
        val verdict = incremental(spark, args(0), args(1), prior,
          params.copy(incremental = None))
        verdict.groupBy(col("reason")).count()
          .orderBy(col("reason")).collect()
          .foreach(r => println(
            f"[curation-run] incremental ${r.getString(0)}%-13s docs=${r.getLong(1)}%d"))
      case None =>
        val rows = run(spark, args(0), args(1), params).collect()
        rows.foreach(r => println(
          f"[curation-run] stage ${r.getInt(0)}%d ${r.getString(1)}%-15s docs=${r.getLong(2)}%d tokens=${r.getLong(3)}%d"))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"[curation-run] params $params")
    println(f"[curation-run] wrote ${args(1)} in $secs%.1f s")
    spark.stop()
  }
}
