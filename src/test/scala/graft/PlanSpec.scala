package graft

import graft.operators.{Relational, Similarity}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, Lower, ScalaUDF, StringSplit}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts: the physical properties the 100 TB design depends on must
  * survive refactors — filter/column pushdown into the parquet scan,
  * broadcast (not shuffle) joins for dimensions, TakeOrderedAndProject (not
  * global sort) for top-k. A correctness-preserving change that loses one of
  * these is a scale regression, so it fails here.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** The initial physical plans of the actions `build` runs while it
    * constructs its frame — an eager checkpoint's plan is the query's real
    * work, which the returned frame's own plan shows only as a scan.
    */
  private def executed(build: => org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    TestSpark.plansOf(build)._2

  /** Every ScalaUDF in `p`'s nodes and subqueries. Matched on the
    * expression class: a UDF's rendered name is "UDF" or its registered
    * name, never "ScalaUDF".
    */
  private def udfs(p: SparkPlan): Seq[ScalaUDF] =
    p.collectWithSubqueries { case n =>
      n.expressions.flatMap(_.collect { case u: ScalaUDF => u })
    }.flatten

  test("q03: predicates and projection reach the parquet scan") {
    val p = plan(Relational.q03(spark, dir))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("GreaterThan(l_discount"), "discount filter not pushed")
    // column pruning: the scan must not read the unused money columns
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "scan reads pruned column")
  }

  test("q06: all three dimension joins broadcast; fact side never shuffles for them") {
    val p = plan(Relational.q06(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(500))
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("q08: top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q08(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("q04: aggregate is two-phase (map-side partial before exchange)") {
    val p = plan(Relational.q04(spark, dir))
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "no partial aggregation phase")
  }

  test("q20: probe side is broadcast (no corpus self-shuffle)") {
    val p = plan(Similarity.q20(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(500))
  }

  test("q37/q38: TPC-H shapes broadcast every dimension join") {
    val a = graft.operators.Advanced
    for (name <- Seq("q37_tpch_q3", "q38_tpch_q5")) {
      val p = plan(a.defs.find(_.name == name).get.build(spark, dir))
      assert(p.contains("BroadcastHashJoin"), s"$name: no broadcast join")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian crept in")
    }
  }

  test("q48: exact near-dup is broadcast nested-loop, never cartesian") {
    val p = plan(Similarity.q48(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"), "a < b condition fell to cartesian")
  }

  test("q18: exact dedup aggregates in two phases (map-side partial)") {
    val p = plan(graft.operators.Dedup.q18(spark, dir))
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "dedup lost its partial aggregation phase")
  }

  test("q50: two-phase cumulative sum plans no single-partition exchange") {
    // A global Window.orderBy would funnel the whole corpus through ONE
    // task (Exchange SinglePartition); the shard-keyed rewrite must keep
    // every exchange hash- or range-partitioned.
    val p = plan(graft.operators.Pipeline.q50(spark, dir))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("q54: lineitem date slice is pushed down; part join is broadcast") {
    val p = plan(graft.operators.Advanced.q54(spark, dir))
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate not pushed")
    assert(p.contains("BroadcastHashJoin"), "part dimension not broadcast")
  }

  test("q57: eval gram set joins broadcast; train grams never self-shuffle") {
    val p = plan(graft.operators.Pipeline.q57(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "eval grams not broadcast")
    assert(!p.contains("SortMergeJoin"), "gram join fell back to SMJ")
  }

  test("q66: bloom prescreen sits before the broadcast verify join") {
    val p = plan(graft.operators.Pipeline.q66(spark, dir))
    assert(p.contains("bloommightcontain") || p.contains("BloomMightContain"),
      "prescreen predicate missing from the plan")
    assert(p.contains("BroadcastHashJoin"), "verify join not broadcast")
    assert(!p.contains("SortMergeJoin"), "gram join fell back to SMJ")
    val opt = graft.operators.Pipeline.q66(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("lambdafunction"), opt.take(500))
  }

  // formatted mode prints each operator twice (tree line "Op [variant] (N)"
  // + detail heading "(N) Op") — count the tree form only
  private def ops(p: String, name: String): Int =
    (name + """[^(\n]*\(\d+\)""").r.findAllIn(p).size

  test("q67: unpivot plans a node-local Expand — no join, no extra shuffle") {
    val p = plan(graft.operators.TextAnalysis.q67(spark, dir))
    assert(ops(p, "Expand") == 1, "melt did not plan as one Expand")
    assert(!p.contains("Join"), "reshape must not join")
    // exactly the presentation sort's range exchange — Expand adds none
    assert(ops(p, "Exchange") == 1, p.take(400))
  }

  test("q68: merge applies in ONE key join, no cartesian") {
    val p = plan(graft.operators.Advanced.q68(spark, dir))
    assert(p.contains("FullOuter"), "merge lost its full-outer join")
    assert(!p.contains("Cartesian"), "cartesian in the merge plan")
    assert(ops(p, "SortMergeJoin") + ops(p, "ShuffledHashJoin") == 1,
      "merge should need exactly one shuffle join")
  }

  test("q69: chunk fan-out is generate+explode, no join, no pre-sort shuffle") {
    val p = plan(graft.operators.Pipeline.q69(spark, dir))
    assert(ops(p, "Generate") == 1 && p.contains("explode"),
      "fan-out not planned as one Generate/explode")
    assert(!p.contains("Join"), "chunking must not join")
    assert(ops(p, "Exchange") == 1, p.take(400))
  }

  test("q71: caps broadcast back; the fact side never sorts by group") {
    val p = plan(graft.operators.Advanced.q71(spark, dir))
    assert(ops(p, "BroadcastHashJoin") == 1, "caps not broadcast")
    assert(!p.contains("Window"), "winsorize regressed to the window funnel")
    assert(!p.contains("SortMergeJoin"), "cap join fell back to SMJ")
  }

  test("q63: label profile never reads the embedding vectors") {
    // the whole point of columnar pruning on a fat table: joining
    // embeddings for its LABEL column must not scan the vector payload
    val p = plan(graft.operators.Pipeline.q63(spark, dir))
    assert(!p.contains("embedding:array"), "scan reads the vector column")
    assert(p.contains("struct<vec_id:bigint,label:int>"), p.take(600))
  }

  test("q62: burst collapse prunes unused event columns") {
    val p = plan(graft.operators.TimeWindows.q62(spark, dir))
    assert(!p.contains("value:double") && !p.contains("props:"),
      "scan reads pruned columns")
  }

  test("q60: per-doc top-k ranks via WindowGroupLimit, not full window sort") {
    // rank-limit pushdown: each task keeps only K rows per group BEFORE the
    // shuffle — without it the whole (doc, term) score table shuffles
    val p = plan(graft.operators.TextAnalysis.q60(spark, dir))
    assert(p.contains("WindowGroupLimit"), p.take(600))
    // doc-total/doc-frequency are windows over the ONE tf aggregate: the
    // corpus is scanned+tokenized once (plus the metadata-only count
    // branch) — groupBy branches would re-scan it once each
    assert("wordngramsexpr".r.findAllIn(p).size <= 2,
      "corpus tokenized more than once")
  }

  test("q74: span totals reuse the gram exchange — one scan, one wide gram shuffle") {
    // The gram-totals branch must plan a ReusedExchange over the
    // multiplicity branch's gh exchange (both subtrees are written
    // canonical-equal for exactly this), not a second
    // scan+tokenize+explode+shuffle. AQE does exchange reuse at runtime, so
    // execute first and assert on the final adaptive plan.
    val df = graft.operators.Dedup.q74(spark, dir)
    df.collect()
    val p = plan(df)
    assert(p.contains("ReusedExchange"), p.take(1500))
  }

  test("q77: Hamming band join is an equi-join on chunk, never a cross product") {
    // the pigeonhole self-join must key on the packed chunk long: a refactor
    // that turns the Hamming predicate into the JOIN condition would plan
    // BroadcastNestedLoopJoin/Cartesian — all-pairs at corpus scale
    val p = plan(graft.operators.Multimodal.q77(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("chunk"), p.take(500))
  }

  test("q76: verdict stages join on ids/hashes, never a cross product") {
    // exact stage keys on md5, candidates on LSH band keys, verdict fan-out
    // on ids — any cross product means a stage regressed to all-pairs
    val p = plan(graft.operators.Dedup.q76(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("q86: eval gram flagging is broadcast — train grams never shuffle by gram key") {
    // the 100 TB premise: benchmark gram sets are small, so flagging must
    // be a broadcast against the one train tokenize pass, not a corpus-wide
    // gram-keyed exchange (q84 pays that shuffle because its threshold is a
    // corpus-global count; q86's membership test has no such need).
    // Read off q86's own checkpoint action: the registered q86
    // materializes its finished rows before the presentation sort (r18 —
    // the sort's range sampling re-ran the cut chain), which truncates
    // the returned frame's visible plan to a checkpoint scan + sort.
    // Size-based broadcast is off while q86 runs: at sf0.001 the planner
    // would broadcast the eval side on its size estimate alone, hiding a
    // lost broadcast hint. At 100 TB that estimate is far past any
    // threshold, so the hint is what keeps the broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val plans =
      try executed(graft.operators.Dedup.q86(spark, dir))
      finally spark.conf.set(key, saved)
    assert(plans.size === 1, "q86's construction runs one action, its checkpoint")
    val p = plans.head.treeString
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    // exactly one gh-keyed exchange is legitimate: the EVAL side's distinct
    // (small by premise). A second one means the train gram frame regressed
    // to a shuffle join.
    assert("hashpartitioning\\(gh".r.findAllIn(p).size <= 1,
      "train gram frame shuffled by gram key")
  }

  test("q88: funnel decontam stage is broadcast; no stage falls to a cross product") {
    // the funnel's decontamination tail must keep q57/q66's premise — the
    // eval gram set broadcasts against the survivor tokenize pass — and no
    // member stage (dedup window, LSH pair join, CC fan-out) may regress to
    // all-pairs. q88 materializes its survivor frames eagerly, so this
    // inspects the final composed plan over the checkpointed inputs.
    val p = plan(graft.operators.Pipeline.q88(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("q89: source cap ranks in two bounded phases, never a single-partition funnel") {
    // the per-group top-K must keep its salted two-phase shape: phase 1's
    // (source, salt) cell rank + phase 2's bounded re-rank = exactly two
    // Window operators; losing one means the corpus-wide single-window form
    // (each source's whole slice through one task) crept back. Nothing may
    // plan Exchange SinglePartition (the q50 lesson).
    val p = plan(graft.operators.Pipeline.q89(spark, dir))
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, p.take(1500))
    assert(p.contains("hashpartitioning(source"), "phase-1 salt cell exchange missing")
    assert(!p.contains("SinglePartition"), "global funnel crept into the cap")
  }

  test("q90: eval grams broadcast; the train corpus never shuffles by gram key") {
    // same premise as q57/q66/q86: the eval side is small, so the report's
    // membership join must broadcast it against the one train tokenize
    // pass; the only exchanges key on eval_id (the hit aggregation), whose
    // input is the leak mass, not the corpus
    val p = plan(graft.operators.Pipeline.q90(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!"hashpartitioning\\(gh".r.findAllIn(p).hasNext,
      "train gram frame shuffled by gram key")
  }

  test("q91: transitions shuffle on 64-bit gram keys; no stage is all-pairs") {
    // the LM-fit joins must stay keyed on the fixed-width gram/token hashes
    // (the q74 discipline — never raw bigram strings), and the only
    // non-equi join allowed is the one-row vocab-size broadcast; a
    // CartesianProduct means the count frames stopped broadcasting/hashing
    val p = plan(graft.operators.TextAnalysis.q91(spark, dir))
    assert(p.contains("hashpartitioning(gh"), "bigram counts not keyed on gram hash")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q92: probe side broadcasts; the corpus never shuffles for the scoring join") {
    // q82's contract: the bounded probe batch is the broadcast side of the
    // scoring join — the embedding corpus must not exchange for it
    val p = plan(Similarity.q92(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q92b: probe cells broadcast; no ScalaUDF; corpus joins cells without shuffling") {
    // the IVF twin keeps q92's contract: the exploded probe-cell frame is
    // the broadcast side of the cell-equi scoring join (the corpus never
    // exchanges for it), and the cell assignment is the native
    // nearestCells expression — a ScalaUDF here would break codegen on
    // the one pass touching every candidate vector
    val p = plan(Similarity.q92b(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("ScalaUDF"), "per-row UDF crept into the q92b path")
  }

  test("q98b (seeded) AND the trained q98 composition: PQ LUTs broadcast; no UDF, no cartesian") {
    // the ADC scored pass must be codes × broadcast probe-LUTs (the corpus
    // never exchanges), the refine joins must broadcast their bounded
    // shortlist/probe sides, and encode + LUT build + ADC arithmetic must
    // all be native expressions — a UDF or interpreted lambda on the
    // encode pass would break codegen on the one pass touching every
    // vector. Both the seeded twin and the TRAINED composition (q98's
    // pqAdcTopK with fitted codebooks in the driver) are pinned here — a
    // regression unique to the trained form must not hide behind the twin.
    for (p <- Seq(plan(Similarity.q98b(spark, dir)),
        plan(Similarity.q98(spark, dir)))) {
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        p.take(500))
      assert(!p.contains("CartesianProduct"), p.take(1500))
      assert(!p.contains("ScalaUDF") && !p.contains("lambdafunction"),
        "interpreted code crept into the PQ path")
    }
  }

  test("q99: eval side broadcasts in both decon forms; argmax is an aggregate") {
    // the exact anchor must broadcast the bounded eval set (train never
    // exchanges for the score join) and run the per-train argmax as a
    // map-side-combined aggregate — a window would shuffle the full
    // train × eval score mass; the IVF twin must keep the cell join
    // broadcast with no cartesian fallback
    val p = plan(Similarity.q99(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // struct-typed min plans as SortAggregate (not hash-aggregable) — still
    // two phases (partial before the exchange), which is what matters
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"),
      "argmax not an aggregate")
    assert(!p.contains("Window"), "argmax fell back to a window shuffle")
    val pb = plan(Similarity.q99b(spark, dir))
    assert(pb.contains("BroadcastHashJoin"), pb.take(500))
    assert(!pb.contains("CartesianProduct"), pb.take(1500))
    assert(!pb.contains("ScalaUDF"), "per-row UDF crept into the q99b path")
  }

  test("q101: IVF-PQ scored pass is a broadcast cell equi-join over codes") {
    // the composed stack must keep both tiers' contracts at once: the
    // probe-cell × LUT frame broadcasts into a cell EQUI-join (never the
    // flat q98 cross product, never a cartesian), and all encode/ADC
    // arithmetic stays native — in the one-shot form (q101b) and served
    // off the saved index (q121 and q121b, the second call reading the
    // session's cached index)
    for ((name, df) <- Seq("q101b" -> Similarity.q101b(spark, dir),
        "q121" -> Similarity.q121(spark, dir),
        "q121b" -> Similarity.q121b(spark, dir),
        "q121b served" -> Similarity.q121b(spark, dir))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(500)}")
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
      assert(!p.contains("ScalaUDF") && !p.contains("lambdafunction"),
        s"$name: interpreted code crept into the IVF-PQ path")
    }
  }

  test("q93: seeds and stats broadcast; the corpus never shuffles for assignment") {
    // the quantizer seeds and the K-row cluster stats are the ONLY join
    // inputs — both must broadcast; the argmin must be a map-side-combined
    // aggregate, so no exchange may carry the N×K candidate rows
    val p = plan(Similarity.q93(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("partial_min") || p.contains("partial_finalmerge") ||
      p.contains("HashAggregate"), "argmin not an aggregate")
  }

  test("IVF cell assignment is a native expression — no ScalaUDF in q39/q85 paths") {
    // the corpus-wide assignment pass (q85), the probe fan-out (q39) and
    // q123's serve off its streamed index all build on
    // vecexprs.nearestCells; a Scala UDF creeping back in would add
    // per-row serialization and break whole-stage codegen on the one pass
    // that touches every vector
    import org.apache.spark.sql.functions._
    import graft.functions.{expressions => fe, vectors}
    val assign = Tables.embeddings(spark, dir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        vectors.toDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        explode(fe.vecexprs.nearestCells(col("v"),
          Array(Array(1.0, 0.0), Array(0.0, 1.0)), 2)).as("cell"))
    val p39 = plan(Similarity.q39(spark, dir))
    val p39b = plan(Similarity.q39b(spark, dir))
    val p123 = plan(graft.streaming.StreamReplay.q123(spark, dir))
    assert(p123.contains("BroadcastHashJoin"), p123.take(800))
    for (p <- Seq(assign.queryExecution.optimizedPlan.toString, p39, p39b,
        p123)) {
      assert(!p.contains("UDF("), p.take(800))
      assert(!p.contains("lambdafunction"), p.take(800))
    }
  }

  test("sketch pipelines carry no interpreted lambdas (HOF regression guard)") {
    // ArrayFilter/ArrayTransform are CodegenFallback — one lambda creeping
    // back into these projections would silently drop the whole stage out of
    // whole-stage codegen (AQE hides codegen spans pre-execution, so assert
    // on the optimized plan's expressions instead)
    for (df <- Seq(
      graft.operators.Dedup.q22(spark, dir),
      graft.operators.Dedup.q21(spark, dir),
      graft.operators.TextAnalysis.q19Ngrams(spark, dir))) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("lambdafunction"), p.take(500))
    }
  }

  test("q94: classifier weights evaluate in codegen; per-doc rollup is two-phase") {
    val p = plan(graft.operators.TextAnalysis.q94(spark, dir))
    assert(!p.contains("UDF("), "classifier scoring fell out of codegen")
    // partial then final aggregate — the token stream combines map-side
    // before the doc-keyed exchange
    assert(p.contains("HashAggregate"), p.take(400))
    assert(ops(p, "HashAggregate") >= 2, "no two-phase aggregate")
  }

  test("q96: dim stats partial-aggregate before the d-sized exchange; scan reads only the vectors") {
    val p = plan(graft.operators.Similarity.q96(spark, dir))
    assert(ops(p, "HashAggregate") >= 2, "no map-side partial aggregation")
    assert(!p.contains("Join"), "stats must not join")
    assert(!p.contains("label:int"), "scan reads pruned label column")
  }

  /** The three per-row round-13 gates must stay pure scan-side
    * projections: no UDF, no join, no aggregate-free shuffle beyond the
    * presentation sort — their whole 100 TB story is "rides the scan".
    */
  /** r19 (VERDICT r18 #4): the presentation-sort checkpoints exist to stop
    * the range-sampling pass re-executing an expression-heavy child — but
    * a `localCheckpoint` materializes into NON-REPLICATED executor storage
    * (SCALE.md §localCheckpoint contract), so what they hold must never be
    * wider than what the query's sink receives anyway. This guard walks
    * each family member's analyzed plan and asserts every checkpoint scar
    * (LogicalRDD) carries only columns of the query's own output schema —
    * a checkpoint that silently grows a payload column the query doesn't
    * emit fails here before it becomes a 100 TB storage surprise.
    */
  test("presentation-sort checkpoints materialize exactly the query output") {
    val family: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q112" -> graft.operators.TextAnalysis.q112(spark, dir),
      "q114" -> graft.operators.Pipeline.q114(spark, dir),
      "q16" -> graft.operators.Scalars.q16(spark, dir),
      "q17_json" -> graft.operators.Scalars.q17Json(spark, dir),
      "q17_array" -> graft.operators.Scalars.q17Array(spark, dir),
      "q43" -> graft.operators.Scalars.q43(spark, dir),
      "q49" -> graft.operators.Pipeline.q49(spark, dir),
      "q84" -> graft.operators.Dedup.q84(spark, dir),
      "q86" -> graft.operators.Dedup.q86(spark, dir))
    family.foreach { case (n, df) =>
      val outCols = df.columns.toSet
      val scars = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }
      assert(scars.nonEmpty, s"$n: expected a checkpoint scar in the plan")
      scars.foreach { r =>
        val extra = r.output.map(_.name).toSet -- outCols
        assert(extra.isEmpty,
          s"$n: checkpoint materializes columns beyond the query output: " +
            extra.mkString(", "))
      }
    }
  }

  test("q112/q114: per-row gate batteries stay joinless codegen projections") {
    // Read off each query's own checkpoint action: the registered queries
    // localCheckpoint before their presentation sorts (r18), which
    // truncates the returned frames' visible plans to a checkpoint scan +
    // sort — asserting on those would be vacuous (ADVICE r18). The output
    // column each battery computes proves the plan read is the battery's.
    Seq(
      "pass_gopher" -> executed(graft.operators.TextAnalysis.q112(spark, dir)),
      "clean_text" -> executed(graft.operators.Pipeline.q114(spark, dir)))
      .foreach { case (out, plans) =>
        assert(plans.size === 1, s"$out: one action, the checkpoint")
        val p = plans.head.treeString
        assert(p.contains(out), p)
        assert(udfs(plans.head).isEmpty, "gate fell out of codegen")
        assert(!p.contains("Join"), "a per-row gate must not join")
        assert(!p.contains("HashAggregate"), "a per-row gate must not aggregate")
      }
  }

  /** The one registered query that reads the reference corpus, not `dir`. */
  private val ReferenceIndex = "q00_reference_index"

  /** Every lambda token list in `p`: an ArrayFilter over a split of
    * lower(...). The token list is `text.cleanTokens`, the native one; the
    * lambda form is CodegenFallback and drags its projection out of
    * whole-stage codegen.
    */
  private def hofTokenLists(p: SparkPlan): Seq[Expression] =
    p.collectWithSubqueries { case n =>
      n.expressions.flatMap(_.collect(hofTokenList))
    }.flatten

  private val hofTokenList: PartialFunction[Expression, Expression] = {
    case f @ ArrayFilter(StringSplit(_: Lower, _, _), _) => f
  }

  /** Plan lint: no registered query plans a cross product, a per-row
    * ScalaUDF or a lambda token list — neither in its returned frame's
    * plan nor in any plan its construction executes (eager checkpoints,
    * collects, drains), which the returned frame's plan stops short of.
    */
  private def lint(q: QueryDef): Unit = {
    val (df, built) = TestSpark.plansOf(q.build(spark, dir))
    (TestSpark.initialPlan(df.queryExecution.executedPlan) +: built).foreach { p =>
      assert(p.collectWithSubqueries { case c: CartesianProductExec => c }.isEmpty,
        s"${q.name}: CartesianProduct\n${p.treeString}")
      assert(udfs(p).isEmpty, s"${q.name}: ScalaUDF ${udfs(p).mkString(", ")}")
      assert(hofTokenLists(p).isEmpty,
        s"${q.name}: lambda token list ${hofTokenLists(p).mkString(", ")}")
    }
  }

  test("plan lint: no registered query plans a CartesianProduct or a ScalaUDF") {
    Registry.all.filterNot(_.name == ReferenceIndex).foreach(lint)
  }

  test("plan lint: the reference-corpus index plans no CartesianProduct or ScalaUDF") {
    assume(new java.io.File("/root/reference/testfiles").isDirectory,
      "reference corpus absent")
    lint(Registry.byName(ReferenceIndex))
  }

  /** q115's batch numbering must sort within (shard, bucket) cells — a
    * hash-partitioned window — and never a single global partition (the
    * q89/q100 lesson); the scan reads only (doc_id, text).
    */
  test("q115: shard-local window, no global single-partition sort, pruned scan") {
    val p = plan(graft.operators.Pipeline.q115(spark, dir))
    assert(!p.contains("ScalaUDF"))
    assert(p.contains("hashpartitioning"), "window lost its hash partitioning")
    assert(!p.contains("SinglePartition"), "batch rank went through one partition")
    assert(!p.contains("lang"), "scan reads pruned columns")
  }

  /** q124's packing walk: one bounded hash exchange on shard (text is
    * consumed by tokenCount inside the scan projection and never rides
    * it), the walk itself is a typed per-partition operator — never a
    * per-row ScalaUDF — and nothing funnels through a single partition
    * ahead of the walk (the final presentation sort is a range exchange).
    */
  test("q124: shard hash exchange, per-partition walk, no UDF, pruned scan") {
    val p = plan(graft.operators.Pipeline.q124(spark, dir))
    assert(!p.contains("ScalaUDF"))
    assert(p.contains("hashpartitioning"), "walk lost its shard exchange")
    assert(!p.contains("SinglePartition"), "packing funneled through one partition")
    assert(!p.contains("lang"), "scan reads pruned columns")
  }

  /** q125/q126: the assignment is the one corpus pass and must stay a
    * codegen'd expression (never a ScalaUDF); the per-cell window is a
    * hash-partitioned exchange, never one partition; the seed fan-back
    * (q125) broadcasts; nothing plans a cartesian.
    */
  test("q125/q126: codegen assignment, cell-hashed window, no UDF, no cartesian") {
    Seq(Similarity.q125(spark, dir), Similarity.q126(spark, dir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("ScalaUDF"), "assignment fell out of codegen")
      assert(p.contains("hashpartitioning"), "cell window lost its hash exchange")
      assert(!p.contains("SinglePartition"), "cell rank funneled through one partition")
      assert(!p.contains("CartesianProduct"))
    }
    assert(plan(Similarity.q125(spark, dir)).contains("Broadcast"),
      "q125's seed fan-back must broadcast")
  }

  /** q127: the first-wins window keys on (doc_id, line) — hash-partitioned
    * at line granularity so corpus-level skew cannot concentrate it — and
    * the whole transform carries no ScalaUDF and no join beyond the
    * id-keyed null fan-back.
    */
  test("q127: line-granular hash window, no UDF, no single partition") {
    val p = plan(graft.operators.Pipeline.q127(spark, dir))
    assert(!p.contains("ScalaUDF"))
    assert(p.contains("hashpartitioning"), "line window lost its hash exchange")
    assert(!p.contains("SinglePartition"), "line rank funneled through one partition")
    assert(!p.contains("CartesianProduct"))
  }

  /** q111's refresh pass: assignment must evaluate inside codegen (no
    * ScalaUDF — the one pass that touches every vector), the n×d explode
    * must partial-aggregate to cells×d before its exchange (q96's
    * argument), and the old-centroid blend join is model-sized — never a
    * cartesian.
    */
  test("q111: codegen assignment, partial agg before the cells×d exchange, no cartesian") {
    val p = plan(Similarity.q111(spark, dir))
    assert(!p.contains("ScalaUDF"), "assignment fell out of codegen")
    assert(ops(p, "HashAggregate") >= 2, "no map-side partial aggregation")
    assert(!p.contains("CartesianProduct"), "blend join went cartesian")
  }

  /** q116's drift table: the classifier weights must evaluate in codegen
    * (q94's contract — the one pass over every token), the bucket counts
    * must partial-aggregate before their ≤14-row exchange, and the totals
    * fan-back must broadcast its 1-row side, never cartesian over a
    * shuffle.
    */
  test("q116: codegen scoring, partial agg, broadcast totals fan-back") {
    val p = plan(graft.operators.TextAnalysis.q116(spark, dir))
    assert(!p.contains("ScalaUDF"), "scoring fell out of codegen")
    assert(ops(p, "HashAggregate") >= 2, "no map-side partial aggregation")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "totals row not broadcast")
  }

  /** q107's micro-batch projection and serve tail, pinned on their batch
    * analog (the drained stream runs the identical expressions): the
    * MdBandKeys band computation must stay inside whole-stage codegen (the
    * expression exists to avoid HOF CodegenFallback), and the index serve
    * join must be band-KEYED — a cartesian here would scan docs × index.
    */
  test("q107: md band keys evaluate in codegen; serve join is keyed, not cartesian") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val bands = docs.select(col("doc_id"),
      explode(graft.functions.expressions.sketch
        .mdBandKeys(col("text"), 3, 8, 2)).as("band"))
    val idx = bands.groupBy(col("band"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
    val serve = bands.join(idx.filter(col("n") > 1), Seq("band"))
      .filter(col("keeper") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("keeper")).as("min_keeper"))
    val p = plan(serve)
    assert(!p.contains("UDF("), "band computation fell out of codegen")
    assert(!p.contains("CartesianProduct"), "serve join degenerated to cartesian")
    assert(ops(p, "HashAggregate") >= 2, "no map-side partial aggregation")
  }

  /** q108's windowed monitor core, pinned on its batch analog (the
    * micro-batch runs the identical expressions; withWatermark is a no-op
    * on a batch frame): cell assignment must stay a codegen'd plan-literal
    * expression, the centroid fetch must broadcast (KB-scale model state,
    * never a shuffle of the stream), and the (window, cell) aggregate must
    * combine map-side before any exchange.
    */
  test("q108: windowed monitor assigns in codegen, broadcasts centroids, two-phase agg") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ingest = graft.Tables.embeddings(spark, dir)
      .select(timestamp_seconds(
          lit(graft.streaming.StreamReplay.IngestEpochSec) +
            (col("vec_id") % graft.streaming.StreamReplay.IngestCycleMin) *
              60).as("ts"),
        graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val quant = graft.operators.FlatQuantizer(
      Array.tabulate(16)(i => Array.tabulate(8)(j => (i * 8 + j).toDouble)))
    val centroidDf = (0 until 16)
      .map(i => (i, (0 until 8).map(j => (i * 8 + j).toDouble)))
      .toDF("cell", "c")
    val p = plan(graft.streaming.StreamReplay
      .windowedCellMonitor(ingest, quant, centroidDf))
    assert(!p.contains("ScalaUDF"), "assignment fell out of codegen")
    assert(p.contains("BroadcastHashJoin"), "centroid join did not broadcast")
    assert(!p.contains("CartesianProduct"), "centroid join degenerated to cartesian")
    assert(ops(p, "HashAggregate") >= 2, "no map-side partial aggregation")
  }

  /** q109's micro-batch gate, pinned on its batch analog: the per-row
    * classifier score must evaluate inside whole-stage codegen (that is
    * MdWeightScoreExpr's reason to exist — the explode→groupBy form would
    * be a second stateful operator in the stream), there must be NO join
    * at all (the model is hashed features, not a weight table), and the
    * (window, source, verdict) aggregate must combine map-side.
    */
  test("q109: gate scores per-row in codegen with no join; monitor agg is two-phase") {
    import org.apache.spark.sql.functions._
    val gated = graft.Tables.documents(spark, dir)
      .select(
        timestamp_seconds(
          lit(graft.streaming.StreamReplay.IngestEpochSec) +
            (col("doc_id") % graft.streaming.StreamReplay.IngestCycleMin) *
              60).as("ts"),
        coalesce(col("source"), lit("")).as("source"),
        graft.functions.expressions.sketch.mdWeightScore(col("text")).as("sc"))
      .select(col("ts"), col("source"),
        coalesce(col("sc.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sc.score_milli"), lit(0L)).as("score_milli"))
      .withColumn("admitted",
        floor(col("score_milli").cast("double") * lit(1000) /
          greatest(col("n_tokens"), lit(1L))).cast("long") >=
          lit(graft.operators.Pipeline.ClassifierFloorE6))
      .groupBy(window(col("ts"), "1 hour"), col("source"), col("admitted"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val p = plan(gated)
    assert(!p.contains("ScalaUDF"), "scoring fell out of codegen")
    assert(!p.contains("Join"), "the hashed-feature gate must not join")
    assert(!p.contains("Generate"), "per-row scorer must not explode tokens")
    assert(ops(p, "HashAggregate") >= 2, "no map-side partial aggregation")
  }

  /** q110's two-level rollup, pinned on its batch analog: per-row hash +
    * score in codegen (no UDF, no token explode, no weight-table join),
    * and BOTH aggregation levels two-phase — the (window, hash) dedup
    * level partial-aggregates before its exchange, and the window rollup
    * partial-aggregates the (already tiny) per-hash rows again.
    */
  test("q110: two-level funnel rollup — codegen scoring, both agg levels two-phase") {
    import org.apache.spark.sql.functions._
    val scored = graft.Tables.documents(spark, dir)
      .select(
        timestamp_seconds(
          lit(graft.streaming.StreamReplay.IngestEpochSec) +
            (col("doc_id") % graft.streaming.StreamReplay.IngestCycleMin) *
              60).as("ts"),
        coalesce(col("text"), lit("")).as("text"))
      .select(col("ts"), md5(col("text")).as("h"),
        graft.functions.expressions.sketch.mdWeightScore(col("text")).as("sc"))
      .select(col("ts"), col("h"),
        (floor(col("sc.score_milli").cast("double") * lit(1000) /
          greatest(col("sc.n_tokens"), lit(1L))).cast("long") >=
          lit(graft.operators.Pipeline.ClassifierFloorE6)).as("admitted"))
    val rollup = scored
      .groupBy(window(col("ts"), "1 hour"), col("h"))
      .agg(count(lit(1)).as("n"), max(col("admitted")).as("admitted"))
      .groupBy(window(window_time(col("window")), "1 hour").as("w2"))
      .agg(sum(col("n")).as("arrivals"), count(lit(1)).as("distinct_docs"))
    val p = plan(rollup)
    assert(!p.contains("ScalaUDF"), "scoring fell out of codegen")
    assert(!p.contains("Join"), "the funnel rollup must not join")
    assert(!p.contains("Generate"), "per-row scorer must not explode tokens")
    assert(ops(p, "HashAggregate") >= 4, "an aggregation level lost its partial phase")
  }

  test("q134: int8 scales broadcast back onto the element stream; no corpus-side SMJ") {
    val p = plan(Similarity.q134(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "scales not broadcast")
    assert(!p.contains("SortMergeJoin"), "scales join fell back to SMJ")
    assert(!p.contains("SinglePartition"), "a global funnel crept in")
  }

  test("q135: the budget cumsum windows by bounded cells, never a corpus-wide single window") {
    // exactly TWO Windows — the row-level cumsum partitioned by
    // (score_milli, shard) cells (≤ ShardSize rows each, any score
    // distribution) and the cell-offset window over the tiny cell
    // AGGREGATE partitioned by bucket; bucket offsets are a broadcast
    // triangle, the budget a one-row broadcast (the q50 two-phase lesson,
    // one level deeper because score range doesn't grow with the corpus)
    val p = plan(graft.operators.Pipeline.q135(spark, dir))
    assert(ops(p, "Window ") === 2, p.take(1500))
    assert(p.contains("hashpartitioning(score_milli"),
      "row cumsum window lost its bounded (score, shard) cell partitioning")
    assert(p.contains("hashpartitioning(bucket"),
      "cell-offset window lost its bucket partitioning")
  }

  test("q136: probes broadcast against the corpus; shortlists rank per (probe, d)") {
    val p = plan(Similarity.matryoshkaShortlists(
      graft.Tables.embeddings(spark, dir)))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), "probe side not broadcast")
    assert(p.contains("hashpartitioning(probe_id"),
      "rank window lost its (probe, prefix_dim) partitioning")
    assert(!p.contains("ScalaUDF"), "prefix cosine fell out of codegen")
  }

  test("q137: priority sample ranks in two bounded phases, never a single-partition funnel") {
    val p = plan(graft.operators.Pipeline.q137(spark, dir))
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, p.take(1500))
    assert(p.contains("hashpartitioning(source"),
      "phase-1 salt cell exchange missing")
    assert(!p.contains("SinglePartition"), "global funnel crept into the sample")
  }

  test("q01/q01b: posting strings are built once, above the range exchange on token") {
    import org.apache.spark.sql.catalyst.expressions.ConcatWs
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ii = graft.operators.InvertedIndex
    for ((name, df) <- Seq("q01" -> ii.documentsIndex(spark, dir),
        "q01b" -> ii.documentsIndexSalted(spark, dir))) {
      // the physical plan with its exchanges, before execution
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val byToken = root.collect { case e: ShuffleExchangeExec => e }
        .filter(_.outputPartitioning match {
          case RangePartitioning(ord, _) =>
            ord.head.child.references.exists(_.name == "token")
          case _ => false
        })
      assert(byToken.size === 1, s"$name: no single range exchange on token\n$root")
      val builds = (n: org.apache.spark.sql.execution.SparkPlan) =>
        n.expressions.exists(_.find(_.isInstanceOf[ConcatWs]).isDefined)
      assert(root.find(builds).isDefined, s"$name: no posting-string projection")
      assert(byToken.head.find(builds).isEmpty,
        s"$name: posting strings built below the range exchange, so its sampling job builds them too")
      val p = plan(df)
      assert(!p.contains("format_string"), s"$name: format_string in the plan")
      assert(!p.contains("ScalaUDF"), s"$name: per-row UDF in the plan")
    }
  }

  test("q15: window, session aggregate and sort share ONE range exchange on user_id") {
    val p = plan(graft.operators.TimeWindows.q15(spark, dir))
    assert(ops(p, "Exchange") === 1, p.take(1500))
    assert(p.contains("rangepartitioning(user_id"), p.take(1500))
    assert(!p.contains("hashpartitioning"), p.take(1500))
  }

  /** How a frame is materialized is decided in ONE module: every eager
    * checkpoint, cache, persist or observed metric in the engine goes
    * through [[graft.operators.Materialize]], so a change of mechanism is
    * an edit there, not at each call site.
    */
  test("only Materialize materializes: no checkpoint, cache, persist or Observation elsewhere in src/main") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val calls = Seq("localCheckpoint(", ".checkpoint(", "Observation(", ".cache()", ".persist(")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.toList.filter(_.toString.endsWith(".scala")))
    assert(sources.exists(_.getFileName.toString == "Materialize.scala"))
    val stray = sources.filterNot(_.getFileName.toString == "Materialize.scala")
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if calls.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
        }
      }
    assert(stray.isEmpty, "materialize through graft.operators.Materialize:\n" +
      stray.mkString("\n"))
  }

  /** A native expression's Catalyst wiring — its type check, its
    * interpreted and generated evaluation, its null rules — is written once,
    * in [[graft.functions.expressions.NativeKernel]]: an expression states
    * its facts and extends it, so no other file in src/main hand-writes a
    * type check or a codegen body.
    */
  test("only NativeKernel wires native expressions: no hand-written type check or codegen elsewhere in src/main") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val wiring = Seq("checkInputDataTypes", "TypeCheckFailure", "nullSafeCodeGen", "doGenCode")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.toList.filter(_.toString.endsWith(".scala")))
    val stray = sources.filterNot(_.getFileName.toString == "NativeKernel.scala")
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if wiring.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
        }
      }
    assert(stray.isEmpty, "extend graft.functions.expressions.NativeKernel:\n" +
      stray.mkString("\n"))
    assert(sources.exists(_.getFileName.toString == "NativeKernel.scala"))
  }
}
