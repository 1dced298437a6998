// q85 pair-mass assertion on the dup-heavy fixture (round-9 verdict
// mandate #3, split from skew_probe_q85.scala whose timing table runs
// separately): reconstruct q85's candidate stage exactly — sample-fit
// quantizer (Quantizers.fitCentroids itself), soft
// top-2 cells, ids-only within-cell self-join — and assert the surviving
// pair mass is the planted 2,000-vector clique's C(2000,2), NOT an N^2
// blow-up (N=20k would be 2.0e8 pairs).
// The whole body is ONE braced block so the REPL's -I reader can never
// split a statement chain (a split rebinds continuation lines to stale
// results and silently skips the asserts).
// Usage: /opt/spark/bin/spark-shell --driver-memory 48g \
//   --driver-class-path target/scala-2.13/classes \
//   --master 'local[32]' --conf spark.sql.shuffle.partitions=32 \
//   --conf spark.sql.extensions=graft.GraftExtensions \
//   --conf spark.sql.session.timeZone=UTC --conf spark.sql.ansi.enabled=false \
//   -I tools/pairmass_probe_q85.scala < /dev/null
val probeReport: String = {
  import org.apache.spark.sql.functions._
  import graft.functions.expressions.vecexprs
  import graft.operators.Similarity.{SemProbeCells, SemDedupCosine}
  val skew = "/root/repo/target/sf1skew"
  val b = graft.Tables.embeddings(spark, skew)
    .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    .select(col("vec_id"),
      graft.functions.vectors.toDouble(col("embedding")).as("v"))
    .filter(col("v").isNotNull)
    .localCheckpoint()
  val nVec = b.count()
  val k = graft.operators.Similarity.ivfCellsFor(nVec)
  val centroids = graft.operators.Quantizers.fitCentroids(b, k)
  val cells = b.select(col("vec_id"),
    explode(vecexprs.nearestCells(col("v"), centroids, SemProbeCells)).as("cell"))
    .localCheckpoint()
  val top = cells.groupBy(col("cell")).count().orderBy(col("count").desc)
    .limit(5).collect().map(r => s"(${r.get(0)}, ${r.getLong(1)})").mkString(", ")
  val cand = cells.select(col("cell"), col("vec_id").as("a_id"))
    .join(cells.select(col("cell"), col("vec_id").as("b_id")), Seq("cell"))
    .filter(col("a_id") < col("b_id")).select(col("a_id"), col("b_id")).distinct()
    .localCheckpoint()
  val candPairs = cand.count()
  val realPairs = cand
    .join(b.select(col("vec_id").as("a_id"), col("v").as("av")), Seq("a_id"))
    .join(b.select(col("vec_id").as("b_id"), col("v").as("bv")), Seq("b_id"))
    .filter(round(vecexprs.cosineSim(col("av"), col("bv")), 6) >= SemDedupCosine)
    .count()
  val cliquePairs = 2000L * 1999 / 2
  val allPairs = nVec * (nVec - 1) / 2
  assert(realPairs >= cliquePairs,
    s"clique pairs missed: $realPairs < $cliquePairs — soft assignment split the clique")
  assert(realPairs < cliquePairs + 100000,
    s"surviving pairs $realPairs far above clique mass — unexpected dup structure")
  // with ~sqrt(n) cells the design promise is sub-quadratic candidate
  // mass: clique concentration + balanced background ~ 4n^1.5 — assert an
  // order-of-magnitude reduction vs all-pairs (fixed 16 cells measured
  // only x4.2: 47.8M of 200M)
  assert(candPairs < allPairs / 10,
    s"candidate pairs $candPairs not concentrated: k=$k left > all-pairs/10 ($allPairs)")
  s"cells k=$k (ivfCellsFor($nVec))\n" +
    s"top cells (cell, members incl. soft copies): $top\n" +
    s"vectors=$nVec  candidate pairs=$candPairs  surviving pairs=$realPairs\n" +
    s"clique C(2000,2)=$cliquePairs  all-pairs N^2/2=$allPairs\n" +
    "Q85_PAIRMASS_PROBE: PASS (pair mass = planted clique, not N^2)"
}
println(probeReport)
sys.exit(0)
