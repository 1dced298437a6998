package graft

import graft.operators.InvertedIndex
import graft.sources.LineNumberedText
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tier-A golden fidelity: the reference corpus run must reproduce the
  * canonicalized multiset of /root/reference/output.txt (SURVEY §5.2 item 1;
  * 21,322 postings over 4,135 words), and the canonical-order contract
  * (§1.4: per-file ascending line numbers, words sorted).
  */
class InvertedIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val corpus = "/root/reference/testfiles"
  private val goldenPath = "/root/reference/output.txt"

  private lazy val enginePostings: Seq[(String, String, Int)] = {
    val lines = LineNumberedText
      .read(spark, LineNumberedText.listTextFiles(corpus)).toDF()
      .withColumn("filename", element_at(split(col("filename"), "/"), -1))
    InvertedIndex.postings(lines)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSeq
  }

  test("golden: posting multiset matches canonicalized output.txt") {
    val golden = GoldenOutput.postings(goldenPath)
    assert(golden.size === 21322)
    assert(enginePostings.size === golden.size)
    val ours = enginePostings.groupMapReduce(identity)(_ => 1)(_ + _)
    val theirs = golden.groupMapReduce(identity)(_ => 1)(_ + _)
    assert(ours === theirs)
  }

  test("golden: 4,135 distinct words") {
    assert(enginePostings.map(_._1).distinct.size === 4135)
  }

  /** RDD-API golden twin (BASELINE.json names the RDD approach): the same
    * map → hash-shuffle → reduce pipeline as the DataFrame form, with the
    * reference's djb2 routing (plans.Djb2Partitioner) standing in for the C
    * binary's partitioner. Test-scoped on purpose — its
    * `groupByKey().collect()` is a golden-comparison convenience (4,135
    * rows), not an endorsed data-path pattern.
    */
  private def rddReferenceIndex(dir: String): Seq[(String, String)] = {
    val files = LineNumberedText.listTextFiles(dir)
    val fileNo = "(\\d+)".r
    LineNumberedText.read(spark, files)
      .rdd
      .map(r => (r.filename.split("/").last, r.linenum,
        // Locale.ROOT: default-locale lowercasing diverges from Spark's
        // locale-independent lower() (e.g. dotless-i under tr-TR)
        r.line.toLowerCase(java.util.Locale.ROOT).takeWhile(c =>
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))))
      .filter(_._3.nonEmpty)
      .map { case (f, n, w) => (w, (fileNo.findFirstIn(f).fold(0)(_.toInt), f, n)) }
      .partitionBy(graft.plans.Djb2Partitioner(10))
      .groupByKey()
      .mapValues(ps => ps.toSeq.sorted
        .map { case (_, f, n) => s"($f: $n)" }.mkString(", "))
      .sortByKey()
      .collect().toSeq
  }

  test("RDD-API twin produces the identical canonical index") {
    val df = InvertedIndex.referenceIndex(spark, corpus)
      .select("word", "postings")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rddReferenceIndex(corpus) === df)
  }

  test("S3 text sink writes the reference's formatted lines") {
    TestSpark.withTemp { out =>
      InvertedIndex.writeTextIndex(
        InvertedIndex.referenceIndex(spark, corpus).limit(100), out)
      val lines = spark.read.text(out).collect().map(_.getString(0))
      assert(lines.length === 100)
      assert(lines.forall(_.matches("""[a-z0-9]+: \(file\d+\.txt: \d+\)(, \(file\d+\.txt: \d+\))*""")))
    }
  }

  test("split-aware reader equals the streaming reader, with real splits") {
    val files = LineNumberedText.listTextFiles(corpus)
    // 4 KB max split on ~26 KB files forces ~7 splits per file, so the
    // prefix-sum path is actually exercised (not one split per file)
    val split = LineNumberedText.readSplitAware(spark, files, Some(4096L))
    assert(split.rdd.getNumPartitions > files.size,
      "splits did not subdivide files; the test is vacuous")
    val a = split.collect().map(r => (r.filename, r.linenum, r.line)).sorted
    // Hadoop's LineRecordReader strips a leading UTF-8 BOM (file1.txt has
    // one); BufferedReader keeps it as content. The normalizer empties the
    // line either way (P2 drops non-alnum leads), so the postings semantics
    // are identical — compare modulo the BOM.
    val b = LineNumberedText.read(spark, files)
      .collect()
      .map(r => (r.filename, r.linenum,
        if (r.linenum == 1) r.line.stripPrefix("\uFEFF") else r.line))
      .sorted
    assert(a.length === b.length)
    assert(a === b)
  }

  /** The one-exchange sort-based Tier-A shape must equal the hash-agg A1
    * form ([[InvertedIndex.index]]) row for row — same grouping, same
    * posting order, same formatting — and the multi-reducer range shape
    * must keep the §1.4 global word order across partition ids.
    */
  test("sort-based Tier-A shape equals the hash-agg A1 form, any reducers") {
    val lines = LineNumberedText
      .read(spark, LineNumberedText.listTextFiles(corpus)).toDF()
      .withColumn("filename", element_at(split(col("filename"), "/"), -1))
    val agg = InvertedIndex.index(InvertedIndex.postings(lines))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val sorted1 = InvertedIndex.referenceIndex(spark, corpus)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(sorted1 === agg)
    val sorted5 = InvertedIndex.referenceIndex(spark, corpus, reducers = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(sorted5 === agg,
      "multi-reducer range shape broke the global word order")
  }

  test("canonical index: rows sorted by word, postings by (file#, linenum)") {
    val idx = InvertedIndex.referenceIndex(spark, corpus).collect()
    val words = idx.map(_.getString(0)).toSeq
    assert(words === words.sorted)
    // Postings string per word: file numbers then linenums non-decreasing
    val p = """\(file(\d+)\.txt: (\d+)\)""".r
    idx.foreach { row =>
      val ps = p.findAllMatchIn(row.getString(2))
        .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
      assert(ps === ps.sorted, s"word ${row.getString(0)} out of order")
    }
  }
}
