package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink round-trips beyond parquet+text: CSV and JSON with explicit
  * schemas (values and types must survive), and the streaming parquet file
  * sink with checkpointing (exactly-once file output on replay).
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.withTemp
  private val dir = "/root/testdata/sf0.001"

  test("CSV round-trip preserves values under an explicit schema") {
    withTemp { tmp =>
      val src = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber").limit(500)
      src.write.option("header", "true").mode("overwrite").csv(s"$tmp/csv")
      val back = spark.read
        .schema(src.schema)
        .option("header", "true")
        .csv(s"$tmp/csv")
        .orderBy("l_orderkey", "l_linenumber")
      assert(back.schema === src.schema)
      assert(back.collect().toSeq === src.collect().toSeq)
    }
  }

  test("JSON round-trip preserves values and nested structure") {
    withTemp { tmp =>
      val src = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          struct(col("event_type"), col("value")).as("payload"))
        .orderBy("event_id").limit(500)
      src.write.mode("overwrite").json(s"$tmp/json")
      val back = spark.read.schema(src.schema).json(s"$tmp/json")
        .orderBy("event_id")
      assert(back.collect().toSeq === src.collect().toSeq)
    }
  }

  test("partitioned parquet sink: layout, pruning, and within-file order") {
    withTemp { tmp =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      graft.sources.PartitionedParquet.write(docs, s"$tmp/out", "lang", "doc_id")
      // hive-style directory per language
      val subdirs = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("lang=")), subdirs)
      // read-back equality (partition column round-trips)
      val back = graft.sources.PartitionedParquet.read(spark, s"$tmp/out")
      assert(back.count() === docs.count())
      assert(back.select(sum(col("doc_id"))).head().getLong(0) ===
        docs.select(sum(col("doc_id"))).head().getLong(0))
      // partition pruning: a lang filter must become a PartitionFilter on
      // the scan, not a data filter over all languages
      val p = back.filter(col("lang") === "en").queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      assert(p.contains("PartitionFilters: [isnotnull(lang"), p.take(600))
      // within-file order: each parquet file ascends on doc_id
      val files = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val ids = spark.read.parquet(f.getPath)
          .select(col("doc_id")).collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted")
      }
    }
  }

  test("partitioned parquet sink honors the per-file record cap") {
    withTemp { tmp =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val n = docs.count()
      graft.sources.PartitionedParquet.write(
        docs, s"$tmp/out", "lang", "doc_id", maxRecordsPerFile = 100)
      val files = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet"))
      // cap enforced exactly: no file exceeds it...
      files.foreach(f => assert(spark.read.parquet(f.getPath).count() <= 100,
        s"${f.getName} over the record cap"))
      // ...and the file-count envelope holds: at least ceil(n/cap) files
      // (the cap actually split something), at most ceil(n/cap) + one
      // under-full remainder per writing task (no tiny-file explosion)
      val floor = math.ceil(n / 100.0).toInt
      assert(files.length >= floor, s"cap produced only ${files.length} files")
      // one under-full remainder per WRITING TASK — and the writer task
      // count is shuffle.partitions (= host cores), not a constant
      val tasks = spark.sparkContext.defaultParallelism
      assert(files.length <= floor + tasks,
        s"tiny-file explosion: ${files.length} files for $n rows")
      // completeness and within-file order survive the roll to a new file
      assert(spark.read.parquet(s"$tmp/out").count() === n)
      files.foreach { f =>
        val ids = spark.read.parquet(f.getPath)
          .select(col("doc_id")).collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted")
      }
    }
  }

  test("scratch sweep reaps dead-pid sibling roots, leaves live and foreign ones") {
    withTemp { tmp =>
      val user = System.getProperty("user.name", "u")
      val host = graft.sources.Scratch.hostTag
      // 999999999 exceeds any Linux pid_max (<= 4194304), so this pid is
      // guaranteed dead — the root a SIGKILLed bench would have left
      val dead = new java.io.File(tmp, s"graft-scratch-$user-$host-999999999")
      dead.mkdirs()
      new java.io.File(dead, "residue.parquet").createNewFile()
      val live = new java.io.File(tmp,
        s"graft-scratch-$user-$host-${ProcessHandle.current().pid()}")
      live.mkdirs()
      val foreign = new java.io.File(tmp,
        s"graft-scratch-someoneelse-$host-999999998")
      foreign.mkdirs()
      // another HOST's root: its pid space is not ours to judge — a
      // shared NFS tmpdir must never see cross-host reaps
      val otherHost = new java.io.File(tmp,
        s"graft-scratch-$user-otherbox-999999997")
      otherHost.mkdirs()
      val nonPid = new java.io.File(tmp, s"graft-scratch-$user-$host-notapid")
      nonPid.mkdirs()
      graft.sources.Scratch.sweepStale(new java.io.File(tmp), user)
      assert(!dead.exists, "dead-pid root must be reaped")
      assert(live.exists, "this process's root must survive")
      assert(foreign.exists, "another user's root is not ours to reap")
      assert(otherHost.exists, "another host's root is not ours to reap")
      assert(nonPid.exists, "a non-numeric suffix is not our naming scheme")
    }
  }

  /** The queries that save an [[graft.operators.AnnIndex]] (q104's and the
    * served codebook, q121's and q121b's encoded index) write it under the
    * process's `graft-scratch-*` root, overwritten in place: no run leaves
    * a new top-level entry in `java.io.tmpdir`.
    */
  test("served-model queries write their codebook to scratch, not a fresh temp dir") {
    spark.sparkContext // the session's own start-up dirs are not the queries'
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries(): Set[String] =
      Option(tmp.list()).getOrElse(Array.empty[String]).toSet
        .filterNot(_.startsWith("graft-scratch-"))
    val before = entries()
    for (q <- Seq("q104", "q106", "q121", "q121b"); _ <- 1 to 2)
      Registry.all.find(_.name.startsWith(q + "_")).get
        .build(spark, dir).count()
    assert(entries() -- before == Set.empty)
  }

  test("streaming parquet sink restarts from checkpoint exactly once") {
    withTemp { tmp =>
      import spark.implicits._
      implicit val sc = spark.sqlContext
      val rows = (1L to 300L).map(i => (i, s"v$i"))
      val stream = MemoryStream[(Long, String)]
      def start() = stream.toDF().toDF("id", "payload")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      // run 1: first half, then STOP — the exactly-once risk is the
      // restart-from-checkpoint path, so actually exercise it
      val q1 = start()
      try {
        stream.addData(rows.take(150))
        q1.processAllAvailable()
      } finally q1.stop()
      // run 2: new query, same checkpoint; re-offer an overlapping batch
      // (already-committed offsets must not be re-written)
      stream.addData(rows.drop(150))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val back = spark.read.parquet(s"$tmp/out")
      assert(back.count() === 300)
      assert(back.select("id").distinct().count() === 300)
    }
  }
}
