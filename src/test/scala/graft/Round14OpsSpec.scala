package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 optimization-round changes: the bench's child-side mt-floor
  * probe, the charged-build memo-owner declaration, and the reliable-
  * checkpoint gate on Caching.checkpointed.
  */
class Round14OpsSpec extends AnyFunSuite {
  import TestSpark.spark

  test("memoOwners declares only existing queries") {
    val unknown = SparkEntry.memoOwners -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"memoOwners not in queries: $unknown")
    // derived from the memo reader declarations; value_charged depends
    // on exactly this set
    assert(SparkEntry.memoOwners === Set(
      "dedup_best_survivors", "q_betweenness", "q_degree_assort", "q_ktruss",
      "embed_dbscan", "pipeline_corpus_prep", "text_nb_classify",
      "q_hybrid_rrf", "q_label_prop", "text_maxmatch_encode", "q_graph_spid",
      "q_item_cf", "q_hits", "q_pagerank"))
  }

  test("memo reader declarations match the reads query construction makes") {
    // a session of its own, so every memo builds (and logs its own
    // reads) inside the first query that reaches it
    val s = spark.newSession()
    val memos = SparkEntry.sessionMemos
    val names = memos.map(_._1.name).toSet
    val declared = memos.flatMap { case (m, qs) => qs.map(_ -> m.name) }
      .groupBy(_._1).map { case (q, ms) => q -> ms.map(_._2).toSet }
    val builtOn = memos.map { case (m, _) => m.name -> m.builtOn.map(_.name).toSet }
    val seenBuilds = scala.collection.mutable.Map.empty[String, Set[String]]
    for (q <- declared.keys.toSeq.sorted) {
      val reads = SessionMemo.readsDuring(SparkEntry.queries(q)(s, TestSpark.sfDir))
        .filter { case (_, m) => names(m) }
      assert(reads.collect { case ("", m) => m } === declared(q),
        s"$q: memos read at construction vs declared readers")
      reads.collect { case (r, m) if r.nonEmpty => r -> m }.groupBy(_._1)
        .foreach { case (r, ms) => seenBuilds(r) = ms.map(_._2) }
    }
    // every memo was built in this session; each build read exactly the
    // memos it declares it is built on
    for ((m, ups) <- builtOn)
      assert(seenBuilds.getOrElse(m, Set.empty) === ups, s"$m: builtOn vs reads")
  }

  test("coBought keeps origin-estimate stats; coBoughtSym carries accurate ones") {
    // only the persisted checkpointedAccurate path supplies a row count
    def rowCount(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.rowCount
    val dir = TestSpark.sfDir
    assert(rowCount(SparkEntry.coBought(spark, dir)).isEmpty,
      "coBought must stay a plain checkpoint (round-14 triangle A/B)")
    val sym = SparkEntry.coBoughtSym(spark, dir)
    assert(rowCount(sym) === Some(BigInt(sym.count())),
      "coBoughtSym must carry accurate stats (frontier 2-task collapse)")
  }

  test("warmup-only seed child reports positive calibration readings") {
    // the round-14 storm-floor seed: a measuring child given an EMPTY
    // query list — same flags/classpath/Spark session as real measuring
    // children, probes streamed from the same point in childMain. This
    // is what fixes the BENCH_r13_c8 respawn spiral (the old in-process
    // parent seed diverged from child readings off 32 cores), so pin it
    // end-to-end: spawn, parse, positive readings, no query samples.
    val m = Bench.spawnChild(Seq.empty, TestSpark.sfDir, 1,
      timeoutMinutes = 10)
    val mt = m.get(Bench.CalibMtName).flatMap(_.headOption).map(_.sec)
    val st = m.get(Bench.CalibName).flatMap(_.headOption).map(_.sec)
    assert(mt.exists(v => v > 0 && !v.isNaN), s"mt reading: $mt")
    assert(st.exists(v => v > 0 && !v.isNaN), s"calib reading: $st")
    assert((m.keySet - Bench.CalibName - Bench.CalibMtName).isEmpty,
      "seed child must measure no queries")
  }

  test("checkpointed with spark.graft.checkpointDir uses a reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val ck = Caching.checkpointed(df)
      // same rows, plan truncated to a leaf, and the checkpoint landed in
      // the configured fault-tolerant dir (not executor-local storage)
      assert(ck.collect().map(_.getLong(0)).sorted.sameElements(0L until 100L))
      assert(ck.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files written to spark.graft.checkpointDir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("minhashDedup with injected signatures matches the self-built path") {
    val docs = graft.io.Tables.documents(spark, TestSpark.sfDir)
    val self = graft.dedup.Dedup.minhashDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val sigs = Caching.checkpointedAccurate(
      graft.dedup.Dedup.minhashSignatures(docs, shingleN = 3, numHashes = 32))
    val injected = graft.dedup.Dedup.minhashDedup(docs, sigsPre = Some(sigs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(self.nonEmpty && injected.sameElements(self))
  }

  test("checkpointed without the conf stays local (no checkpoint files)") {
    val df = spark.range(50).toDF("id")
    val ck = Caching.checkpointed(df)
    assert(ck.count() === 50)
    assert(ck.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
  }
}
