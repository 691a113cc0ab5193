package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Breadth2
import graft.etl.Warehouse
import graft.io.Tables
import graft.operators.GlobalRank

/** Empty- and degenerate-input behavior of the round-2 operators: every
  * one must return an empty/identity result, not throw.
  */
class EdgeCasesSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("gapFillDaily on a supplier with no rows is empty, not a crash") {
    val out = Breadth2.gapFillDaily(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), suppkey = -1L)
    assert(out.count() === 0)
  }

  test("GlobalRank on empty and single-row inputs") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(GlobalRank.rankDist(empty, "v").count() === 0)
    assert(GlobalRank.ntileByRange(empty, 4, Seq("v", "id"), "t").count() === 0)

    val one = Seq((1L, 5.0)).toDF("id", "v")
    val r = GlobalRank.rankDist(one, "v").collect().head
    assert(r.getAs[Double]("pct_rank") === 0.0 && r.getAs[Double]("cume") === 1.0)
    val t = GlobalRank.ntileByRange(one, 4, Seq("v", "id"), "t").collect().head
    assert(t.getAs[Int]("t") === 1)
  }

  test("rankDist preserves null-valued rows (null-safe join-back)") {
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, Some(2.0)), (4L, None))
      .toDF("id", "v")
    val out = GlobalRank.rankDist(df, "v")
    assert(out.count() === 4) // an equi-join would drop the two null rows
    // nulls-first ordering: the null group ranks lowest, like the window
    val nullRows = out.filter($"v".isNull).collect()
    assert(nullRows.length === 2)
    assert(nullRows.forall(_.getAs[Double]("pct_rank") === 0.0))
    assert(nullRows.forall(_.getAs[Double]("cume") === 0.5))
  }

  test("dupClusters throws (not silently mislabels) when maxIter is too low") {
    // a 6-node chain has diameter 5: one min-label round cannot converge
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.dedup.Dedup.dupClusters(chain, maxIter = 1, driverThreshold = 0L).count()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same input labels the whole chain as one cluster
    val ok = graft.dedup.Dedup.dupClusters(chain, maxIter = 10, driverThreshold = 0L)
    assert(ok.select("cluster_id").distinct().count() === 1)
  }

  test("withCaches releases every cache the scope accumulated") {
    import graft.Caching.withCaches
    val docs = Tables.documents(spark, sfDir)
    val before = spark.sparkContext.getPersistentRDDs.size
    withCaches(spark) {
      // minhashDedup persists its signature relation; materialize inside
      assert(graft.dedup.Dedup.minhashDedup(docs).count() >= 0)
      assert(spark.sparkContext.getPersistentRDDs.size > before)
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("ntileByRange rejects reserved column names and k <= 0") {
    val df = Seq((1L, 2.0)).toDF("id", "__n")
    intercept[IllegalArgumentException] {
      GlobalRank.ntileByRange(df, 4, Seq("id"), "t")
    }
    intercept[IllegalArgumentException] {
      GlobalRank.ntileByRange(Seq((1L, 2.0)).toDF("id", "v"), 0, Seq("id"), "t")
    }
  }

  test("upsertByKey with empty updates is identity; empty base is updates") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val none = Seq.empty[(Long, String)].toDF("k", "v")
    assert(Warehouse.upsertByKey(base, none, "k").collect().toSet ===
      base.collect().toSet)
    assert(Warehouse.upsertByKey(none, base, "k").collect().toSet ===
      base.collect().toSet)
  }

  test("arrayOps on whitespace-only and empty text") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one two")).toDF("doc_id", "text")
    val out = Breadth2.arrayOps(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(3), r.getInt(4)))).toMap
    assert(out(1L) === ((0, 0.0, 0)))
    assert(out(2L) === ((0, 0.0, 0)))
    assert(out(3L) === ((2, 3.0, 3)))
  }

  test("topTokens with k larger than the vocabulary returns the whole vocabulary") {
    val docs = Seq((1L, "a b a")).toDF("doc_id", "text")
    val out = Breadth2.topTokens(docs, k = 100).collect()
    assert(out.length === 2)
  }

  test("batch-3+ operators on empty inputs: empty results, not crashes") {
    import java.sql.Timestamp
    val emptyEvents = Seq.empty[(Long, Long, Timestamp, String)]
      .toDF("event_id", "user_id", "ts", "event_type")
    // funnel: three stages, all zero
    val f = graft.analytics.Breadth3.funnel(emptyEvents)
      .as[(String, Long)].collect().toMap
    assert(f.values.forall(_ == 0L) && f.size === 3)
    assert(graft.analytics.Breadth3.retention(emptyEvents).count() === 0)
    assert(graft.analytics.Breadth3.eventTransitions(emptyEvents).count() === 0)

    val emptyOrders = Seq.empty[(Long, Long, String, Timestamp)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    assert(graft.analytics.Breadth3.scd2StatusHistory(emptyOrders).count() === 0)

    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.text.TextOps.chunk(emptyDocs).count() === 0)
    assert(graft.analytics.Breadth3.globalShuffle(emptyDocs.select("doc_id")).count() === 0)
    assert(graft.dedup.Dedup.contamination(emptyDocs, emptyDocs).count() === 0)
    spark.catalog.clearCache()
  }

  test("contamination with an empty eval set flags nothing") {
    val train = Seq((1L, "some words here")).toDF("doc_id", "text")
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.Dedup.contamination(train, eval).count() === 0)
    spark.catalog.clearCache()
  }

  test("chunk of space-only documents yields no chunks") {
    val docs = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    assert(graft.text.TextOps.chunk(docs).count() === 0)
    // tab/newline-only text is NOT trimmed by ANSI trim (spaces only, both
    // engines) — it tokenizes to one empty token; documented in tokens()
    val tabs = Seq((3L, "\t\n")).toDF("doc_id", "text")
    assert(graft.text.TextOps.chunk(tabs).count() === 1)
  }

  test("scd2 of a single observation is one open row") {
    val one = Seq((1L, 7L, "O", java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    val rows = graft.analytics.Breadth3.scd2StatusHistory(one).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Int]("is_current") === 1)
  }

  test("batch 6-8 operators on empty inputs: empty results, no crashes") {
    val noDocs = Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n_chars")
    assert(graft.operators.Packing.packSequences(noDocs).count() === 0)
    assert(graft.text.TextOps.repetition(noDocs).count() === 0)
    assert(graft.text.TextOps.c4LineFilter(noDocs).count() === 0)
    assert(graft.text.TextOps.vocab(noDocs).count() === 0)
    assert(graft.text.TextOps.encodeTokens(noDocs,
      graft.text.TextOps.vocab(noDocs)).count() === 0)
    assert(graft.text.Bm25.topK(noDocs).count() === 0)
    val noKeys = Seq.empty[(Long, Long)].toDF("k", "x")
    assert(graft.analytics.Sketches.countMinEstimates(noKeys, "k").count() === 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.dedup.Dedup.dupClustersStar(noPairs).count() === 0)
    val noRows = Seq.empty[(Long, Double)].toDF("id", "w")
    assert(graft.operators.Sampling.weightedSample(noRows, "id", "w", 5).count() === 0)
    spark.catalog.clearCache()
  }

  test("round-6 operators on empty inputs: empty results, no crashes") {
    val noEdges = Seq.empty[(Long, Long)].toDF("item_a", "item_b")
    assert(graft.analytics.GraphSample.randomWalks(noEdges, "item_a", "item_b")
      .count() === 0)
    assert(graft.analytics.GraphSample.neighborSample(noEdges, "item_a", "item_b")
      .count() === 0)
    val noDocs = Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n_chars")
    assert(graft.text.TextOps.skipgramPairs(noDocs.select("text")).count() === 0)
    assert(graft.text.TextOps.featureHash(noDocs.select("text")).count() === 0)
    assert(graft.text.TextRank.keywords(noDocs.select("text")).count() === 0)
    val noOrders = Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice")
    // degenerate aggregates produce their empty relation, not a crash
    assert(graft.analytics.Experiments.sprtDaily(
      Seq.empty[(Long, java.sql.Timestamp, String)].toDF("event_id", "ts", "event_type"))
      .count() === 0)
    assert(graft.operators.Ivm.medianView(
      Seq.empty[(String, Long, Long)].toDF("g", "v", "cnt"), Seq("g"), "v")
      .count() === 0)
    spark.catalog.clearCache()
  }

  test("weightedSample with k larger than the population returns everything") {
    val pop = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "w")
    val got = graft.operators.Sampling.weightedSample(pop, "id", "w", 100)
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L))
  }

  test("zValue rejects out-of-range bit widths; kmeans handles iters = 0") {
    intercept[IllegalArgumentException] {
      graft.operators.ZOrder.zValue(lit(1L), lit(2L), bits = 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.ZOrder.zValue(lit(1L), lit(2L), bits = 32)
    }
    val one = Seq((1L, Seq(1.0f, 0.0f), "a")).toDF("vec_id", "embedding", "label")
    val out = graft.similarity.Ann.kmeansAssign(one, k = 1, iters = 0).collect()
    assert(out.length === 1 && out.head.getInt(1) === 1)
    spark.catalog.clearCache()
  }
}
