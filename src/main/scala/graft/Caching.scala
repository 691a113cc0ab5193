package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Eager cache materialization.
  *
  * `persist()` alone only marks the relation: if the FIRST action's plan
  * consumes it from multiple independent stages, Spark schedules those
  * stages concurrently and each recomputes the full upstream — the cache
  * dedups work only once it is populated. Serializing one cheap pass
  * (`count()`) before the consumers turns N upstream recomputes into 1
  * compute + N cache reads (measured on `Triangles.triangleCount` at
  * sf0.1: 7.4 s black-box vs 1.6 s with materialized intermediates —
  * same plan, same persists).
  *
  * Use for relations that (a) are expensive to build and (b) feed 2+
  * DIFFERENT plan subtrees of the same downstream action (e.g. a degree
  * aggregation AND a join, or two joins with different projections).
  * Single-consumer persists gain nothing and pay an extra pass — and so
  * do plain self-joins of one projection: there the two map stages are
  * identical and Spark's ReuseExchange already computes them once
  * (measured on minhashDedup's band self-join: materializing was ~0.6s
  * SLOWER at sf0.1 than the bare persist).
  */
object Caching {
  def materialize(df: DataFrame,
                  level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val cached = df.persist(level)
    cached.count()
    cached
  }

  /** Eager localCheckpoint: materializes AND truncates lineage — the
    * round-loop variant of [[materialize]] for iterative operators
    * (k-core, LPA, BFS, HITS; same pattern as the star-contraction CC).
    *
    * Why persist alone is not enough there: a persisted round output
    * keeps its full LOGICAL plan, and Spark eagerly renders the plan
    * description string on every action and AQE update
    * (SQLExecution.withNewExecutionId / onUpdatePlan — even with the UI
    * off). A cached subtree consumed by two branches is rendered in
    * BOTH, so the rendered tree doubles per round — jstack during the
    * BENCH_r04 q_kcore spikes (249 s for ~10 s of executor work) showed
    * the driver pinned in TreeNode.generateTreeString / nodeName
    * regex-compile between jobs. Checkpointing makes each round's plan a
    * LogicalRDD leaf: O(1) plan depth, O(1) description, no re-analysis
    * of the whole history each round. Storage cost is the same
    * MEMORY_AND_DISK partitions persist would hold; the lost
    * recompute-from-lineage fault tolerance is the standard iterative-
    * algorithm trade (checkpoint discipline), documented per call site.
    *
    * FAULT TOLERANCE AT SCALE (round-14 verdict item #7): `localCheckpoint`
    * stores the materialized partitions on the executors that computed
    * them and TRUNCATES lineage — on a real cluster one lost executor
    * makes the checkpointed RDD unrecoverable and fails the query (it is
    * exactly correct in local mode, where executor loss equals driver
    * loss). Deployments that need the intermediate to survive executor
    * loss set `spark.graft.checkpointDir` to a fault-tolerant path
    * (HDFS/object store); every call then uses a RELIABLE
    * `Dataset.checkpoint` — same eager materialization, same LogicalRDD
    * leaf plan truncation, storage in the shared filesystem instead of
    * executor memory. The trade is a write+read of the relation per
    * checkpoint, which is why it is opt-in: the memo/loop intermediates
    * here are small (edge lists, label maps, model tables — MBs at sf0.1,
    * ≪ inputs at any scale), so the write cost is bounded, and a failed
    * query can always be re-run from parquet (the engine holds no state
    * across runs) — recompute-on-failure is the documented default.
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val dir = df.sparkSession.conf.get("spark.graft.checkpointDir", "")
    if (dir.isEmpty) df.localCheckpoint(true)
    else {
      val sc = df.sparkSession.sparkContext
      if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
      df.checkpoint(true)
    }
  }

  /** [[checkpointed]], with ACCURATE size statistics on the resulting
    * leaf. A checkpointed LogicalRDD forwards its ORIGIN plan's
    * estimated `sizeInBytes`, and estimate chains under-read real
    * materialized size badly (round-14 probe: the shared symmetric
    * co-bought relation estimated 2.8 MiB where the materialized rows
    * are 36.5 MiB) — small enough to turn a corpus-sized relation into
    * the BROADCAST BUILD SIDE of every consumer join, collapsing the
    * probe side's parallelism to its partition count (the round-13
    * 2-task frontier-loop collapse; probe runs and numbers in
    * OPTIMIZATION_r14.md). Materializing to an
    * InMemoryRelation FIRST makes the forwarded stats the IMR's real
    * ones (size AND row count); the transient cache is dropped once the
    * checkpoint holds its own copy. Worth the extra pass exactly for
    * session memos consumed by many downstream joins.
    */
  def checkpointedAccurate(df: DataFrame): DataFrame = {
    val im = df.persist(StorageLevel.MEMORY_AND_DISK)
    im.count()
    val ck = checkpointed(im)
    im.unpersist()
    ck
  }

  /** Release the storage of a [[checkpointed]] DataFrame NOW.
    *
    * `Dataset.unpersist()` is a no-op here: localCheckpoint persists the
    * underlying RDD directly (it never registers with the CacheManager),
    * so the Dataset-level call frees nothing and round blocks would only
    * be reclaimed asynchronously by the ContextCleaner once the RDD is
    * garbage-collected. Iterative operators (BFS, LPA) release each
    * round's blocks as soon as the next round is materialized — at scale
    * the superseded rounds would otherwise stack up in storage for the
    * whole loop. The checkpointed plan is a LogicalRDD leaf; unpersist
    * its RDD non-blocking (don't serialize executor RPCs into the round
    * loop). Safe on non-checkpointed inputs: no LogicalRDD leaf, no-op.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Scoped release for the library's cache contract.
    *
    * Self-join-shaped operators (`Dedup.minhashDedup`, `Ann.lshTopK`,
    * `Curation.curate`, …) persist a small shared intermediate because
    * both join sides reference it; results are lazy, so the operator
    * cannot know when the caller has consumed them. The raw contract —
    * "call `spark.catalog.clearCache()` after consuming each result" — is
    * easy to forget in a long-lived session. [[withCaches]] makes it
    * structural: consume everything inside the scope; the caches are
    * released on the way out, success or failure.
    *
    * Scope semantics: release is SESSION-WIDE (`catalog.clearCache()`),
    * the same call Bench/Verify make between queries — it drops every
    * DataFrame/table cache in the session, including ones created before
    * the scope. Don't wrap a scope around work whose caches you want to
    * keep warm; nest queries inside one scope per logical unit instead.
    * Results must be MATERIALIZED (collect/write/count) inside the scope
    * — a lazy DataFrame that escapes recomputes its operator's self-join
    * from scratch (correct, but the cache no longer helps). Checkpointed
    * session memos ([[SessionMemo]]) are not caches and survive it.
    */
  def withCaches[A](spark: SparkSession)(body: => A): A =
    try body
    finally spark.catalog.clearCache()
}
