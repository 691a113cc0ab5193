package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared symmetric-edge-relation builder for the iterative graph
  * operators ([[LabelProp]], [[Bfs]], [[GraphStats]]).
  *
  * The naive `edges.union(edges.swapped).distinct()` evaluates the
  * upstream pipeline TWICE — the two union branches are distinct plan
  * subtrees, and Spark reuses exchanges, not arbitrary subplans. When
  * the input is the co-bought-parts build (a basket group-by + in-row
  * pair expansion), that doubles the most expensive stage of every
  * graph query. Materializing the projected HALF-edge relation first
  * means both branches read one cache; the interim cache is released
  * as soon as the symmetric relation is materialized.
  *
  * When the producer already guarantees DISTINCT canonical (u < v)
  * pairs from a materialized relation (e.g. the session-shared
  * co-bought edge cache in `SparkEntry`), pass `canonical = true`:
  * the union of such a relation with its swap is automatically
  * distinct (u < v on one branch, u > v on the other, never u = v),
  * so the full-relation distinct shuffle — the widest exchange in the
  * build — is skipped entirely, and the input cache replaces the
  * interim half-edge materialization.
  *
  * Returns a MATERIALIZED (persisted, computed) relation (src, dst) —
  * callers either unpersist it when done or rely on the library cache
  * contract (`graft.Caching.withCaches` / the harness's per-query
  * clearCache).
  */
object GraphEdges {

  /** `symmetric = true`: the input ALREADY is the materialized symmetric
    * distinct relation (e.g. the session-shared checkpointed co-bought
    * sym cache in `SparkEntry`) — return it projected/cast only, with no
    * per-query re-materialization. Round-13 optimization: eight graph
    * queries each re-persisted + counted the identical 2|E| relation on
    * every execution; a session computing several statistics over ONE
    * graph symmetrizes it once.
    */
  def symmetricDistinct(edges: DataFrame, srcCol: String, dstCol: String,
                        canonical: Boolean = false,
                        symmetric: Boolean = false): DataFrame = {
    if (symmetric) {
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    } else if (canonical) {
      val half = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      graft.Caching.materialize(
        half.union(half.select(col("dst").as("src"), col("src").as("dst"))))
    } else {
      val half = graft.Caching.materialize(
        edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst")))
      val sym = graft.Caching.materialize(
        half.union(half.select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
      half.unpersist()
      sym
    }
  }
}
