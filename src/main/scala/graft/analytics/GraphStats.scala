package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Structural graph statistics over an undirected edge list: bounded
  * k-core peeling (Seidman, "Network structure and minimum degree",
  * Social Networks 1983 — the standard "dense cohesive subgraph"
  * primitive, and the usual pre-filter before community detection on
  * web-scale graphs) and degree assortativity (Newman, "Assortative
  * mixing in networks", Phys. Rev. Lett. 2002 — one scalar that says
  * whether hubs attach to hubs).
  *
  * Determinism: both are set/arithmetic-valued — peeling has no
  * tie-breaks at all, and assortativity is exact integer power sums
  * with one final fixed IEEE expression — so a SQL engine replays them
  * bit-for-bit (the repo's oracle discipline).
  *
  * 100 TB shape: each peel round is one degree aggregation plus two
  * semi-join-shaped hash joins against the (shrinking) survivor set —
  * never an adjacency array, so a hub node costs a wide aggregation
  * group, not executor memory. Assortativity is two broadcast-or-hash
  * joins of the 16-byte edge relation against the 12-byte degree
  * relation and a single exact aggregation; the degree relation is
  * |V|-sized and the sums are DECIMAL(38,0), overflow-safe far past
  * 10¹² edges. Per-round relations are materialized then released
  * ([[graft.Caching]] discipline), so lineage stays flat.
  */
object GraphStats {

  /** Nodes surviving `rounds` peeling rounds at threshold `k`, with
    * their residual degree in the peeled subgraph. One round = compute
    * degrees, keep nodes with degree >= k, restrict edges to kept
    * endpoints. Fixed rounds rather than fixpoint detection — the same
    * bounded-round contract as [[LabelProp]]/[[Bfs]], so the oracle is
    * a finite CTE chain (a fixpoint loop converges in O(|V|) rounds
    * worst-case; production peels on real graphs converge in a handful,
    * and the bounded form is what stays replayable).
    * Output: (node, core_deg) over the round-`rounds` edge set.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int = 3, rounds: Int = 3, canonical: Boolean = false,
            symmetric: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and at least one round")
    var e = GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical,
      symmetric)
    for (_ <- 1 to rounds) {
      // survivor set feeds BOTH endpoint joins — materialize first so
      // the degree agg runs once, not once per join branch
      val keep = graft.Caching.materialize(
        e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("node"))
      // checkpoint, not persist: the round output feeds next round's TWO
      // endpoint joins — persisted lineage doubles the rendered plan per
      // round (see Caching.checkpointed); the leaf plan keeps rounds O(1)
      val next = graft.Caching.checkpointed(
        e.join(keep.select(col("node").as("src")), "src")
          .join(keep.select(col("node").as("dst")), "dst")
          .select("src", "dst"))
      e.unpersist(); keep.unpersist()
      e = next
    }
    // the result is LAZY — the final round's cache must stay alive until
    // the caller consumes it (unpersisting here would force a full
    // uncached ~2^rounds recompute: measured 45 s vs 6 s at sf0.1); the
    // harness's per-query clearCache / graft.Caching.withCaches releases it
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Degree assortativity coefficient: the Pearson correlation of
    * (deg(src), deg(dst)) over the directed (symmetrized) edge list.
    * Power sums are exact DECIMAL(38,0); the final coefficient is one
    * fixed double expression, so any engine reproduces the same bits.
    * Output: one row (n_edges, assortativity) rounded to 1e-6; 0.0 for
    * degree-regular graphs where the variance term vanishes.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String,
                          canonical: Boolean = false,
                          symmetric: Boolean = false): DataFrame = {
    val e = GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical,
      symmetric)
    // degree relation feeds both endpoint joins
    val deg = graft.Caching.materialize(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    val pairs = e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
    val dec = DecimalType(38, 0)
    val sums = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("dx").cast(dec)).as("sx"),
      sum(col("dy").cast(dec)).as("sy"),
      sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
      sum((col("dx") * col("dx")).cast(dec)).as("sxx"),
      sum((col("dy") * col("dy")).cast(dec)).as("syy"))
    // all sums exact -> cast to double -> ONE shared IEEE expression
    // (num / sqrt(varx * vary)), mirrored verbatim in the oracle SQL
    val n = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val num = n * sxy - sx * sy
    // greatest(.., 0): a degree-regular graph's variance term is exactly
    // 0 mathematically but can round to a tiny negative in double —
    // clamp so sqrt never returns NaN (mirrored in the oracle)
    val den = sqrt(greatest((n * sxx - sx * sx) * (n * syy - sy * sy),
      lit(0.0)))
    sums.select(col("n").as("n_edges"),
      round(when(den === 0.0, 0.0).otherwise(num / den), 6)
        .as("assortativity"))
  }

  /** Shared DuckDB CTE prefix building the symmetric co-bought-parts
    * edge relation `e` — identical to [[LabelProp.labelPropOracleSql]] /
    * [[Bfs.hubDistancesOracleSql]] so all graph oracles replay the same
    * graph.
    */
  private val edgePrefixSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |eh AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT u AS src, v AS dst FROM eh UNION SELECT v, u FROM eh)""".stripMargin

  /** DuckDB replay of [[kCore]] over the co-bought-parts graph: each
    * peel round unrolled as a degree CTE + survivor CTE + restricted
    * edge CTE.
    */
  def kCoreOracleSql(k: Int = 3, rounds: Int = 3): String = {
    val roundsSql = (1 to rounds).map { r =>
      s"""k$r AS (
         |  SELECT src AS node FROM e${r - 1} GROUP BY 1 HAVING COUNT(*) >= $k),
         |e$r AS (
         |  SELECT p.src, p.dst FROM e${r - 1} p
         |  JOIN k$r a ON a.node = p.src
         |  JOIN k$r b ON b.node = p.dst)""".stripMargin
    }.mkString(",\n")
    s"""$edgePrefixSql,
       |e0 AS (SELECT src, dst FROM e),
       |$roundsSql
       |SELECT src AS node, COUNT(*) AS core_deg FROM e$rounds GROUP BY 1""".stripMargin
  }

  /** DuckDB replay of [[degreeAssortativity]] over the co-bought-parts
    * graph: HUGEINT power sums, then the identical double expression.
    */
  def assortativityOracleSql: String =
    s"""$edgePrefixSql,
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
       |p AS (
       |  SELECT dx.deg AS dx, dy.deg AS dy
       |  FROM e JOIN deg dx ON dx.node = e.src JOIN deg dy ON dy.node = e.dst),
       |s AS (
       |  SELECT COUNT(*) AS n,
       |         SUM(CAST(dx AS HUGEINT)) AS sx,
       |         SUM(CAST(dy AS HUGEINT)) AS sy,
       |         SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
       |         SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
       |         SUM(CAST(dy AS HUGEINT) * dy) AS syy
       |  FROM p)
       |, d AS (
       |  SELECT n, sxy, sx, sy,
       |         sqrt(greatest((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
       |                       0.0)) AS den
       |  FROM s)
       |SELECT CAST(n AS BIGINT) AS n_edges,
       |       round(CASE WHEN den = 0 THEN 0.0
       |                  ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
       |             END, 6) AS assortativity
       |FROM d""".stripMargin
}
