package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType

/** Link-graph operators for corpus curation. PageRank over the host/
  * domain graph is the standard web-corpus quality prior (Page et al.
  * 1999; Common-Crawl-derived pipelines rank hosts this way to weight
  * or threshold crawl sources). No reference counterpart; designed
  * Spark-first.
  *
  * Determinism: every cross-row float accumulation (per-target
  * contribution sums, the dangling-mass total) passes through decimal
  * casts, so ranks are partitioning-independent and replay
  * bit-identically in the oracle — no rounding needed on the output.
  */
object GraphOps {

  /** `iterations` rounds of damped PageRank over `edges` (columns
    * `src`, `dst`; parallel edges collapse to simple edges). Returns
    * `(node, rank)` for every node appearing as a source or target.
    * NOTE (round-14 key-type change): when BOTH edge columns are
    * integral, `node` comes back as `long` (keys stay 8-byte through
    * every per-round shuffle); any other typing keeps the historical
    * string normalization. CurationSpec pins both shapes.
    *
    * Semantics (the standard formulation, dangling mass
    * redistributed uniformly):
    *
    * {{{ rank'(v) = (1−d)/N + d · (Σ_{u→v} rank(u)/outdeg(u)
    *                              + danglingMass/N) }}}
    *
    * so Σ rank = 1 is preserved every round. Ranks start uniform at
    * 1/N.
    *
    * Distributed shape (the GraphX/Pregel layout, measured in round 9
    * — DESIGN.md adjudicates the alternatives): the edge table is
    * hash-partitioned on the join key ONCE and persisted together
    * with verts/outd, and each round's ranks materialize via an eager
    * [[Materialize.checkpoint]] (reliable when the session has a
    * checkpoint dir, local otherwise) before the next round builds on
    * them. Per round that leaves exactly the shuffles the algorithm
    * inherently needs — the rank⋈edges equijoin reads co-partitioned
    * cached blocks, and only the contribution groupBy(dst) moves data. The
    * earlier fully-lazy K-round single plan re-shuffled AND recomputed
    * the edge lineage every round and its unrolled lineage sent
    * Catalyst superlinear (3/6/9 iterations at 20M edges: 15 s / 26 s
    * / 202 s); the materialized form is flat per round and the
    * blocks (edges/verts/outd and each round's previous ranks) are
    * released before returning, on a throw too — the result is a
    * checkpointed, lineage-free frame. The dangling mass stays a
    * ONE-ROW decimal-exact aggregate broadcast back, and
    * `numVertices` still skips the vertex count when the caller knows
    * N.
    *
    * `tol > 0` adds a convergence early-exit: after each round the L1
    * delta `Σ|rank' − rank|` (one one-row decimal-exact aggregate) is
    * checked and iteration stops once it falls below `tol` — callers
    * that over-provision `iterations` pay only the rounds the graph
    * needs. Ranks are bit-identical in every mode (materialization
    * changes scheduling, never values).
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85, numVertices: Option[Long] = None,
      tol: Double = 0.0): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping must be in [0, 1], got $damping")
    require(tol >= 0.0, s"tol must be >= 0, got $tol")
    // node key type (round-14): integral graphs keep 8-byte long keys
    // — every per-round shuffle, join probe, and hash rides the node
    // key, and the unconditional string cast paid string hashing +
    // 2-3× the key bytes for numeric ids. Mixed/other types keep the
    // historical string normalization (the domain-graph gate shape).
    // Rank VALUES are unaffected either way (decimal-exact sums).
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    val keyType =
      if (integral(edges.schema("src").dataType) &&
        integral(edges.schema("dst").dataType)) "long"
      else "string"
    // the edge layout, vertex set and out-degrees are cached for the
    // call and released when the scope exits
    Materialize.scope { s =>
      // one shuffle builds the whole edge layout: clustering on src
      // alone satisfies the (src, dst) dedup's distribution
      // requirement, so repartition-then-dropDuplicates dedups
      // partition-locally and the cached table comes out hash-
      // partitioned on the join key (round-8 verdict item 3)
      val e = s.persist(edges.select(col("src").cast(keyType).as("src"),
          col("dst").cast(keyType).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .repartition(col("src"))
        .dropDuplicates("src", "dst"))
      // distinct() leaves verts hash-partitioned on node — no extra
      // exchange needed for the per-round joins
      val verts = s.persist(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      val n = numVertices.getOrElse(verts.count())
      require(n > 0, "graph has no vertices")
      val nD = n.toDouble
      // zero-shuffle over the cached src-clustered edges; output stays
      // hash-partitioned on the key
      val outd = s.persist(e.groupBy(col("src").as("node"))
        .agg(F.count(lit(1)).as("__graft_deg")))
      var ranks = Materialize.checkpoint(
        verts.withColumn("rank", lit(1.0 / nD)), eager = true)
      var converged = false
      // per-round joins pinned to SHUFFLED HASH on the NODES-SIZED side
      // (round-15 A/B, superseding round-14's MERGE pin — VERDICT item
      // 9): the pin itself exists because long node keys shrink size
      // ESTIMATES under the auto-broadcast threshold and the planner
      // then rebuilds a broadcast of ranks/outd/contribs EVERY round
      // (collect + ship per iteration — measured 1.6× the whole op at
      // the 2M-edge bench shape; at 100 TB a per-round rank broadcast
      // is not even feasible). MERGE kept the no-broadcast guarantee
      // but paid a per-round SORT of both sides; SHUFFLE_HASH keeps the
      // guarantee without the sorts — measured 3.21 → 2.80 s (x1) and
      // 6.0–6.3 → 5.43 s (x10), isolated min-of-2. The hint rides the
      // nodes-sized side of every join (outd / the rank side / contribs
      // — never the edge table), so the in-memory build is bounded by
      // the SMALLER table's per-partition share — the standard SHJ
      // safety condition; the edge table streams. (Building the EDGE
      // side measured ~10% faster at this scale but puts the unbounded
      // table in the no-spill build — rejected on the memory argument.)
      for (_ <- 1 to iterations if !converged) {
        val withDeg = ranks.join(outd.hint("SHUFFLE_HASH"), Seq("node"), "left")
        // nodes with no out-edges: their rank mass redistributes
        // uniformly (one-row decimal-exact aggregate, broadcast back)
        val dangling = withDeg.filter(col("__graft_deg").isNull)
          .agg(coalesce(F.sum(col("rank").cast(Num.DotDec)),
            lit(0).cast(Num.DotDec)).cast(DoubleType).as("__graft_dmass"))
        val contribs = withDeg.filter(col("__graft_deg").isNotNull)
          .hint("SHUFFLE_HASH")
          .join(e, col("node") === col("src"))
          .groupBy(col("dst").as("node"))
          .agg(F.sum((col("rank") / col("__graft_deg").cast(DoubleType))
            .cast(Num.DotDec)).cast(DoubleType).as("__graft_contrib"))
        val next = verts.join(contribs.hint("SHUFFLE_HASH"), Seq("node"), "left")
          .crossJoin(F.broadcast(dangling))
          .select(col("node"),
            (lit((1.0 - damping) / nD) + lit(damping) *
              (coalesce(col("__graft_contrib"), lit(0.0)) +
                col("__graft_dmass") / lit(nD))).as("rank"))
        // materialize the round (eager checkpoint) so the next
        // round's plan starts from flat lineage, then release the
        // previous round's blocks (the BPE/connectedComponents pattern)
        val prev = ranks
        ranks = Materialize.checkpoint(next, eager = true)
        if (tol > 0) {
          // convergence check: one-row L1 delta vs the previous round;
          // both tables carry exactly the `verts` node set, so the
          // delta equijoin co-partitions on the node key
          val delta = ranks
            .join(prev.select(col("node"), col("rank").as("__graft_prev")),
              Seq("node"))
            .agg(coalesce(F.sum(abs(col("rank") - col("__graft_prev"))
              .cast(Num.DotDec)), lit(0).cast(Num.DotDec)).cast(DoubleType))
            .head().getDouble(0)
          if (delta < tol) converged = true
        }
        // release the previous round's checkpoint blocks (RDD-level)
        Materialize.release(prev)
      }
      // the result is checkpointed (lineage-free): the iteration's
      // cached layout releases with the scope
      ranks
    }
  }

  /** DuckDB replay of [[pageRank]] as unrolled CTEs over an edge
    * subquery `edgesSql` (must yield columns `src`, `dst`). Kept in
    * lockstep with the engine: same distinct-edge collapse, same
    * decimal-cast contribution and dangling sums, same IEEE closing
    * arithmetic — bit-identical ranks.
    */
  def pageRankSql(edgesSql: String, iterations: Int,
      damping: Double): String = {
    val d = damping
    val iterCtes = (0 until iterations).map { i =>
      s""" dm$i AS (SELECT CAST(COALESCE(SUM(CAST(r.rank AS DECIMAL(38,8))), 0) AS DOUBLE) AS mass
         |   FROM r$i r LEFT JOIN outd o ON r.node = o.node WHERE o.deg IS NULL),
         | c$i AS (SELECT e.dst AS node,
         |   CAST(SUM(CAST(r.rank / CAST(o.deg AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE) AS contrib
         |   FROM r$i r JOIN outd o ON r.node = o.node JOIN e0 e ON e.src = r.node
         |   GROUP BY 1),
         | r${i + 1} AS (SELECT v.node,
         |   (1.0 - $d) / (SELECT nn FROM n) + $d * (COALESCE(c.contrib, 0.0)
         |     + (SELECT mass FROM dm$i) / (SELECT nn FROM n)) AS rank
         |   FROM v LEFT JOIN c$i c ON v.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT src, dst FROM ($edgesSql)
       |   WHERE src IS NOT NULL AND dst IS NOT NULL),
       | v AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       | n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM v),
       | outd AS (SELECT src AS node, COUNT(*) AS deg FROM e0 GROUP BY 1),
       | r0 AS (SELECT node, 1.0 / (SELECT nn FROM n) AS rank FROM v),
       |$iterCtes
       |SELECT node, rank FROM r$iterations""".stripMargin
  }
}
