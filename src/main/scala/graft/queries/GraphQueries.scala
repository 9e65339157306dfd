package graft.queries

import org.apache.spark.sql.functions._
import QH._

/** Iterative graph ranking under the hard oracle gate. q77/q80 already
  * cover distributed connected components (min-label propagation with
  * pointer jumping); this adds the other canonical iterative-graph
  * workload, weighted PageRank, with every iteration's floating-point
  * arithmetic mirrored term-for-term in the DuckDB oracle — the same
  * determinism discipline as the windowed variance in q118.
  *
  * Graph: the customer↔supplier bipartite graph from lineitem (edge
  * weight = number of line items between the pair), walked in both
  * directions so no node dangles. Scale shape: each iteration is ONE
  * equi join (ranks × edges on src — both hash-partitioned on the node
  * key, so the edge side's shuffle is reusable across iterations) and
  * ONE map-side-combined aggregation on dst; the rank frame carries one
  * row per node, never per edge, between iterations. The static edge
  * frame and the seed ranks are localCheckpoint-ed once (q77's
  * discipline): chained DataFrame loops otherwise re-derive every
  * static input from the raw scans on each iteration, which is both a
  * plan-size explosion and 2×iterations fact scans at 100 TB. The
  * 5-round rank lineage itself stays un-checkpointed (it is shallow
  * and per-node small); a convergence-driven variant would add q77's
  * checkpoint-every-round.
  *
  * Numerics: per-edge contributions are doubles (deterministic given
  * identical inputs), but their SUM is order-dependent — so inflows
  * accumulate in decimal(38,18) (18 fractional digits: ranks are
  * O(1/N) ≈ 1e-4, well above the grid) and surface back to double via
  * the string round-trip, exactly like QH.decSum.
  */
object GraphQueries {

  private val DEC18 = "decimal(38,18)"

  val qs: Seq[Q] = Seq(
    Q("q120_pagerank",
      (s, d) => {
        // long node ids inside the iteration (even = customer 2k, odd =
        // supplier 2k+1; q274's device — guide §2.3 narrower types):
        // each of the 5 iterations joins ranks×edges and re-aggregates
        // on the node key, so the key's width and hash cost are paid
        // ~10× per run. Weights, probabilities and the decimal inflow
        // sums are unchanged (the id mapping is injective, decimal
        // accumulation is order-free), so every rank is bit-identical;
        // the 'c<k>'/'s<k>' strings are reconstructed only at the
        // output boundary, BEFORE the final (rank, node) sort.
        val pairs = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"), col("l_suppkey"))
          .agg(count(lit(1)).as("w"))
        val cs = pairs.select(
          (col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"), col("w"))
        val sc = pairs.select(
          (col("l_suppkey") * 2 + 1).as("src"),
          (col("o_custkey") * 2).as("dst"), col("w"))
        val edges0 = cs.union(sc)
        val outw = edges0.groupBy("src").agg(sum(col("w")).as("w_out"))
        // the edge frame is STATIC across iterations — materialize it
        // once (q77's checkpoint discipline): without this, every
        // iteration's lineage re-derives edges from the raw fact scan,
        // and the 5-round plan re-reads lineitem 10+ times
        val edges = edges0.join(outw, Seq("src"))
          .select(col("src"), col("dst"),
            (col("w").cast("double") / col("w_out").cast("double")).as("p"))
          .localCheckpoint(false)
        // every node appears as a src (the walk is bidirectional), so
        // the node set comes from the CHECKPOINTED edges — deriving it
        // from edges0 would re-run the raw scan+join chain a second time.
        // The node count arrives via a 1-row cross join (the O5
        // pattern, no driver-side collect), and the whole static
        // (node, n_nodes) base is materialized once: each iteration
        // must reference the EVOLVING frame exactly once (in the
        // inflow join) and take its node base from this static leaf —
        // deriving the base from `ranks` doubles the previous round's
        // subtree per iteration, an exponentially-sized plan that only
        // AQE stage-reuse saves from exponential runtime
        val nodes = edges.select(col("src").as("node")).distinct()
        val base = nodes.crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
          .localCheckpoint()
        // (base stays EAGER: both the loop's left join and the node
        // count read it, and its one materialization is |nodes|-sized)
        var ranks = base
          .select(col("node"),
            (lit(1.0) / col("n_nodes").cast("double")).as("r"))
        for (_ <- 1 to 5) {
          val inflow = edges
            .join(ranks.select(col("node").as("src"), col("r")), Seq("src"))
            .select(col("dst"), (col("r") * col("p")).cast(DEC18).as("c"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).cast("string").cast("double").as("inflow"))
          ranks = base.join(inflow, Seq("node"), "left")
            .select(col("node"),
              (lit(0.15) / col("n_nodes").cast("double") +
                lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("r"))
        }
        ranks
          .select(concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            shiftright(col("node"), 1)).as("node"),
            round(col("r"), 9).as("rank"))
          .orderBy(desc("rank"), col("node"))
      },
      Some("""
        WITH pairs AS (
          SELECT o_custkey AS ck, l_suppkey AS sk, COUNT(*) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges0 AS (
          SELECT 'c' || ck AS src, 's' || sk AS dst, w FROM pairs
          UNION ALL
          SELECT 's' || sk AS src, 'c' || ck AS dst, w FROM pairs),
        outw AS (SELECT src, SUM(w) AS W FROM edges0 GROUP BY src),
        edges AS (
          SELECT e.src, e.dst,
            CAST(e.w AS DOUBLE) / CAST(o.W AS DOUBLE) AS p
          FROM edges0 e JOIN outw o USING (src)),
        nodes AS (SELECT DISTINCT src AS node FROM edges0),
        nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
        r0 AS (
          SELECT node, 1.0 / CAST(n_nodes AS DOUBLE) AS r FROM nodes, nn),
        i1 AS (
          SELECT e.dst AS node, CAST(CAST(SUM(CAST(r.r * e.p AS
            DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS inflow
          FROM edges e JOIN r0 r ON e.src = r.node GROUP BY e.dst),
        r1 AS (
          SELECT n.node, 0.15 / CAST(nn.n_nodes AS DOUBLE) +
            0.85 * COALESCE(i.inflow, 0.0) AS r
          FROM nodes n CROSS JOIN nn LEFT JOIN i1 i USING (node)),
        i2 AS (
          SELECT e.dst AS node, CAST(CAST(SUM(CAST(r.r * e.p AS
            DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS inflow
          FROM edges e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
        r2 AS (
          SELECT n.node, 0.15 / CAST(nn.n_nodes AS DOUBLE) +
            0.85 * COALESCE(i.inflow, 0.0) AS r
          FROM nodes n CROSS JOIN nn LEFT JOIN i2 i USING (node)),
        i3 AS (
          SELECT e.dst AS node, CAST(CAST(SUM(CAST(r.r * e.p AS
            DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS inflow
          FROM edges e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
        r3 AS (
          SELECT n.node, 0.15 / CAST(nn.n_nodes AS DOUBLE) +
            0.85 * COALESCE(i.inflow, 0.0) AS r
          FROM nodes n CROSS JOIN nn LEFT JOIN i3 i USING (node)),
        i4 AS (
          SELECT e.dst AS node, CAST(CAST(SUM(CAST(r.r * e.p AS
            DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS inflow
          FROM edges e JOIN r3 r ON e.src = r.node GROUP BY e.dst),
        r4 AS (
          SELECT n.node, 0.15 / CAST(nn.n_nodes AS DOUBLE) +
            0.85 * COALESCE(i.inflow, 0.0) AS r
          FROM nodes n CROSS JOIN nn LEFT JOIN i4 i USING (node)),
        i5 AS (
          SELECT e.dst AS node, CAST(CAST(SUM(CAST(r.r * e.p AS
            DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS inflow
          FROM edges e JOIN r4 r ON e.src = r.node GROUP BY e.dst),
        r5 AS (
          SELECT n.node, 0.15 / CAST(nn.n_nodes AS DOUBLE) +
            0.85 * COALESCE(i.inflow, 0.0) AS r
          FROM nodes n CROSS JOIN nn LEFT JOIN i5 i USING (node))
        SELECT node, ROUND(r, 9) AS rank
        FROM r5 ORDER BY rank DESC, node""")),

    // DEGREE DISTRIBUTION (log₂-binned) — the scout diagnostic run
    // BEFORE the q120/q173 graph jobs: the degree histogram tells you
    // whether the graph is skew-dominated (a heavy-tail bucket means
    // the wedge join needs degree orientation and the inflow agg needs
    // salting). Degrees come from one map-side-combined distinct-count
    // per node; the histogram bins that |nodes|-row frame by
    // floor(log₂(deg))+1 computed PORTABLY as the binary-string length
    // (Spark `bin()`, DuckDB `FORMAT('{:b}')` — no float log at a
    // power-of-two boundary can disagree). Nothing beyond the
    // |nodes|-row degree frame ever shuffles.
    Q("q193_degree_histogram",
      (s, d) => {
        val deg = t(s, d, "lineitem")
          .groupBy(col("l_suppkey").as("node"))
          .agg(countDistinct(col("l_partkey")).as("deg"))
        deg
          .select(col("deg"), length(bin(col("deg"))).cast("int").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_nodes"),
            min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"),
            sum(col("deg")).cast("long").as("sum_deg"))
          .orderBy("bucket")
      },
      Some("""
        WITH deg AS (
          SELECT l_suppkey AS node, COUNT(DISTINCT l_partkey) AS deg
          FROM lineitem GROUP BY 1),
        b AS (SELECT deg, LENGTH(FORMAT('{:b}', deg)) AS bucket FROM deg)
        SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n_nodes,
          CAST(MIN(deg) AS BIGINT) AS min_deg,
          CAST(MAX(deg) AS BIGINT) AS max_deg,
          CAST(SUM(deg) AS BIGINT) AS sum_deg
        FROM b GROUP BY 1 ORDER BY 1""")),

    // BFS HOP DISTANCE — the traversal member of the graph family
    // (q120 ranks, q77/q173 cluster/count; this one answers "how far"):
    // min-hop levels from a seed set over the bipartite
    // customer↔supplier graph, frontier-at-a-time — each round is ONE
    // equi join frontier×edges plus an anti join against the reached
    // set, the textbook Pregel superstep as plain DataFrame algebra.
    // Scale shape: the edge frame is checkpointed once (q120's
    // discipline — without it round k re-derives edges from the raw
    // fact scan k times); every round's frontier and the accumulated
    // reached set are checkpointed too, so lineage stays O(1) across
    // rounds instead of doubling (the classic iterative-plan blowup).
    // Rounds are FIXED at 6: bounded-depth BFS is the production form
    // (reachability queries cap hops), and a fixed bound keeps the
    // plan count deterministic for the bench. The oracle is a DuckDB
    // RECURSIVE CTE under UNION (not UNION ALL) semantics — the
    // accumulated-dedup that makes the recursion enumerate (node,
    // level) pairs instead of exponentially many paths — then MIN(lvl)
    // per node: two independent BFS engines compared row-for-row.
    Q("q266_bfs_reachability",
      (s, d) => {
        // long node ids inside the frontier loop (even = customer 2k,
        // odd = supplier 2k+1; q274's device — guide §2.3 narrower
        // types): every round joins and dedups the frontier against the
        // full edge frame, and 16-byte rows shuffle/hash far cheaper
        // than UTF8 keys. The id mapping is injective, so frontier
        // sets and levels are identical; strings are reconstructed only
        // at the output boundary. Checkpoints are LAZY (lineage still
        // severed, but no per-round materialization barrier).
        val pairs = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sp"),
            col("o_custkey").as("ck"))
          .distinct()
        val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
          .unionByName(pairs.select(col("sp").as("src"), col("c").as("dst")))
          .distinct().localCheckpoint(false)
        var reached = pairs.filter(col("ck") % 97 === 0)
          .select(col("c").as("node")).distinct()
          .select(col("node"), lit(0L).as("lvl")).localCheckpoint(false)
        var frontier = reached
        for (i <- 1 to 6) {
          val next = frontier.join(edges,
              frontier("node") === edges("src"))
            .select(col("dst").as("node")).distinct()
            .join(reached.select("node"), Seq("node"), "left_anti")
            .select(col("node"), lit(i.toLong).as("lvl"))
            .localCheckpoint(false)
          reached = reached.unionByName(next).localCheckpoint(false)
          frontier = next
        }
        reached
          .select(concat(when(col("node") % 2 === 0, "c").otherwise("s"),
            shiftright(col("node"), 1)).as("node"), col("lvl"))
          .orderBy("node")
      },
      Some("""
        WITH RECURSIVE
        pairs AS (
          SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (
          SELECT 'c' || ck AS src, 's' || sk AS dst FROM pairs
          UNION
          SELECT 's' || sk, 'c' || ck FROM pairs),
        bfs AS (
          SELECT DISTINCT 'c' || ck AS node, 0 AS lvl
          FROM pairs WHERE ck % 97 = 0
          UNION
          SELECT e.dst, b.lvl + 1 FROM bfs b
          JOIN edges e ON e.src = b.node WHERE b.lvl < 6)
        SELECT node, CAST(MIN(lvl) AS BIGINT) AS lvl
        FROM bfs GROUP BY node ORDER BY node""")),

    // K-CORE PEELING — the density member of the graph family (q120
    // ranks, q266 traverses, q77/q173 cluster/count; this one answers
    // "which nodes sit in a dense core"): repeatedly delete nodes of
    // degree < K until the survivor set is stable, the standard
    // prefilter before community detection and the fraud-analytics
    // "dense subgraph" primitive. K is DATA-ADAPTIVE: floor(E / 2N) =
    // half the average degree, the largest threshold that is PROVABLY
    // non-vacuous (every graph contains a subgraph of min degree
    // >= half its average degree, so the K-core is nonempty at every
    // scale factor — a fixed K empties the sparse smoke graph or
    // trivializes the dense bench one). K arrives as a 1-row broadcast
    // (the O5 pattern, no driver collect). Rounds are FIXED at 6
    // (q266's discipline): each round is ONE map-side-combined degree
    // count plus TWO semi joins filtering the edge list to surviving
    // endpoints, with edges and survivors localCheckpoint-ed per round
    // so lineage stays O(1) instead of doubling. The oracle unrolls the
    // identical 6 peels as chained CTEs — two independent peeling
    // engines, compared row-for-row on the (survivor, residual-degree)
    // frame. Each eN is read twice (by kN+1 and eN+1), so every CTE is
    // MATERIALIZED: inlined, the chain re-expands into exponentially
    // many copies and DuckDB runs out of memory even at sf0.001.
    Q("q274_kcore",
      (s, d) => {
        // node ids are LONGS inside the loop (even = customer 2k, odd =
        // supplier 2k+1) and become the 'c<k>'/'s<k>' strings only at
        // the output boundary — guide §2.3 "narrower types": every one
        // of the 6 peel rounds exchanges the full edge frame, and a
        // 16-byte (long,long) row shuffles, hashes and compares several
        // times cheaper than two UTF8 strings. distinct() on the id
        // pair is distinct() on the string pair (the mapping is
        // injective), so the survivor set — and the emitted rows — are
        // byte-identical to the string form the oracle replays.
        val pairs = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sp"))
          .distinct()
        var edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
          .unionByName(pairs.select(col("sp").as("src"), col("c").as("dst")))
          .localCheckpoint(false)
        val kf = edges
          .agg((count(lit(1)) / (countDistinct(col("src")) * 2))
            .cast("long").as("k"))
          .localCheckpoint(false)
        for (_ <- 1 to 6) {
          val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .crossJoin(broadcast(kf))
            .filter(col("deg") >= col("k"))
            .select(col("src").as("node"))
          // dst-semi FIRST, src-semi LAST: the semi joins commute, and
          // ending the round partitioned by src lets the next round's
          // groupBy(src) (and the next src-semi probe) reuse the
          // checkpointed partitioning instead of paying a fresh
          // full-edge exchange (guide §2.4: two operations keyed the
          // same way share one exchange). Both semi joins probe the SAME
          // `keep` frame — joining it unprojected (the rename used to
          // live in a select) keeps the two broadcast subtrees
          // canonically identical, so the second join reuses the first's
          // BroadcastExchange instead of rebuilding it
          edges = edges
            .join(keep, col("dst") === col("node"), "left_semi")
            .join(keep, col("src") === col("node"), "left_semi")
            .localCheckpoint(false)
        }
        edges.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"))
          .select(concat(when(col("id") % 2 === 0, "c").otherwise("s"),
            shiftright(col("id"), 1)).as("node"), col("deg"))
          .orderBy("node")
      },
      Some("""
        WITH pairs AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e0 AS MATERIALIZED (
          SELECT 'c' || ck AS src, 's' || sk AS dst FROM pairs
          UNION ALL
          SELECT 's' || sk, 'c' || ck FROM pairs),
        kth AS MATERIALIZED (
          SELECT COUNT(*) // (2 * COUNT(DISTINCT src)) AS k FROM e0),
        k1 AS MATERIALIZED (SELECT src FROM e0 GROUP BY src
          HAVING COUNT(*) >= (SELECT k FROM kth)),
        e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
          WHERE e.src IN (SELECT src FROM k1)
            AND e.dst IN (SELECT src FROM k1)),
        k2 AS MATERIALIZED (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= (SELECT k FROM kth)),
        e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e
          WHERE e.src IN (SELECT src FROM k2)
            AND e.dst IN (SELECT src FROM k2)),
        k3 AS MATERIALIZED (SELECT src FROM e2 GROUP BY src HAVING COUNT(*) >= (SELECT k FROM kth)),
        e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e
          WHERE e.src IN (SELECT src FROM k3)
            AND e.dst IN (SELECT src FROM k3)),
        k4 AS MATERIALIZED (SELECT src FROM e3 GROUP BY src HAVING COUNT(*) >= (SELECT k FROM kth)),
        e4 AS MATERIALIZED (SELECT e.src, e.dst FROM e3 e
          WHERE e.src IN (SELECT src FROM k4)
            AND e.dst IN (SELECT src FROM k4)),
        k5 AS MATERIALIZED (SELECT src FROM e4 GROUP BY src HAVING COUNT(*) >= (SELECT k FROM kth)),
        e5 AS MATERIALIZED (SELECT e.src, e.dst FROM e4 e
          WHERE e.src IN (SELECT src FROM k5)
            AND e.dst IN (SELECT src FROM k5)),
        k6 AS MATERIALIZED (SELECT src FROM e5 GROUP BY src HAVING COUNT(*) >= (SELECT k FROM kth)),
        e6 AS MATERIALIZED (SELECT e.src, e.dst FROM e5 e
          WHERE e.src IN (SELECT src FROM k6)
            AND e.dst IN (SELECT src FROM k6))
        SELECT src AS node, COUNT(*) AS deg
        FROM e6 GROUP BY src ORDER BY node""")),

    // LABEL-PROPAGATION COMMUNITIES — the community-detection member of
    // the graph family: every node starts as its own community and each
    // round adopts the most frequent label among its neighbors, the
    // near-linear-time LPA baseline. Plain LPA is notoriously
    // nondeterministic (update order + tie coin flips); this is the
    // SEMI-SYNCHRONOUS, totally-ordered form — all nodes update together
    // from the previous round's labels, ties break (count desc, label
    // asc) — so the fixed 4-round run is a pure function of the graph
    // and the oracle can replay it as four unrolled rounds. Scale shape
    // per round: ONE equi join labels×edges (both hash-partitioned on
    // the node key) + ONE map-side-combined (node,label) count + ONE
    // top-1-per-node window over the count frame, with the label frame
    // checkpointed per round (q120/q266 lineage discipline). The output
    // groups nodes into their 4-round community with its size — the
    // frame a downstream dedup/curation job consumes.
    Q("q277_label_propagation",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // The tie-break (count desc, label ASC) and min/max(node) are in
        // STRING order, which is why r16 left this loop on UTF8 keys. The
        // loop now runs on an ORDER-PRESERVING long code instead (guide
        // §2.3 narrower types: 4 rounds x one 1.1M-row exchange of string
        // pairs was the byte cost): enc('c'|k) = prefixBit·2^60 +
        // (k·10^(15−digits))·16 + digits. Lexicographic order of 'c…'/'s…'
        // digit strings (no leading zeros) equals order by (prefix,
        // left-aligned mantissa, length) — a prefix-shorter string sorts
        // first exactly when lengths break the mantissa tie — so every
        // comparison, min/max and row_number tie inside the loop is
        // bit-identical to the string form, and dec(enc(x)) = x
        // reconstructs the exact strings at the output boundary.
        import org.apache.spark.sql.Column
        def enc(pfx: Long, k: Column): Column = {
          val len = length(k.cast("string")).cast("long")
          lit(pfx << 60) +
            (k.cast("long") *
              pow(lit(10.0), lit(15L) - len).cast("long")) * 16 + len
        }
        def dec(c: Column): Column = {
          val rest = c.bitwiseAND(lit((1L << 60) - 1))
          val len = rest.bitwiseAND(lit(15L))
          val v = (shiftright(rest, 4).cast("double") /
            pow(lit(10.0), lit(15L) - len)).cast("long")
          concat(when(c >= lit(1L << 60), lit("s")).otherwise(lit("c")),
            v.cast("string"))
        }
        val pairs = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(enc(0L, col("o_custkey")).as("c"),
            enc(1L, col("l_suppkey")).as("sp"))
          .distinct()
        val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
          .unionByName(pairs.select(col("sp").as("src"), col("c").as("dst")))
          .localCheckpoint(false)
        var labels = edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("lab")).localCheckpoint(false)
        for (_ <- 1 to 4) {
          val w = Window.partitionBy("node")
            .orderBy(desc("cnt"), col("lab"))
          labels = edges
            .join(labels.select(col("node").as("src"), col("lab")),
              Seq("src"))
            .groupBy(col("dst").as("node"), col("lab"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
            .select(col("node"), col("lab"))
            .localCheckpoint(false)
        }
        labels.groupBy("lab")
          .agg(count(lit(1)).as("size"),
            min(col("node")).as("first_node"),
            max(col("node")).as("last_node"))
          .select(dec(col("lab")).as("lab"), col("size"),
            dec(col("first_node")).as("first_node"),
            dec(col("last_node")).as("last_node"))
          .orderBy(desc("size"), col("lab"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (
          SELECT 'c' || ck AS src, 's' || sk AS dst FROM pairs
          UNION ALL
          SELECT 's' || sk, 'c' || ck FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
        l1 AS (
          SELECT node, lab FROM (
            SELECT e.dst AS node, l.lab, COUNT(*) AS cnt,
              ROW_NUMBER() OVER (PARTITION BY e.dst
                ORDER BY COUNT(*) DESC, l.lab) AS rk
            FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2)
          WHERE rk = 1),
        l2 AS (
          SELECT node, lab FROM (
            SELECT e.dst AS node, l.lab, COUNT(*) AS cnt,
              ROW_NUMBER() OVER (PARTITION BY e.dst
                ORDER BY COUNT(*) DESC, l.lab) AS rk
            FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2)
          WHERE rk = 1),
        l3 AS (
          SELECT node, lab FROM (
            SELECT e.dst AS node, l.lab, COUNT(*) AS cnt,
              ROW_NUMBER() OVER (PARTITION BY e.dst
                ORDER BY COUNT(*) DESC, l.lab) AS rk
            FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2)
          WHERE rk = 1),
        l4 AS (
          SELECT node, lab FROM (
            SELECT e.dst AS node, l.lab, COUNT(*) AS cnt,
              ROW_NUMBER() OVER (PARTITION BY e.dst
                ORDER BY COUNT(*) DESC, l.lab) AS rk
            FROM edges e JOIN l3 l ON e.src = l.node GROUP BY 1, 2)
          WHERE rk = 1)
        SELECT lab, COUNT(*) AS size,
          MIN(node) AS first_node, MAX(node) AS last_node
        FROM l4 GROUP BY lab ORDER BY size DESC, lab""")),

    // RANDOM-WALK CORPUS GENERATION — the graph→training-data bridge
    // (DeepWalk/node2vec's first stage): emit fixed-length walks whose
    // token sequences feed a skip-gram trainer exactly like document
    // text feeds an LM. The walk is DETERMINISTIC-SEEDED, the only form
    // a hash-gated pipeline can ship: step t from node v picks neighbor
    // index md5(walk_id|t) mod degree(v) — the q264 md5→integer device,
    // bit-equal in both engines — over a PRECOMPUTED neighbor index
    // (row_number per src, the one window, partitioned by node). Each
    // of the 8 steps is then ONE broadcast-sized equi join of the walk
    // frontier against the (src, idx)-keyed neighbor frame: at 100 TB
    // the neighbor index is the big side, hash-partitioned on src, and
    // the frontier stays |seeds| rows — walks never materialize paths
    // quadratically. The oracle replays the identical walk as a
    // recursive CTE. Walk determinism doubles as replayability — the
    // property production samplers give up and this one keeps.
    Q("q280_random_walks",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("c"),
            concat(lit("s"), col("l_suppkey")).as("sp"),
            col("o_custkey").as("ck"))
          .distinct()
        val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
          .unionByName(pairs.select(col("sp").as("src"), col("c").as("dst")))
          .distinct()
        // degree rides ON the neighbor index (one window pass computes
        // both), so the pick needs NO second frame: each step is ONE
        // broadcast equi join frontier×nbr on node = nsrc with the md5
        // pick as the residual `pick % deg = idx` — deg is constant per
        // src, so the residual selects exactly the row the old two-join
        // form (frontier→deg for the pick, then (node, pick)→(nsrc, idx))
        // selected, and the per-step job count halves: the separate deg
        // frame, its checkpoint, and the second broadcast exchange are
        // gone (guide §1.2/§2.4 — fixed per-round cost dominated this
        // query, not bytes)
        val nbr = edges
          .withColumn("idx", row_number().over(Window.partitionBy("src")
            .orderBy("dst")).cast("long") - 1)
          .withColumn("deg", count(lit(1))
            .over(Window.partitionBy("src")).cast("long"))
          .select(col("src").as("nsrc"), col("idx"), col("deg"), col("dst"))
          .localCheckpoint(false)
        val seeds = pairs.filter(col("ck") % 101 === 0)
          .select(col("c").as("node")).distinct()
        var cur = seeds.select(col("node").as("walk_id"),
          lit(0L).as("step"), col("node"))
        var out = cur
        for (t <- 1 to 8) {
          // the frontier is |seeds|-sized — BROADCAST it so the 1M-row
          // neighbor index is only ever STREAMED in place, never
          // reshuffled per step (8 steps x full-index exchange was the
          // first version's cost). The md5 is a projected column on the
          // frontier side, so it still evaluates ONCE per walk row; the
          // per-candidate residual is a single modulo
          val hashed = cur.withColumn("h", expr(
            s"cast(conv(substring(md5(concat(walk_id, '|', $t)), 1, 13), " +
              "16, 10) as bigint)"))
          cur = nbr.join(broadcast(hashed),
              col("node") === col("nsrc") &&
                col("idx") === col("h") % col("deg"))
            .select(col("walk_id"), lit(t.toLong).as("step"),
              col("dst").as("node"))
            .localCheckpoint(false) // sever per-step lineage: without this the
            // final union re-runs step k's join once per later branch
          out = out.unionByName(cur)
        }
        out.orderBy("walk_id", "step")
      },
      Some("""
        WITH RECURSIVE pairs AS (
          SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT 'c' || ck AS src, 's' || sk AS dst FROM pairs
            UNION ALL
            SELECT 's' || sk, 'c' || ck FROM pairs)),
        nbr AS (
          SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY dst) - 1 AS idx
          FROM edges),
        deg AS (SELECT src, COUNT(*) AS deg FROM nbr GROUP BY src),
        seeds AS (
          SELECT DISTINCT 'c' || ck AS node FROM pairs WHERE ck % 101 = 0),
        walks AS (
          SELECT node AS walk_id, 0 AS step, node FROM seeds
          UNION ALL
          SELECT w.walk_id, w.step + 1, n.dst
          FROM walks w
          JOIN deg d ON d.src = w.node
          JOIN nbr n ON n.src = w.node AND n.idx =
            CAST(LIST_REDUCE(LIST_TRANSFORM(
              SPLIT(SUBSTRING(MD5(w.walk_id || '|' || (w.step + 1)), 1, 13),
                ''),
              x -> CAST(POSITION(x IN '0123456789abcdef') - 1 AS BIGINT)),
              (a, x) -> a * 16 + x) AS BIGINT) % d.deg
          WHERE w.step < 8)
        SELECT walk_id, CAST(step AS BIGINT) AS step, node
        FROM walks ORDER BY walk_id, step"""))
  )
}
