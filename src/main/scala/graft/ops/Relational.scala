package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Reusable relational operators re-expressing the reference's recurring
  * dataflow idioms Spark-first (citations are file:line in /root/reference).
  *
  * Everything here is a pure `DataFrame => DataFrame` combinator so it
  * composes into the [[graft.graph]] DAG and works identically in batch and
  * (where Spark supports it) streaming mode.
  */
object Relational {

  /** CDC upsert — keep the latest row per key ordered by `seq` descending,
    * with `tieBreak` columns making the order total (deterministic under
    * shuffled arrival). Re-expresses DLT `apply_changes(keys, sequence_by)`
    * (zetaflex-pipeline.py:138–151, zetadex-referrals-pipeline.py:138–152).
    *
    * Batch form: one hash-partition shuffle on `keys`, then a per-partition
    * sort — no global sort, scales linearly with data / executors. The
    * streaming form lives in [[graft.streaming.StreamingOps.applyChangesStream]].
    */
  def applyChanges(keys: Seq[String], seq: Column, tieBreak: Seq[Column] = Nil)(
      df: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((seq.desc +: tieBreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup on key columns, deterministic: keeps the row with the
    * smallest `keep` value per key (unlike `dropDuplicates`, whose survivor
    * is arbitrary — the reference hit this as "super RAM intensive"
    * streaming dedup, zetadex-transactions-helius-pipeline.py:354).
    */
  def dedupeExact(keys: Seq[String], keep: Column)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(keep.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Dense time spine: one row per `step` between the min and max of `ts`
    * (inclusive), as the reference builds hour spines via
    * `explode(sequence(min, max, interval 1 hour))`
    * (zetadex-transactions-helius-pipeline.py:837–840,
    * zetadex-mm-uptime-pipeline-v3.sql:102).
    *
    * The min/max scan aggregates to one row (cheap at any scale); the spine
    * itself is generated, not shuffled.
    */
  def timeSpine(df: DataFrame, ts: Column, step: String = "interval 1 hour",
                alias: String = "spine_ts"): DataFrame =
    df.agg(min(ts).as("mn"), max(ts).as("mx"))
      .select(explode(expr(s"sequence(mn, mx, $step)")).as(alias))

  /** Densify facts onto a spine × dimension grid, null-filling gaps —
    * the spine-crossJoin-fillna idiom of
    * zetadex-transactions-helius-pipeline.py:840–842.
    * `dims` must be small (it is crossed with the spine); facts join back
    * on spine+dim keys.
    */
  def densify(spine: DataFrame, dims: DataFrame, facts: DataFrame,
              joinKeys: Seq[String], fill: Map[String, Any]): DataFrame = {
    val grid = spine.crossJoin(broadcast(dims))
    grid.join(facts, joinKeys, "left").na.fill(fill)
  }

  /** Rollup over one dimension with the grouping-null relabelled to a
    * sentinel total bucket — the ALL_ASSETS idiom
    * (zetadex-serving-v2.py:623–631, zetadex-serving.py:483–489).
    */
  def rollupWithAll(dim: String, all: String, aggs: Seq[Column])(
      df: DataFrame): DataFrame =
    df.rollup(col(dim))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(dim, coalesce(col(dim), lit(all)))

  /** Wide→long unpivot of metric columns into (metric, value) rows —
    * the leaderboard reshape loop of zetadex-serving-v2.py:510–554,
    * expressed with the codegen'd `stack` generator instead of a
    * union-per-metric loop (one pass over the data, no N× rescans).
    */
  def unpivotMetrics(idCols: Seq[String], metricCols: Seq[String],
                     metricName: String = "metric",
                     valueName: String = "value")(df: DataFrame): DataFrame = {
    val stackArgs = metricCols
      .map(m => s"'$m', cast(`$m` as double)")
      .mkString(", ")
    df.select(
      idCols.map(col) :+
        expr(s"stack(${metricCols.size}, $stackArgs) as ($metricName, $valueName)"): _*)
  }

  /** Rename every column to camelCase — the serving-layer convention
    * (zetadex-serving.py:18–22, applied at :357). One `select` with
    * aliases: a per-column `withColumnRenamed` fold costs one analysis
    * pass per column on a wide serving frame. */
  def camelCaseAll(df: DataFrame): DataFrame = {
    def toCamel(s: String): String = {
      val parts = s.split("_").filter(_.nonEmpty)
      if (parts.isEmpty) s
      else (parts.head +: parts.tail.map(p => s"${p.head.toUpper}${p.tail}"))
        .mkString
    }
    df.select(df.columns.map(c => col(s"`$c`").as(toCamel(c))).toIndexedSeq: _*)
  }

  /** `withColumn` for several columns in one `select`: a column of `df`
    * named in `cols` is replaced in place, the others are appended in
    * `cols` order. Every expression sees `df`'s columns, not each
    * other's — one select per dependency level, and one analysis pass
    * instead of one per column. */
  def setColumns(df: DataFrame, cols: (String, Column)*): DataFrame = {
    val set = cols.toMap
    val names = df.columns.toSeq
    df.select(names.map(c => set.get(c).fold(col(s"`$c`"))(_.as(c))) ++
      cols.filterNot(c => names.contains(c._1)).map { case (n, e) => e.as(n) }: _*)
  }

  /** Composite KV sort key `a#b#c` for key-value serving
    * (zetadex-serving-v2.py:352–355 `concat_ws("#", unix_ts, asset)`). */
  def kvSortKey(cols: Column*): Column = concat_ws("#", cols: _*)

  /** Fixed-point decode: on-chain u64 → double via a power-of-ten factor
    * (PRICE_FACTOR/SIZE_FACTOR, zetadex-transactions-helius-pipeline.py:20–21,
    * applied :487–488, :690–694). */
  def fixedPoint(c: Column, factor: Double): Column = c.cast("double") / factor

  /** Weekly reward epoch anchored at Friday 08:00 UTC:
    * `date_trunc('week', ts - 104h) + 104h`
    * (zetadex-transactions-helius-pipeline.py:715–718). */
  def epochOf(ts: Column): Column =
    date_trunc("week", ts - expr("interval 104 hours")) + expr("interval 104 hours")

  /** Seconds-since-epoch as a long (floor) — canonical order key for
    * trailing range windows (zetadex-transactions-helius-pipeline.py:845–853).
    */
  def unixSeconds(ts: Column): Column = unix_timestamp(ts)

  /** Trailing event-time range window of `seconds` (inclusive bounds),
    * partitioned by `keys`, ordered by floor-seconds of `ts` — the 24h/7d/30d
    * rolling metric idiom (zetadex-transactions-helius-pipeline.py:845–853,
    * :1487–1501, :1891–1895).
    */
  def trailingWindow(keys: Seq[String], ts: Column, seconds: Long)
      : org.apache.spark.sql.expressions.WindowSpec =
    Window
      .partitionBy(keys.map(col): _*)
      .orderBy(unixSeconds(ts).cast(LongType))
      .rangeBetween(-seconds, 0)

  /** Deterministic sampling — the engine's replacement for the
    * reference's `rand(seed=42)` (madwars-pipeline.py:60), whose output
    * depends on partitioning and so is not stable under retry, AQE
    * re-planning, or engine comparison. Keeps a row iff the md5 hex of
    * its key is below a hex-prefix threshold: `sixteenths/16` of the
    * keyspace, exactly and reproducibly on any engine.
    */
  def deterministicSample(keyCol: Column, sixteenths: Int)(
      df: DataFrame): DataFrame = {
    require(sixteenths >= 0 && sixteenths <= 16)
    if (sixteenths == 16) df
    else df.filter(md5(keyCol.cast("string")) < lit(f"$sixteenths%x"))
  }

  /** The deterministic salt in [0, nSalts) that [[saltedJoin]] appends to
    * the skewed side's join key — exposed so the shuffle-shape spec
    * (OpsScaleSpec) asserts on the PRODUCT expression, not a copy. */
  def saltCol(saltSource: Column, nSalts: Int): Column =
    pmod(xxhash64(saltSource), lit(nSalts))

  /** Salted equi-join for skewed keys: the left (large, skewed) side gets
    * a deterministic salt derived from `saltSource` (use a high-cardinality
    * column — never rand(), which breaks retry/replay determinism); the
    * right side is replicated across all salt values. Complements AQE's
    * runtime skew-join splitting when the skew is known up front (e.g. a
    * hot market or a null-heavy key at 100 TB).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltSource: Column, nSalts: Int,
                 joinType: String = "inner"): DataFrame = {
    val l = left.withColumn("__salt", saltCol(saltSource, nSalts))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(nSalts - 1L))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Binned interval-overlap join — the engine's replacement for the
    * Databricks-only `RANGE_JOIN` hint (zetadex-mm-uptime-pipeline-v2
    * .sql:38, :111): intervals are exploded onto fixed time bins of
    * `binSeconds`, joined as an equi-join on (equiKeys, bin), and the
    * residual overlap predicate `l.start < r.end AND l.end > r.start` is
    * applied after. Each overlapping pair is emitted exactly once — only
    * in the bin containing `greatest(l.start, r.start)` — so no distinct
    * pass is needed.
    *
    * Scale: turns the quadratic theta join (BroadcastNestedLoopJoin in
    * OSS Spark) into a shuffled hash join whose cost is
    * O(rows × interval/binSeconds + true matches). Pick binSeconds near
    * the typical interval length.
    */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
                      lStart: Column, lEnd: Column,
                      rStart: Column, rEnd: Column,
                      equiKeys: Seq[String], binSeconds: Long): DataFrame = {
    def binned(df: DataFrame, s: Column, e: Column): DataFrame =
      df.withColumn("__bin", explode(sequence(
        (unix_timestamp(s) / binSeconds).cast(LongType),
        (unix_timestamp(e) / binSeconds).cast(LongType))))
    val lb = binned(left, lStart, lEnd)
    val rb = binned(right, rStart, rEnd)
    lb.join(rb, equiKeys :+ "__bin")
      .filter(lStart < rEnd && lEnd > rStart)
      .filter(col("__bin") ===
        (greatest(unix_timestamp(lStart), unix_timestamp(rStart)) / binSeconds)
          .cast(LongType))
      .drop("__bin")
  }

  /** 2-D skyline (Pareto frontier): rows not dominated by any other —
    * dominance = `minCol` ≤ and `maxCol` ≥ with at least one strict.
    * Equal (minCol, maxCol) pairs all survive (neither dominates).
    *
    * Scale shape (no all-pairs join, no fact-frame global sort): the
    * DISTINCT-minCol dictionary is bucketed monotonically via
    * [[ntileByCdf]] (equal values share a bucket, so a lower bucket is
    * a strictly smaller value); per (bucket, value) group-max of
    * `maxCol`; a bucket-PARTITIONED running max covers same-bucket
    * strictly-smaller values and a `buckets`-row prefix frame, broadcast
    * back, covers lower buckets. A row is on the frontier iff it holds
    * its value's group max and beats the combined strictly-lower-value
    * max. Frontier size of random data is O(log n) — metadata-scale
    * output from any input. `minCol`/`maxCol` must be column names.
    */
  def paretoFrontier2d(df: DataFrame, minCol: String, maxCol: String,
                       buckets: Int = 32): DataFrame = {
    val vals = df.select(col(minCol).as("__v")).distinct()
    val bucketedVals = ntileByCdf(vals, col("__v"), col("__v"), buckets,
      "__bkt")
    // NO broadcast hint on the dictionary joins: for a CONTINUOUS
    // high-cardinality minCol the distinct-value frame is ~fact-sized
    // and a forced broadcast would OOM the driver at real scale — let
    // AQE size-gate the strategy at runtime (it picks broadcast when
    // the dictionary is actually small, the common case). Only `bPrev`
    // below is hint-broadcast: it is ≤ `buckets` rows by construction.
    val keyed = df.withColumn("__v", col(minCol))
      .join(bucketedVals, "__v")
    val g = keyed.groupBy(col("__bkt"), col("__v"))
      .agg(max(col(maxCol)).as("__gmax"))
    val inPrev = Window.partitionBy("__bkt").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val gg = g.withColumn("__inprev", max(col("__gmax")).over(inPrev))
    val bPrev = g.groupBy(col("__bkt")).agg(max(col("__gmax")).as("__bmax"))
      // `buckets`-row frame: the only unpartitioned window
      .withColumn("__crossmax", max(col("__bmax")).over(
        Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__bkt"), col("__crossmax"))
    val dom = gg.join(broadcast(bPrev), "__bkt")
      .withColumn("__prevmax",
        greatest(coalesce(col("__inprev"), lit(Long.MinValue)),
          coalesce(col("__crossmax"), lit(Long.MinValue))))
      .select(col("__bkt"), col("__v"), col("__gmax"), col("__prevmax"))
    keyed.join(dom, Seq("__bkt", "__v"))
      .filter(col(maxCol) === col("__gmax") &&
        col(maxCol) > col("__prevmax"))
      .drop("__v", "__bkt", "__gmax", "__prevmax")
  }

  /** Exact `NTILE(k) OVER (ORDER BY key, tie)` WITHOUT a global sort of
    * the fact frame — the scale-safe replacement for
    * `ntile(k).over(Window.orderBy(...))`, whose executed plan moves
    * every row to ONE partition (the single-partition-WindowExec
    * scale killer flagged on q107/q167 in round 10).
    *
    * Device (the q138/q190 CDF shape): (1) the per-key frequency frame
    * (map-side-combined groupBy — |distinct keys| rows, orders of
    * magnitude below the fact count); (2) a running below-count over
    * THAT bounded frame (the only global window, never fact-sized);
    * (3) equi-join the below-counts back and compute each row's exact
    * global rank row-locally as `below(key) + row_number within key`
    * (the within-key window partitions on the key — scale-safe);
    * (4) the closed-form NTILE bucket from (rank, n, k): the first
    * `n mod k` buckets take `⌈n/k⌉` rows, the rest `⌊n/k⌋` — identical
    * output to SQL NTILE, including tie-breaks, verified against the
    * DuckDB NTILE oracle on q107/q167.
    *
    * `tie` must make the within-key order total (a unique id column),
    * exactly as SQL NTILE needs a total ORDER BY for determinism.
    */
  def ntileByCdf(df: DataFrame, key: Column, tie: Column, k: Int,
                 bucketName: String = "bucket"): DataFrame = {
    require(k > 0, "ntileByCdf: k must be positive")
    // The repartition on the freshly-computed key is load-bearing twice
    // over: (1) it MATERIALIZES `key` behind one exchange, so an
    // expensive key expression (q167's 40-step unrolled Hilbert chain)
    // is evaluated once in the map stage instead of being re-inlined
    // into the frequency aggregate, the join keys, and the window sort
    // — without it the generated code repeats the full chain per
    // operator and Janino compile time dominates (measured: q167
    // 22 s → sub-second, the q158 lesson again); (2) the frequency
    // aggregate, the below-count join, and the within-key window all
    // consume this same hash partitioning, so the fact frame shuffles
    // exactly once.
    val keyed = df.withColumn("__k", key).repartition(col("__k"))
    val freq = keyed.groupBy(col("__k")).agg(count(lit(1)).as("__c"))
    val below = freq
      .withColumn("__below", coalesce(
        sum(col("__c")).over(Window.orderBy(col("__k"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__k"), col("__below"))
    val total = freq.agg(sum(col("__c")).as("__n"))
    // exact floor division for non-negative longs below 2^53 (row
    // counts — 100 TB is ~1e12 rows, 3 orders of magnitude of headroom)
    def fdiv(a: Column, b: Column): Column = floor(a / b).cast(LongType)
    val rank = (col("__below") +
      row_number().over(Window.partitionBy(col("__k")).orderBy(tie)))
      .cast(LongType)
    val kL = lit(k.toLong)
    val qv = fdiv(col("__n"), kL)
    val rem = col("__n") - qv * kL
    val bucket = when(rank <= rem * (qv + lit(1L)),
      fdiv(rank - 1, qv + lit(1L)) + lit(1L))
      .otherwise(rem + fdiv(rank - lit(1L) - rem * (qv + lit(1L)), qv)
        + lit(1L))
    // null-SAFE equi join: a nullable key's null group must keep its
    // rows (a plain equi join would silently drop them and shrink n).
    // Null PLACEMENT follows Spark's ascending default — NULLS FIRST,
    // bucket 1 — which differs from DuckDB/Postgres NTILE's default
    // NULLS LAST; a gated query over a nullable key must ORDER BY
    // key NULLS FIRST in its oracle (no current gated caller has
    // nullable keys)
    val below2 = below.withColumnRenamed("__k", "__k2")
    keyed
      .join(below2, col("__k") <=> col("__k2"))
      .crossJoin(broadcast(total))
      .withColumn(bucketName, bucket)
      .drop("__k", "__k2", "__below", "__n")
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node starts labeled with itself, and
    * each round takes the minimum label across itself and its neighbors,
    * until a fixpoint. Returns (node, component) where component is the
    * smallest node id reachable — the canonical survivor for a near-dup
    * cluster (the dedup composition the reference stops short of:
    * candidate PAIRS need a transitive closure before you can keep one
    * document per group).
    *
    * Scale shape: each round is one shuffled join + partial-min
    * aggregate over the edges, PLUS a pointer-jumping self-join on the
    * label table (`comp(x) ← comp(comp(x))`, path halving) — so
    * convergence is O(log longest-path), not O(diameter): a 10⁶-node
    * chain closes in ~20 rounds, far under `maxIter`. All rounds are
    * distributed; the driver only counts changed labels (a scalar) to
    * test convergence — no data is ever collected. `localCheckpoint`
    * cuts the growing lineage each round — without it, round k
    * re-analyzes a k-deep plan stack.
    */
  import Checkpoints.{checkpointTracked, releasePinned}

  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 50): DataFrame = {
    // Materialize the edge list ONCE before iterating: the edge input is
    // usually an expensive plan (a banded-LSH verify pipeline), and an
    // unmaterialized plan would be re-executed by every round's join AND
    // every convergence count.
    val (sym, symIds) = checkpointTracked(
      edges.select(col(src).as("nb"), col(dst).as("node"))
        .union(edges.select(col(dst).as("nb"), col(src).as("node"))))
    // initialization fuses the FIRST propagation round into the same
    // aggregation that discovers the node set: label = min(self, direct
    // neighbors). Pair/triangle components (the bulk of a near-dup
    // graph) then converge on the next round's no-change check.
    var (labels, labelIds) = checkpointTracked(
      sym.groupBy("node")
        .agg(least(col("node"), min(col("nb"))).as("comp")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("nb"), col("comp").as("nbc")), "nb")
        .groupBy("node").agg(min(col("nbc")).as("nbr"))
      val prop = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          col("comp").as("prev"))
      // pointer jump: follow the label one more hop through the label
      // table itself — halves every remaining path, turning chain
      // convergence from O(diameter) into O(log) rounds. The changed
      // flag rides inside the same checkpointed job, so the convergence
      // test is a count over materialized data, not another join.
      val (next, nextIds) = checkpointTracked(prop
        .join(prop.select(col("node").as("comp"), col("comp").as("jump")),
          Seq("comp"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"),
          col("prev"))
        .withColumn("chg", col("comp") =!= col("prev")))
      changed = next.filter(col("chg")).count()
      releasePinned(labels, labelIds) // superseded round: free its blocks
      labels = next.select("node", "comp")
      labelIds = nextIds
      iter += 1
    }
    releasePinned(sym, symIds) // the result depends only on its own
    labels                     // checkpoint, not the edge copy
  }

  /** Cumulative sum excluding the partition's FIRST row — the intent of
    * the reference's `rowsBetween(Window.unboundedPreceding + 1, 0)`
    * (madwars-pipeline.py:130–136, :243–247, "Need to make start
    * exclusive since net deposits are in between snapshots").
    *
    * The reference's construction is actually a no-op in its own engine:
    * ROWS-frame offsets are relative to the CURRENT row, not the
    * partition start, and PySpark clamps any start ≤ −(2⁶³−1) — which
    * `unboundedPreceding + 1` is — back to unboundedPreceding (Scala
    * Spark rejects the boundary outright, since a literal rows offset
    * must fit in an int). This combinator implements the documented
    * intent instead: Σ rows 2..current, i.e. the cumulative sum minus
    * the first row's value, and null on the first row itself (the SQL
    * empty-frame sum). Same single exchange + sort as the plain
    * cumulative window.
    */
  def cumulativeExclusiveOfFirst(keys: Seq[String], order: Seq[Column])(
      value: Column): Column = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    when(row_number().over(wOrd) === 1, lit(null))
      .otherwise(sum(value).over(wCum) - first(value).over(wCum))
  }

  /** Row-pattern matching (MATCH_RECOGNIZE / CEP-lite, q232): detect
    * every DOWN+ UP+ "V-shape" per key — a maximal strictly-falling run
    * immediately followed by a strictly-rising run, with total drop ≥
    * `minDrop`. Expects columns (key, ts, id, value); returns one row
    * per match: (key, drop, rise) with drop = down-run first − last and
    * rise = up-run last − the V's bottom. The lowering is the general
    * DOWN+ UP+ recipe: direction classify (one lag) → gaps-and-islands
    * run ids → per-run (dir, first, last) summaries via min_by/max_by
    * on the (ts, id) struct → ONE lead() adjacency over the runs frame.
    * Rows shrink from events to RUNS before the pattern phase, and
    * every window partitions by key — nothing global, nothing
    * quadratic. */
  def vshapeMatches(df: DataFrame, key: String, ts: String, id: String,
                    value: String, minDrop: Double): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts, id)
    // each row carries its PRE-delta value too: a run's rows are the
    // rows AFTER its deltas, so the run's true starting value (the
    // peak before the first falling step) lives in the first row's
    // `__prev`, not in any row's `value` — summarizing from `value`
    // alone under-measures every drop by its first step (caught by
    // PatternProperties' reference automaton)
    val dirs = df.select(col(key), col(ts), col(id), col(value))
      .withColumn("__prev", lag(value, 1).over(w))
      .withColumn("__dir", signum(col(value) - col("__prev")))
      .filter(col("__dir").isNotNull)
    val runs = dirs
      .withColumn("__brk",
        when(!(col("__dir") <=> lag("__dir", 1).over(w)), 1L).otherwise(0L))
      .withColumn("__run", sum("__brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agg = runs.groupBy(col(key), col("__run")).agg(
      max("__dir").as("__d"),
      expr(s"min_by(__prev, struct($ts, $id))").as("__vf"),
      expr(s"max_by($value, struct($ts, $id))").as("__vl"))
    val w2 = Window.partitionBy(key).orderBy("__run")
    agg
      .withColumn("__nd", lead("__d", 1).over(w2))
      .withColumn("__nl", lead("__vl", 1).over(w2))
      .filter(col("__d") === -1 && col("__nd") === 1 &&
        col("__vf") - col("__vl") >= minDrop)
      .select(col(key),
        (col("__vf") - col("__vl")).as("drop"),
        (col("__nl") - col("__vl")).as("rise"))
  }
}
