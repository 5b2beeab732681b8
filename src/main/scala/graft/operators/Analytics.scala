package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/**
 * Warehouse-analytics operators over event/fact tables: cohort retention,
 * RFM segmentation, SCD2 interval construction, column profiling, and
 * fixed-iteration PageRank. These are the query shapes the reference's
 * users run downstream of the log (its docs position topics as the feed
 * for exactly this kind of product analytics); each is declared as one
 * declarative plan with a minimal shuffle count, and each documents its
 * 100 TB posture inline.
 */
object Analytics {

  /**
   * Weekly cohort retention matrix: cohort = ISO week of a user's first
   * activity, cell (cohort_week, week_offset) = how many of that cohort's
   * users were active `offset` weeks later.
   *
   * Plan shape: ONE wide shuffle keyed by user (groupBy user collects the
   * user's distinct active weeks — bounded by the calendar, not the data),
   * then a tiny (cohort, offset) aggregate. The naive 3-shuffle form
   * (distinct user-weeks, first-week agg, join back) is deliberately
   * avoided: at 100 TB the user-keyed pass dominates and doing it once is
   * the difference.
   */
  def cohortRetention(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val perUser = events
      .select(col(userCol).as("u"), date_trunc("week", col(tsCol)).as("wk"))
      .groupBy(col("u"))
      .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
    perUser
      .select(col("cohort"), explode(col("wks")).as("wk"))
      .select(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("wk"), col("cohort")) / lit(7)).cast("int").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * RFM segmentation: per customer recency (days since last order, against
   * the dataset's max date), frequency (order count), monetary (exact
   * decimal sum), each scored into quartiles (4 = best), concatenated into
   * the classic 3-digit segment.
   *
   * The quartile scores use global `ntile` windows — a total order, so the
   * gate shape runs them on one partition with (metric, key) tiebreakers
   * for determinism. At 100 TB the same operator takes the cut-point path:
   * compute the three quartile boundaries with a one-row aggregate and
   * assign scores via a broadcast CASE — no global sort; the gate keeps
   * ntile because its exact rank semantics are what DuckDB mirrors
   * bit-for-bit.
   */
  def rfm(
      orders: DataFrame,
      custCol: String,
      dateCol: String,
      amountCol: String): DataFrame = {
    val withR = rfmBase(orders, custCol, dateCol, amountCol)
    // best = 4 on every axis: low recency, high frequency, high monetary
    val rW = Window.orderBy(col("recency_days").desc, col(custCol))
    val fW = Window.orderBy(col("frequency").asc, col(custCol))
    val mW = Window.orderBy(col("monetary").asc, col(custCol))
    withR
      .withColumn("r_score", ntile(4).over(rW))
      .withColumn("f_score", ntile(4).over(fW))
      .withColumn("m_score", ntile(4).over(mW))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** Per-customer (recency_days, frequency, monetary) — the shared first
    * stage of both RFM variants: one keyed aggregate + a broadcast max-date. */
  private def rfmBase(
      orders: DataFrame,
      custCol: String,
      dateCol: String,
      amountCol: String): DataFrame = {
    val base = orders.groupBy(col(custCol)).agg(
      max(col(dateCol)).as("last_order"),
      count(lit(1)).as("frequency"),
      sum(col(amountCol).cast("decimal(18,2)")).cast("double").as("monetary"))
    val maxDate = orders.agg(max(col(dateCol)).as("__max_date"))
    base
      .crossJoin(broadcast(maxDate))
      .withColumn("recency_days", datediff(col("__max_date"), col("last_order")))
      .drop("__max_date", "last_order")
  }

  /**
   * The 100 TB RFM plan: quartile CUT-POINTS from one bounded aggregate
   * (`percentile_approx`, 3 quantiles × 3 metrics in a single reduce),
   * broadcast back as one row, scores assigned by a codegen'd CASE — no
   * global window, no single-partition sort, the customer dimension never
   * leaves its hash partitioning. This is the variant [[rfm]]'s header
   * documents; the exact-rank ntile gate remains the oracle twin because
   * its boundary semantics are what DuckDB mirrors bit-for-bit.
   *
   * Boundary semantics: a metric value sitting exactly ON a cut-point
   * scores with the LOWER tile (`v > q` comparisons), where ntile breaks
   * rank ties by the key tiebreaker — so the two variants agree everywhere
   * except within quartile-boundary ties ([[graft.operators]] RfmSpec
   * asserts exact agreement away from them).
   */
  def rfmAtScale(
      orders: DataFrame,
      custCol: String,
      dateCol: String,
      amountCol: String,
      accuracy: Int = 10000): DataFrame = {
    val withR = rfmBase(orders, custCol, dateCol, amountCol)
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    val cuts = withR.agg(
      percentile_approx(col("recency_days"), qs, lit(accuracy)).as("__rq"),
      percentile_approx(col("frequency"), qs, lit(accuracy)).as("__fq"),
      percentile_approx(col("monetary"), qs, lit(accuracy)).as("__mq"))
    // ascending score: 1 + one point per cut-point strictly exceeded;
    // recency inverts (low recency = best = 4)
    def asc(v: Column, q: Column): Column =
      lit(1) +
        when(v > q.getItem(0), 1).otherwise(0) +
        when(v > q.getItem(1), 1).otherwise(0) +
        when(v > q.getItem(2), 1).otherwise(0)
    withR.crossJoin(broadcast(cuts))
      .withColumn("r_score", lit(5) - asc(col("recency_days"), col("__rq")))
      .withColumn("f_score", asc(col("frequency"), col("__fq")))
      .withColumn("m_score", asc(col("monetary"), col("__mq")))
      .drop("__rq", "__fq", "__mq")
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /**
   * SCD2 interval build from a change stream: collapse consecutive equal
   * values of `attrCol` per entity, emitting [valid_from, valid_to)
   * validity intervals with an is_current flag — the slowly-changing-
   * dimension snapshot every warehouse derives from a CDC/event feed.
   *
   * Plan shape: both windows and the change filter share ONE hash
   * partitioning on the entity key — a single shuffle regardless of data
   * size, and the per-entity sort is the only per-key cost.
   */
  def scd2Intervals(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      attrCol: String,
      tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieBreakCol))
    val changes = events
      .select(col(entityCol), col(tsCol), col(tieBreakCol), col(attrCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
    val w2 = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieBreakCol))
    changes
      .withColumn("valid_to_ts", lead(col(tsCol), 1).over(w2))
      .select(
        col(entityCol),
        col(attrCol),
        date_format(col(tsCol), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        coalesce(date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          lit("9999-12-31 00:00:00.000000")).as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
  }

  /**
   * Column profiler: for every column, (rows, non-null count, exact
   * distinct count, min, max) rendered canonically — the data-quality
   * summary a pipeline runs before trusting a new drop of data.
   *
   * All columns profile in ONE aggregation job; Catalyst plans the
   * multiple COUNT(DISTINCT)s as a single Expand + two-stage aggregate
   * (data inflates ×ncols in the map stage but never re-scans). At 100 TB
   * swap the exact distinct for [[graft.functions]]' `hll60` sketch — same
   * operator shape, no Expand; the gate keeps exact counts because that is
   * what DuckDB can mirror.
   */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    // min/max run on the TYPED column (string min of "10.00" < "9.00" would
    // be wrong); only the aggregated 1-row result is rendered canonically
    def canon(name: String, c: Column): Column =
      df.schema(name).dataType match {
        case DoubleType | FloatType =>
          c.cast("decimal(18,2)").cast("string")
        case TimestampType =>
          date_format(c, "yyyy-MM-dd HH:mm:ss")
        case _ => c.cast("string")
      }
    val aggs = cols.flatMap { name =>
      Seq(
        count(col(name)).as(s"__nn_$name"),
        count_distinct(col(name)).as(s"__nd_$name"),
        canon(name, min(col(name))).as(s"__min_$name"),
        canon(name, max(col(name))).as(s"__max_$name"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val perCol = cols.map { name =>
      struct(
        lit(name).as("col_name"),
        col("__rows").as("n_rows"),
        col(s"__nn_$name").as("n_nonnull"),
        col(s"__nd_$name").as("n_distinct"),
        col(s"__min_$name").as("min_value"),
        col(s"__max_$name").as("max_value"))
    }
    wide
      .select(explode(array(perCol: _*)).as("p"))
      .select(col("p.col_name"), col("p.n_rows"), col("p.n_nonnull"),
        col("p.n_distinct"), col("p.min_value"), col("p.max_value"))
  }

  /**
   * Fixed-iteration PageRank with damping, over an edge list. Rank sums
   * are quantized to a 2^-30 grid (BIGINT) before aggregation so the
   * result is independent of partitioning/aggregation order — the same
   * integer-exactness device the centroid/covariance operators use — and
   * each iteration is one join (edges ⋈ ranks on src) plus one aggregate
   * keyed by dst.
   *
   * At 100 TB the edge list is the big side: ranks and edges share the
   * src hash partitioning across iterations, so each round shuffles only
   * the (dst, contribution) pairs; dangling mass is folded in via the
   * standard uniform redistribution term.
   */
  def pageRank(
      edges: DataFrame, // (src, dst)
      iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val Q = 1L << 30
    def quant(c: Column): Column = floor(c * lit(Q.toDouble)).cast("long")
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val nNodes = nodes.count() // one bounded scalar job, reused every round
    val e = edges.join(outDeg, "src")
    var ranks = nodes.withColumn("rank", lit(1.0 / nNodes))
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst").as("node"), quant(col("rank") / col("deg")).as("qc"))
        .groupBy(col("node"))
        .agg(sum(col("qc")).as("qsum"))
      // dangling mass (nodes with no out-edges) redistributes uniformly —
      // a 1-row aggregate broadcast into the update, so total rank mass is
      // conserved up to the 2^-30 quantization loss
      val dangling = ranks.join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(quant(col("rank"))), lit(0L)).as("qdang"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - damping) / nNodes) +
            lit(damping) * ((coalesce(col("qsum"), lit(0L)).cast("double") / lit(Q.toDouble)) +
              (col("qdang").cast("double") / lit(Q.toDouble)) / lit(nNodes.toDouble)))
            .as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), 9).as("rank"))
  }

  /**
   * Per-node triangle counts via degree orientation (Schank & Wagner's
   * forward algorithm): orient every undirected edge {u,v} from its
   * lower-(degree, id) endpoint to the higher one, enumerate wedges only
   * at each edge-pair's shared SOURCE, and close them against the
   * oriented edge set. Orientation is what makes this survive skew: total
   * wedge count is bounded by O(m^{3/2}) regardless of degree
   * distribution — a celebrity node generates no wedges because its edges
   * all point INTO it, so there is no quadratic blow-up on the hub's
   * partition (the failure mode of the naive "join on either endpoint"
   * formulation at 100 TB).
   *
   * Plan shape (adjacency-intersection form): one distinct (canonical
   * edges), one aggregate (degrees), one aggregate (out-adjacency
   * arrays), two joins attaching the endpoint adjacency arrays to each
   * oriented edge, then `array_intersect` per edge. The O(m^{3/2}) wedge
   * work happens INSIDE the per-edge array intersection — it is never
   * materialized as a row stream, which measured 2.5× over the
   * wedge-join formulation (20M wedge rows + closure join + 60M-row
   * explode collapsed to m rows with native array ops). Per-node counts:
   * an edge (u,v) with k common forward neighbors contributes k to u and
   * v and 1 to each common neighbor — two m-row aggregates plus one
   * explode of the (triangle-count-sized) intersection lists.
   *
   * Fully declarative, ONE action: the canonical edge set feeds degrees,
   * orientation, and adjacency as identical subtrees, which Spark's
   * ReuseExchange (and AQE stage reuse) computes once — replacing the
   * round-5 `persist` + driver-side `count()` (an extra job, plus blocks
   * someone must own). Broadcast-vs-shuffle for the degree/adjacency
   * joins is AQE's runtime call from MEASURED sizes: small graphs
   * broadcast, billion-node graphs stay shuffle joins with AQE skew
   * splitting — no static edge-count threshold to mis-guess at 100 TB.
   */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    // out-adjacency under the orientation; for oriented edge (u,v) the
    // common forward neighbors N+(u) ∩ N+(v) are exactly the w closing a
    // triangle whose two lowest-ordered vertices are u and v, so each
    // triangle is found exactly once
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
    val ws = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("nu"), coalesce(col("nv"), array())).as("ws"))
      .filter(size(col("ws")) > 0)
    val perEndpoint = ws.select(explode(array(col("src"), col("dst"))).as("node"),
        size(col("ws")).cast("long").as("n"))
      .groupBy(col("node")).agg(sum(col("n")).as("n"))
    val perWitness = ws.select(explode(col("ws")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n"))
    perEndpoint.unionAll(perWitness)
      .groupBy(col("node")).agg(sum(col("n")).as("triangles"))
  }

  /**
   * Time-series resample + gap-fill: bucket events into fixed windows per
   * series, materialize the FULL bucket grid between each series' first
   * and last observation, and forward-fill empty buckets with the last
   * observed bucket mean (LOCF — the standard telemetry/feature-store
   * resample). Bucket means are quantized-sum exact (1e-6-grid BIGINT, the
   * same device as the centroid/PageRank sums) so the aggregate is
   * order-independent and the oracle replays it.
   *
   * Scale shape: ONE keyed aggregation over the raw events (map-side
   * combined into at most |series| × |buckets| cells), then everything
   * downstream — grid explode, gap left-join, LOCF window — operates on
   * the bucket GRID, whose size is time-range / bucket-width per series,
   * independent of event volume. The window partitions by series, so its
   * state is one series' grid, never the corpus.
   */
  def resampleLocf(
      events: DataFrame,
      tsCol: String,
      seriesCol: String,
      valCol: String,
      bucketMicros: Long): DataFrame = {
    val qv = floor(col(valCol) * lit(1000000d)).cast("long")
    val bucket = expr(s"unix_micros($tsCol) div ${bucketMicros}L")
    // materialize the bucket cells once (registry-owned): the grid-span
    // aggregate and the gap join both consume them, and the cell frame is
    // bounded by |series| x |buckets| — without this the events scan runs
    // twice (once per consumer subtree)
    val ag = graft.Materialize.localCheckpoint(events
      .groupBy(col(seriesCol).as("series"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(qv).as("qs")))
    val grid = ag.groupBy(col("series"))
      .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
      .select(col("series"), explode(sequence(col("mn"), col("mx"))).as("bucket"))
    // bucket mean STAYS on the 1e-6 integer grid (floor of the exact sum
    // over n): a decimal re-round here would sit exactly on .5 decimal
    // boundaries where engines' double→decimal rounding legitimately
    // differs — the same reason the k-means update floor-divides
    val joined = grid.join(ag, Seq("series", "bucket"), "left")
      .select(col("series"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        floor(col("qs").cast("double") / col("n_events")).cast("long").as("vavg_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    joined.withColumn("filled_q", last(col("vavg_q"), ignoreNulls = true).over(w))
  }

  /**
   * Robust anomaly detection over the resampled grid: flag buckets whose
   * value deviates from the series' median by more than `k` times the
   * median absolute deviation. Median/MAD (not mean/stddev) because one
   * anomaly in the window inflates a stddev enough to hide the next one —
   * the standard robust-statistics argument for telemetry.
   *
   * Everything is integer-exact: bucket values come from [[resampleLocf]]'s
   * 1e-6 grid, and both medians are the LOWER median — the element at rank
   * `(n+1) div 2` in (value, bucket) order — so the whole decision
   * replays in SQL with two rank windows and no float quantile semantics
   * to reconcile between engines.
   *
   * Scale shape: both rank windows partition by series over the bucket
   * GRID (time-range / bucket-width rows per series, independent of event
   * volume); the median frames join back as broadcasts (one row per
   * series).
   */
  def anomaliesMad(
      events: DataFrame,
      tsCol: String,
      seriesCol: String,
      valCol: String,
      bucketMicros: Long,
      k: Long = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = resampleLocf(events, tsCol, seriesCol, valCol, bucketMicros)
      .filter(col("n_events") > 0)
      .select(col("series"), col("bucket"), col("vavg_q"))
    val wv = Window.partitionBy(col("series")).orderBy(col("vavg_q"), col("bucket"))
    val wc = Window.partitionBy(col("series"))
    val med = cells
      .withColumn("rn", row_number().over(wv))
      .withColumn("cnt", count(lit(1)).over(wc))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("series"), col("vavg_q").as("med"))
    val dev = cells.join(broadcast(med), "series")
      .withColumn("dev", abs(col("vavg_q") - col("med")))
    val wd = Window.partitionBy(col("series")).orderBy(col("dev"), col("bucket"))
    val mad = dev
      .withColumn("rn", row_number().over(wd))
      .withColumn("cnt", count(lit(1)).over(wc))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("series"), col("dev").as("mad"))
    dev.join(broadcast(mad), "series")
      .select(col("series"), col("bucket"), col("vavg_q"),
        col("med"), col("dev"), col("mad"),
        (col("dev") > lit(k) * col("mad")).as("is_anomaly"))
  }

  /**
   * Bounded-round k-core peel: repeatedly drop nodes whose degree in the
   * surviving subgraph is < k, up to `maxRounds` rounds, returning each
   * surviving node with its final core degree. With enough rounds this IS
   * the k-core (the classic peeling fixpoint); the round bound is what
   * makes it both distributable and oracle-replayable — each round is one
   * degree aggregate plus one semi-join restriction, the vertex-centric
   * formulation every BSP graph system uses for coreness.
   *
   * Scale shape: per round, one map-side-combined `groupBy(src).count()`
   * (never skew-bound — partial aggregation emits one row per key per
   * task) and two broadcast-or-shuffle semi-joins against the ≤|V| node
   * list. The edge frame is `localCheckpoint`ed each round (registry-owned)
   * so the plan stays one round deep instead of compounding; the previous
   * round's blocks are dropped as soon as its successor materializes.
   * Early exit at the true fixpoint: a round that removes nothing ends the
   * loop (the remaining rounds are provable no-ops, so a converged run
   * equals the fixed-round oracle replay).
   *
   * Input `edges` is directed-symmetrized (both (u,v) and (v,u) present),
   * self-loop-free, and deduplicated — [[kCoreGate]]-style callers build it
   * with one DISTINCT over canonical pairs then a union of both directions.
   */
  def kCore(
      edges: DataFrame, // (src, dst), symmetrized
      k: Int,
      maxRounds: Int = 8): DataFrame = {
    var (e, rows) = graft.Materialize.checkpointCounted(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    var n = rows / 2 // directed rows / 2 = undirected edges
    var round = 0
    var converged = false
    while (round < maxRounds && !converged && n > 0) {
      // both semi-joins probe the SAME alive frame keyed the same way (no
      // per-side rename), so a broadcast build is planned once and reused
      // for the second join
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      val (next, nextRows) = graft.Materialize.checkpointCounted(
        e.join(alive, e("src") === alive("node"), "left_semi")
          .join(alive, e("dst") === alive("node"), "left_semi")
          .select(col("src"), col("dst")))
      val nNext = nextRows / 2
      converged = nNext == n
      graft.Materialize.drop(e)
      e = next
      n = nNext
      round += 1
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /**
   * Multi-source BFS distances (frontier-only relaxation — the Pregel/
   * Beamer top-down step): round k expands ONLY the nodes first reached at
   * distance k-1, so total work across all rounds is O(|E|) regardless of
   * hop count — the re-relax-everything formulation (join the FULL distance
   * table every round) does O(rounds·|E|) and is the shape that drowns at
   * 100 TB. Each round is one edge⨝frontier join, one DISTINCT over the
   * candidate set, and one anti-join against the settled set; the settled
   * and frontier frames are `localCheckpoint`ed per round (registry-owned,
   * predecessors dropped) so the visible plan stays one round deep and the
   * per-round floor is the edge-frame read, same as any BSP step. Early
   * exit on an empty frontier makes a converged run equal the fixed-round
   * oracle replay (remaining rounds are provable no-ops).
   *
   * Input `edges` must be symmetrized, self-loop-free, deduplicated (the
   * [[kCore]] contract); `seeds` is one `node` column. Output: `(node,
   * dist)` for every node within `maxHops` of any seed.
   */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"bfsDistances needs maxHops >= 1, got $maxHops")
    // The settled set accumulates as a lazy UNION of per-hop CHECKPOINTED
    // frames (disjoint by construction) instead of being re-materialized
    // whole every round: the old checkpoint-the-union shape rewrote
    // O(rounds·|V|) settled rows across the run and spent two extra jobs
    // per round (isEmpty probe + union re-checkpoint). Memory across the
    // run is the settled set ONCE (the parts are disjoint), strictly less
    // than the old shape's settled-plus-next transient. The union is flat
    // (one node per hop), so the plan grows linearly in hops, not
    // exponentially.
    val e = graft.Materialize.localCheckpoint(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val seed0 = graft.Materialize.localCheckpoint(
      seeds.select(col("node").cast("long")).distinct()
        .withColumn("dist", lit(0L)))
    var settled: DataFrame = seed0
    var frontier: DataFrame = seed0.select(col("node"))
    var hop = 1L
    var done = false
    while (hop <= maxHops && !done) {
      val cand = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
      val (fresh, nFresh) = graft.Materialize.checkpointCounted(
        cand.join(settled, Seq("node"), "left_anti")
          .withColumn("dist", lit(hop)))
      done = nFresh == 0L
      if (!done) {
        settled = settled.unionAll(fresh)
        frontier = fresh.select(col("node"))
      }
      hop += 1
    }
    // e is not referenced by the returned union (every part is its own
    // checkpoint) — drop its O(|E|) blocks now instead of leaving them
    // pinned until the harness sweep; long-lived sessions embedding this
    // operator otherwise hold the edge frame for the session's life
    graft.Materialize.drop(e)
    settled
  }

  /**
   * Synchronous label propagation (Raghavan–Albert–Kumara 2007), made
   * deterministic: round 0 seeds every node with its own id; each round
   * every node adopts the most frequent label among its neighbors, ties
   * broken to the SMALLEST label. Synchronous + total tie-break means the
   * run is a pure function of the edge set — replayable round-for-round by
   * a SQL oracle, unlike the randomized-order original.
   *
   * Scale shape per round: one map-side-combined (node, label) count
   * aggregate over the edge⨝label join and one argmax — expressed as
   * `max(struct(c, -lbl))` so it folds inside the same aggregate, no
   * window, no second shuffle. The label frame (≤|V| rows) is
   * `localCheckpoint`ed each round (registry-owned, predecessor dropped on
   * materialize) so the visible plan stays one round deep. The edge frame
   * is checkpointed ONCE and re-read each round — at 100 TB that read is
   * the per-round floor, same as any BSP graph step.
   *
   * Output: one row per surviving community `(community, sz, min_node)`.
   * Input `edges` must be symmetrized, self-loop-free, deduplicated.
   */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation needs rounds >= 1, got $rounds")
    val e = graft.Materialize.localCheckpoint(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    // round 1 degenerates: neighbor labels are the (distinct) neighbor ids,
    // every count is 1, so "most frequent, ties to smallest" = min(dst) —
    // one aggregate instead of seed-checkpoint + join + two aggregates
    def step(prev: DataFrame): DataFrame =
      e.join(prev.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src").as("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lbl"))
    var labels: DataFrame =
      e.groupBy(col("src").as("node")).agg(min(col("dst")).as("lbl"))
    // checkpoint only frames a later step re-reads; the final round's
    // expression stays lazy and folds straight into the closing aggregate,
    // reading the last checkpoint's blocks (registry-owned until sweep)
    var owned: Option[DataFrame] = None
    var r = 1
    while (r < rounds) {
      val cp = graft.Materialize.localCheckpoint(labels)
      owned.foreach(graft.Materialize.drop) // predecessor, now safe
      owned = Some(cp)
      labels = step(cp)
      r += 1
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("sz"), min(col("node")).cast("long").as("min_node"))
  }

  /**
   * Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in a
   * hyperlinked environment") over a directed edge set: hub scores live on
   * `src` nodes, authority scores on `dst` nodes. Each half-iteration is one
   * frontier join + one keyed aggregate (the PageRank shuffle shape);
   * normalization divides by the round's max on a 2^20 integer grid with
   * truncating division, so every score in every round is an
   * order-independent BIGINT — the oracle replays the rounds as unrolled
   * CTEs with identical integer arithmetic. At 100 TB the per-round cost is
   * two shuffles keyed by node id; the max is a 1-row broadcast.
   *
   * Returns (side, node, score) with side ∈ {auth, hub}.
   */
  def hits(edges: DataFrame, iterations: Int = 2): DataFrame = {
    val Q = 1L << 20
    // materialize the canonical edge set once (it anchors FOUR join
    // subtrees across the iterations).
    //
    // Each half-iteration's score frame is CHECKPOINTED (the kCore/
    // labelProp round discipline): without it every half-iteration's tree
    // embedded the prior one TWICE (once under the crossJoined max, once
    // under the raw aggregate), so the plan doubled per half-iteration —
    // 316 k chars / 224 join nodes at 2 iterations before r16, still
    // 155 k / 88 after it. With per-half-iteration truncation the plan
    // is constant-size per round and the returned frame is two selects
    // over the last two checkpoints; predecessor frames are dropped as
    // soon as their successor materializes (only the two returned frames
    // stay owned).
    val e = graft.Materialize.localCheckpoint(
      edges.select(col("src"), col("dst")).distinct())
    // iteration 1's hub table (every src node at weight Q) stays lazy —
    // it is read exactly once, by araw's join below
    var hub = e.select(col("src").as("node")).distinct().withColumn("h", lit(Q))
    var auth: DataFrame = null
    var prevAuth: Option[DataFrame] = None
    var prevHub: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      // raw ≤ degree·2^20, so raw·Q passes int64 once a node's weighted
      // degree exceeds 2^43 (in-degree ~8.4M) — reachable at large SFs.
      // The product runs in DECIMAL(38,0) (headroom to ~2^105 of raw);
      // integral div lands the ppm-grid score back in BIGINT exactly.
      val araw = e.join(hub, e("src") === hub("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("raw"))
      val amax = araw.agg(max(col("raw")).as("mx"))
      auth = graft.Materialize.localCheckpoint(
        araw.crossJoin(broadcast(amax))
          .select(col("dst").as("node"),
            expr(s"CAST(CAST(raw AS DECIMAL(38,0)) * $Q div mx AS BIGINT)").as("a")))
      prevAuth.foreach(graft.Materialize.drop)
      prevAuth = Some(auth)
      val hraw = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("raw"))
      val hmax = hraw.agg(max(col("raw")).as("mx"))
      hub = graft.Materialize.localCheckpoint(
        hraw.crossJoin(broadcast(hmax))
          .select(col("src").as("node"),
            expr(s"CAST(CAST(raw AS DECIMAL(38,0)) * $Q div mx AS BIGINT)").as("h")))
      prevHub.foreach(graft.Materialize.drop)
      prevHub = Some(hub)
    }
    auth.select(lit("auth").as("side"), col("node"), col("a").as("score"))
      .unionAll(hub.select(lit("hub").as("side"), col("node"), col("h").as("score")))
  }
}
