package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}
import Relational.{avg6, dmoney, out2}

/** Round-5 relational extensions (SURVEY.md §2.1 R43–R45): time-series
  * densification with forward fill, snapshot diff (reconciliation), and
  * percentile winsorization. Same determinism discipline as Relational:
  * decimal-exact aggregates, total final ORDER BY, lockstep DuckDB twins.
  */
object Extended {

  // R43: calendar densification + forward fill. Observed daily revenue per
  // order priority is sparse (gap days are simply absent rows); analytics
  // and feature pipelines need a DENSE series. Build each group's calendar
  // with sequence() (one row per group → array of days → explode: no
  // driver-side loop, no cross join against a global calendar), left-join
  // the observations back, then forward-fill with last(_, ignoreNulls)
  // over an unbounded-preceding row frame.
  //
  // Scale: the calendar explode is proportional to groups × span-days
  // (output-sized, not input-sized); the window is keyed by group. The
  // observation aggregate before the join is decimal-exact, so the filled
  // values are engine-identical.
  def q88TsFill(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val daily = o
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("day"))
      .agg(out2(sum(dmoney(col("o_totalprice")))).as("day_revenue"),
        count(lit(1)).as("n_orders"))
    val span = daily.groupBy("priority").agg(min("day").as("d0"), max("day").as("d1"))
    val calendar = span.select(col("priority"),
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(daily, Seq("priority", "day"), "left_outer")
      .withColumn("observed", col("day_revenue").isNotNull)
      .withColumn("revenue_ffill", last(col("day_revenue"), ignoreNulls = true).over(w))
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .select(col("priority"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("observed"), col("revenue_ffill"), col("n_orders"))
      .orderBy("priority", "day")
  }

  val q88Sql: String =
    """WITH daily AS (
      | SELECT o_orderpriority AS priority,
      |  CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS day_revenue,
      |  COUNT(*) AS n_orders
      | FROM orders GROUP BY 1, 2
      |), span AS (
      | SELECT priority, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY priority
      |), cal AS (
      | SELECT priority,
      |  CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day
      | FROM span
      |)
      |SELECT c.priority, strftime(c.day, '%Y-%m-%d') AS day,
      | d.day_revenue IS NOT NULL AS observed,
      | last_value(d.day_revenue IGNORE NULLS) OVER (
      |   PARTITION BY c.priority ORDER BY c.day
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_ffill,
      | COALESCE(d.n_orders, 0) AS n_orders
      |FROM cal c LEFT JOIN daily d ON c.priority = d.priority AND c.day = d.day
      |ORDER BY c.priority, c.day""".stripMargin

  // R44: snapshot diff — the inverse of q61's merge-apply: given two
  // snapshots of a keyed table, classify every key as inserted / deleted /
  // changed / unchanged and report counts + the total value drift. This is
  // the reconciliation primitive behind data-drift monitors and CDC
  // backfills. The "next" snapshot is derived deterministically from the
  // current one (key-modulus rules), so both engines diff the same pair.
  // Shape: ONE full-outer join on the key — no collect, no second pass.
  def q91TableDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val a = o.select(col("o_orderkey").as("k"), col("o_totalprice").as("a_price"),
      col("o_orderstatus").as("a_status"))
    // derived next snapshot: %97 keys deleted, %13 repriced (+100.00),
    // %101 keys spawn a synthetic insert at -(k+1) — strictly negative,
    // so it can never collide with a real (nonnegative) key
    val base = o.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")).as("b_price"),
        col("o_orderstatus").as("b_status"))
    val inserts = o.filter(col("o_orderkey") % 101 === 0)
      .select((-col("o_orderkey") - 1).as("k"), col("o_totalprice").as("b_price"),
        col("o_orderstatus").as("b_status"))
    val b = base.unionAll(inserts)
    a.join(b, Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("b_price").isNull && col("b_status").isNull, lit("deleted"))
          .when(col("a_price").isNull && col("a_status").isNull, lit("inserted"))
          .when(col("a_price") =!= col("b_price") || col("a_status") =!= col("b_status"),
            lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"),
        out2(sum(dmoney(abs(coalesce(col("b_price"), lit(0.0)) -
          coalesce(col("a_price"), lit(0.0)))))).as("abs_drift"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("change_type")
  }

  val q91Sql: String =
    """WITH a AS (
      | SELECT o_orderkey AS k, o_totalprice AS a_price, o_orderstatus AS a_status
      | FROM orders
      |), b AS (
      | SELECT o_orderkey AS k,
      |  CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS b_price,
      |  o_orderstatus AS b_status
      | FROM orders WHERE o_orderkey % 97 <> 0
      | UNION ALL
      | SELECT -o_orderkey - 1, o_totalprice, o_orderstatus
      | FROM orders WHERE o_orderkey % 101 = 0
      |), d AS (
      | SELECT COALESCE(a.k, b.k) AS k,
      |  CASE WHEN b.b_price IS NULL AND b.b_status IS NULL THEN 'deleted'
      |       WHEN a.a_price IS NULL AND a.a_status IS NULL THEN 'inserted'
      |       WHEN a.a_price <> b.b_price OR a.a_status <> b.b_status THEN 'changed'
      |       ELSE 'unchanged' END AS change_type,
      |  ABS(COALESCE(b.b_price, 0.0) - COALESCE(a.a_price, 0.0)) AS drift
      | FROM a FULL OUTER JOIN b ON a.k = b.k
      |)
      |SELECT change_type, COUNT(*) AS n,
      | CAST(ROUND(SUM(CAST(drift AS DECIMAL(12,4))), 2) AS DOUBLE) AS abs_drift,
      | MIN(k) AS min_key, MAX(k) AS max_key
      |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin

  // R48: recursive hierarchy traversal — resolve every node to its root
  // and depth through an EDGE TABLE (the engine-surface twin of SQL's
  // WITH RECURSIVE, which is exactly what the oracle runs). The EDGAR
  // analog is amendment chains (an X-17A-5/A filing references its prior
  // accession) and the reference's NIC entity network
  // (notebook/rssd-network/network.ipynb: M&A predecessor→successor
  // chains, parent→offspring relationship edges) — analytics need the
  // root each chain resolves to. The hierarchy here is synthesized from the customer ids
  // (parent = id div 10, ids < 10 are roots), so both engines walk the
  // same forest.
  //
  // Spark-first shape: iterate frontier ⋈ edges until the frontier is
  // empty — each round is ONE keyed hash join; localCheckpoint truncates
  // the growing lineage (the q55 lesson); rounds = tree depth (log-
  // bounded), not node count. At 100 TB both sides hash-partition on the
  // join key; no driver-side structure ever materializes.
  // Preconditions (both shared with the WITH RECURSIVE oracle twin):
  // (1) the edge relation must be ACYCLIC — on a cycle the walk never
  //     reaches a root, so the frontier never drains. MaxDepth caps the
  //     rounds and fails loudly (the resolveClusters discipline) instead
  //     of looping forever;
  // (2) every non-root key must have an edge row (dense key space): the
  //     inner join drops a frontier node with no matching edge, exactly
  //     as the recursive CTE does. Synthesized parent = k div 10 over a
  //     dense 1..N key set satisfies this by construction; for sparse
  //     corpora, left-join the frontier and route null-parent rows to an
  //     orphan output instead.
  private[graft] val HierarchyMaxDepth = 30

  def q96Hierarchy(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey").as("k"))
    val edges = c.filter(col("k") >= 10)
      .select(col("k").as("child"), expr("k div 10").as("parent"))
    hierarchyWalk(c.select(col("k")), edges)
  }

  /** Root-resolution walk shared by q96 and its guard spec: iterate
    * frontier ⋈ edges until every node reaches a root (< 10), failing
    * loudly after [[HierarchyMaxDepth]] rounds (cyclic edges, or a tree
    * deeper than any real amendment chain).
    */
  private[graft] def hierarchyWalk(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val start = nodes.select(col("k"), col("k").as("cur"), lit(0L).as("depth"))
    var result = start.filter(col("cur") < 10)
    var frontier = GraftSession.checkpoint(start.filter(col("cur") >= 10))
    var round = 0
    while (frontier.limit(1).count() > 0) {
      round += 1
      if (round > HierarchyMaxDepth)
        throw new IllegalStateException(
          s"q96Hierarchy: frontier not drained after $HierarchyMaxDepth rounds — " +
            "cyclic edge relation or pathological depth; aborting instead of looping")
      val stepped = GraftSession.checkpoint(frontier.join(edges, col("cur") === col("child"))
        .select(col("k"), col("parent").as("cur"), (col("depth") + 1).as("depth")))
      result = result.unionAll(stepped.filter(col("cur") < 10))
      frontier = stepped.filter(col("cur") >= 10)
    }
    result.select(col("k"), col("cur").as("root"), col("depth"))
      .orderBy("k")
  }

  val q96Sql: String =
    """WITH RECURSIVE walk(k, cur, depth) AS (
      | SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer
      | UNION ALL
      | SELECT w.k, e.parent, w.depth + 1
      | FROM walk w JOIN (
      |   SELECT c_custkey AS child, c_custkey // 10 AS parent
      |   FROM customer WHERE c_custkey >= 10) e
      |  ON w.cur = e.child
      |)
      |SELECT k, cur AS root, depth FROM walk WHERE cur < 10 ORDER BY k""".stripMargin

  // E25 (Full_process_failings.ipynb: "Quantifying losses at each step"):
  // pipeline stage-yield audit. The reference counts the files present in
  // the bucket after every pipeline step to find where filings drop out;
  // the engine form computes each record's DEEPEST SURVIVING STAGE in one
  // scan (a case chain over the stage gates — here deterministic md5/
  // status gates standing in for fetch/slice/OCR success), buckets by it,
  // and derives per-stage survivor counts with a 4-row cumulative window.
  // One scan + one tiny aggregate; no per-stage rescans of the corpus,
  // which is what the notebook's len(list_s3_files) per step becomes at
  // 100 TB if translated literally.
  def q97StageYield(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val h = substring(md5(col("o_orderkey").cast(StringType)), 1, 2)
    val g2 = h < "e0" // "fetch succeeded"
    val g3 = g2 && h >= "10" // "slice succeeded"
    val g4 = g3 && col("o_orderstatus") =!= "P" // "OCR accepted"
    val lastStage = when(g4, 4).when(g3, 3).when(g2, 2).otherwise(lit(1))
    val buckets = o.select(col("o_orderkey").as("k"), lastStage.as("last_stage"))
      .groupBy("last_stage")
      .agg(count(lit(1)).as("n_stranded"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
    // survivors THROUGH stage s = Σ n over last_stage >= s: a 4-row
    // window — bounded by stage count, never by data
    val w = Window.orderBy(desc("last_stage"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.withColumn("survivors_through", sum(col("n_stranded")).over(w))
      .select(col("last_stage"), col("n_stranded"), col("survivors_through"),
        col("min_key"), col("max_key"))
      .orderBy("last_stage")
  }

  val q97Sql: String =
    """WITH staged AS (
      | SELECT o_orderkey AS k,
      |  CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'e0'
      |        AND substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '10'
      |        AND o_orderstatus <> 'P' THEN 4
      |       WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'e0'
      |        AND substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '10' THEN 3
      |       WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'e0' THEN 2
      |       ELSE 1 END AS last_stage
      | FROM orders
      |), buckets AS (
      | SELECT last_stage, COUNT(*) AS n_stranded,
      |  MIN(k) AS min_key, MAX(k) AS max_key
      | FROM staged GROUP BY last_stage
      |)
      |SELECT last_stage, n_stranded,
      | CAST(SUM(n_stranded) OVER (ORDER BY last_stage DESC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS survivors_through,
      | min_key, max_key
      |FROM buckets ORDER BY last_stage""".stripMargin

  // R45: winsorization — clip each group's values at its own exact p05/p95
  // (interpolated percentile, same primitive as q14) and report how many
  // rows were clipped plus the raw vs winsorized mean. The robust-stats
  // step every outlier-sensitive downstream (q59's z-scores, model
  // features) wants before aggregating.
  // Shape: one small percentile agg broadcast back onto the scan — the
  // fact table is read once and never shuffled beyond the final 5-row agg.
  // The clipped value is quantized to DECIMAL(18,4) before summing so the
  // winsorized mean is partial-aggregation-order-proof.
  def q92Winsorize(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val pct = o.groupBy("o_orderpriority").agg(
      expr("percentile(o_totalprice, 0.05)").as("p05"),
      expr("percentile(o_totalprice, 0.95)").as("p95"))
    val clipped = least(greatest(col("o_totalprice"), col("p05")), col("p95"))
    o.join(broadcast(pct), Seq("o_orderpriority"))
      .withColumn("clip_dec", round(clipped, 4).cast(DecimalType(18, 4)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < col("p05"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("o_totalprice") > col("p95"), 1L).otherwise(0L)).as("n_high"),
        round(min(col("p05")), 4).as("p05"),
        round(min(col("p95")), 4).as("p95"),
        avg6(sum(dmoney(col("o_totalprice"))), count(lit(1))).as("raw_mean"),
        avg6(sum(col("clip_dec")), count(lit(1))).as("win_mean"))
      .orderBy("o_orderpriority")
  }

  // R49: contingency table + association profile — the dataset-profiling
  // step before any stratification decision: observed vs expected counts
  // per (status, priority) cell under independence, with the Pearson
  // residual (obs−exp)/√exp. Expected counts are exact rationals
  // (row_total × col_total / n) evaluated identically by both engines;
  // one scan + one tiny cell aggregate + two broadcast margins.
  def q99Contingency(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cells = o.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("obs"))
    val rowM = cells.groupBy("o_orderstatus").agg(sum("obs").as("row_total"))
    val colM = cells.groupBy("o_orderpriority").agg(sum("obs").as("col_total"))
    // grand total derives from the cells — no second scan, no driver action
    val nDf = cells.agg(sum(col("obs")).as("n"))
    cells.join(broadcast(rowM), Seq("o_orderstatus"))
      .join(broadcast(colM), Seq("o_orderpriority"))
      .crossJoin(broadcast(nDf))
      .withColumn("expected",
        round(col("row_total") * col("col_total") / col("n").cast(DoubleType), 4))
      .withColumn("pearson_resid",
        round((col("obs") - col("expected")) / sqrt(col("expected")), 4))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("obs"),
        col("expected"), col("pearson_resid"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val q99Sql: String =
    """WITH cells AS (
      | SELECT o_orderstatus, o_orderpriority, COUNT(*) AS obs
      | FROM orders GROUP BY 1, 2
      |), rm AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS row_total FROM cells GROUP BY 1),
      |cm AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS col_total FROM cells GROUP BY 1),
      |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells)
      |SELECT c.o_orderstatus, c.o_orderpriority, c.obs,
      | ROUND(rm.row_total * cm.col_total / CAST(n.n AS DOUBLE), 4) AS expected,
      | ROUND((c.obs - ROUND(rm.row_total * cm.col_total / CAST(n.n AS DOUBLE), 4))
      |   / SQRT(ROUND(rm.row_total * cm.col_total / CAST(n.n AS DOUBLE), 4)), 4) AS pearson_resid
      |FROM cells c
      |JOIN rm ON c.o_orderstatus = rm.o_orderstatus
      |JOIN cm ON c.o_orderpriority = cm.o_orderpriority
      |CROSS JOIN n
      |ORDER BY c.o_orderstatus, c.o_orderpriority""".stripMargin

  // R50: hot-key skew profiler — the diagnostic that DECIDES when the
  // q69 salted join is needed: per join-key frequency, report the top-k
  // hottest keys with their corpus share and the ratio to a uniform
  // key's expected share. One keyed count + a k-bounded top-k window
  // over the (already tiny) per-key table.
  val SkewTopK = 10

  def q100SkewProfile(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val perKey = l.groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("cnt"))
    // the per-key table can itself be huge for high-cardinality keys —
    // top-k via orderBy+limit (a TakeOrdered physical op, no global sort
    // or single-partition window) and the margins via a 1-row aggregate
    val totals = perKey.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    val top = perKey.orderBy(desc("cnt"), asc("key")).limit(SkewTopK)
    val w = Window.orderBy(desc("cnt"), asc("key")) // over <= k rows
    top.crossJoin(broadcast(totals))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("key"), col("cnt"),
        round(col("cnt") / col("total").cast(DoubleType), 6).as("share"),
        round(col("cnt") * col("n_keys") / col("total").cast(DoubleType), 4)
          .as("x_uniform"))
      .orderBy("rk")
  }

  val q100Sql: String =
    s"""WITH per_key AS (
       | SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
       |), m AS (
       | SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys FROM per_key
       |)
       |SELECT rk, key, cnt,
       | ROUND(cnt / CAST(total AS DOUBLE), 6) AS share,
       | ROUND(cnt * n_keys / CAST(total AS DOUBLE), 4) AS x_uniform
       |FROM (
       | SELECT p.key, p.cnt, m.total, m.n_keys,
       |  ROW_NUMBER() OVER (ORDER BY p.cnt DESC, p.key) AS rk
       | FROM per_key p CROSS JOIN m)
       |WHERE rk <= ${SkewTopK} ORDER BY rk""".stripMargin

  // R47: deterministic argmin/argmax aggregation — "which order was the
  // customer's first / most expensive". Spark's max_by/min_by (and
  // DuckDB's arg_max) break ties ARBITRARILY, which violates the engine's
  // determinism rule; min/max over a struct whose ordering ends in the
  // unique key is the total form: one map-side-combining aggregate, no
  // window, no sort. The struct never leaves the aggregate — output is
  // scalar fields.
  def q95ArgmaxAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        min(struct(col("o_orderdate"), col("o_orderkey"))).as("first"),
        max(struct(col("o_totalprice"), col("o_orderkey"))).as("best"))
      .select(col("o_custkey"), col("n_orders"),
        col("first").getField("o_orderdate").as("first_date"),
        col("first").getField("o_orderkey").as("first_key"),
        col("best").getField("o_totalprice").as("best_price"),
        col("best").getField("o_orderkey").as("best_key"))
      .orderBy("o_custkey")
  }

  val q95Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      | (min({'d': o_orderdate, 'k': o_orderkey})).d AS first_date,
      | (min({'d': o_orderdate, 'k': o_orderkey})).k AS first_key,
      | (max({'p': o_totalprice, 'k': o_orderkey})).p AS best_price,
      | (max({'p': o_totalprice, 'k': o_orderkey})).k AS best_key
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  val q92Sql: String =
    """WITH pct AS (
      | SELECT o_orderpriority,
      |  QUANTILE_CONT(o_totalprice, 0.05) AS p05,
      |  QUANTILE_CONT(o_totalprice, 0.95) AS p95
      | FROM orders GROUP BY o_orderpriority
      |)
      |SELECT o.o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(CASE WHEN o.o_totalprice < p.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      | CAST(SUM(CASE WHEN o.o_totalprice > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      | ROUND(MIN(p.p05), 4) AS p05,
      | ROUND(MIN(p.p95), 4) AS p95,
      | ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS raw_mean,
      | ROUND(CAST(SUM(CAST(ROUND(LEAST(GREATEST(o.o_totalprice, p.p05), p.p95), 4) AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS win_mean
      |FROM orders o JOIN pct p ON o.o_orderpriority = p.o_orderpriority
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  // R56: Z-ORDER (Morton) layout — the multi-dimensional file-layout
  // primitive behind data skipping on secondary columns (Delta/Iceberg
  // OPTIMIZE ZORDER BY): interleave the bits of two min/max-normalized
  // 16-bit dims so one range partitioning clusters BOTH dims at once.
  // The z computation is the classic magic-mask bit spread — pure
  // integer shifts/ands, codegen'd, bit-identical in DuckDB — so the
  // per-z-bucket bounding boxes are fully oracle-checked. The query
  // reports, per 1/256th of z-space, the bucket's key-plane bounding
  // box and its area fraction: ~uniformly small boxes are exactly the
  // property that lets a scan skip files on EITHER key's min/max.
  // (The layout EFFECT — writing z-partitioned files and pruning on
  // the non-leading dim — is exercised in ZOrderSpec over real parquet;
  // at 100 TB this plus repartitionByRange(z) IS the table-maintenance
  // job.) Scale shape: one tiny global min/max agg broadcast back, the
  // rest map-side integer math + one 256-group aggregate.
  private def spread16(c: Column): Column = {
    val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value of two already-normalized 16-bit non-negative ints. */
  def zValue16(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** lineitem keyed/normalized/z-valued — shared by q122 and ZOrderSpec. */
  def zKeyed(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).select(
      col("l_partkey").cast(LongType).as("pk"),
      col("l_suppkey").cast(LongType).as("sk"))
    val stats = l.agg(
      min("pk").as("pk_min"), max("pk").as("pk_max"),
      min("sk").as("sk_min"), max("sk").as("sk_max"))
    l.crossJoin(broadcast(stats))
      .withColumn("xn", expr("((pk - pk_min) * 65535) div greatest(pk_max - pk_min, 1)"))
      .withColumn("yn", expr("((sk - sk_min) * 65535) div greatest(sk_max - sk_min, 1)"))
      .withColumn("z", zValue16(col("xn"), col("yn")))
  }

  def q122ZorderLayout(s: SparkSession, dir: String): DataFrame =
    zKeyed(s, dir)
      .withColumn("bucket", shiftright(col("z"), 24))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("pk").as("pk_lo"), max("pk").as("pk_hi"),
        min("sk").as("sk_lo"), max("sk").as("sk_hi"),
        max("pk_max").as("pk_max"), max("pk_min").as("pk_min"),
        max("sk_max").as("sk_max"), max("sk_min").as("sk_min"))
      .withColumn("bbox_frac", round(
        ((col("pk_hi") - col("pk_lo") + 1) * (col("sk_hi") - col("sk_lo") + 1))
          .cast(DoubleType) /
          ((col("pk_max") - col("pk_min") + 1) * (col("sk_max") - col("sk_min") + 1))
            .cast(DoubleType), 6))
      .select("bucket", "n_rows", "pk_lo", "pk_hi", "sk_lo", "sk_hi", "bbox_frac")
      .orderBy("bucket")

  val q122Sql: String =
    """WITH k AS (
      |  SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk,
      |   MIN(l_partkey) OVER () AS pk_min, MAX(l_partkey) OVER () AS pk_max,
      |   MIN(l_suppkey) OVER () AS sk_min, MAX(l_suppkey) OVER () AS sk_max
      |  FROM lineitem),
      |nrm AS (
      |  SELECT *, ((pk - pk_min) * 65535) // GREATEST(pk_max - pk_min, 1) AS xn,
      |   ((sk - sk_min) * 65535) // GREATEST(sk_max - sk_min, 1) AS yn
      |  FROM k),
      |s1 AS (
      |  SELECT *, ((xn | (xn << 8)) & 16711935) AS xa,
      |   ((yn | (yn << 8)) & 16711935) AS ya FROM nrm),
      |s2 AS (
      |  SELECT *, ((xa | (xa << 4)) & 252645135) AS xb,
      |   ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
      |s3 AS (
      |  SELECT *, ((xb | (xb << 2)) & 858993459) AS xc,
      |   ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
      |s4 AS (
      |  SELECT *, ((xc | (xc << 1)) & 1431655765) AS xd,
      |   ((yc | (yc << 1)) & 1431655765) AS yd FROM s3),
      |z AS (SELECT *, (xd | (yd << 1)) >> 24 AS bucket FROM s4)
      |SELECT bucket, COUNT(*) AS n_rows,
      | MIN(pk) AS pk_lo, MAX(pk) AS pk_hi, MIN(sk) AS sk_lo, MAX(sk) AS sk_hi,
      | ROUND(CAST((MAX(pk) - MIN(pk) + 1) * (MAX(sk) - MIN(sk) + 1) AS DOUBLE)
      |  / CAST((MAX(pk_max) - MAX(pk_min) + 1) * (MAX(sk_max) - MAX(sk_min) + 1) AS DOUBLE), 6) AS bbox_frac
      |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
}
