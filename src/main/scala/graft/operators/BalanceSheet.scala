package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}
import graft.operators.Relational.{dmoney, out2}

/** Balance-sheet construction operators (SURVEY.md §2.2, E8/E14/E15).
  * Each balance sheet in the reference is one (CIK, filing); here each
  * order's lineitems stand in for one sheet's lines — same shape, fully
  * parallel over the high-cardinality orderkey.
  */
object BalanceSheet {

  // E8 (DatabaseSplits.py:25-89): ordered bisection — the last
  // asset-marker line splits the sheet into asset and liability blocks.
  // One window MAX per sheet; no driver-side iteration (the reference
  // loops per sheet in Python).
  def q26BsSplit(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val w = Window.partitionBy("l_orderkey")
    l.withColumn("split_line",
        max(when(col("l_returnflag") === "A", col("l_linenumber"))).over(w))
      .withColumn("block",
        when(col("split_line").isNull, "unsplit")
          .when(col("l_linenumber") <= col("split_line"), "assets")
          .otherwise("liabilities"))
      .groupBy("l_orderkey", "block")
      .agg(count(lit(1)).as("n_lines"),
        out2(sum(dmoney(col("l_extendedprice")))).as("block_total"))
      .orderBy("l_orderkey", "block")
  }

  val q26Sql: String =
    """SELECT l_orderkey, block, COUNT(*) AS n_lines,
      | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS block_total
      |FROM (
      | SELECT l_orderkey, l_extendedprice,
      |  CASE WHEN split_line IS NULL THEN 'unsplit'
      |       WHEN l_linenumber <= split_line THEN 'assets'
      |       ELSE 'liabilities' END AS block
      | FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |   MAX(CASE WHEN l_returnflag = 'A' THEN l_linenumber END) OVER (PARTITION BY l_orderkey) AS split_line
      |  FROM lineitem))
      |GROUP BY l_orderkey, block
      |ORDER BY l_orderkey, block""".stripMargin

  // E14 (DatabaseStructured.py:50-90, 222-241): per-class conditional sum
  // then keep-first dedup — per supplier keep the dominant class row.
  def q30StructuredAgg(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val agg = l.groupBy("l_suppkey", "l_returnflag")
      .agg(sum(dmoney(col("l_extendedprice"))).as("amount_dec"),
        count(lit(1)).as("n_lines"))
    val w = Window.partitionBy("l_suppkey").orderBy(desc("amount_dec"), asc("l_returnflag"))
    agg.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_suppkey"), col("l_returnflag").as("top_class"),
        out2(col("amount_dec")).as("amount"), col("n_lines"))
      .orderBy("l_suppkey")
  }

  val q30Sql: String =
    """SELECT l_suppkey, l_returnflag AS top_class,
      | CAST(ROUND(amount_dec, 2) AS DOUBLE) AS amount, n_lines
      |FROM (
      | SELECT l_suppkey, l_returnflag, amount_dec, n_lines,
      |  ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY amount_dec DESC, l_returnflag) AS rn
      | FROM (
      |  SELECT l_suppkey, l_returnflag,
      |   SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS amount_dec, COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY l_suppkey, l_returnflag))
      |WHERE rn = 1 ORDER BY l_suppkey""".stripMargin

  // E15 (DatabaseStructured.py:130-148): reconstruction check — the sum
  // of classified lines vs the reported total, graded
  // PERFECT / BOUNDED / GROSS / NOT FOUND.
  def q31Reconstruction(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val recon = l.groupBy("l_orderkey")
      .agg(sum(dmoney(col("l_extendedprice"))).as("recon_dec"))
    val reconD = col("recon_dec").cast(DoubleType)
    o.join(recon, o("o_orderkey") === recon("l_orderkey"), "left_outer")
      .withColumn("rel_err",
        when(col("recon_dec").isNotNull && col("o_totalprice") > 0,
          round(abs(reconD - col("o_totalprice")) / col("o_totalprice"), 6)))
      .withColumn("grade",
        when(col("recon_dec").isNull, "NOT FOUND")
          .when(col("rel_err") === 0.0, "PERFECT")
          .when(col("rel_err") <= 0.1, "BOUNDED")
          .otherwise("GROSS"))
      .select(col("o_orderkey"), col("o_totalprice"),
        out2(col("recon_dec")).as("reconstructed"), col("rel_err"), col("grade"))
      .orderBy("o_orderkey")
  }

  val q31Sql: String =
    """SELECT o_orderkey, o_totalprice,
      | CAST(ROUND(recon_dec, 2) AS DOUBLE) AS reconstructed,
      | CASE WHEN recon_dec IS NOT NULL AND o_totalprice > 0
      |  THEN ROUND(ABS(CAST(recon_dec AS DOUBLE) - o_totalprice) / o_totalprice, 6) END AS rel_err,
      | CASE WHEN recon_dec IS NULL THEN 'NOT FOUND'
      |      WHEN ROUND(ABS(CAST(recon_dec AS DOUBLE) - o_totalprice) / o_totalprice, 6) = 0.0 THEN 'PERFECT'
      |      WHEN ROUND(ABS(CAST(recon_dec AS DOUBLE) - o_totalprice) / o_totalprice, 6) <= 0.1 THEN 'BOUNDED'
      |      ELSE 'GROSS' END AS grade
      |FROM orders LEFT JOIN (
      | SELECT l_orderkey, SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS recon_dec
      | FROM lineitem GROUP BY l_orderkey) r
      |ON o_orderkey = r.l_orderkey
      |ORDER BY o_orderkey""".stripMargin

  // E22: balance-sheet ANALYTICS over the constructed database — the
  // downstream consumer the reference ships as
  // Structured_assets_liabilities.ipynb: per (entity, year) asset and
  // liability totals, the leverage ratio, and the year-over-year asset
  // growth time series. Conditional decimal aggregates + one entity-keyed
  // lag window; ratios are single IEEE divisions on decimal-exact sums.
  def q87BsAnalytics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val yearly = o
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .agg(
        sum(when(col("o_orderstatus") === "O", dmoney(col("o_totalprice")))).as("assets_dec"),
        sum(when(col("o_orderstatus") === "F", dmoney(col("o_totalprice")))).as("liab_dec"))
    val w = Window.partitionBy("o_custkey").orderBy("yr")
    yearly
      .withColumn("prev_assets_dec", lag("assets_dec", 1).over(w))
      .select(
        col("o_custkey"), col("yr").cast(LongType).as("yr"),
        out2(col("assets_dec")).as("assets"),
        out2(col("liab_dec")).as("liabilities"),
        when(col("assets_dec").isNotNull && col("liab_dec").isNotNull,
          round(col("liab_dec").cast(DoubleType) / col("assets_dec").cast(DoubleType), 6))
          .as("leverage"),
        when(col("prev_assets_dec").isNotNull && col("assets_dec").isNotNull,
          round((col("assets_dec") - col("prev_assets_dec")).cast(DoubleType) /
            col("prev_assets_dec").cast(DoubleType), 6))
          .as("yoy_asset_growth"))
      .orderBy("o_custkey", "yr")
  }

  // E27 (run_build_database.py:41-230 `main_p3`): the BACK-HALF chained
  // capstone — the symmetric twin of q101 (which chains the front half).
  // One lineage flows through every stage of the reference's step 6-8
  // loop: OCR clean + two-column merge (OCRClean.py num_strip/merge, as
  // q22/q23) → column purge of value-less rows (OCRClean.py:90-111) →
  // asset/liability bisection (DatabaseSplits.py lineItems, as q26;
  // sheets that fail to split are skipped exactly like the reference's
  // `response is None` branch) → header scale detect+apply
  // (OCRClean.py numeric_scaler, as q24) → totals detection by NAME REGEX
  // and strip (DatabaseUnstructured.py totals_check:108-160, as q09's
  // family) → rule classification + manual-label override
  // (DatabaseStructured.py, as q27/q29) → per-class structured agg with
  // dominant-class keep (as q30) → reconstruction grade vs the detected
  // total (as q31) → filing metadata attach (extra_cols, as q32/q21).
  //
  // Totals rows are synthesized per (sheet, block) from the block sum
  // with a deterministic distortion (key%7: 0 → no total row → NOT
  // FOUND; 1-3 → exact → PERFECT; 4-5 → ×1.04 → BOUNDED; 6 → ×1.48 →
  // GROSS), unioned into the line stream, and then RE-DETECTED by the
  // totals_check regex — the composition must find and strip them.
  // Factors 1.04/1.48 are chosen so no decimal product ever lands on a
  // rounding tie (4c ≡ 50 and 48c ≡ 50 (mod 100) have no solutions).
  //
  // Scale shape: every big-data shuffle is keyed by l_orderkey or a
  // superset — ONE window exchange serves purge-count and bisection, the
  // block-sum groupBy reuses that partitioning (okey ⊆ keys), and the
  // post-union class aggregation is the only new full exchange. All
  // later joins/windows run on the per-(sheet, block[, class]) frame
  // (2-12 rows per sheet); the manual-label lookup is a broadcast. The
  // multi-consumer lineage recomputes rather than caches — the measured
  // q101 lesson (SURVEY §8: recompute ≤ localCheckpoint at this scale).
  def q103BackHalf(s: SparkSession, dir: String): DataFrame =
    q103Impl(s, dir, checkpoint = true)

  private[graft] def q103Impl(s: SparkSession, dir: String,
      checkpoint: Boolean): DataFrame = {
    import graft.functions.CleanNumeric
    // Repartition by sheet key BEFORE the OCR-clean projection: the
    // clean/merge chain is ~76 regex evaluations per row, and Catalyst
    // otherwise pushes that projection down into the SCAN stage, whose
    // parallelism is the parquet split count — a small input file would
    // serialize ~45M regex calls on one core (measured: 57-82 s at
    // sf0.1 single-task vs ~4 s repartitioned). This exchange is the
    // very one the sheet windows require (hashpartitioning l_orderkey),
    // so downstream needs no further shuffle — the regex work just moves
    // to the reduce side where parallelism is the shuffle-partition
    // count, independent of input layout. The count is EXPLICIT because
    // a column-only repartition is AQE-coalescible, and these shuffle
    // bytes are tiny relative to the CPU their rows carry — AQE folds
    // them back to one partition and re-serializes the regex work
    // (measured: 45-65 s coalesced vs ~4 s pinned at sf0.1).
    val l = Tables.lineitem(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("l_orderkey"))
    val key = col("l_orderkey") * 31 + col("l_linenumber")
    val sideA = (col("l_orderkey") % 3) === 0
    val isPurge = (col("l_partkey") % 13) === 0
    val labelOf: Column => Column = Classify.lineLabel

    // stage 1: the messy two-column OCR frame (col_a XOR col_b per row).
    // CODEGEN-SHAPE NOTE (the round-6 55-160 s root cause): the clean
    // chain below references its argument ~10 times, so cleaning a
    // DERIVED column lets CollapseProject inline the messy generator
    // into every reference — the projection blows past Janino's 64 KB
    // method limit, whole-stage codegen (and with it common-subexpression
    // elimination) falls back, and the messy chain re-evaluates ~10x per
    // row interpreted. The column_purge WINDOW below is therefore placed
    // BETWEEN the messy projection and the clean projection: a Window is
    // a Project barrier, so col_a/col_b reach the cleaner as plain
    // materialized attributes — exactly the shape of q22, which cleans a
    // stored column and codegens in one compact span.
    val wSheet = Window.partitionBy("l_orderkey")
    val staged = l
      .withColumn("purged", isPurge)
      .withColumn("col_a",
        when(col("purged") || sideA, lit(""))
          .otherwise(CleanNumeric.messy(col("l_extendedprice"), key)))
      .withColumn("col_b",
        when(!col("purged") && sideA, CleanNumeric.messy(col("l_extendedprice"), key))
          .otherwise(lit("")))
      .withColumn("label", labelOf(col("l_partkey")))
      // stage 2: column_purge (OCRClean.py:90-111) — count per sheet via
      // the same okey window the bisection uses, then drop
      .withColumn("n_purged", sum(when(col("purged"), 1L).otherwise(0L)).over(wSheet))
    val kept = staged.filter(!col("purged"))
    // stage 2b: OCR clean + two-column merge (q22/q23) on the kept rows.
    // merged inlines the two conditional cleans directly (one per source
    // column) instead of routing through val_a/val_b output columns —
    // same coalesce semantics, half the generated code.
    val cleaned = kept
      .withColumn("merged", coalesce(
        when(trim(col("col_a")) =!= "", round(CleanNumeric.clean(col("col_a")), 2)),
        when(trim(col("col_b")) =!= "", round(CleanNumeric.clean(col("col_b")), 2))))
    // stage 3: bisection (q26); unsplittable sheets skipped like the
    // reference's `response is None`. Same window spec → the partitioning
    // and intra-partition order from stage 2 are reused, no new exchange.
    val split = cleaned
      .withColumn("split_line",
        max(when(col("l_returnflag") === "A", col("l_linenumber"))).over(wSheet))
      .filter(col("split_line").isNotNull)
      .withColumn("block",
        when(col("l_linenumber") <= col("split_line"), "assets").otherwise("liabilities"))
    // stage 4: header scale detect + apply (q24)
    val header = when(col("l_orderkey") % 4 === 0, lit("(In Thousands)"))
      .when(col("l_orderkey") % 4 === 1, lit("(in millions of dollars)"))
      .when(col("l_orderkey") % 4 === 2, lit("amounts in billions"))
      .otherwise(lit(""))
    val rowsPlan = split
      .withColumn("header", header)
      .withColumn("multiplier",
        when(lower(col("header")).contains("thousand"), lit(1000L))
          .when(lower(col("header")).contains("million"), lit(1000000L))
          .when(lower(col("header")).contains("billion"), lit(1000000000L))
          .otherwise(lit(1L)))
      .withColumn("val4",
        (col("merged").cast(DecimalType(14, 2)) *
          col("multiplier").cast(DecimalType(10, 0))).cast(DecimalType(24, 4)))
      .select(col("l_orderkey"), col("block"), col("label"), col("n_purged"), col("val4"))
    // localCheckpoint BARRIER: the stage-4 frame is consumed TWICE below
    // (the totals groupBy and the union), and without a barrier each
    // consumer re-evaluates the whole ~76-regex clean chain — the most
    // CPU-expensive projection in the repo, doubled. That duplication was
    // the round-6 verdict's top finding (55-160 s at sf0.1; in-JVM A/B
    // this round: recompute vs checkpoint measured in SURVEY §8). The
    // checkpointed frame is NARROW — 5 small columns — so materialization
    // is tiny relative to the regex CPU it halves; at 100 TB this is one
    // corpus-wide regex pass instead of two. (q101's measured "recompute
    // wins" lesson held for a cheap parse projection, not this chain.)
    // The totals groupBy below re-shuffles the checkpointed frame (the
    // plan's okey partitioning does not survive the RDD barrier), but
    // that exchange carries the NARROW 5-column rows — cheap relative
    // to the clean chain it stops from running twice.
    val rows = if (checkpoint) GraftSession.checkpoint(rowsPlan) else rowsPlan
    // stage 5a: synthesize the sheets' total rows from block sums with
    // the deterministic distortion (the groupBy reuses the okey exchange)
    val factor = when((col("l_orderkey") % 7).isin(1, 2, 3), lit("1.00"))
      .when((col("l_orderkey") % 7).isin(4, 5), lit("1.04"))
      .otherwise(lit("1.48"))
      .cast(DecimalType(3, 2))
    // DECIMAL(27,4): val4 can reach ~1e14 per line (price × 1e9 header
    // multiplier), so a (20,4) intermediate would overflow to NULL on
    // sheets with more/larger lines at bigger scale factors, silently
    // turning distorted-total sheets into grade NOT FOUND (round-6
    // advice). 27 digits hold ~1e9 lines of 1e14 before the final
    // ×factor cast to (24,4) bounds the output.
    val totalsRows = rows.groupBy("l_orderkey", "block")
      .agg(sum(col("val4")).cast(DecimalType(27, 4)).as("block_sum"))
      .filter(col("l_orderkey") % 7 =!= 0)
      .select(col("l_orderkey"), col("block"),
        when(col("block") === "assets", lit("total assets"))
          .otherwise(lit("total liabilities & equity")).as("label"),
        lit(null).cast(LongType).as("n_purged"),
        (col("block_sum") * factor).cast(DecimalType(24, 4)).as("val4"))
    val sheetRows = rows.unionByName(totalsRows)
    // stage 5b: totals_check — detect total rows by the reference's name
    // patterns. The patterns are regex-free (a literal suffix and
    // literal substrings), so they run as codegen'd EndsWith/Contains
    // instead of three java.util.regex matches per row over the unioned
    // line stream (r18 §4 expressions; provably the same predicate:
    // `x$` anchors a literal ⇔ endsWith, a literal pattern ⇔ contains,
    // and `a|b|c` of literals ⇔ contains-any; null flows identically).
    val labelLc = lower(col("label"))
    val isTotal = labelLc.endsWith("total assets") ||
      (labelLc.contains("liabilit") &&
        (labelLc.contains("equity") || labelLc.contains("deficit") ||
          labelLc.contains("capital")))
    // stage 6: rule classify + manual override on non-total lines
    val manual = Tables.nation(s, dir)
      .filter(col("n_nationkey") < 2)
      .select(labelOf(col("n_nationkey")).as("label"),
        concat(lit("manual_"), lower(col("n_name"))).as("manual_label"))
    val classified = sheetRows
      .withColumn("is_total", isTotal)
      .join(broadcast(manual), Seq("label"), "left_outer")
      .withColumn("final_label",
        when(col("is_total"), "__total__")
          .otherwise(coalesce(col("manual_label"), Classify.ruleLabel(col("label")))))
    // stage 7: structured aggregation per (sheet, block, class) — the
    // one post-union full exchange; everything below runs on the tiny
    // per-block frame
    val perClass = classified.groupBy("l_orderkey", "block", "final_label")
      .agg(sum(col("val4")).as("amt_dec"), count(lit(1)).as("n_rows"),
        max(col("n_purged")).as("n_purged"))
    val wB = Window.partitionBy("l_orderkey", "block")
    val wTop = wB.orderBy((col("final_label") === "__total__").cast(IntegerType),
      desc("amt_dec"), asc("final_label"))
    val isCls = col("final_label") =!= "__total__"
    val graded = perClass
      .withColumn("rn", row_number().over(wTop))
      .withColumn("recon_dec", sum(when(isCls, col("amt_dec"))).over(wB))
      .withColumn("n_kept", sum(when(isCls, col("n_rows"))).over(wB))
      .withColumn("total_dec", max(when(!isCls, col("amt_dec"))).over(wB))
      .withColumn("np", max(col("n_purged")).over(wB))
      .filter(col("rn") === 1) // dominant class row (never __total__: real
      // classes sort first and every block has at least one line)
    val reconD = col("recon_dec").cast(DoubleType)
    val totalD = col("total_dec").cast(DoubleType)
    val relErr = when(col("total_dec").isNotNull && totalD =!= 0.0,
      round(abs(reconD - totalD) / abs(totalD), 6))
    // stage 8: reconstruction grade (q31) + filing metadata (q32/E16)
    val o = Tables.orders(s, dir)
    graded
      .withColumn("rel_err", relErr)
      .withColumn("grade",
        when(col("total_dec").isNull, "NOT FOUND")
          .when(col("rel_err").isNull, "GROSS")
          .when(col("rel_err") === 0.0, "PERFECT")
          .when(col("rel_err") <= 0.1, "BOUNDED")
          .otherwise("GROSS"))
      .join(o.select(col("o_orderkey"), col("o_custkey").as("cik"),
        (year(col("o_orderdate")) + when(month(col("o_orderdate")) >= 7, 1).otherwise(0))
          .cast(LongType).as("fiscal_year")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("block"), col("cik"), col("fiscal_year"),
        col("n_kept"), col("np").as("n_purged"),
        col("final_label").as("top_class"), out2(col("amt_dec")).as("top_amount"),
        round(col("total_dec"), 4).cast(DoubleType).as("reported_total"),
        out2(col("recon_dec")).as("reconstructed"),
        col("rel_err"), col("grade"))
      .orderBy("l_orderkey", "block")
  }

  val q103Sql: String = {
    import graft.functions.CleanNumeric
    val messy = CleanNumeric.messySqlExpr("l_extendedprice", "l_orderkey * 31 + l_linenumber")
    val cleanA = CleanNumeric.cleanSqlExpr("col_a")
    val cleanB = CleanNumeric.cleanSqlExpr("col_b")
    def labelOf(k: String): String =
      s"""CASE ($k) % 5 WHEN 0 THEN 'customer deposits held'
         | WHEN 1 THEN 'order receivables net'
         | WHEN 2 THEN 'stream service obligations'
         | WHEN 3 THEN 'data center equipment'
         | ELSE 'sundry payables' END""".stripMargin
    s"""WITH base AS (
       | SELECT l_orderkey, l_linenumber, l_returnflag,
       |  (l_partkey % 13 = 0) AS purged,
       |  CASE WHEN l_partkey % 13 = 0 OR l_orderkey % 3 = 0 THEN '' ELSE $messy END AS col_a,
       |  CASE WHEN l_partkey % 13 <> 0 AND l_orderkey % 3 = 0 THEN $messy ELSE '' END AS col_b,
       |  ${labelOf("l_partkey")} AS label
       | FROM lineitem
       |), cleaned AS (
       | SELECT *, COALESCE(CASE WHEN TRIM(col_a) <> '' THEN ROUND($cleanA, 2) END,
       |                    CASE WHEN TRIM(col_b) <> '' THEN ROUND($cleanB, 2) END) AS merged,
       |  SUM(CASE WHEN purged THEN 1 ELSE 0 END) OVER (PARTITION BY l_orderkey) AS n_purged
       | FROM base
       |), split AS (
       | SELECT * FROM (
       |  SELECT *, MAX(CASE WHEN l_returnflag = 'A' THEN l_linenumber END)
       |    OVER (PARTITION BY l_orderkey) AS split_line
       |  FROM cleaned WHERE NOT purged)
       | WHERE split_line IS NOT NULL
       |), rows_s AS (
       | SELECT l_orderkey,
       |  CASE WHEN l_linenumber <= split_line THEN 'assets' ELSE 'liabilities' END AS block,
       |  label, n_purged,
       |  CAST(CAST(merged AS DECIMAL(14,2)) * CAST(CASE l_orderkey % 4
       |    WHEN 0 THEN 1000 WHEN 1 THEN 1000000 WHEN 2 THEN 1000000000
       |    ELSE 1 END AS DECIMAL(10,0)) AS DECIMAL(24,4)) AS val4
       | FROM split
       |), totals_rows AS (
       | SELECT l_orderkey, block,
       |  CASE WHEN block = 'assets' THEN 'total assets'
       |       ELSE 'total liabilities & equity' END AS label,
       |  CAST(NULL AS BIGINT) AS n_purged,
       |  CAST(CAST(SUM(val4) AS DECIMAL(27,4)) * CAST(CASE
       |    WHEN l_orderkey % 7 IN (1,2,3) THEN '1.00'
       |    WHEN l_orderkey % 7 IN (4,5) THEN '1.04'
       |    ELSE '1.48' END AS DECIMAL(3,2)) AS DECIMAL(24,4)) AS val4
       | FROM rows_s WHERE l_orderkey % 7 <> 0
       | GROUP BY l_orderkey, block
       |), sheet_rows AS (
       | SELECT * FROM rows_s UNION ALL SELECT * FROM totals_rows
       |), classified AS (
       | SELECT s.l_orderkey, s.block, s.n_purged, s.val4,
       |  CASE WHEN REGEXP_MATCHES(LOWER(s.label), 'total assets$$')
       |        OR (REGEXP_MATCHES(LOWER(s.label), 'liabilit')
       |            AND REGEXP_MATCHES(LOWER(s.label), 'equity|deficit|capital'))
       |   THEN '__total__'
       |   ELSE COALESCE(m.manual_label,
       |     CASE WHEN s.label LIKE '%customer%' THEN 'customer_related'
       |          WHEN s.label LIKE '%order%' THEN 'order_related'
       |          WHEN s.label LIKE '%stream%' THEN 'stream_related'
       |          WHEN s.label LIKE '%data%' THEN 'data_related'
       |          ELSE 'other' END) END AS final_label
       | FROM sheet_rows s LEFT JOIN (
       |  SELECT ${labelOf("n_nationkey")} AS label,
       |   'manual_' || LOWER(n_name) AS manual_label
       |  FROM nation WHERE n_nationkey < 2) m ON s.label = m.label
       |), per_class AS (
       | SELECT l_orderkey, block, final_label,
       |  SUM(val4) AS amt_dec, COUNT(*) AS n_rows, MAX(n_purged) AS n_purged
       | FROM classified GROUP BY l_orderkey, block, final_label
       |), graded AS (
       | SELECT * FROM (
       |  SELECT l_orderkey, block, final_label, amt_dec,
       |   ROW_NUMBER() OVER (PARTITION BY l_orderkey, block
       |     ORDER BY CASE WHEN final_label = '__total__' THEN 1 ELSE 0 END,
       |              amt_dec DESC, final_label) AS rn,
       |   SUM(CASE WHEN final_label <> '__total__' THEN amt_dec END)
       |     OVER (PARTITION BY l_orderkey, block) AS recon_dec,
       |   SUM(CASE WHEN final_label <> '__total__' THEN n_rows END)
       |     OVER (PARTITION BY l_orderkey, block) AS n_kept,
       |   MAX(CASE WHEN final_label = '__total__' THEN amt_dec END)
       |     OVER (PARTITION BY l_orderkey, block) AS total_dec,
       |   MAX(n_purged) OVER (PARTITION BY l_orderkey, block) AS np
       |  FROM per_class)
       | WHERE rn = 1
       |)
       |SELECT g.l_orderkey, g.block, o.o_custkey AS cik,
       | CAST(EXTRACT(year FROM o.o_orderdate)
       |   + CASE WHEN EXTRACT(month FROM o.o_orderdate) >= 7 THEN 1 ELSE 0 END AS BIGINT) AS fiscal_year,
       | CAST(g.n_kept AS BIGINT) AS n_kept, CAST(g.np AS BIGINT) AS n_purged,
       | g.final_label AS top_class,
       | CAST(ROUND(g.amt_dec, 2) AS DOUBLE) AS top_amount,
       | CAST(ROUND(g.total_dec, 4) AS DOUBLE) AS reported_total,
       | CAST(ROUND(g.recon_dec, 2) AS DOUBLE) AS reconstructed,
       | CASE WHEN g.total_dec IS NOT NULL AND CAST(g.total_dec AS DOUBLE) <> 0.0
       |  THEN ROUND(ABS(CAST(g.recon_dec AS DOUBLE) - CAST(g.total_dec AS DOUBLE))
       |    / ABS(CAST(g.total_dec AS DOUBLE)), 6) END AS rel_err,
       | CASE WHEN g.total_dec IS NULL THEN 'NOT FOUND'
       |      WHEN CAST(g.total_dec AS DOUBLE) = 0.0 THEN 'GROSS'
       |      WHEN ROUND(ABS(CAST(g.recon_dec AS DOUBLE) - CAST(g.total_dec AS DOUBLE))
       |        / ABS(CAST(g.total_dec AS DOUBLE)), 6) = 0.0 THEN 'PERFECT'
       |      WHEN ROUND(ABS(CAST(g.recon_dec AS DOUBLE) - CAST(g.total_dec AS DOUBLE))
       |        / ABS(CAST(g.total_dec AS DOUBLE)), 6) <= 0.1 THEN 'BOUNDED'
       |      ELSE 'GROSS' END AS grade
       |FROM graded g JOIN orders o ON g.l_orderkey = o.o_orderkey
       |ORDER BY g.l_orderkey, g.block""".stripMargin
  }

  val q87Sql: String =
    """SELECT o_custkey, yr,
      | CAST(ROUND(assets_dec, 2) AS DOUBLE) AS assets,
      | CAST(ROUND(liab_dec, 2) AS DOUBLE) AS liabilities,
      | CASE WHEN assets_dec IS NOT NULL AND liab_dec IS NOT NULL THEN
      |  ROUND(CAST(liab_dec AS DOUBLE) / CAST(assets_dec AS DOUBLE), 6) END AS leverage,
      | CASE WHEN prev_assets_dec IS NOT NULL AND assets_dec IS NOT NULL THEN
      |  ROUND(CAST(assets_dec - prev_assets_dec AS DOUBLE) / CAST(prev_assets_dec AS DOUBLE), 6)
      | END AS yoy_asset_growth
      |FROM (
      | SELECT o_custkey, yr, assets_dec, liab_dec,
      |  LAG(assets_dec, 1) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_assets_dec
      | FROM (
      |  SELECT o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |   SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS assets_dec,
      |   SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS liab_dec
      |  FROM orders GROUP BY 1, 2))
      |ORDER BY o_custkey, yr""".stripMargin
}
