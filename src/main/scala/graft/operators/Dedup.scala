package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for an LLM-training-data pipeline
  * (SURVEY.md §2.3, T1-T5) over the `documents` / `embeddings` tables.
  *
  * Scale design (100 TB): exact dedup is one hash shuffle; pairwise
  * methods are only ever evaluated inside bounded blocks — shared-shingle
  * buckets (T2), LSH band buckets (T3/T4), or IVF cells (T5) — so the
  * candidate-pair count stays near-linear in corpus size instead of n².
  */
object Dedup {

  // T1: exact dedup by content hash. One groupBy(md5) shuffle; keeper =
  // min doc_id (deterministic). At 100 TB: hash-partitioned, no skew
  // (md5 is uniform), mergeable partial aggs.
  def q40DedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.withColumn("content_hash", md5(col("text")))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"),
        max(col("n_chars")).as("n_chars"))
      .select(col("content_hash"), col("keeper_id"), col("n_copies"),
        (col("n_copies") > 1).as("is_dup_group"), col("n_chars"))
      .orderBy("keeper_id")
  }

  val q40Sql: String =
    """SELECT MD5(text) AS content_hash, MIN(doc_id) AS keeper_id,
      | COUNT(*) AS n_copies, COUNT(*) > 1 AS is_dup_group, MAX(n_chars) AS n_chars
      |FROM documents GROUP BY MD5(text) ORDER BY keeper_id""".stripMargin

  // T2: near-dup via word-3-gram Jaccard over INFORMATIVE shingles:
  // shingles appearing in more than MaxShingleDf documents are
  // stop-shingles and dropped before pair generation (standard near-dup
  // practice — they carry no identity signal and their c² pair blowup is
  // what kills shared-token joins at scale). The document-frequency
  // filter, sizes and intersections all use the same filtered shingle
  // space, so Jaccard stays well-defined and the DuckDB oracle agrees.
  val MaxShingleDf = 100

  /** Unordered q41 pair set — compose from THIS (q55/q58 do), not from
    * q41NgramJaccard: the final ORDER BY exists only for presentation and
    * would cost a global range exchange inside a composition.
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // ONE keyed shuffle: explode → groupBy(shingle) with collect_set —
    // the set dedupes (doc, shingle) repeats map-side AND gives the
    // document frequency as size(docs). The df cap then bounds every
    // posting list, so candidate pairs come from an in-row double explode
    // (≤ df²/2 per shingle, no self-join, no second big shuffle). This is
    // the posting-list formulation of the shared-shingle join; at 100 TB
    // the shuffle is hash-partitioned on shingle and Σdf² stays bounded.
    val postings = d
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(TextFunctions.hashedShinglesFromTokens(col("toks"), 3)).as("shingle"))
      .groupBy("shingle").agg(collect_set(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= MaxShingleDf)
      // Parallelism pin for the pair fan-out (r17 opt, the q103 lesson
      // at the reduce side): the posting table's partial-agg exchange
      // is SMALL (map-side collect_set dedup — 1.6 MB at sf0.1), so
      // AQE's bytes-based parallelism-first coalescing folds it to ~1
      // partition, and the df²/2 double explode below — the query's
      // dominant CPU — then runs single-threaded (Diag: one task,
      // 0.9 s CPU ≈ half the q41 wall; q55/q58/q118 inherit it). An
      // explicit round-robin repartition to the session shuffle width
      // is pinned (AQE never coalesces user-specified numPartitions):
      // it moves posting-table-sized bytes once — trivial next to the
      // pair stream it fans out — and both the pair explode and the
      // sizes branch read the one exchange. Aggregation results are
      // partitioning-invariant; the posting groupBy exchange above
      // keeps its map-side partial sets (repartitioning BEFORE the agg
      // would shuffle the raw explode stream instead).
      .repartition(s.sessionState.conf.numShufflePartitions)
    val sizes = postings.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = postings
      .select(explode(col("docs")).as("d1"), col("docs"))
      .select(col("d1"), explode(col("docs")).as("d2"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        round(col("n_inter").cast(DoubleType) /
          (col("n1") + col("n2") - col("n_inter")).cast(DoubleType), 4))
      .filter(col("jaccard") >= 0.8)
      .select(col("d1"), col("d2"), col("n_inter"), col("n1"), col("n2"), col("jaccard"))
  }

  def q41NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // the engine's declared-inherent exchange (shingle postings):
    // consult the input-size rule when the session opts in (r15's
    // measured 96-partition floor at the 5M-doc rung, made executable;
    // r16 hygiene — the derived value lives on a child session, the
    // caller's conf is never touched)
    val s2 = graft.GraftSession.autoShuffled(s, s"$dir/documents.parquet")
    jaccardPairs(s2, dir).orderBy("d1", "d2")
  }

  val q41Sql: String = {
    val sh3 = TextFunctions.shinglesSql3("text")
    s"""WITH sh_all AS (
       | SELECT DISTINCT doc_id, UNNEST($sh3) AS shingle FROM documents
       |), sh AS (
       | SELECT doc_id, shingle FROM sh_all
       | WHERE shingle IN (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) <= $MaxShingleDf)
       |), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
       |SELECT d1, d2, n_inter, n1, n2, jaccard FROM (
       | SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter,
       |  s1.n_sh AS n1, s2.n_sh AS n2,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - COUNT(*) AS DOUBLE), 4) AS jaccard
       | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       | JOIN sizes s1 ON s1.doc_id = a.doc_id
       | JOIN sizes s2 ON s2.doc_id = b.doc_id
       | GROUP BY a.doc_id, b.doc_id, s1.n_sh, s2.n_sh)
       |WHERE jaccard >= 0.8 ORDER BY d1, d2""".stripMargin
  }

  // T3: MinHash + LSH — the 100 TB near-dup path. k=32 permutations
  // min-folded per doc, banded 8×4; candidate pairs only join inside
  // (band, signature) buckets, so the shuffle is hash-partitioned on
  // the band signature and worst-case pair count is bounded by bucket
  // sizes. Estimated Jaccard = fraction of matching minhash
  // components; final gate at 0.5.
  //
  // Round 7: the permutations are now AFFINE MAPS over a 45-bit
  // md5Long base — perm_i(x) = (a_i·x + b_i) mod 2^45 with odd 15-bit
  // a_i (a bijection of the 45-bit space, i.e. a genuine permutation) —
  // and the band signatures are md5Long of the rendered band slice.
  // Every step is exact integer arithmetic both engines share, so the
  // ENTIRE minhash+LSH pipeline is ORACLE-CHECKED (previously
  // rows-only: xxhash64 is Spark-only). The a_i/b_i constants are
  // generated once in Scala and embedded as literals in BOTH the
  // Column expressions and the SQL twin.
  val MinhashK = 32
  val LshBands = 8 // × 4 rows per band
  val MhMod = 1L << 45
  private def mhA(i: Int): Long = 2L * ((i * 2654435761L) % 16384L) + 1L
  private def mhB(i: Int): Long = (i * 22801763489L + 1234567891L) % MhMod

  def q42MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val s2 = graft.GraftSession.autoShuffled(s, s"$dir/documents.parquet")
    val d = Tables.documents(s2, dir)
    // no distinct needed: the min-fold is duplicate-insensitive, so the
    // signature aggregation runs straight off the explode with map-side
    // partial mins — one small shuffle keyed by doc_id, nothing else.
    // ONE md5 per shingle occurrence; the 32 permutations are cheap
    // affine arithmetic on the shared base.
    // r14: fused md5_long_ngrams — the shingle string is never
    // materialized (the transform-HOF built it interpreted, then the
    // hex chain re-parsed it; see Md5LongExprs). Ids bit-identical, so
    // the oracle twin's ||-joined shingles replay unchanged.
    val sh = d
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(TextFunctions.md5LongNgramsFromTokens(col("toks"), 3)).as("h"))
      .withColumn("base", col("h") % MhMod)
    val minCols = (0 until MinhashK).map(i =>
      min((lit(mhA(i)) * col("base") + lit(mhB(i))) % MhMod).as(s"mh_$i"))
    val rowsPerBand = MinhashK / LshBands
    val mhAgg = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val sigs = mhAgg
      .withColumn("sig", array((0 until MinhashK).map(i => col(s"mh_$i")): _*))
      .select("doc_id", "sig")
    // band signature: md5Long of "band:mh,mh,mh,mh" — identical string
    // rendering of longs in both engines
    val bandSigs = (0 until LshBands).map { b =>
      TextFunctions.md5Long(concat_ws(",",
        lit(s"$b:") +: (0 until rowsPerBand)
          .map(r => col(s"mh_${b * rowsPerBand + r}").cast("string")): _*))
    }
    val banded = mhAgg.select(col("doc_id"),
        posexplode(array(bandSigs: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
    // candidate pairs travel as bare (d1, d2) longs — the 32-long sig
    // arrays stay OUT of the self-join shuffle and are re-attached only
    // for the (much smaller) post-dedup verify step.
    val bandedSlim = banded.select("doc_id", "band", "band_sig")
    val cand = bandedSlim.as("a").join(bandedSlim.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), Seq("d1"))
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), Seq("d2"))
      .withColumn("est_jaccard",
        // native sig_agree: one fused loop per candidate pair (the
        // zip_with+filter HOF stack ran interpreted — guard-spec r15)
        round(call_function("sig_agree", col("sig1"), col("sig2"))
          .cast(DoubleType) / MinhashK, 4))
      .filter(col("est_jaccard") >= 0.5)
      .select("d1", "d2", "est_jaccard")
      .orderBy("d1", "d2")
  }

  val q42Sql: String = {
    val sh3 = TextFunctions.shinglesSql3("text")
    val base = s"(${TextFunctions.md5LongSql("shingle")} % $MhMod)"
    val minCols = (0 until MinhashK)
      .map(i => s"MIN((${mhA(i)} * base + ${mhB(i)}) % $MhMod) AS mh_$i")
      .mkString(",\n  ")
    val rowsPerBand = MinhashK / LshBands
    val bandUnion = (0 until LshBands).map { b =>
      val rendered = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${TextFunctions.md5LongSql(s"'$b:' || ',' || $rendered")} AS band_sig FROM sigs"
    }.mkString("\n UNION ALL ")
    val matches = (0 until MinhashK)
      .map(i => s"(CASE WHEN s1.mh_$i = s2.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sh AS (
       | SELECT doc_id, $base AS base
       | FROM (SELECT doc_id, UNNEST($sh3) AS shingle FROM documents)
       |), sigs AS (
       | SELECT doc_id,
       |  $minCols
       | FROM sh GROUP BY doc_id
       |), banded AS (
       | $bandUnion
       |), cand AS (
       | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       | FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
       |)
       |SELECT d1, d2, est_jaccard FROM (
       | SELECT c.d1, c.d2,
       |  ROUND(CAST($matches AS DOUBLE) / $MinhashK, 4) AS est_jaccard
       | FROM cand c
       | JOIN sigs s1 ON c.d1 = s1.doc_id
       | JOIN sigs s2 ON c.d2 = s2.doc_id)
       |WHERE est_jaccard >= 0.5
       |ORDER BY d1, d2""".stripMargin
  }

  // T4: SimHash — 60-bit signature (the 60 bits of md5Long per token,
  // majority-vote per bit), hamming ≤ 3 via 4-band equality blocking
  // (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands equal). Fully
  // oracle-checked since round 7: md5Long is bit-identical in DuckDB,
  // so the whole pipeline — bit votes, signature, band buckets, hamming
  // verification — hash-matches the SQL twin (q43Sql).
  val SimBits = 60
  val SimBands = 4 // 15 bits each

  def q43Simhash(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // md5Long (round 7; previously xxhash64): the 60-bit cross-engine
    // hash makes the WHOLE simhash pipeline — bit votes, signature,
    // band buckets, hamming verification — oracle-checked instead of
    // rows-only. 60 hash bits line up exactly with SimBits.
    val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("h", TextFunctions.md5Long(col("token")))
    // per bit: sum(+1/-1); sign → bit
    val bitSums = (0 until SimBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L) * 2 - 1).as(s"b_$j"))
    val agged = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until SimBits).map(j =>
      when(col(s"b_$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    val sigs = agged.withColumn("simhash", simhash).select("doc_id", "simhash")
    val bandMask = (1L << 15) - 1
    val banded = sigs.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimBands).map(b =>
          shiftright(col("simhash"), b * 15).bitwiseAND(bandMask)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_val")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("sh1"), col("b.simhash").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast(LongType))
      .filter(col("hamming") <= 3)
      .select("d1", "d2", "hamming")
      .orderBy("d1", "d2")
  }

  val q43Sql: String = {
    val h = TextFunctions.md5LongSql("token")
    val bitSums = (0 until SimBits)
      .map(j => s"SUM(((h >> $j) & 1) * 2 - 1) AS b_$j").mkString(",\n  ")
    val simhash = (0 until SimBits)
      .map(j => s"(CASE WHEN b_$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val bandMask = (1L << 15) - 1
    val bandUnion = (0 until SimBands)
      .map(b => s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & $bandMask AS band_val FROM sigs")
      .mkString("\n UNION ALL ")
    s"""WITH tok AS (
       | SELECT doc_id, $h AS h
       | FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
       | WHERE LENGTH(token) > 0
       |), bits AS (
       | SELECT doc_id,
       |  $bitSums
       | FROM tok GROUP BY doc_id
       |), sigs AS (
       | SELECT doc_id, $simhash AS simhash FROM bits
       |), banded AS (
       | $bandUnion
       |), cand AS (
       | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  a.simhash AS sh1, b.simhash AS sh2
       | FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |)
       |SELECT d1, d2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sh1, sh2)) <= 3
       |ORDER BY d1, d2""".stripMargin
  }

  // T2-followup: resolve near-dup PAIRS into transitive CLUSTERS with a
  // keeper per cluster — the step that turns pair evidence into actual
  // keep/drop decisions (a~b, b~c must drop two docs, not one per pair).
  // Spark-first: iterative min-label propagation over the undirected
  // pair graph; labels only decrease, so it converges in O(graph
  // diameter) keyed-join rounds — near-dup clusters are small cliques,
  // so 1-3 rounds in practice. (GraphX connectedComponents is the
  // equivalent at extreme diameters.) Oracle: DuckDB recursive CTE
  // computing min reachable doc_id — same fixpoint.
  /** CC fan-out floor: edge rows per propagation-round partition. Edge
    * rows are two longs (~16 B + row overhead), so 2M rows ≈ 32 MB
    * partitions — the guide's fewer-larger band for a join this light.
    */
  private[graft] val CcRowsPerPartition: Long = 2000000L

  def resolveClusters(pairs: DataFrame): DataFrame = {
    // iterative algorithms MUST truncate lineage each round or round N
    // re-executes rounds 1..N-1 (and the upstream pair generation) from
    // scratch — localCheckpoint materializes the small label/edge tables.
    // On a cluster with a long-running job, checkpoint() to reliable
    // storage instead so executor loss can't lose the blocks.
    // Pre-partition the STATIC edge table by the hop-join key before the
    // checkpoint (r17 opt), taken through GraftSession.layoutCheckpoint
    // so the hash(dst) layout survives the RDD barrier (a plain
    // localCheckpoint under AQE advertises UnknownPartitioning, r18),
    // and every propagation round's edges⋈labels join reads the
    // materialized hash(dst) layout in place instead of RE-SHUFFLING the full edge set per round — at R
    // rounds that was R corpus-of-edges exchanges for a table that
    // never changes. The labels side gets the matching explicit
    // hash(doc_id) layout once; each round's join output then carries
    // hash(doc_id) through its checkpoint, so later rounds stay
    // exchange-free on both big sides (only the per-round nbr_label
    // aggregate — bounded by the changed frontier — still exchanges).
    // Explicit numPartitions on both sides because co-partitioned joins
    // require matching counts and AQE must not coalesce one side.
    //
    // The width is the CC machinery's OWN, derived from the
    // materialized edge count with a rows-per-partition floor (r17
    // verdict item 4): inheriting the session width — which upstream
    // pins wide for the CPU-dense pair fan-out (jaccardPairs) — made
    // every propagation round R×np tiny tasks on a KB-scale label
    // table, and the per-round scheduling overhead cost q55 ~14% at
    // gen-sf1. Edges are two longs a row, so ~2M rows/partition is
    // ~32 MB partitions (guide §2.2 "fewer, larger"); the session width
    // stays the CAP so a genuinely huge edge set still fans out. The
    // count is read from a first, narrow checkpoint of the edge table
    // (one extra materialization of the DECISION-weight frame — cheap
    // next to the pair generation it sizes), and the repartition then
    // reads those blocks, not the pair pipeline again. Partitioning
    // never changes results — labels/joins are keyed aggregates.
    val confNp = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges0 = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint(true)
    val np = math.max(1, math.min(confNp.toLong,
      edges0.count() / CcRowsPerPartition + 1)).toInt
    // layoutCheckpoint, not plain localCheckpoint (r18): under AQE the
    // plain form advertised UnknownPartitioning on the materialized
    // RDD, so every round's hop join silently RE-EXCHANGED both big
    // sides — the exact defect the r17 pre-partitioning meant to fix
    val edges = graft.GraftSession.layoutCheckpoint(
      edges0.repartition(np, col("dst")))
    val labels0 = graft.GraftSession.layoutCheckpoint(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
        .repartition(np, col("doc_id")))
    // the un-partitioned staging checkpoint is dead once the laid-out
    // copy exists (freeCheckpoint discipline — LrTrain's rationale)
    edges0.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
    var labels = labels0
    // one propagation hop: labels' = min(label, min over in-neighbors),
    // keeping the caller's old_label column for change detection
    def hop(ls: DataFrame): DataFrame = {
      val nbrMin = edges.join(ls, edges("dst") === ls("doc_id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      ls.join(nbrMin, ls("doc_id") === nbrMin("src"), "left_outer")
        .select(ls("doc_id"), col("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
    }
    var converged = false
    var rounds = 0
    while (!converged && rounds < 30) {
      // ONE hop per materialized round (a two-hop variant measured
      // SLOWER: the doubled un-checkpointed join depth costs more than
      // the saved checkpoint round-trips). The changed flag rides in the
      // same checkpointed frame, so convergence detection is a cheap
      // scan of materialized blocks.
      val step = graft.GraftSession.layoutCheckpoint(
        hop(labels.withColumn("old_label", col("label")))
          .withColumn("changed", col("label") =!= col("old_label"))
          .select("doc_id", "label", "changed"))
      converged = step.filter(col("changed")).isEmpty
      labels = step.select("doc_id", "label")
      rounds += 1
    }
    // A silent partial result would diverge from the recursive-CTE oracle
    // with no signal; a >30-diameter chain means the input isn't the
    // small-clique near-dup graph this operator is for (use GraphX
    // connectedComponents there).
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters: min-label propagation not converged after $rounds rounds " +
          "(pair-graph diameter exceeds the cap); raise the cap or use GraphX connectedComponents")
    labels.select(col("doc_id"), col("label").as("cluster_id"),
      (col("doc_id") === col("label")).as("is_keeper"))
  }

  /** Unordered q55 verdicts — the composition form (q58 uses it). */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    resolveClusters(jaccardPairs(s, dir).select("d1", "d2"))

  def q55DupClusters(s: SparkSession, dir: String): DataFrame = {
    val s2 = graft.GraftSession.autoShuffled(s, s"$dir/documents.parquet")
    dupClusters(s2, dir).orderBy("cluster_id", "doc_id")
  }

  val q55Sql: String =
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($q41Sql)),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
       |reach(doc_id, r) AS (
       | SELECT doc_id, doc_id FROM nodes
       | UNION
       | SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
       |)
       |SELECT doc_id, MIN(r) AS cluster_id, doc_id = MIN(r) AS is_keeper
       |FROM reach GROUP BY doc_id
       |ORDER BY cluster_id, doc_id""".stripMargin

  // T2-followup 2: train/eval DECONTAMINATION — flag training documents
  // sharing >= MinContamShingles word-5-grams with any eval-set document
  // (the standard benchmark-leakage sweep before a training run). The
  // eval set here is the source='src0' slice; in production it's the
  // benchmark suite. Shuffle is keyed by shingle and the eval side is
  // tiny → broadcast; cost is one scan of the training side.
  val MinContamShingles = 3

  /** The STATIC eval-side shingle table (eval_id, shingle) — shared by
    * the batch sweep below and the streaming twin (ContamStream): in
    * production this is the benchmark suite, built once and broadcast.
    */
  def evalShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("source") === "src0")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id").as("eval_id"),
        explode(TextFunctions.hashedShinglesFromTokens(col("toks"), 5)).as("shingle"))
      .distinct()

  /** Unordered q56 hits — the composition form (q58 uses it). */
  def contaminationHits(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // hashed 64-bit shingle ids (no 5-gram string materialization) — the
    // shared-shingle counts are unchanged up to a ~2^-65 collision, same
    // argument as q41; the join and distinct shuffle 8-byte longs.
    // Form note (round 6): the r5 bench showed q56 at 2.6× its r4 time;
    // warm re-measurement reproduces r4 (2.04 s vs 1.83 s — box noise in
    // one run, not a plan change; Dedup.scala was untouched in r5). A
    // single-tagged-pass posting-list rewrite (groupBy shingle +
    // collect_list per side) was built and A/B-measured in the same warm
    // session: 2.26 s vs 2.04 s — collect_list's ObjectHashAggregate
    // buffers lists for EVERY shingle while this join form stays in
    // whole-stage codegen and only pays for matched shingles. The
    // two-scan join form is the keeper.
    def shingled(df: DataFrame) = df
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        explode(TextFunctions.hashedShinglesFromTokens(col("toks"), 5)).as("shingle"))
      .distinct()
    val evalSh = evalShingles(s, dir)
    val trainSh = shingled(d.filter(col("source") =!= "src0"))
    trainSh.join(evalSh, Seq("shingle"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinContamShingles)
  }


  def q56Decontaminate(s: SparkSession, dir: String): DataFrame =
    contaminationHits(s, dir).orderBy("doc_id", "eval_id")

  val q56Sql: String = {
    val sh5 = "list_transform(range(1, len(string_split(text, ' ')) - 3), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' || string_split(text, ' ')[i+4])"
    s"""WITH ev AS (
       | SELECT DISTINCT doc_id AS eval_id, UNNEST($sh5) AS shingle
       | FROM documents WHERE source = 'src0'
       |), tr AS (
       | SELECT DISTINCT doc_id, UNNEST($sh5) AS shingle
       | FROM documents WHERE source <> 'src0'
       |)
       |SELECT tr.doc_id, ev.eval_id, COUNT(*) AS n_shared
       |FROM tr JOIN ev USING (shingle)
       |GROUP BY tr.doc_id, ev.eval_id
       |HAVING COUNT(*) >= $MinContamShingles
       |ORDER BY doc_id, eval_id""".stripMargin
  }

  // T39: cross-source overlap matrix — the corpus-level diagnostic run
  // BEFORE mixing sources into a training set: how much 5-gram content
  // do two sources share, and what is their shingle-space Jaccard? The
  // q41/q56 posting-list shape lifted to SOURCE granularity: distinct
  // (source, shingle-hash) entries (the exchange carries int64 ids, not
  // gram strings — q119/q120's rule), self-joined per shingle where the
  // fan-out is bounded by the number of SOURCES containing that shingle
  // (≤ #sources, which is tens-to-hundreds, not corpus-sized), then one
  // aggregate to the #sources² matrix. At 100 TB the only corpus-sized
  // shuffle is the distinct; everything after is bounded by |sources|².
  def q125SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // xxhash64 shingle ids straight off the token array (q41/q56's rule:
    // no 5-gram string materialization; distinct/shared COUNTS are
    // invariant under the injective id mapping up to a ~2^-65 collision,
    // so the oracle counts the same overlaps over shingle STRINGS)
    val post = d.withColumn("toks", split(col("text"), " "))
      .select(col("source"),
        explode(TextFunctions.hashedShinglesFromTokens(col("toks"), 5)).as("h"))
      .distinct()
    val srcSize = post.groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val a = post.select(col("source").as("src_a"), col("h"))
    val b = post.select(col("source").as("src_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(srcSize.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_shingles", "n_a")), Seq("src_a"))
      .join(broadcast(srcSize.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_shingles", "n_b")), Seq("src_b"))
      .withColumn("jaccard", round(col("n_shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_shared")), 6))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
      .orderBy("src_a", "src_b")
  }

  val q125Sql: String = {
    val sh5 = "list_transform(range(1, len(string_split(text, ' ')) - 3), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' || string_split(text, ' ')[i+4])"
    s"""WITH post AS (
       | SELECT DISTINCT source, shingle AS h
       | FROM (SELECT source, UNNEST($sh5) AS shingle FROM documents)
       |), sz AS (
       | SELECT source, COUNT(*) AS n_shingles FROM post GROUP BY source
       |), m AS (
       | SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       | FROM post a JOIN post b USING (h)
       | WHERE a.source < b.source
       | GROUP BY 1, 2
       |)
       |SELECT src_a, src_b, n_shared,
       | sa.n_shingles AS n_a, sb.n_shingles AS n_b,
       | ROUND(CAST(n_shared AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_shared), 6) AS jaccard
       |FROM m
       |JOIN sz sa ON m.src_a = sa.source
       |JOIN sz sb ON m.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  // T5: near-dup by embedding cosine, blocked by the `label` column (an
  // IVF-style cell id) so the pair join is bounded per cell. τ=0.35 is
  // corpus-tuned (synthetic vectors are near-orthogonal; real corpora use
  // 0.9+). Double math is sequentially folded in both engines → exact
  // oracle compare after round(6).
  // PERF: norms are precomputed ONCE per vector before the pair join —
  // only the dot product is per-pair. Same IEEE expression shape
  // (dot / (sqrt(n1)*sqrt(n2))) as the oracle, so results stay
  // bit-identical.
  def q44EmbedDup(s: SparkSession, dir: String): DataFrame = {
    // zero-norm vectors have no defined cosine; filter them (mirrored in
    // the oracle) rather than hit ANSI's fatal 0-division
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(VectorFunctions.norm2(col("embedding"))))
      .filter(col("nrm") > 0)
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("nrm").as("n1"), col("label"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("nrm").as("n2"), col("label"))
    a.join(b, Seq("label"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos",
        round(VectorFunctions.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= 0.35)
      .select(col("label"), col("v1"), col("v2"), col("cos"))
      .orderBy("v1", "v2")
  }

  /** Expected eval-set keys the q62 sketch is sized for (1% fpp). */
  private[graft] val BloomCapacity: Long = 1000000L

  // T19: sketch-accelerated membership — the Bloom-filter form of the
  // decontamination sweep. The eval slice's content hashes are folded
  // into a BloomFilter in ONE distributed pass (the sketch is mergeable;
  // df.stat.bloomFilter aggregates per-partition then merges on the
  // driver), broadcast to executors, and applied as a map-side
  // pre-filter on the training scan BEFORE any shuffle — at 100 TB this
  // discards ~everything early for the cost of a hash probe. The exact
  // semi join afterwards removes the sketch's false positives, so the
  // result is EXACTLY the semi join and stays oracle-checked. (This is
  // the same pattern Spark's own InjectRuntimeFilter applies internally;
  // the UDF is just the sketch probe — a 3-hash bit test — not data
  // logic.)
  def q62BloomMembership(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // membership key: hash of the first-8-token prefix — the standard
    // "document head" key that catches templated/near-copied openings
    // across sources (exact-text matches never cross sources here)
    val withH = d.withColumn("h",
      md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
    val evalH = withH.filter(col("source") === "src0").select("h")
    // sketch capacity is a CONSTANT, not an evalH.count() action (a
    // second pass over the eval slice per execution — round-9 advice).
    // Oversizing a bloom costs only memory (1M keys @ 1% fpp ≈ 1.2 MB —
    // trivially broadcastable); UNDERsizing degrades the pre-filter's
    // selectivity but never correctness, because the exact semi join
    // below removes every false positive either way. A deployment whose
    // eval set outgrows it raises BloomCapacity to the known eval-set
    // scale once, instead of paying a counting scan on every run.
    val bf = evalH.stat.bloomFilter("h", BloomCapacity, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((h: String) => h != null && bfB.value.mightContain(h))
    withH.filter(col("source") =!= "src0")
      .filter(mightContain(col("h")))
      .join(evalH.distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"), col("h").as("content_hash"))
      .orderBy("doc_id")
  }

  val q62Sql: String =
    """SELECT doc_id, MD5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS content_hash
      |FROM documents
      |WHERE source <> 'src0'
      |  AND MD5(array_to_string(string_split(text, ' ')[1:8], ' ')) IN
      |   (SELECT MD5(array_to_string(string_split(text, ' ')[1:8], ' '))
      |    FROM documents WHERE source = 'src0')
      |ORDER BY doc_id""".stripMargin

  // T5 scale path (NEW round 7): random-hyperplane LSH over the
  // embedding column — the 100 TB form of q44's near-dup search,
  // UNBLOCKED by any precomputed cell id. Charikar (STOC 2002) rounding:
  // each vector gets a 16-bit signature, one bit per hyperplane
  // (sign of the dot with a pseudo-random plane); bits are banded 4x4
  // and ONLY band collisions generate candidate pairs, which are then
  // verified with the exact cosine — so the output is a deterministic
  // SUBSET of the brute-force tau-pairs, found without any all-pairs
  // surface. The hyperplanes come from an integer LCG evaluated
  // identically in both engines ((1103515245*(h*1000003+d)+12345) mod
  // 2^31, scaled to [-0.5,0.5) — a power-of-two division, exact in
  // IEEE), and the dots are the usual strictly-sequential folds, so
  // signatures, buckets, candidates, and verified pairs all
  // hash-match DuckDB: the LSH pipeline itself is oracle-checked,
  // not just spec'd.
  //
  // Scale shape: the band shuffle carries (band, key, vec_id) — never
  // the vector payload; candidates re-join the (vec_id, embedding, nrm)
  // side by id for verification. The bucket-size dial is the BITS PER
  // BAND: expected bucket size is n / 2^bits, so bits must grow with
  // log2(n) at scale — the same discipline as q42's banded minhash,
  // where the band signature hash plays the role of the key space.
  //
  // Round 11: the dial is AUTO-SIZED IN-LINEAGE. Round 10 made it an
  // executable conf, but default conf still meant 4 fixed bits — the
  // measured exponent-1.01 quadratic at 30× rows for any user who
  // didn't read the tuning note. Now a one-row count aggregate over
  // the corpus derives bits = ceil(log2(n / RpTargetOcc)) — computed
  // as PURE INTEGER threshold counting (Σ_k [n > occ·2^k]), never a
  // float log that could ceil differently across engines — and rides
  // into the signature expression as a broadcast scalar (the q53
  // in-lineage-count pattern: no driver action, the derivation is part
  // of the plan and the oracle twin replays it from the same data).
  // Per-bit evaluation is lazily gated on i < bits, so a small corpus
  // computes exactly the planes its derived dial needs, not the
  // RpMaxBits ceiling. The conf keys remain as explicit overrides
  // (bandBits pins the dial; bands scales recall); beyond
  // n ≈ occ·2^RpMaxBits ≈ 5M vectors per job, occupancy grows again —
  // raise spark.graft.rplsh.bandBits (or RpMaxBits, one constant) for
  // larger single-job corpora.
  val RpBands = 4
  val RpMaxBits = 16
  val RpTargetOcc = 80L // expected bucket occupancy the derivation holds

  private[graft] def rpConf(s: SparkSession): (Int, Option[Int]) = (
    s.conf.get("spark.graft.rplsh.bands", RpBands.toString).toInt,
    s.conf.getOption("spark.graft.rplsh.bandBits").map(_.toInt))

  /** bits = max(1, Σ_{k<RpMaxBits} [n > occ·2^k]) ≡ clamp(ceil(log2(
    * n/occ)), 1, RpMaxBits) for n > occ — integer comparisons only, so
    * Spark and DuckDB agree on every n including exact powers of two.
    */
  private[graft] def rpDerivedBits(n: Column): Column =
    greatest(lit(1), (0 until RpMaxBits).map(k =>
      when(n > lit(RpTargetOcc << k), 1).otherwise(0)).reduce(_ + _))

  /** The same derivation as plain Scala — spec anchor against the
    * held-occupancy table in BENCH_R10_SF1.json.
    */
  private[graft] def rpDerivedBitsFor(n: Long): Int =
    math.max(1, (0 until RpMaxBits).count(k => n > (RpTargetOcc << k)))

  /** Optional per-cell occupancy cap (r12 verdict item 4): the auto
    * dial holds the MEDIAN cell at target occupancy, but un-splittable
    * dense clusters (vectors that agree on every hyperplane no matter
    * how many bits) give the tail p99/max occupancies orders of
    * magnitude higher, and their Θ(cell²) pair blocks dominate candidate
    * work. With the cap set, cells over it are excluded from pair
    * enumeration ENTIRELY (a cluster dense enough to blow one band's
    * cell collides in every band, so partial exclusion would be
    * noise) and REPORTED through q109OverflowCells — the T30 df-cap
    * discipline with no silent truncation: a 100 TB operator routes the
    * reported cells to the q55/q81 representative path instead of
    * enumerating their quadratic pair mass. Default OFF — the oracle
    * row and the default plan are untouched.
    */
  private[graft] def rpMaxOcc(s: SparkSession): Option[Long] =
    s.conf.getOption("spark.graft.rplsh.maxOcc").map(_.trim.toLong)

  /** q139's occupancy cap: unlike q109's optional maxOcc it is ALWAYS
    * on (the routed operator exists precisely to handle the cells a cap
    * excludes), defaulting to the target occupancy the auto-dial holds
    * the median cell at — anything above it is the dense tail.
    */
  val RouteCapDefault: Long = RpTargetOcc

  private[graft] def routeCap(s: SparkSession): Long =
    s.conf.getOption("spark.graft.rplsh.routeCap").map(_.trim.toLong)
      .getOrElse(RouteCapDefault)

  def q109EmbedLsh(s: SparkSession, dir: String): DataFrame =
    q109Core(s, dir)._1

  /** The over-cap cell report (band, key, occ): empty when the cap is
    * off or nothing exceeds it. Cell count is bounded by n/cap, so the
    * report — and its broadcast in the exclusion anti-join — stays tiny
    * for any sane cap.
    */
  def q109OverflowCells(s: SparkSession, dir: String): DataFrame =
    q109Core(s, dir)._2

  /** The overflow report at an EXPLICIT cap (spec/probe convenience —
    * q139's routing spec checks verdict coverage against it).
    */
  private[graft] def q109OverflowCellsAt(s: SparkSession, dir: String,
      cap: Long): DataFrame =
    rpLshParts(s, dir, Some(cap)).over

  private def q109Core(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = rpLshParts(s, dir, rpMaxOcc(s))
    (p.pairs, p.over)
  }

  /** The LSH pipeline's three shareable frames: the verified pair set,
    * the over-cap cell report, and the exploded (band, key, vector)
    * rows BEFORE cap exclusion — q139's routing pass draws its
    * dense-cell membership from the last, so the representative
    * verdicts cover exactly the rows the cap removed from pair
    * enumeration.
    */
  private final case class RpLshParts(pairs: DataFrame, over: DataFrame,
      exploded: DataFrame)

  /** The signature frame shared by q109 and q139: filtered corpus with
    * norms, the auto-sized (or pinned) bit dial, and the per-band key
    * array from the native RpLshKeysExpr. Returns (sigs, nBands).
    */
  private[graft] def rpSigs(s: SparkSession, dir: String): (DataFrame, Int) = {
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(VectorFunctions.norm2(col("embedding"))))
      .filter(col("nrm") > 0)
    val (nBands, fixedBits) = rpConf(s)
    require(nBands >= 1 && nBands <= 64,
      s"spark.graft.rplsh.bands=$nBands outside [1, 64]")
    fixedBits.foreach(b => require(b >= 1 && b <= RpMaxBits,
      s"spark.graft.rplsh.bandBits=$b outside [1, $RpMaxBits]"))
    // the dial column: a conf literal, or the corpus-derived scalar
    // broadcast into every row (one-row aggregate — KBs, in-lineage)
    val withBits = fixedBits match {
      case Some(b) => e.withColumn("bits", lit(b))
      case None => e.crossJoin(broadcast(
        e.agg(count(lit(1)).as("n")).select(rpDerivedBits(col("n")).as("bits"))))
    }
    // plane identity is i within a FIXED RpMaxBits stride per band, so
    // the same (band, i) bit means the same hyperplane at every dial
    // setting — the derivation changes how many bits a key uses, never
    // what any bit is. The signature is the NATIVE RpLshKeysExpr (r11):
    // the declarative form's per-bit aggregate(zip_with(...)) HOFs run
    // interpreted (measured 58-300 s of task time at gen2-sf3); the
    // expression computes every band key in one fused codegen'd pass
    // with the identical IEEE sequence (spec-proven bit-for-bit, and
    // the DuckDB twin below is unchanged).
    (withBits.select(col("vec_id"), col("embedding"), col("nrm"),
      call_function("rp_lsh_keys", col("embedding"), col("bits"),
        lit(nBands), lit(RpMaxBits)).as("keys")), nBands)
  }

  /** First-colliding-band gate over both sides' full key arrays: a pair
    * matched in band b is kept only if no band b' < b also collides —
    * a codegen'd AND-chain, no extra shuffle; with the final distinct
    * it makes multi-band emission order-invariant.
    */
  private[graft] def rpFirstBandGate(nBands: Int): Column =
    (0 until nBands - 1).map { bp =>
      (col("band") <= bp) ||
        (element_at(col("ka"), bp + 1) =!= element_at(col("kb"), bp + 1))
    }.foldLeft(lit(true))(_ && _)

  private def rpLshParts(s: SparkSession, dir: String,
      capOpt: Option[Long]): RpLshParts = {
    val (sigs, nBands) = rpSigs(s, dir)
    // The band shuffle CARRIES THE PAYLOAD (embedding + norm): bands ×
    // one embedding per vector is strictly linear (~1.2 KB/vector at
    // bands=4), and it means exact-cosine verification runs INLINE in
    // the bucket self-join's output stream — filter and project
    // immediately after the join, inside codegen, so the quadratic
    // pair space is never exchanged, never sorted, never spilled. The
    // r11 form shuffled id-only buckets and re-attached embeddings to
    // the PAIR list afterwards; those two attach joins sorted
    // (pair × embedding) rows — ~90 KB/vector at target occupancy vs
    // this plan's 1.2 KB/vector — and at gen-sf30 (600k vectors) the
    // attach sort spilled past 70 GB of disk and killed the job.
    // repartition with an EXPLICIT count (unchanged r11 lesson): AQE
    // coalesced the pre-join exchange to 2 partitions and serialized
    // the pair materialization; a user-specified count is exempt, and
    // the join's (band, key) requirement is satisfied by this exchange
    // so no extra shuffle appears. The same exchange subtree feeds
    // both join sides (ReuseExchange), so the payload shuffles once.
    val exploded = sigs
      .select(col("vec_id"), col("embedding"), col("nrm"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "key")))
    // occupancy census on an ID-FREE projection (two ints per row — the
    // payload is never aggregated); drives the cap filter and the
    // overflow report. With the cap off it folds to an empty relation
    // and the pair plan below is EXACTLY the uncapped plan (spec-pinned)
    val occ = sigs.select(posexplode(col("keys")).as(Seq("band", "key")))
      .groupBy("band", "key").agg(count(lit(1)).as("occ"))
    val (inCap, over) = capOpt match {
      case None => (exploded, occ.filter(lit(false)))
      case Some(cap) =>
        require(cap >= 1, s"the rp-LSH occupancy cap $cap must be >= 1")
        val o = occ.filter(col("occ") > cap)
        // broadcast anti-join BEFORE the band shuffle, so an excluded
        // cell's payload rows are never exchanged at all
        (exploded.join(broadcast(o.select("band", "key")),
          Seq("band", "key"), "left_anti"), o.orderBy("band", "key"))
    }
    val buckets = inCap
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("band"), col("key"))
    val x = buckets.select(col("band"), col("key"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"), col("keys").as("ka"))
    val y = buckets.select(col("band"), col("key"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"), col("keys").as("kb"))
    // FIRST-COLLIDING-BAND gate, before any per-pair arithmetic: a
    // dense cluster lands in one cell in EVERY band, so its quadratic
    // pair block would be enumerated and cosine-verified bands× times
    // (rpFirstBandGate — shared with q139).
    val firstBand = rpFirstBandGate(nBands)
    // exact verification FIRST, dedup AFTER the gate (r11): the ≥τ
    // gate leaves survivors measured in thousands, so the distinct
    // costs nothing. Same result set: cos is a pure function of the
    // pair, so distinct-on-(v1,v2,cos) ≡ distinct-on-pairs.
    // Join strategy: SORT-MERGE, deliberately. SHUFFLE_HASH was tried
    // and MEASURED SLOWER here (19.1 vs 13.9 s at gen-sf10,
    // BENCH_R12_Q109.json): both sides are the same payload-carrying
    // exchange, which ReuseExchange shares only once; the in-partition
    // sort runs on target-occupancy cells (tiny runs over an already
    // clustered stream) while a hash build would copy the ~20 MB
    // per-partition payload into a hash table before probing. PlanSpec
    // pins the executed shape: one reused exchange, SMJ on (band, key),
    // no broadcast-nested-loop or cartesian anywhere.
    val pairs = x.join(y, Seq("band", "key"))
      .filter(col("v1") < col("v2") && firstBand)
      .withColumn("cos",
        round(VectorFunctions.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= 0.35)
      .select(col("v1"), col("v2"), col("cos"))
      .distinct()
      .orderBy("v1", "v2")
    RpLshParts(pairs, over, exploded)
  }

  /** Shared CTE prefix of the rp-LSH twins (q109 / q139): filtered
    * corpus `nz`, auto-sized bit dial `nb`, per-band signatures `sig`,
    * and the unrolled `buckets` union — byte-identical to what q109Sql
    * always emitted, just factored so q139Sql replays the exact same
    * signature pipeline.
    */
  private[graft] val rpLshCommonCteSql: String = {
    def planeSql(h: Int) =
      s"(CAST((1103515245 * ($h * 1000003 + i) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"
    def bitSql(h: Int) =
      s"""(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
         |   i -> CAST(embedding[i] AS DOUBLE) * ${planeSql(h)})) >= 0.0
         |  THEN 1 ELSE 0 END)""".stripMargin
    // the same integer-threshold dial derivation as rpDerivedBits, from
    // the same filtered corpus — the twin replays the auto-sizing, not
    // a frozen constant
    val bitsSql = (0 until RpMaxBits).map(k =>
      s"CASE WHEN n > ${RpTargetOcc << k} THEN 1 ELSE 0 END")
      .mkString("GREATEST(1, ", " + ", ")")
    val bandCols = (0 until RpBands).map { b =>
      (0 until RpMaxBits).map { i =>
        s"CASE WHEN $i < bits THEN ${bitSql(b * RpMaxBits + i)} * (1 << (bits - 1 - $i)) ELSE 0 END"
      }.mkString("(", " + ", s") AS band$b")
    }.mkString(",\n  ")
    val bucketUnion = (0 until RpBands)
      .map(b => s"SELECT vec_id, $b AS band, band$b AS key FROM sig")
      .mkString("\n UNION ALL ")
    val nrm = s"SQRT(${VectorFunctions.dotSql("embedding", "embedding")})"
    s"""WITH nz AS (
       | SELECT * FROM (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings) WHERE nrm > 0
       |), nb AS (
       | SELECT $bitsSql AS bits FROM (SELECT COUNT(*) AS n FROM nz)
       |), sig AS (
       | SELECT vec_id,
       |  $bandCols
       | FROM nz CROSS JOIN nb
       |), buckets AS (
       | $bucketUnion
       |)""".stripMargin
  }

  val q109Sql: String = {
    val dot = VectorFunctions.dotSql("a.embedding", "b.embedding")
    rpLshCommonCteSql + s""", cand AS (
       | SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       | FROM buckets x JOIN buckets y USING (band, key)
       | WHERE x.vec_id < y.vec_id
       |)
       |SELECT v1, v2, cos FROM (
       | SELECT c.v1, c.v2, ROUND($dot / (a.nrm * b.nrm), 6) AS cos
       | FROM cand c JOIN nz a ON c.v1 = a.vec_id JOIN nz b ON c.v2 = b.vec_id)
       |WHERE cos >= 0.35
       |ORDER BY v1, v2""".stripMargin
  }

  // T5b capstone (round 14, r13 verdict item 1): the dense-cell routing
  // made EXECUTABLE. q109's occupancy cap excludes over-cap cells from
  // pair enumeration and reports them; until now "route those cells to
  // the q55/q81 representative path" was prose a 100 TB operator had to
  // hand-compose. q139 is that composition as ONE oracle-checked
  // operator:
  //   - in-cap cells: exactly the capped q109 pair set (bit-for-bit —
  //     spec-pinned against q109 under maxOcc = the same cap);
  //   - over-cap cells: a q81-style keeper pass WITHIN each reported
  //     cell. Each over-cap member is assigned to its FIRST reported
  //     cell (min (band, key) — one verdict per member, even when a
  //     dense cluster blows cells in several bands), the cell's
  //     representative is its smallest assigned vec_id, and every
  //     member gets (rep_id, cos-to-rep, kept = is-rep or cos < τ).
  // Scale shape: the members join is a broadcast of the tiny over-cell
  // report against the already-computed exploded rows; the assignment
  // and representative passes are two windows over ONLY the dense-cell
  // members (the 727k-of-2.4M rows at gen-sf30, never the corpus); the
  // rep re-attach broadcasts one row per cell. Work replaced: the
  // Θ(cell²) pair mass of the dense tail — 77% of all pairs at sf30 —
  // becomes ONE linear cosine pass per member, which is exactly the
  // SemDeDup argument for why representatives suffice there.
  //
  // Pair-part semantics under the cap (also what the DuckDB twin
  // replays): a pair survives iff its FIRST colliding band's cell is
  // in-cap — the plan's first-colliding-band gate evaluates on the full
  // key arrays, so a pair whose first shared cell was excluded is never
  // emitted from a later band. With the cap off this degenerates to
  // q109's plain DISTINCT (every pair's first cell is present).
  def q139RoutedDedup(s: SparkSession, dir: String): DataFrame = {
    val cap = routeCap(s)
    require(cap >= 1, s"spark.graft.rplsh.routeCap=$cap must be >= 1")
    val (sigs, nBands) = rpSigs(s, dir)
    // ONE payload exchange feeds the whole operator: unlike q109 (which
    // anti-joins over-cap cells away BEFORE its shuffle, because capped
    // q109 never looks at them again), q139 CONSUMES the over-cap rows
    // — they are the verdict pass's input — so excluding them from the
    // exchange would just force a second corpus scan + signature pass
    // to fetch them back. Repartitioning the full exploded rows once by
    // (band, key) lets the pair join's two sides AND the member slice
    // read the same reused exchange: one scan, one signature pass, one
    // linear payload shuffle for the entire routed operator.
    val exploded = sigs
      .select(col("vec_id"), col("embedding"), col("nrm"), col("keys"),
        posexplode(col("keys")).as(Seq("band", "key")))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("band"), col("key"))
    // occupancy as a WINDOW over the exchange (cells are co-located, so
    // the count is in-partition — no separate id-free census subtree,
    // no broadcast): the same occ > cap split q109's anti-join encodes
    val withOcc = exploded.withColumn("occ",
      count(lit(1)).over(Window.partitionBy("band", "key")))
    val inCap = withOcc.filter(col("occ") <= cap)
    // --- in-cap cells: exactly the capped q109 pair plan --------------
    val x = inCap.select(col("band"), col("key"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"), col("keys").as("ka"))
    val y = inCap.select(col("band"), col("key"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"), col("keys").as("kb"))
    val pairs = x.join(y, Seq("band", "key"))
      .filter(col("v1") < col("v2") && rpFirstBandGate(nBands))
      .withColumn("cos",
        round(VectorFunctions.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= 0.35)
      .select(col("v1"), col("v2"), col("cos"))
      .distinct()
    // --- over-cap cells: the q81-style keeper pass --------------------
    // Everything below operates on the dense-cell members ONLY (the
    // n/cap-bounded tail — 727k of 2.4M exploded rows at gen-sf30),
    // never the corpus: one small shuffle to assign each member its
    // first reported cell, one tiny aggregate for the per-cell
    // representative, one broadcast re-attach for the cosine.
    val members = withOcc.filter(col("occ") > cap)
      .select("band", "key", "vec_id", "embedding", "nrm")
    val assigned = members
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy("band", "key")))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("rep_id",
        min(col("vec_id")).over(Window.partitionBy("band", "key")))
    // one row per reported cell (≤ n/cap rows) — broadcast re-attach
    val reps = assigned.filter(col("vec_id") === col("rep_id"))
      .select(col("band"), col("key"),
        col("embedding").as("rep_vec"), col("nrm").as("rep_nrm"))
    val verdicts = assigned.join(broadcast(reps), Seq("band", "key"))
      .withColumn("cos", round(
        VectorFunctions.dot(col("embedding"), col("rep_vec")) /
          (col("nrm") * col("rep_nrm")), 6))
      .select(lit("overcap").as("kind"), col("band"), col("key"),
        col("vec_id").as("v1"), col("rep_id").as("v2"), col("cos"),
        (col("vec_id") === col("rep_id") || col("cos") < 0.35).as("kept"))
    val pairsPart = pairs.select(lit("pair").as("kind"),
      lit(null).cast(IntegerType).as("band"),
      lit(null).cast(IntegerType).as("key"),
      col("v1"), col("v2"), col("cos"),
      lit(null).cast(BooleanType).as("kept"))
    pairsPart.unionByName(verdicts)
      .orderBy("kind", "band", "key", "v1", "v2")
  }

  /** The DuckDB twin replays the WHOLE routed operator from the same
    * parquet: auto-sized bits, band keys, occupancy census, cap
    * exclusion under first-colliding-band semantics, per-cell
    * assignment + representative selection, and both cosine passes.
    * The cap mirrors the session default (the driver gate runs
    * defaults; a re-dialed session regenerates the twin through the
    * ambient conf, the q138 pattern).
    */
  def q139Sql: String = {
    val cap = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(routeCap).getOrElse(RouteCapDefault)
    val dot = VectorFunctions.dotSql("a.embedding", "b.embedding")
    val repDot = VectorFunctions.dotSql("va.embedding", "vr.embedding")
    s"""$rpLshCommonCteSql,
       |occ AS (
       | SELECT band, key, COUNT(*) AS occ FROM buckets GROUP BY 1, 2
       |), over AS (
       | SELECT band, key FROM occ WHERE occ > $cap
       |), colls AS (
       | SELECT x.vec_id AS v1, y.vec_id AS v2, band, key
       | FROM buckets x JOIN buckets y USING (band, key)
       | WHERE x.vec_id < y.vec_id
       |), fc AS (
       | SELECT v1, v2, MIN(band) AS fb FROM colls GROUP BY 1, 2
       |), cand AS (
       | SELECT DISTINCT c.v1, c.v2
       | FROM colls c
       | JOIN fc ON c.v1 = fc.v1 AND c.v2 = fc.v2 AND c.band = fc.fb
       | LEFT JOIN over o ON c.band = o.band AND c.key = o.key
       | WHERE o.band IS NULL
       |), pairs AS (
       | SELECT v1, v2, cos FROM (
       |  SELECT c.v1, c.v2, ROUND($dot / (a.nrm * b.nrm), 6) AS cos
       |  FROM cand c JOIN nz a ON c.v1 = a.vec_id JOIN nz b ON c.v2 = b.vec_id)
       | WHERE cos >= 0.35
       |), mem AS (
       | SELECT b.band, b.key, b.vec_id
       | FROM buckets b JOIN over o USING (band, key)
       |), asn AS (
       | SELECT band, key, vec_id FROM (
       |  SELECT band, key, vec_id,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY band, key) AS rn
       |  FROM mem)
       | WHERE rn = 1
       |), rep AS (
       | SELECT band, key, MIN(vec_id) AS rep_id FROM asn GROUP BY 1, 2
       |), verd AS (
       | SELECT a.band, a.key, a.vec_id, r.rep_id,
       |  ROUND($repDot / (va.nrm * vr.nrm), 6) AS cos
       | FROM asn a
       | JOIN rep r USING (band, key)
       | JOIN nz va ON a.vec_id = va.vec_id
       | JOIN nz vr ON r.rep_id = vr.vec_id
       |)
       |SELECT 'pair' AS kind, CAST(NULL AS INTEGER) AS band,
       | CAST(NULL AS INTEGER) AS key, v1, v2, cos,
       | CAST(NULL AS BOOLEAN) AS kept
       |FROM pairs
       |UNION ALL
       |SELECT 'overcap', CAST(band AS INTEGER), CAST(key AS INTEGER),
       | vec_id, rep_id, cos, (vec_id = rep_id OR cos < 0.35)
       |FROM verd
       |ORDER BY kind, band, key, v1, v2""".stripMargin
  }

  val q44Sql: String = {
    val dot = VectorFunctions.dotSql("a.embedding", "b.embedding")
    s"""SELECT label, v1, v2, cos FROM (
       | SELECT a.label, a.vec_id, b.vec_id,
       |  ROUND($dot / (a.nrm * b.nrm), 6) AS cos
       | FROM (SELECT * FROM (SELECT *, SQRT(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm FROM embeddings) WHERE nrm > 0) a
       | JOIN (SELECT * FROM (SELECT *, SQRT(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm FROM embeddings) WHERE nrm > 0) b
       |  ON a.label = b.label AND a.vec_id < b.vec_id) AS t(label, v1, v2, cos)
       |WHERE cos >= 0.35
       |ORDER BY v1, v2""".stripMargin
  }

  /** Passage length in tokens for T21 — non-overlapping chunks. */
  val PassageLen = 8

  // T21: passage-level exact dedup (the chunk-granularity analog of exact
  // substring dedup, Lee et al. 2022): split each document into
  // non-overlapping 8-token passages, hash each, count cross-corpus
  // occurrences, report the duplicated-passage fraction per document.
  // Scale shape: explode is linear in token count; the occurrence count
  // is one hash-partitioned groupBy; the count re-attach is a keyed join
  // on the passage hash (never broadcast — the posting table sizes with
  // the corpus).
  def q75PassageDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val P = PassageLen
    // materialize the token array BEFORE the per-chunk lambda (never
    // re-evaluate split() per element — O(tokens²) otherwise)
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    val passages = toks
      .withColumn("pidx",
        explode(when(col("n") > 0,
          // `div` is integer division (Column./ would be a double divide);
          // n>0 keeps the sequence ascending (sequence(1,0) counts DOWN)
          expr(s"sequence(0, (n + ${P - 1}) div $P - 1)")
        ).otherwise(array())))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"),
          (col("pidx") * P + 1).cast(IntegerType), lit(P)), " ")).as("h"))
    // single lineage: pre-aggregate to per-(doc, hash) counts, then attach
    // the corpus-wide occurrence count with a WINDOW over the hash instead
    // of a count-table self-join — the corpus explode is computed exactly
    // once (the join form re-evaluated it per consumer: AQE would not
    // reuse the exchange because each branch prunes different columns)
    val perDoc = passages.groupBy("doc_id", "h").agg(count(lit(1)).as("k"))
    perDoc
      .withColumn("occ", sum(col("k")).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(
        sum(col("k")).as("n_passages"),
        sum(when(col("occ") > 1, col("k")).otherwise(0L)).as("n_dup_passages"))
      .withColumn("dup_frac",
        round(col("n_dup_passages").cast(DoubleType) / col("n_passages"), 6))
      .orderBy("doc_id")
  }

  val q75Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |   len(string_split(text, ' ')) AS n
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |   MD5(array_to_string(t[(i*8+1):(i*8+8)], ' ')) AS h
      |  FROM (SELECT doc_id, t, unnest(range(0, (n+7)//8)) AS i FROM toks)),
      |g AS (SELECT h, COUNT(*) AS occ FROM p GROUP BY h)
      |SELECT doc_id, COUNT(*) AS n_passages,
      | CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
      | ROUND(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_frac
      |FROM p JOIN g USING (h)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // T30: cross-document duplicated-SPAN detection — the relational
  // re-expression of exact-substring dedup (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better", ACL 2022, which uses a
  // suffix array; reference corpus-prep analogue: the passage dedup the
  // pipeline applies before training). Instead of a suffix array
  // (pointer-chasing, single-machine), the same spans fall out of pure
  // keyed shuffles: every K-token shingle is hashed (md5Long, so the
  // whole pipeline is oracle-checked), posting lists per hash are
  // df-capped (drops boilerplate AND bounds candidate pairs at occ² ≤
  // SpanCap² per hash — the q41/T3 bound), matching (pos1, pos2) pairs
  // land on a DIAGONAL g = pos1 - pos2, and maximal runs of consecutive
  // shingle matches on one diagonal are found with the gaps-and-islands
  // trick (pos1 - row_number, q71's machinery) — a run of R shingles is
  // a duplicated span of R + K - 1 tokens. Everything is a groupBy or a
  // keyed window: hash-partitioned, no global structure, 100 TB-shaped.
  val SpanK = 8 // tokens per shingle
  val SpanCap = 64 // max posting-list length per shingle hash
  val SpanMin = 16 // min duplicated-span length (tokens) to report

  def q111DupSpans(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    // r14: fused md5_long_ngrams — per-window slice + array_join + hex
    // chain replaced by one codegen'd digest pass (Md5LongExprs);
    // posexplode supplies the same 0-based pos, values bit-identical
    // (array_join " " == concat_ws " " byte stream)
    val sh = toks
      .select(col("doc_id"),
        posexplode(TextFunctions.md5LongNgramsFromTokens(col("toks"), SpanK))
          .as(Seq("pos", "h")))
    // posting list per hash (single corpus evaluation — the self-join
    // form would tokenize+hash the corpus twice); cap bounds the pair
    // blow-up exactly like T3's banded buckets
    val posts = sh.groupBy("h")
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("ps"))
      .filter(size(col("ps")) > 1 && size(col("ps")) <= SpanCap)
    val m = posts
      .withColumn("x", explode(col("ps")))
      .withColumn("y", explode(col("ps")))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.pos").as("p1"), col("y.pos").as("p2"))
      .withColumn("g", col("p1") - col("p2"))
    val runs = m
      .withColumn("isl",
        col("p1") - row_number().over(Window.partitionBy("d1", "d2", "g").orderBy("p1")))
      .groupBy("d1", "d2", "g", "isl")
      .agg(count(lit(1)).as("len_sh"))
      .withColumn("span_tokens", col("len_sh") + lit(SpanK - 1))
      .filter(col("span_tokens") >= SpanMin)
    runs.groupBy("d1", "d2")
      .agg(
        count(lit(1)).as("n_spans"),
        max("span_tokens").as("max_span_tokens"),
        sum("span_tokens").as("sum_span_tokens"))
      .orderBy("d1", "d2")
  }

  // T33: INCREMENTAL near-dup — probe a NEW batch against the corpus
  // LSH index instead of re-pairing the whole corpus (the production
  // pattern at 100 TB: the banded signature table is the persisted,
  // bucketed index artifact; a day's ingest only shuffles ITS OWN
  // signatures into the index's buckets). Same oracle-checked q42
  // machinery (affine-permutation minhash over md5Long, banded 8×4);
  // the batch split is deterministic (doc_id mod 5 = 0 → "new", 20%).
  // The signature stage runs ONCE (localCheckpoint barrier — at scale
  // the index side is already materialized, the checkpoint mirrors
  // that), and the candidate join is ASYMMETRIC: new × index only,
  // never index × index.
  def q117LshProbe(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val sh = d
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(TextFunctions.md5LongNgramsFromTokens(col("toks"), 3)).as("h"))
      .withColumn("base", col("h") % MhMod)
    val minCols = (0 until MinhashK).map(i =>
      min((lit(mhA(i)) * col("base") + lit(mhB(i))) % MhMod).as(s"mh_$i"))
    val rowsPerBand = MinhashK / LshBands
    val mhAgg = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .localCheckpoint()
    val sigs = mhAgg
      .withColumn("sig", array((0 until MinhashK).map(i => col(s"mh_$i")): _*))
      .select("doc_id", "sig")
    val bandSigs = (0 until LshBands).map { b =>
      TextFunctions.md5Long(concat_ws(",",
        lit(s"$b:") +: (0 until rowsPerBand)
          .map(r => col(s"mh_${b * rowsPerBand + r}").cast("string")): _*))
    }
    val banded = mhAgg.select(col("doc_id"), posexplode(array(bandSigs: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
    val probe = banded.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("new_id"), col("band"), col("band_sig"))
    val index = banded.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("idx_id"), col("band"), col("band_sig"))
    val cand = probe.join(index, Seq("band", "band_sig"))
      .select("new_id", "idx_id").distinct()
    cand
      .join(sigs.select(col("doc_id").as("new_id"), col("sig").as("sig1")), Seq("new_id"))
      .join(sigs.select(col("doc_id").as("idx_id"), col("sig").as("sig2")), Seq("idx_id"))
      .withColumn("est_jaccard",
        // native sig_agree: one fused loop per candidate pair (the
        // zip_with+filter HOF stack ran interpreted — guard-spec r15)
        round(call_function("sig_agree", col("sig1"), col("sig2"))
          .cast(DoubleType) / MinhashK, 4))
      .filter(col("est_jaccard") >= 0.5)
      .select("new_id", "idx_id", "est_jaccard")
      .orderBy("new_id", "idx_id")
  }

  val q117Sql: String = {
    val sh3 = TextFunctions.shinglesSql3("text")
    val base = s"(${TextFunctions.md5LongSql("shingle")} % $MhMod)"
    val minCols = (0 until MinhashK)
      .map(i => s"MIN((${mhA(i)} * base + ${mhB(i)}) % $MhMod) AS mh_$i")
      .mkString(",\n  ")
    val rowsPerBand = MinhashK / LshBands
    val bandUnion = (0 until LshBands).map { b =>
      val rendered = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${TextFunctions.md5LongSql(s"'$b:' || ',' || $rendered")} AS band_sig FROM sigs"
    }.mkString("\n UNION ALL ")
    val matches = (0 until MinhashK)
      .map(i => s"(CASE WHEN s1.mh_$i = s2.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sh AS (
       | SELECT doc_id, $base AS base
       | FROM (SELECT doc_id, UNNEST($sh3) AS shingle FROM documents)
       |), sigs AS (
       | SELECT doc_id,
       |  $minCols
       | FROM sh GROUP BY doc_id
       |), banded AS (
       | $bandUnion
       |), cand AS (
       | SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
       | FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.band_sig = b.band_sig
       | WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |)
       |SELECT new_id, idx_id, est_jaccard FROM (
       | SELECT c.new_id, c.idx_id,
       |  ROUND(CAST($matches AS DOUBLE) / $MinhashK, 4) AS est_jaccard
       | FROM cand c
       | JOIN sigs s1 ON c.new_id = s1.doc_id
       | JOIN sigs s2 ON c.idx_id = s2.doc_id)
       |WHERE est_jaccard >= 0.5
       |ORDER BY new_id, idx_id""".stripMargin
  }

  val q111Sql: String = {
    val h = TextFunctions.md5LongSql(s"array_to_string(t[(i+1):(i+$SpanK)], ' ')")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |   len(string_split(text, ' ')) AS n
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, i AS pos, $h AS h
       |  FROM (SELECT doc_id, t, unnest(range(0, n - ${SpanK - 1})) AS i FROM toks)),
       |ok AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1 AND COUNT(*) <= $SpanCap),
       |m AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2,
       |   a.pos - b.pos AS g
       |  FROM sh a JOIN sh b USING (h) JOIN ok USING (h)
       |  WHERE a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT d1, d2, g, p1,
       |   p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, g ORDER BY p1) AS isl
       |  FROM m),
       |spans AS (
       |  SELECT d1, d2, COUNT(*) + ${SpanK - 1} AS span_tokens
       |  FROM runs GROUP BY d1, d2, g, isl
       |  HAVING COUNT(*) + ${SpanK - 1} >= $SpanMin)
       |SELECT d1, d2, COUNT(*) AS n_spans,
       | CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
       | CAST(SUM(span_tokens) AS BIGINT) AS sum_span_tokens
       |FROM spans GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin
  }

  // T35: NORMALIZED exact dedup (CCNet-style) — surface variants that
  // raw hashing can't see (case, punctuation, runs of whitespace, digit
  // strings) are erased by a deterministic normalization chain BEFORE
  // the content hash: lowercase → digits→0 → non-alnum→space → collapse
  // spaces → trim (Wenzek et al. LREC 2020 normalize before dedup the
  // same way). The corpus carries no such variants, so — exactly like
  // q54 synthesizes PII — two deterministic perturbation classes are
  // injected (upper+punctuation suffix at doc_id%7=0, doubled spaces at
  // %7=3) that the normalization MUST fold back onto their originals
  // while raw md5 keeps them distinct (n_raw_variants > 1).
  // Scale shape: identical to T1 — map-side normalization (codegen'd
  // string ops, no UDF), one uniform md5 shuffle; the variant union
  // reads the same scan twice at test scale and is absent in production
  // (real corpora arrive with their variants).
  /** CCNet-style normalization, as the native single-pass `norm_text`
    * expression (r14 — the regex chain was q119's entire cost at the
    * sf10/sf30 dedup rungs, ~1.2 ms/row of map CPU; see NormTextExpr's
    * parity argument). The declarative twin below stays as the spec's
    * parity reference and the oracle keeps the regex SQL.
    */
  def normalizeText(t: Column): Column = call_function("norm_text", t)

  /** The pre-r14 declarative chain — NormTextSpec proves `norm_text`
    * bit-equal to it on adversarial inputs and the generated corpus.
    */
  private[graft] def normalizeTextDeclarative(t: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        translate(lower(t), "123456789", "000000000"),
        "[^a-z0-9 ]", " "),
      " +", " "))

  def q119NormDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val variants = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("text")), lit(" !!!")).as("text"))
      .union(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          regexp_replace(col("text"), " ", "  ").as("text")))
    val corpus = d.select(col("doc_id"), col("text")).union(variants)
    corpus
      .select(col("doc_id"), md5(col("text")).as("raw_hash"),
        md5(normalizeText(col("text"))).as("norm_hash"))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"),
        countDistinct("raw_hash").as("n_raw_variants"))
      .select(col("norm_hash"), col("keeper_id"), col("n_copies"),
        col("n_raw_variants"),
        (col("n_copies") > 1).as("is_dup_group"),
        (col("n_raw_variants") > 1).as("norm_only_catch"))
      .orderBy("keeper_id")
  }

  val q119Sql: String = {
    def norm(t: String): String =
      s"trim(regexp_replace(regexp_replace(translate(lower($t), '123456789', '000000000'), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, upper(text) || ' !!!' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, regexp_replace(text, ' ', '  ', 'g') FROM documents WHERE doc_id % 7 = 3),
       |h AS (
       |  SELECT doc_id, md5(text) AS raw_hash, md5(${norm("text")}) AS norm_hash
       |  FROM corpus)
       |SELECT norm_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies,
       | COUNT(DISTINCT raw_hash) AS n_raw_variants,
       | COUNT(*) > 1 AS is_dup_group,
       | COUNT(DISTINCT raw_hash) > 1 AS norm_only_catch
       |FROM h GROUP BY norm_hash ORDER BY keeper_id""".stripMargin
  }
}
