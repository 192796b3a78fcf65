package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorFunctions

/** Vector quantization for the embedding family (SURVEY §2.3 T47/T48):
  * the 100 TB MEMORY scale path. A raw 64-float embedding is 256 bytes;
  * the PQ code is 8 bytes (M=8 nibbles) and the int8 SQ form 64 bytes —
  * so the ANN candidate scan reads 32× (resp. 4×) less than q45's
  * brute-force float scan, which is how a billion-vector corpus fits a
  * cluster's memory at all (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011; FAISS's IVFADC/SQ8).
  *
  * q145 — PQ train → encode → ADC top-k, all oracle-checked:
  *   TRAIN   one Lloyd round per subspace (q90's discipline: row-local
  *           argmin fold over the broadcast seed array, DECIMAL-exact
  *           per-dim means) → an M×K×D codebook, collected as bounded
  *           model state (1 KB) like the q144 tokenizer table.
  *   ENCODE  map-only native `pq_encode` over the corpus scan — the
  *           codebook rides as a foldable literal folded once at plan
  *           time into a codegen reference (BpeCountWithExpr playbook).
  *   QUERY   per-probe LUT of micro-quantized sub-distances (M×K longs,
  *           quantized ONCE so ADC sums are exact long arithmetic —
  *           the q110 micro-nats trick), broadcast onto the 16-byte
  *           (vec_id, code) scan; native `pq_adc` + per-probe top-k.
  *           The ranking shuffle carries 24-byte rows, never floats.
  *
  * q146 — scalar int8 quantization audit: global per-dim min/max →
  * round-trip encode/decode → per-label reconstruction-error report in
  * exact pico units. The go/no-go gate for switching a 100 TB corpus
  * from float32 to SQ8 storage.
  */
object Quantize {

  val PqM = 8       // subspaces
  val PqK = 16      // centroids per subspace (4-bit codes)
  val PqD = 8       // dims per subspace (8×8 = the 64-dim embedding)
  val PqProbes = 10 // probe set: vec_id < PqProbes (the T6 convention)
  val PqTopK = 10

  val SqDims = 64

  /** Training-sample target: the Lloyd fit sees at most ~this many
    * vectors (FAISS trains coarse/PQ quantizers on a bounded sample —
    * ~30-256 points per centroid — never the corpus; r15's PQ ladder
    * measured the full-corpus fit at 25× the query path's wall at 2M
    * vectors). Sampling is `vec_id % step == 0` with
    * step = max(1, n // TrainSample), derived IN-LINEAGE from a one-row
    * count (q109's auto-dial discipline) so the oracle replays it; a
    * modulo sample is uniform here because vec_ids are dense — a
    * sparse-id corpus would use the md5-hash threshold (q18's pattern).
    * Below TrainSample vectors step = 1 and the fit is exactly the
    * full-corpus fit — the oracle-checked sf0.001/sf0.01 results are
    * unchanged by construction.
    */
  val TrainSample = 65536L

  /** One Lloyd round per subspace over (vec_id, m, sub) rows — q90's
    * assignment shape (strict-improvement fold over the K-element
    * broadcast seed array in cid order ≡ the oracle's ROW_NUMBER()
    * OVER (ORDER BY d2 ASC, cid ASC); native vec_dot inside, K frames
    * per row — whitelisted in InterpretedGuardSpec) followed by the
    * DECIMAL-exact per-dim mean update (q46/q90's pattern — partial-agg
    * order can't perturb the bits, which is what lets the DuckDB twin
    * recompute the identical codebook). The fit runs on the bounded
    * [[TrainSample]] modulo sample (seeds = the K smallest sampled
    * vectors). Returns the (m, cid, centroid) codebook frame plus
    * its flattened row-major collection — bounded model state
    * (M·K·D doubles = 8 KB): fit once, ship the table into the scan as
    * a foldable literal, the q144 pattern. Shared by q145 (raw
    * subvectors) and q147 (coarse-cell residual subvectors).
    */
  private def trainBook(subs: DataFrame): (DataFrame, Array[Double]) = {
    // bounded training sample (see TrainSample): step rides in-lineage
    // from a one-row count, seeds are the K smallest SAMPLED vectors
    // (cid = vec_id / step — exact under the modulo filter)
    val stepDf = subs.filter(col("m") === 0)
      .agg(greatest(lit(1L),
        floor(count(lit(1)).cast(DoubleType) / lit(TrainSample))
          .cast(LongType)).as("step"))
    val sampled = subs.crossJoin(broadcast(stepDf))
      .filter(col("vec_id") % col("step") === 0)
    val seeds = sampled.filter(col("vec_id") < col("step") * PqK)
      .select(col("m"),
        (col("vec_id") / col("step")).cast(IntegerType).as("cid"),
        col("sub").as("centroid"))
    val centArr = seeds.groupBy("m")
      .agg(array_sort(collect_list(struct(col("cid"), col("centroid"),
        VectorFunctions.norm2(col("centroid")).as("n2c")))).as("cents"))
    val a1 = sampled.join(broadcast(centArr), Seq("m"))
      .withColumn("n2x", VectorFunctions.norm2(col("sub")))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cid")),
        (acc, c) => {
          val d2 = col("n2x") -
            lit(2.0) * VectorFunctions.dot(col("sub"), c.getField("centroid")) +
            c.getField("n2c")
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.getField("cid").as("cid"))).otherwise(acc)
        }))
      .select(col("m"), col("best").getField("cid").as("cid"), col("sub"))
    val cb = a1.select(col("m"), col("cid"), posexplode(col("sub")))
      .groupBy("m", "cid", "pos")
      .agg((sum(col("col").cast(DoubleType).cast(DecimalType(20, 10)))
        .cast(DoubleType) / count(lit(1))).as("dim_avg"))
      .groupBy("m", "cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("dim_avg")))).as("dims"))
      .select(col("m"), col("cid"),
        transform(col("dims"), x => x.getField("dim_avg")).as("centroid"))
    val flat = Array.ofDim[Double](PqM * PqK * PqD)
    cb.collect().foreach { r =>
      val base = (r.getInt(0) * PqK + r.getInt(1)) * PqD
      val c = r.getSeq[Double](2)
      var i = 0
      while (i < PqD) { flat(base + i) = c(i); i += 1 }
    }
    (cb, flat)
  }

  // T47: PQ train → encode → ADC top-k with exact-d2 rerank column.
  def q145PqAdc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // (vec_id, m, sub) training rows: explode a literal subspace index,
    // slice is a codegen'd builtin — no HOF touches the scan here
    val subs = e.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("embedding"))
      .withColumn("sub", slice(col("embedding"), col("m") * lit(PqD) + lit(1), lit(PqD)))
      .select("vec_id", "m", "sub")
    val (_, flat) = trainBook(subs)
    val bookLit = lit(flat)
    val codes = e.select(col("vec_id"),
      call_function("pq_encode", col("embedding"), bookLit,
        lit(Array(PqM, PqK, PqD))).as("code"))
    // per-probe LUT: micro-quantized sub-distance to every (m, cid)
    // centroid, quantized ONCE → ADC sums are exact long arithmetic.
    // Native row-local pq_lut over the COLLECTED codebook — bit-equal
    // to the declarative explode + keyed collect_list assembly
    // (PqServeSpec pins the parity; the oracle still replays the
    // declarative math), and the query plan no longer re-runs the
    // training lineage to rebuild the codebook frame (r15 ladder: the
    // recomputed fit dominated the wall at the 2M rung)
    val luts = e.filter(col("vec_id") < PqProbes)
      .select(col("vec_id").as("probe_id"),
        call_function("pq_lut", col("embedding"), bookLit,
          lit(Array(PqM, PqK, PqD))).as("lut"))
    // ADC scan: 16-byte (vec_id, code) rows × broadcast probe LUTs; the
    // per-probe ranking shuffle carries (probe_id, vec_id, adc_u) only
    val w = Window.partitionBy("probe_id").orderBy(asc("adc_u"), asc("vec_id"))
    val topk = codes.join(broadcast(luts), col("vec_id") =!= col("probe_id"))
      .withColumn("adc_u", call_function("pq_adc", col("code"), col("lut"),
        lit(Array(PqM, PqK))))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= PqTopK)
      .select("probe_id", "rk", "vec_id", "adc_u")
    // exact-d2 rerank column on the TopK·Probes survivors (100 rows):
    // the recall audit a production ANN always ships with. tk's size
    // ESTIMATE is window-laundered (BroadcastGuard would strip its
    // broadcast hint, after which Spark broadcast the CORPUS side —
    // a 15 s single-task driver hash build at the 200k rung, r15
    // ladder). The rk <= TopK filter bounds tk at Probes·TopK rows by
    // construction, so a semantically-no-op limit() states that bound
    // to the optimizer: the estimate becomes honest, the 100-row
    // broadcast survives at every scale, and the corpus side streams
    // map-side with no exchange.
    val pvecs = e.filter(col("vec_id") < PqProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val tk = topk.join(broadcast(pvecs), Seq("probe_id"))
      .limit(PqProbes * PqTopK)
    e.select(col("vec_id"), col("embedding").as("cvec"))
      .join(broadcast(tk), Seq("vec_id"))
      .withColumn("d2", round(
        VectorFunctions.norm2(col("pvec")) -
          lit(2.0) * VectorFunctions.dot(col("pvec"), col("cvec")) +
          VectorFunctions.norm2(col("cvec")), 6))
      .select(col("probe_id"), col("rk"), col("vec_id"), col("adc_u"), col("d2"))
      .orderBy("probe_id", "rk")
  }

  private def d2Sql(a: String, b: String): String =
    s"${VectorFunctions.dotSql(a, a)} - 2.0 * ${VectorFunctions.dotSql(a, b)} + ${VectorFunctions.dotSql(b, b)}"

  val q145Sql: String = {
    s"""WITH subs AS MATERIALIZED (
       | SELECT vec_id, m, embedding[m*$PqD+1 : m*$PqD+$PqD] AS sub
       | FROM embeddings, UNNEST(range(0, $PqM)) AS t(m)
       |), st AS (
       | SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / $TrainSample.0) AS BIGINT)) AS step
       | FROM embeddings
       |), samp AS MATERIALIZED (
       | SELECT s.* FROM subs s, st WHERE s.vec_id % st.step = 0
       |), seeds AS (
       | SELECT m, CAST(vec_id / st.step AS INTEGER) AS cid, sub AS centroid
       | FROM subs, st WHERE vec_id % st.step = 0 AND vec_id < st.step * $PqK
       |), a1 AS (
       | SELECT vec_id, m, sub, cid FROM (
       |  SELECT s.vec_id, s.m, s.sub, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |     ORDER BY ${d2Sql("s.sub", "c.centroid")} ASC, c.cid) AS rk
       |  FROM samp s JOIN seeds c ON c.m = s.m) WHERE rk = 1
       |), c1d AS (
       | SELECT m, cid, i AS pos,
       |  CAST(SUM(CAST(CAST(sub[i] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS dim_avg
       | FROM a1, UNNEST(range(1, $PqD + 1)) AS t(i)
       | GROUP BY m, cid, i
       |), c1 AS MATERIALIZED (
       | SELECT m, cid, list(dim_avg ORDER BY pos) AS centroid FROM c1d GROUP BY m, cid
       |), codes AS MATERIALIZED (
       | SELECT vec_id, m, cid AS code FROM (
       |  SELECT s.vec_id, s.m, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |     ORDER BY ${d2Sql("s.sub", "c.centroid")} ASC, c.cid) AS rk
       |  FROM subs s JOIN c1 c ON c.m = s.m) WHERE rk = 1
       |), lut AS (
       | SELECT p.vec_id AS probe_id, c.m, c.cid,
       |  CAST(ROUND((${d2Sql("p.sub", "c.centroid")}) * 1000000, 0) AS BIGINT) AS d2u
       | FROM (SELECT vec_id, m, sub FROM subs WHERE vec_id < $PqProbes) p
       | JOIN c1 c ON c.m = p.m
       |), adc AS (
       | SELECT l.probe_id, k.vec_id, CAST(SUM(l.d2u) AS BIGINT) AS adc_u
       | FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.code
       | WHERE k.vec_id <> l.probe_id
       | GROUP BY l.probe_id, k.vec_id
       |), ranked AS (
       | SELECT probe_id, vec_id, adc_u,
       |  ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_u ASC, vec_id ASC) AS rk
       | FROM adc
       |)
       |SELECT r.probe_id, r.rk, r.vec_id, r.adc_u,
       | ROUND(${d2Sql("p.embedding", "e.embedding")}, 6) AS d2
       |FROM ranked r
       |JOIN embeddings p ON p.vec_id = r.probe_id
       |JOIN embeddings e ON e.vec_id = r.vec_id
       |WHERE r.rk <= $PqTopK
       |ORDER BY r.probe_id, r.rk""".stripMargin
  }

  val IvfNprobe = 2 // coarse cells probed per query (of the 10 label cells)

  /** T49: IVFADC — the composed production ANN index (FAISS's
    * IVFADC; Jégou et al. TPAMI 2011 §IV): coarse-quantize the corpus
    * into IVF cells (q46's decimal-exact label centroids), PQ-encode
    * each vector's RESIDUAL to its cell centroid (residuals carry the
    * fine structure the coarse quantizer removed — the reason FAISS
    * encodes residuals, not raw vectors), route each probe to its
    * `IvfNprobe` nearest cells by exact d2, and ADC-score ONLY those
    * cells' codes with a per-(probe, cell) LUT over the probe's
    * residual in that cell.
    *
    * Scale shape: the candidate scan reads nprobe/n_cells of the
    * corpus (partition pruning by cell id at 100 TB — cells are the
    * storage partition key), candidates are 16-byte (vec_id, code)
    * rows, LUTs broadcast, and the ranking shuffle carries 28-byte
    * rows. Residuals never materialize outside whole-stage codegen:
    * `vec_sub` (native, VectorExprs.scala) feeds `pq_encode` directly
    * on the scan.
    */
  /** Coarse IVF centroids: q46's decimal-exact per-dim means, kept
    * DOUBLE so the residual subtraction is one exact IEEE op per dim.
    * Like the PQ codebook, the coarse fit runs on the bounded
    * [[TrainSample]] modulo sample (the r15 ladder measured the
    * full-corpus 64-dim posexplode mean at 128M decimal rows per
    * action at 2M vectors — recomputed through the lineage several
    * times per query); step = 1 below 64k vectors, so driver-scale
    * results are bit-identical.
    */
  private[graft] def coarseCells(e: DataFrame): DataFrame = {
    val stepDf = e.agg(greatest(lit(1L),
      floor(count(lit(1)).cast(DoubleType) / lit(TrainSample))
        .cast(LongType)).as("step"))
    e.crossJoin(broadcast(stepDf))
      .filter(col("vec_id") % col("step") === 0)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg((sum(col("col").cast(DoubleType).cast(DecimalType(20, 10)))
        .cast(DoubleType) / count(lit(1))).as("dim_avg"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("dim_avg")))).as("dims"))
      .select(col("label").as("cell"),
        transform(col("dims"), d => d.getField("dim_avg")).as("ccent"))
  }

  /** Residual scan (vec_id, cell, resid): one broadcast join + native
    * vec_sub — map-side, codegen'd end to end (the zip_with form would
    * be the interpreted HOF defect class InterpretedGuardSpec gates).
    *
    * Coverage (r15 ADVICE — a label with no fitted coarse centroid
    * silently vanished through this inner join) is ASSERTED at FIT and
    * APPEND time via [[requireCoverage]], not per row here: the
    * per-row assert_true form measured 2× on q147 at gen-sf1 (the
    * non-deterministic error expression blocks filter pushdown and
    * join narrowing), and the failure can only ever be INTRODUCED at
    * the two boundaries the checks guard — a fit whose sample missed a
    * rare label (buildIndex) or a new label arriving under a frozen
    * coarse table (encodeUnder, IndexSet's append).
    */
  private[graft] def residualFrame(e: DataFrame, coarse: DataFrame): DataFrame =
    e.join(broadcast(coarse), col("label") === col("cell"))
      .select(col("vec_id"), col("cell"),
        call_function("vec_sub", col("embedding"), col("ccent")).as("resid"))

  def q147IvfAdc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // bounded model state (n_cells × 64 doubles = 5 KB): collect the
    // fitted coarse centroids once and re-enter the plan as a
    // LocalRelation with EXACT statistics. The agg lineage's estimate
    // otherwise launders through the scalar crossJoin + windows,
    // trips BroadcastGuard, and re-plans every downstream broadcast as
    // a cell-keyed SMJ (r15 ladder: 6 recomputes of the coarse agg per
    // action and a corpus-side broadcast at the 200k rung). At large
    // cell counts the published PqIndex TABLE is the serve shape
    // (probeTopK); the registry query's 10 label cells are driver
    // state exactly like the collected codebook.
    val coarseDf = coarseCells(e)
    val coarse = s.createDataFrame(
      java.util.Arrays.asList(coarseDf.collect(): _*), coarseDf.schema)
    val resid = residualFrame(e, coarse)
    val rsubs = resid.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("resid"))
      .withColumn("sub", slice(col("resid"), col("m") * lit(PqD) + lit(1), lit(PqD)))
      .select("vec_id", "m", "sub")
    val (_, flat) = trainBook(rsubs)
    val bookLit = lit(flat)
    val codes = resid.select(col("vec_id"), col("cell"),
      call_function("pq_encode", col("resid"), bookLit,
        lit(Array(PqM, PqK, PqD))).as("code"))
    // probe routing: nprobe nearest coarse cells by exact d2 (no
    // division — ANSI-safe without the cosine zero-norm filter)
    val probes = e.filter(col("vec_id") < PqProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val wc = Window.partitionBy("probe_id").orderBy(asc("cd2"), asc("cell"))
    val routed = probes.join(broadcast(coarse), lit(true))
      .withColumn("cd2",
        VectorFunctions.norm2(col("pvec")) -
          lit(2.0) * VectorFunctions.dot(col("pvec"), col("ccent")) +
          VectorFunctions.norm2(col("ccent")))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= IvfNprobe)
      .withColumn("pres", call_function("vec_sub", col("pvec"), col("ccent")))
      .select(col("probe_id"), col("cell"), col("pres"))
    // per-(probe, cell) LUT over the probe's residual IN THAT CELL —
    // micro-quantized once, so ADC sums stay exact long arithmetic.
    // Native row-local pq_lut over the collected codebook (bit-equal
    // to the declarative assembly, PqServeSpec; the oracle replays the
    // declarative math) — the query plan never re-runs the fit lineage
    val luts = routed
      .select(col("probe_id"), col("cell").as("lcell"),
        call_function("pq_lut", col("pres"), bookLit,
          lit(Array(PqM, PqK, PqD))).as("lut"))
      .limit(PqProbes * IvfNprobe) // honest bound: crk <= nprobe per probe
    // ADC over the ROUTED cells only: each candidate lives in exactly
    // one label cell, so the lut join is also the cell restriction
    val w = Window.partitionBy("probe_id").orderBy(asc("adc_u"), asc("vec_id"))
    val topk = codes.join(broadcast(luts),
        col("cell") === col("lcell") && col("vec_id") =!= col("probe_id"))
      .withColumn("adc_u", call_function("pq_adc", col("code"), col("lut"),
        lit(Array(PqM, PqK))))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= PqTopK)
      .select("probe_id", "rk", "cell", "vec_id", "adc_u")
    // exact-d2 rerank column on the TopK·Probes survivors — the recall
    // audit, with the same honest-bound limit() as q145 so the 100-row
    // tk side broadcasts at every scale (never the corpus)
    val pvecs = e.filter(col("vec_id") < PqProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val tk = topk.join(broadcast(pvecs), Seq("probe_id"))
      .limit(PqProbes * PqTopK)
    e.select(col("vec_id"), col("embedding").as("cvec"))
      .join(broadcast(tk), Seq("vec_id"))
      .withColumn("d2", round(
        VectorFunctions.norm2(col("pvec")) -
          lit(2.0) * VectorFunctions.dot(col("pvec"), col("cvec")) +
          VectorFunctions.norm2(col("cvec")), 6))
      .select(col("probe_id"), col("rk"), col("cell"), col("vec_id"),
        col("adc_u"), col("d2"))
      .orderBy("probe_id", "rk")
  }

  val q147Sql: String = {
    s"""WITH st AS (
       | SELECT GREATEST(1, CAST(FLOOR(COUNT(*) / $TrainSample.0) AS BIGINT)) AS step
       | FROM embeddings
       |), cdim AS (
       | SELECT label, i AS pos,
       |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS dim_avg
       | FROM embeddings, st, UNNEST(range(1, ${PqM * PqD} + 1)) AS t(i)
       | WHERE vec_id % st.step = 0
       | GROUP BY label, i
       |), coarse AS MATERIALIZED (
       | SELECT label AS cell, list(dim_avg ORDER BY pos) AS ccent FROM cdim GROUP BY label
       |), rdim AS (
       | SELECT e.vec_id, e.label, (t.i - 1) // $PqD AS m, t.i AS i,
       |  CAST(e.embedding[t.i] AS DOUBLE) - c.ccent[t.i] AS r
       | FROM embeddings e JOIN coarse c ON c.cell = e.label,
       |  UNNEST(range(1, ${PqM * PqD} + 1)) AS t(i)
       |), rsubs AS MATERIALIZED (
       | SELECT vec_id, label, m, list(r ORDER BY i) AS sub
       | FROM rdim GROUP BY vec_id, label, m
       |), samp AS MATERIALIZED (
       | SELECT s.* FROM rsubs s, st WHERE s.vec_id % st.step = 0
       |), seeds AS (
       | SELECT m, CAST(vec_id / st.step AS INTEGER) AS cid, sub AS centroid
       | FROM rsubs, st WHERE vec_id % st.step = 0 AND vec_id < st.step * $PqK
       |), a1 AS (
       | SELECT vec_id, m, sub, cid FROM (
       |  SELECT s.vec_id, s.m, s.sub, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |     ORDER BY ${d2Sql("s.sub", "c.centroid")} ASC, c.cid) AS rk
       |  FROM samp s JOIN seeds c ON c.m = s.m) WHERE rk = 1
       |), c1d AS (
       | SELECT m, cid, i AS pos,
       |  CAST(SUM(CAST(CAST(sub[i] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS dim_avg
       | FROM a1, UNNEST(range(1, $PqD + 1)) AS t(i)
       | GROUP BY m, cid, i
       |), c1 AS MATERIALIZED (
       | SELECT m, cid, list(dim_avg ORDER BY pos) AS centroid FROM c1d GROUP BY m, cid
       |), codes AS MATERIALIZED (
       | SELECT vec_id, label, m, cid AS code FROM (
       |  SELECT s.vec_id, s.label, s.m, c.cid,
       |   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |     ORDER BY ${d2Sql("s.sub", "c.centroid")} ASC, c.cid) AS rk
       |  FROM rsubs s JOIN c1 c ON c.m = s.m) WHERE rk = 1
       |), route AS MATERIALIZED (
       | SELECT probe_id, cell FROM (
       |  SELECT p.vec_id AS probe_id, c.cell,
       |   ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |     ORDER BY ${d2Sql("p.embedding", "c.ccent")} ASC, c.cell) AS crk
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $PqProbes) p, coarse c)
       | WHERE crk <= $IvfNprobe
       |), pdim AS (
       | SELECT r.probe_id, r.cell, (t.i - 1) // $PqD AS m, t.i AS i,
       |  CAST(p.embedding[t.i] AS DOUBLE) - c.ccent[t.i] AS pr
       | FROM route r
       | JOIN embeddings p ON p.vec_id = r.probe_id
       | JOIN coarse c ON c.cell = r.cell,
       |  UNNEST(range(1, ${PqM * PqD} + 1)) AS t(i)
       |), psubs AS (
       | SELECT probe_id, cell, m, list(pr ORDER BY i) AS sub
       | FROM pdim GROUP BY probe_id, cell, m
       |), lut AS (
       | SELECT s.probe_id, s.cell, c.m, c.cid,
       |  CAST(ROUND((${d2Sql("s.sub", "c.centroid")}) * 1000000, 0) AS BIGINT) AS d2u
       | FROM psubs s JOIN c1 c ON c.m = s.m
       |), adc AS (
       | SELECT l.probe_id, k.label AS cell, k.vec_id, CAST(SUM(l.d2u) AS BIGINT) AS adc_u
       | FROM codes k JOIN lut l ON l.cell = k.label AND l.m = k.m AND l.cid = k.code
       | WHERE k.vec_id <> l.probe_id
       | GROUP BY l.probe_id, k.label, k.vec_id
       |), ranked AS (
       | SELECT probe_id, cell, vec_id, adc_u,
       |  ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_u ASC, vec_id ASC) AS rk
       | FROM adc
       |)
       |SELECT r.probe_id, r.rk, r.cell, r.vec_id, r.adc_u,
       | ROUND(${d2Sql("p.embedding", "e.embedding")}, 6) AS d2
       |FROM ranked r
       |JOIN embeddings p ON p.vec_id = r.probe_id
       |JOIN embeddings e ON e.vec_id = r.vec_id
       |WHERE r.rk <= $PqTopK
       |ORDER BY r.probe_id, r.rk""".stripMargin
  }

  /** The published IVFADC index (T49's serving artifact, E35's model
    * registry discipline applied to a vector index): coarse cells, the
    * trained residual codebook (bounded model state, 8 KB), and the
    * (cell, vec_id, code) table. IndexSet persists all three — codes
    * PARTITIONED BY cell, so a routed probe's candidate read is
    * partition-pruned at the parquet layer (the 100 TB layout claim
    * made executable; PqServeSpec pins the PartitionFilters).
    */
  final case class PqIndex(coarse: DataFrame, book: Array[Double],
      codes: DataFrame)

  /** Fit the index from the corpus — the exact q147 prefix (same
    * helpers, same expressions): coarse fit, residuals, one Lloyd
    * round per subspace, native residual encode.
    */
  /** Every label in `vecs` must own a fitted coarse centroid —
    * otherwise its vectors would silently vanish from the index
    * through residualFrame's inner join (r15 ADVICE). One tiny
    * anti-join job over the distinct labels; raised at the boundary
    * that introduces the gap, never per row.
    */
  private def requireCoverage(vecs: DataFrame, coarse: DataFrame): Unit = {
    val missing = vecs.select("label").distinct()
      .join(coarse.select("cell"), col("label") === col("cell"), "left_anti")
      .collect().map(_.get(0))
    require(missing.isEmpty,
      s"labels without a fitted coarse centroid: ${missing.mkString(", ")} — " +
        "refit the coarse table (re-publish) before indexing these vectors")
  }

  def buildIndex(s: SparkSession, dir: String): PqIndex =
    buildIndexFrom(Tables.embeddings(s, dir))

  def buildIndexFrom(e: DataFrame): PqIndex = {
    val coarse = coarseCells(e)
    requireCoverage(e, coarse)
    val resid = residualFrame(e, coarse)
    val rsubs = resid.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("resid"))
      .withColumn("sub", slice(col("resid"), col("m") * lit(PqD) + lit(1), lit(PqD)))
      .select("vec_id", "m", "sub")
    val (_, flat) = trainBook(rsubs)
    val codes = resid.select(col("vec_id"), col("cell"),
      call_function("pq_encode", col("resid"), lit(flat),
        lit(Array(PqM, PqK, PqD))).as("code"))
    PqIndex(coarse, flat, codes)
  }

  /** Encode arrivals under a FROZEN fit — IndexSet's append increment
    * (re-fit is a deliberate re-publish): coverage-checked at the
    * boundary, then a map-only residual + native pq_encode pass. Encode
    * is row-local under a frozen book, so an append serves exactly as
    * the union encoded under that fit (PqServeSpec).
    */
  private[graft] def encodeUnder(coarse: DataFrame, book: Array[Double],
      newVecs: DataFrame): DataFrame = {
    requireCoverage(newVecs, coarse)
    residualFrame(newVecs, coarse)
      .select(col("vec_id"), col("cell"),
        call_function("pq_encode", col("resid"), lit(book),
          lit(Array(PqM, PqK, PqD))).as("code"))
  }

  /** Serving-path scorer: per-probe IVFADC top-k against a built index
    * or a snapshot's (IndexSet.loadSnapshot). Bit-identical to q147's
    * probe path (PqServeSpec) but with the LUT computed ROW-LOCALLY by
    * the native `pq_lut` expression — one codegen'd call per (probe,
    * routed cell) instead of q147's explode + keyed collect_list, so a
    * serving request never shuffles. Runs per micro-batch under PqServe.serve.
    *
    * `excludeSelf` defaults TRUE (the T6 convention: probes are corpus
    * vectors, batch parity with q147 needs the self drop); a serving
    * deployment whose probe_ids are request identifiers outside the
    * vec_id space passes false so an id collision cannot lose a
    * corpus vector (the scoreQueries discipline).
    */
  def probeTopK(probes: DataFrame, idx: PqIndex,
      excludeSelf: Boolean = true): DataFrame = {
    val wc = Window.partitionBy("probe_id").orderBy(asc("cd2"), asc("cell"))
    val routed = probes.join(broadcast(idx.coarse), lit(true))
      .withColumn("cd2",
        VectorFunctions.norm2(col("pvec")) -
          lit(2.0) * VectorFunctions.dot(col("pvec"), col("ccent")) +
          VectorFunctions.norm2(col("ccent")))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= IvfNprobe)
      .select(col("probe_id"), col("cell").as("lcell"),
        call_function("pq_lut",
          call_function("vec_sub", col("pvec"), col("ccent")),
          lit(idx.book), lit(Array(PqM, PqK, PqD))).as("lut"))
    val joinCond =
      if (excludeSelf) col("cell") === col("lcell") && col("vec_id") =!= col("probe_id")
      else col("cell") === col("lcell")
    // bounded top-k instead of the batch row_number window (r16, the
    // scoreQueries discipline): per-probe candidates are whole routed
    // CELLS — n/n_cells rows each — and the window form sorted them on
    // one task per probe. The mergeable aggregate keeps ≤ PqTopK rows
    // per partition map-side; ordering (adc_u ASC, vec_id ASC) rides
    // ScoredTopK's (score DESC, id ASC) via negation (adc_u is a
    // micro-quantized distance ≪ Long.MaxValue, so the negation is
    // exact). PqServeSpec pins bit-equality against batch q147's
    // window ranking.
    idx.codes.join(broadcast(routed), joinCond)
      .withColumn("adc_u", call_function("pq_adc", col("code"), col("lut"),
        lit(Array(PqM, PqK))))
      // a malformed request (null/wrong-length pvec) null-poisons its
      // lut and every adc_u — drop those candidates instead of feeding
      // null into the typed top-k (batch probes are corpus vectors, so
      // this is serve-robustness only: parity rows are all non-null)
      .filter(col("adc_u").isNotNull)
      .groupBy("probe_id")
      .agg(serveTopK(-col("adc_u"), col("vec_id"), col("cell").cast(LongType))
        .as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("probe_id"), (col("i") + 1).cast(LongType).as("rk"),
        col("t._3").cast(IntegerType).as("cell"), col("t._2").as("vec_id"),
        (-col("t._1")).as("adc_u"))
  }

  private lazy val serveTopK = udaf(
    new graft.functions.TopKAgg.ScoredTopK(PqTopK),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Long)]())

  // T48: int8 scalar-quantization round-trip audit. Exact integer
  // report: per-dim squared reconstruction error quantized ONCE to
  // pico units, per-label sums are plain long arithmetic.
  def q146Sq8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val stats = e.select(posexplode(col("embedding")))
      .groupBy("pos")
      .agg(min(col("col").cast(DoubleType)).as("mn"),
        max(col("col").cast(DoubleType)).as("mx"))
      .withColumn("scale", col("mx") - col("mn"))
    val enc = e.select(col("label"), posexplode(col("embedding")))
      .withColumn("x", col("col").cast(DoubleType))
      .join(broadcast(stats), Seq("pos"))
      // ANSI guard: a constant dim (scale = 0) encodes to 0 and decodes
      // to mn exactly — never a 0-division
      .withColumn("q", when(col("scale") === 0.0, lit(0))
        .otherwise(round((col("x") - col("mn")) * lit(255.0) / col("scale"), 0)
          .cast(IntegerType)))
      .withColumn("deq",
        col("mn") + (col("q").cast(DoubleType) * col("scale")) / lit(255.0))
      .withColumn("err_p",
        round((col("x") - col("deq")) * (col("x") - col("deq")) * lit(1e12), 0)
          .cast(LongType))
    enc.groupBy("label")
      .agg((count(lit(1)) / lit(SqDims)).cast(LongType).as("n_vectors"),
        count(lit(1)).as("n_dims"),
        sum("err_p").as("sse_pico"),
        max("err_p").as("max_err_pico"))
      .orderBy("label")
  }

  val q146Sql: String =
    s"""WITH stats AS (
       | SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
       |        MAX(CAST(embedding[i] AS DOUBLE)) AS mx,
       |        MAX(CAST(embedding[i] AS DOUBLE)) - MIN(CAST(embedding[i] AS DOUBLE)) AS scale
       | FROM embeddings, UNNEST(range(1, $SqDims + 1)) AS t(i)
       | GROUP BY i
       |), enc AS (
       | SELECT e.label, CAST(e.embedding[s.i] AS DOUBLE) AS x, s.mn, s.scale,
       |  CASE WHEN s.scale = 0 THEN 0
       |       ELSE CAST(ROUND((CAST(e.embedding[s.i] AS DOUBLE) - s.mn) * 255.0 / s.scale, 0) AS INTEGER)
       |  END AS q
       | FROM embeddings e, UNNEST(range(1, $SqDims + 1)) AS t2(j)
       | JOIN stats s ON s.i = t2.j
       |), err AS (
       | SELECT label,
       |  CAST(ROUND((x - (mn + (CAST(q AS DOUBLE) * scale) / 255.0)) *
       |             (x - (mn + (CAST(q AS DOUBLE) * scale) / 255.0)) * 1000000000000.0, 0) AS BIGINT) AS err_p
       | FROM enc
       |)
       |SELECT label, CAST(COUNT(*) / $SqDims AS BIGINT) AS n_vectors,
       | COUNT(*) AS n_dims,
       | CAST(SUM(err_p) AS BIGINT) AS sse_pico,
       | MAX(err_p) AS max_err_pico
       |FROM err GROUP BY label ORDER BY label""".stripMargin
}
