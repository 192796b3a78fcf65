package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.GraftSession

/** Atomic, versioned publish of the HYBRID artifact family (r16 verdict
  * next-round #1): the BM25 inverted index, the IVFADC vector index,
  * and the document content store — the three artifacts HybridServe
  * fuses — maintained as ONE versioned index set so a reader can never
  * observe them at two different corpus versions.
  *
  * The r16 capstone exposed the gap this closes: `appendToBm25` commits
  * postings → dl → df → stats as four non-atomic in-place steps, and
  * nothing pinned "the BM25 and PQ artifacts index the same corpus" —
  * a crash mid-append, or an append applied to one index but not the
  * other, served fused rankings across two corpus versions undetected.
  *
  * Design (the public snapshot-isolation shape — Iceberg/Delta's
  * manifest discipline scaled down to exactly what this family needs):
  *
  *   - **Immutable segments.** Every data write lands in a fresh
  *     `seg=<id>` directory (internally partitioned by tb/db/cell like
  *     the single-index layouts, same sort + row-group dials). Nothing
  *     ever rewrites or appends into an existing segment, so any frame
  *     assembled from a fixed segment list keeps serving ITS version
  *     even while later mutations land beside it.
  *   - **Whole-table generations.** The vocabulary-sized df table and
  *     the fit-sized coarse/book tables are rewritten wholesale per
  *     mutation into `gen=<id>` dirs (they are model-scale — the same
  *     class as the E35 registry sidecars).
  *   - **The manifest is the ONLY commit point.** A mutation stages all
  *     its segments/generations, then writes `manifest/v<NNNNNNNNN>
  *     .json` via create-temp + atomic rename, LAST. The current
  *     version is simply the max manifest file — there is no CURRENT
  *     pointer to double-write, so a crash anywhere before the rename
  *     leaves the prior version fully servable and the staged dirs as
  *     invisible orphans (`vacuum` reclaims them).
  *   - **Deletes never rewrite old segments.** A delete writes the
  *     touched partitions' survivors into a NEW segment and records the
  *     touched partitions as per-segment EXCLUSIONS in the manifest;
  *     readers list each segment's partitions minus its exclusions. A
  *     fully-victimized partition is simply excluded with no survivor
  *     rows — the dynamic-overwrite defect class cannot occur because
  *     visibility is manifest-side, not filesystem-side.
  *
  * Corpus versioning: `corpusVersion` bumps on append/delete (data
  * mutations) and is UNCHANGED by compaction (row-set identity), so a
  * serving layer can pin and assert it. `IndexSetSpec` proves: a killed
  * mid-append leaves the prior version serving bit-identically, a
  * pre-append snapshot keeps serving its own version after the append
  * commits, and every version's serving equals a fresh publish of that
  * version's corpus.
  *
  * Scale shape: identical to the single-index artifacts — posting reads
  * prune on (seg, tb) partition dirs then row groups; an append costs
  * one increment-sized write + one vocabulary-sized df merge; a delete
  * rewrites only touched partitions' survivors. The manifest itself is
  * O(segments) bytes; compaction bounds segment count.
  *
  * Reads resolve from the manifest, the rule the shape above cites: the
  * committed version already names every directory a reader sees, so
  * each read lists those directories' files on the driver (segments ×
  * buckets listings) and takes its component's declared schema instead
  * of a parallel-listing job and a footer-inference job per component;
  * `loadSnapshot` runs one Spark job, the codebook collect. Mutations
  * stage their independent writes concurrently
  * (`GraftSession.concurrently`): an append's postings-then-df,
  * dl, fit-then-codes and docs chains share the cores instead of
  * queueing one-task jobs, and the manifest commit still waits for all
  * of them.
  *
  * Single-writer contract: mutations are serialized by the caller (a
  * production deployment runs maintenance from one scheduler). The
  * atomic manifest rename makes a concurrent second writer fail loudly
  * rather than corrupt.
  */
object IndexSet {

  /** One immutable segment and the partition dir names ("tb=3") a later
    * delete excluded from it.
    */
  final case class SegRef(id: String, excluded: Seq[String])

  /** The committed state of one index-set version. Dials are pinned at
    * publish (the bucket counts and PQ dims the layouts were written
    * under) and re-validated against the engine constants at load.
    */
  final case class HybridManifest(
      version: Long,
      corpusVersion: Long,
      nDocs: Long,
      sumDl: Long,
      termBuckets: Int,
      docBuckets: Int,
      pqDims: Seq[Int],
      bm25Postings: Seq[SegRef],
      bm25Dl: Seq[SegRef],
      bm25DfGen: String,
      pqCodes: Seq[SegRef],
      pqFitGen: String,
      docs: Seq[SegRef])

  /** A resolved, immutable view of one version: the assembled component
    * indexes HybridServe fuses plus the content store. Frames reference
    * only the manifest's segment/generation dirs, so the snapshot keeps
    * serving its version even while later mutations commit.
    */
  final case class HybridSnapshot(manifest: HybridManifest,
      bm25: Retrieval.Bm25Index, pq: Quantize.PqIndex, docs: DataFrame)

  /** Segment/generation ids are UN-padded decimals ("seg=17"): Hive
    * partition-value type inference parses a zero-padded "000000017" to
    * the integer 17, so a padded dir name would not round-trip through
    * the inferred seg column. Manifest FILE names pad for lexical sort.
    */
  private def segId(v: Long): String = v.toString

  private def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  // --- manifest IO (commit/list/read shared via graft.sources.ManifestLog) -----

  private def jsonStr(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def segsJson(segs: Seq[SegRef]): String =
    segs.map(r => s"""{"id":${jsonStr(r.id)},"excluded":[${
      r.excluded.map(jsonStr).mkString(",")}]}""").mkString("[", ",", "]")

  private def render(m: HybridManifest): String =
    s"""{
       |  "version": ${m.version},
       |  "corpusVersion": ${m.corpusVersion},
       |  "nDocs": ${m.nDocs},
       |  "sumDl": ${m.sumDl},
       |  "termBuckets": ${m.termBuckets},
       |  "docBuckets": ${m.docBuckets},
       |  "pqDims": [${m.pqDims.mkString(",")}],
       |  "bm25Postings": ${segsJson(m.bm25Postings)},
       |  "bm25Dl": ${segsJson(m.bm25Dl)},
       |  "bm25DfGen": ${jsonStr(m.bm25DfGen)},
       |  "pqCodes": ${segsJson(m.pqCodes)},
       |  "pqFitGen": ${jsonStr(m.pqFitGen)},
       |  "docs": ${segsJson(m.docs)}
       |}""".stripMargin

  private def parse(str: String): HybridManifest = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(str)
    def segs(field: String): Seq[SegRef] =
      n.get(field).elements().asScala.map(e =>
        SegRef(e.get("id").asText(),
          e.get("excluded").elements().asScala.map(_.asText()).toSeq)).toSeq
    HybridManifest(
      n.get("version").asLong(), n.get("corpusVersion").asLong(),
      n.get("nDocs").asLong(), n.get("sumDl").asLong(),
      n.get("termBuckets").asInt(), n.get("docBuckets").asInt(),
      n.get("pqDims").elements().asScala.map(_.asInt()).toSeq,
      segs("bm25Postings"), segs("bm25Dl"), n.get("bm25DfGen").asText(),
      segs("pqCodes"), n.get("pqFitGen").asText(), segs("docs"))
  }

  /** The commit: create-temp then ATOMIC RENAME into the versioned
    * manifest name — written last, so every staged segment/generation
    * of this mutation becomes visible in one filesystem metadata op
    * (graft.sources.ManifestLog, the discipline shared by all registries).
    */
  private def commitManifest(s: SparkSession, root: String,
      m: HybridManifest): Unit =
    graft.sources.ManifestLog.commit(s, root, m.version, render(m))

  /** Committed versions, ascending — the current version is simply the
    * max manifest file; a crashed mutation never produced one.
    */
  def versions(s: SparkSession, root: String): Seq[Long] =
    graft.sources.ManifestLog.versions(s, root)

  def currentVersion(s: SparkSession, root: String): Long =
    graft.sources.ManifestLog.currentVersion(s, root)

  def readManifest(s: SparkSession, root: String,
      version: Option[Long] = None): HybridManifest = {
    val m = parse(graft.sources.ManifestLog.read(s, root, version))
    require(m.termBuckets == Retrieval.TermBuckets &&
      m.docBuckets == Retrieval.DocBuckets &&
      m.pqDims == Seq(Quantize.PqM, Quantize.PqK, Quantize.PqD),
      s"index set at $root was published under dials (tb=${m.termBuckets}, " +
        s"db=${m.docBuckets}, pq=${m.pqDims}) != engine constants — republish")
    m
  }

  // --- segment/generation writes (all into FRESH dirs, never in place) ---

  private def postingsRoot(root: String) = s"$root/bm25/postings"
  private def dlRoot(root: String) = s"$root/bm25/dl"
  private def dfRoot(root: String) = s"$root/bm25/df"
  private def codesRoot(root: String) = s"$root/pq/codes"
  private def coarseRoot(root: String) = s"$root/pq/coarse"
  private def bookRoot(root: String) = s"$root/pq/book"
  private def docsRoot(root: String) = s"$root/docs"

  // Each writer's declared schema: the columns its files hold, then its
  // partition column, all nullable as a parquet read reports them. Reads
  // take it from here instead of inferring it from a footer (a Spark job
  // per read); IndexSetSpec pins each against the schema a fresh
  // publish and an append leave on disk.

  private[graft] val PostingsSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("term", StringType), StructField("tf", LongType),
    StructField("dl", LongType), StructField("tb", IntegerType)))

  private def writePostingsSeg(postings: DataFrame, root: String, id: String): Unit =
    postings.withColumn("tb",
        pmod(graft.functions.TextFunctions.md5Long(col("term")),
          lit(Retrieval.TermBuckets.toLong)).cast(IntegerType))
      .repartition(col("tb")).sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("tb")
      .option("parquet.block.size", Retrieval.PostingsRowGroupBytes.toString)
      .parquet(s"${postingsRoot(root)}/seg=$id")

  private[graft] val DlSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("dl", LongType), StructField("db", IntegerType)))

  private[graft] val DocsSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("db", IntegerType)))

  /** Writes the dl (DlSchema) and content store (DocsSchema) segments. */
  private def writeDocKeyedSeg(rows: DataFrame, compRoot: String, id: String): Unit =
    rows.withColumn("db",
        pmod(col("doc_id"), lit(Retrieval.DocBuckets.toLong)).cast(IntegerType))
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("db").parquet(s"$compRoot/seg=$id")

  private[graft] val CodesSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("code", LongType), StructField("cell", IntegerType)))

  private def writeCodesSeg(codes: DataFrame, root: String, id: String): Unit =
    codes.repartition(col("cell")).sortWithinPartitions("vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"${codesRoot(root)}/seg=$id")

  private[graft] val DfSchema = StructType(Seq(StructField("term", StringType),
    StructField("df", LongType)))

  private def writeDfGen(df: DataFrame, root: String, id: String): Unit =
    df.write.mode("overwrite").parquet(s"${dfRoot(root)}/gen=$id")

  private[graft] val CoarseSchema = StructType(Seq(StructField("cell", IntegerType),
    StructField("ccent", ArrayType(DoubleType))))

  private[graft] val BookSchema = StructType(Seq(StructField("book", ArrayType(DoubleType)),
    StructField("dims", ArrayType(IntegerType))))

  /** Writes the coarse (CoarseSchema) and book (BookSchema) generations. */
  private def writeFitGen(idx: Quantize.PqIndex, root: String, id: String): Unit = {
    idx.coarse.write.mode("overwrite").parquet(s"${coarseRoot(root)}/gen=$id")
    val s = idx.coarse.sparkSession
    import s.implicits._
    Seq((idx.book.toSeq, Seq(Quantize.PqM, Quantize.PqK, Quantize.PqD)))
      .toDF("book", "dims")
      .write.mode("overwrite").parquet(s"${bookRoot(root)}/gen=$id")
  }

  // --- snapshot assembly ---------------------------------------------------

  private def partDirs(fs: FileSystem, segDir: Path): Seq[Path] =
    if (!fs.exists(segDir)) Seq.empty
    else fs.listStatus(segDir).filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath).toSeq.sortBy(_.getName)

  /** A parquet frame over `dirs` with `schema`, in no Spark job. The
    * committed manifest names every directory a version reads, so the
    * leaf files are listed here on the driver (segments × buckets
    * directories; compaction bounds the segments) and handed to the
    * file index through a cache it consults before listing anything:
    * no parallel-listing job however many directories. Partition values
    * parse from the paths under `base`, typed by `schema`; the data
    * columns are the rest of `schema`, so no footer is read to infer
    * them either. Snapshot directories are immutable, so the cache
    * never needs refreshing.
    */
  private def manifestRead(s: SparkSession, base: Path, dirs: Seq[Path],
      schema: StructType): DataFrame = {
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    // data files only (no _SUCCESS, no .crc), located the way Spark's
    // own listing locates them: a status carrying permissions would
    // make the local filesystem fork a shell per file to read them
    val listed: Map[Path, Array[FileStatus]] = dirs.map { d =>
      d -> fs.listStatus(d).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(f => new LocatedFileStatus(f.getLen, false, f.getReplication, f.getBlockSize,
        f.getModificationTime, 0, null, null, null, null, f.getPath, false, false, false,
        fs.getFileBlockLocations(f, 0, f.getLen)): FileStatus)
    }.toMap
    val seeded = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = listed.get(p)
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val opts = Map("basePath" -> base.toString)
    val index = new InMemoryFileIndex(s, dirs, opts, Some(schema), seeded)
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(f => parts.fieldNames.contains(f.name)))
    Bridge.ofRows(s, LogicalRelation(
      HadoopFsRelation(index, parts, data, None, new ParquetFileFormat, opts)(s)))
  }

  /** Assemble a component from its manifest segments: each segment's
    * partition dirs minus its exclusions, read with the seg column as
    * a partition column too. `keepSeg` retains it for mutation planning
    * (per-segment touched-partition lists).
    */
  private def readSegs(s: SparkSession, compRoot: String, schema: StructType,
      segs: Seq[SegRef], keepSeg: Boolean = false): DataFrame = {
    val fs = fsOf(s, compRoot)
    val base = fs.makeQualified(new Path(compRoot))
    val dirs = segs.flatMap { seg =>
      val excluded = seg.excluded.toSet
      partDirs(fs, new Path(base, s"seg=${seg.id}")).filterNot(p => excluded(p.getName))
    }
    require(dirs.nonEmpty,
      s"component $compRoot has no live partitions — the manifest is empty")
    val df = manifestRead(s, base, dirs, StructType(StructField("seg", IntegerType) +: schema.fields))
    if (keepSeg) df else df.drop("seg")
  }

  /** One whole-table generation (df, coarse, book). */
  private def readGen(s: SparkSession, compRoot: String, gen: String,
      schema: StructType): DataFrame = {
    val dir = fsOf(s, compRoot).makeQualified(new Path(compRoot, s"gen=$gen"))
    manifestRead(s, dir, Seq(dir), schema)
  }

  private def loadFit(s: SparkSession, root: String, gen: String): (DataFrame, Array[Double]) = {
    val bookRow = readGen(s, bookRoot(root), gen, BookSchema).collect().head
    require(bookRow.getSeq[Int](1) == Seq(Quantize.PqM, Quantize.PqK, Quantize.PqD),
      s"published fit dims ${bookRow.getSeq[Int](1)} != engine (M, K, D)")
    (readGen(s, coarseRoot(root), gen, CoarseSchema), bookRow.getSeq[Double](0).toArray)
  }

  /** Resolve ONE version (default: current) into an immutable snapshot.
    * This is the only read path — every component comes from the same
    * manifest, so a consumer can never fuse two corpus versions. The
    * codebook collect is its one Spark job.
    */
  def loadSnapshot(s: SparkSession, root: String,
      version: Option[Long] = None): HybridSnapshot = {
    val m = readManifest(s, root, version)
    val (coarse, book) = loadFit(s, root, m.pqFitGen)
    HybridSnapshot(m,
      Retrieval.Bm25Index(
        readSegs(s, postingsRoot(root), PostingsSchema, m.bm25Postings),
        readGen(s, dfRoot(root), m.bm25DfGen, DfSchema),
        readSegs(s, dlRoot(root), DlSchema, m.bm25Dl),
        m.nDocs, m.sumDl),
      Quantize.PqIndex(coarse, book, readSegs(s, codesRoot(root), CodesSchema, m.pqCodes)),
      readSegs(s, docsRoot(root), DocsSchema, m.docs))
  }

  // --- lifecycle -------------------------------------------------------

  /** Per-term document counts of the postings segment `id` staged by the
    * running mutation.
    */
  private def stagedDf(s: SparkSession, root: String, id: String): DataFrame =
    readSegs(s, postingsRoot(root), PostingsSchema, only(id))
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** A segment list holding only the one segment `id`. */
  private def only(id: String): Seq[SegRef] = Seq(SegRef(id, Nil))

  /** Initial publish: fit + encode + index the corpus, everything in
    * segment/generation `000000001`, manifest v1 committed last.
    */
  def publish(s: SparkSession, docs: DataFrame, vecs: DataFrame,
      root: String): HybridManifest = {
    require(versions(s, root).isEmpty,
      s"$root already holds a published index set — use append/delete")
    val id = segId(1L)
    val bm = Retrieval.buildBm25IndexFrom(docs.select("doc_id", "text"))
    require(bm.nDocs > 0, "cannot publish an empty corpus")
    GraftSession.concurrently(Seq(
      () => {
        writePostingsSeg(bm.postings, root, id)
        // df derives from the STAGED postings seg (the publishBm25 r17
        // discipline, A/B'd in BENCH_R17_PUBLISH.json): exchange reuse
        // cannot span write actions, so the in-memory frame would re-run
        // the corpus explode plus a second full (doc, term) shuffle — the
        // staged read is one column-pruned pass with map-side term counts
        writeDfGen(stagedDf(s, root, id), root, id)
      },
      // dl stays on its in-memory frame: the raw-toks aggregate map-side
      // combines to doc granularity, a light shuffle
      () => writeDocKeyedSeg(bm.dl, dlRoot(root), id),
      () => {
        val pq = Quantize.buildIndexFrom(vecs)
        writeFitGen(pq, root, id)
        writeCodesSeg(pq.codes, root, id)
      },
      () => writeDocKeyedSeg(docs.select("doc_id", "text"), docsRoot(root), id)))
    val m = HybridManifest(1L, 1L, bm.nDocs, bm.sumDl,
      Retrieval.TermBuckets, Retrieval.DocBuckets,
      Seq(Quantize.PqM, Quantize.PqK, Quantize.PqD),
      only(id), only(id), id, only(id), id, only(id))
    commitManifest(s, root, m)
    m
  }

  def append(s: SparkSession, newDocs: DataFrame, newVecs: DataFrame,
      root: String): HybridManifest =
    append(s, newDocs, newVecs, root, () => ())

  /** Absorb an ingest batch into BOTH indexes and the content store as
    * one committed version: stage the increment's segments + the merged
    * df generation, then commit the manifest. A crash (or the test
    * hook's throw) anywhere before the commit leaves the prior version
    * fully servable and the staged dirs orphaned — re-running the
    * append rolls forward. Encoding runs under the manifest's FROZEN
    * fit generation (coverage-checked); df/n_docs/sum_dl update in
    * exact long arithmetic, so append-then-load serves bit-identically
    * to a fresh publish of the union (IndexSetSpec).
    *
    * Caller contract: arriving doc_ids/vec_ids are new to the corpus
    * (a re-ingest is delete + append), and doc/vec arrivals represent
    * the SAME corpus batch — that pairing is exactly what the single
    * manifest version pins.
    */
  private[graft] def append(s: SparkSession, newDocs: DataFrame,
      newVecs: DataFrame, root: String,
      beforeCommit: () => Unit): HybridManifest = {
    val m = readManifest(s, root)
    val v2 = m.version + 1
    val id = segId(v2)
    val inc = Retrieval.buildBm25IndexFrom(newDocs.select("doc_id", "text"))
    require(inc.nDocs > 0, "empty ingest batch — nothing to append")
    GraftSession.concurrently(Seq(
      () => {
        writePostingsSeg(inc.postings, root, id)
        // the increment's df derives from its staged seg, as in publish
        writeDfGen(readGen(s, dfRoot(root), m.bm25DfGen, DfSchema)
          .unionByName(stagedDf(s, root, id))
          .groupBy("term").agg(sum("df").as("df")), root, id)
      },
      () => writeDocKeyedSeg(inc.dl, dlRoot(root), id),
      () => {
        val (coarse, book) = loadFit(s, root, m.pqFitGen)
        writeCodesSeg(Quantize.encodeUnder(coarse, book, newVecs), root, id)
      },
      () => writeDocKeyedSeg(newDocs.select("doc_id", "text"), docsRoot(root), id)))
    beforeCommit()
    val m2 = m.copy(version = v2, corpusVersion = m.corpusVersion + 1,
      nDocs = m.nDocs + inc.nDocs, sumDl = m.sumDl + inc.sumDl,
      bm25Postings = m.bm25Postings ++ only(id), bm25Dl = m.bm25Dl ++ only(id),
      bm25DfGen = id, pqCodes = m.pqCodes ++ only(id), docs = m.docs ++ only(id))
    commitManifest(s, root, m2)
    m2
  }

  def delete(s: SparkSession, ids: Seq[Long], root: String): HybridManifest =
    delete(s, ids, root, () => ())

  /** Remove documents AND their vectors (the HybridServe id-space
    * convention: doc_id and vec_id enumerate the same corpus) as one
    * committed version. Old segments are NEVER rewritten: the touched
    * partitions' survivors land in a fresh segment and the manifest
    * records those partitions as per-segment exclusions — visibility
    * is manifest-side, so a fully-victimized partition is just an
    * exclusion with no survivor rows, and a crash before the commit
    * leaves the prior version servable with every victim still
    * present (deletion is not durable until the manifest commits).
    *
    * Bulk-delete guard (the deleteFromBm25 discipline, sharing its
    * `republishFraction`, default DefaultDeleteRepublishFraction):
    * above the victim fraction — decided upfront from the manifest's nDocs, no
    * probe job — the delete degrades to a survivor REPUBLISH (fresh
    * segments containing all survivors, df/stats recomputed with no
    * victim-derived driver state, one new manifest referencing only
    * them), since the surgical path would collect near the full
    * vocabulary and rewrite nearly every partition anyway.
    */
  private[graft] def delete(s: SparkSession, ids: Seq[Long], root: String,
      beforeCommit: () => Unit,
      republishFraction: Double = Retrieval.DefaultDeleteRepublishFraction): HybridManifest = {
    import s.implicits._
    require(ids.nonEmpty, "empty victim set")
    val m = readManifest(s, root)
    val v2 = m.version + 1
    val id = segId(v2)
    val victims = ids.distinct.toDF("doc_id")
    val vVictims = ids.distinct.toDF("vec_id")

    if (ids.distinct.size >= republishFraction * m.nDocs) {
      // df/stats from the STAGED survivors so every piece derives from
      // one corpus state (and nothing victim-sized reaches the driver)
      GraftSession.concurrently(Seq(
        () => {
          writePostingsSeg(readSegs(s, postingsRoot(root), PostingsSchema, m.bm25Postings)
            .join(victims, Seq("doc_id"), "left_anti").drop("tb"), root, id)
          writeDfGen(stagedDf(s, root, id), root, id)
        },
        () => writeDocKeyedSeg(readSegs(s, dlRoot(root), DlSchema, m.bm25Dl)
          .join(victims, Seq("doc_id"), "left_anti").drop("db"), dlRoot(root), id),
        () => writeCodesSeg(readSegs(s, codesRoot(root), CodesSchema, m.pqCodes)
          .join(vVictims, Seq("vec_id"), "left_anti"), root, id),
        () => writeDocKeyedSeg(readSegs(s, docsRoot(root), DocsSchema, m.docs)
          .join(victims, Seq("doc_id"), "left_anti").drop("db"), docsRoot(root), id)))
      val st = readSegs(s, dlRoot(root), DlSchema, only(id))
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
        .collect()(0)
      require(st.getLong(0) > 0,
        "deleting every document empties the index set — nothing to republish")
      beforeCommit()
      val m2 = m.copy(version = v2, corpusVersion = m.corpusVersion + 1,
        nDocs = st.getLong(0), sumDl = st.getLong(1),
        bm25Postings = only(id), bm25Dl = only(id),
        bm25DfGen = id, pqCodes = only(id), docs = only(id))
      commitManifest(s, root, m2)
      return m2
    }

    // victim-derived state, all bounded (the deleteFromBm25 discipline):
    // per-(segment, partition) touch lists, the victims' per-term doc
    // counts, and their dl sum
    def touchPairs(df: DataFrame, keyCol: String, vict: DataFrame,
        partCol: String): Seq[(Long, Int)] =
      df.join(broadcast(vict), Seq(keyCol))
        .select(col("seg").cast(LongType), col(partCol).cast(IntegerType))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq

    val postings = readSegs(s, postingsRoot(root), PostingsSchema, m.bm25Postings,
      keepSeg = true)
    val pTouched = touchPairs(postings, "doc_id", victims, "tb")
    val lostRows = postings.join(broadcast(victims), Seq("doc_id"))
      .groupBy("term").agg(count(lit(1)).as("lost")).collect()
    val lost = s.createDataFrame(
      java.util.Arrays.asList(lostRows: _*),
      StructType(Seq(StructField("term", StringType),
        StructField("lost", LongType))))
    val dl = readSegs(s, dlRoot(root), DlSchema, m.bm25Dl, keepSeg = true)
    val victimSt = dl.join(broadcast(victims), Seq("doc_id"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
      .collect()(0)
    require(m.nDocs - victimSt.getLong(0) > 0,
      "deleting every document empties the index set — republish instead")
    val dTouched = touchPairs(dl, "doc_id", victims, "db")
    val codes = readSegs(s, codesRoot(root), CodesSchema, m.pqCodes, keepSeg = true)
    val cTouched = touchPairs(codes, "vec_id", vVictims, "cell")
    val store = readSegs(s, docsRoot(root), DocsSchema, m.docs, keepSeg = true)
    val sTouched = touchPairs(store, "doc_id", victims, "db")

    // survivor segment: ONLY the touched (segment, partition) pairs'
    // survivors — untouched data stays where it is, visible as before.
    // OR-of-equalities (not a struct isin) so the predicate prunes at
    // the partition-directory layer
    def survivors(df: DataFrame, touched: Seq[(Long, Int)], partCol: String,
        vict: DataFrame, keyCol: String): DataFrame =
      df.filter(touched.map { case (sg, p) =>
          col("seg") === sg && col(partCol) === p
        }.reduce(_ || _))
        .join(broadcast(vict), Seq(keyCol), "left_anti")
        .drop("seg")
    val survivorWrites = Seq(
      pTouched -> (() => writePostingsSeg(
        survivors(postings, pTouched, "tb", victims, "doc_id").drop("tb"), root, id)),
      dTouched -> (() => writeDocKeyedSeg(
        survivors(dl, dTouched, "db", victims, "doc_id").drop("db"), dlRoot(root), id)),
      cTouched -> (() => writeCodesSeg(
        survivors(codes, cTouched, "cell", vVictims, "vec_id"), root, id)),
      sTouched -> (() => writeDocKeyedSeg(
        survivors(store, sTouched, "db", victims, "doc_id").drop("db"), docsRoot(root), id)))
      .collect { case (touched, write) if touched.nonEmpty => write }
    val dfWrite = () => writeDfGen(readGen(s, dfRoot(root), m.bm25DfGen, DfSchema)
      .join(broadcast(lost), Seq("term"), "left")
      .select(col("term"), (col("df") - coalesce(col("lost"), lit(0L))).as("df"))
      .filter(col("df") > 0), root, id)
    GraftSession.concurrently(survivorWrites :+ dfWrite)

    beforeCommit()
    def excluded(segs: Seq[SegRef], touched: Seq[(Long, Int)],
        partCol: String): Seq[SegRef] = {
      val bySeg = touched.groupBy(t => segId(t._1))
      val upd = segs.map(r => bySeg.get(r.id) match {
        case Some(ps) => r.copy(excluded =
          (r.excluded ++ ps.map(p => s"$partCol=${p._2}")).distinct.sorted)
        case None => r
      })
      if (touched.nonEmpty) upd ++ only(id) else upd
    }
    val m2 = m.copy(version = v2, corpusVersion = m.corpusVersion + 1,
      nDocs = m.nDocs - victimSt.getLong(0),
      sumDl = m.sumDl - victimSt.getLong(1),
      bm25Postings = excluded(m.bm25Postings, pTouched, "tb"),
      bm25Dl = excluded(m.bm25Dl, dTouched, "db"),
      bm25DfGen = id,
      pqCodes = excluded(m.pqCodes, cTouched, "cell"),
      docs = excluded(m.docs, sTouched, "db"))
    commitManifest(s, root, m2)
    m2
  }

  /** Rewrite each component's live rows into ONE fresh publish-form
    * segment and commit a manifest referencing only it — segment-count
    * maintenance after an append/delete chain. Row-set identity, so
    * corpusVersion is UNCHANGED; old segments become vacuum-able
    * orphans once no retained manifest references them.
    */
  def compact(s: SparkSession, root: String): HybridManifest = {
    val m = readManifest(s, root)
    val v2 = m.version + 1
    val id = segId(v2)
    GraftSession.concurrently(Seq(
      () => writePostingsSeg(readSegs(s, postingsRoot(root), PostingsSchema, m.bm25Postings)
        .drop("tb"), root, id),
      () => writeDocKeyedSeg(readSegs(s, dlRoot(root), DlSchema, m.bm25Dl).drop("db"),
        dlRoot(root), id),
      () => writeCodesSeg(readSegs(s, codesRoot(root), CodesSchema, m.pqCodes), root, id),
      () => writeDocKeyedSeg(readSegs(s, docsRoot(root), DocsSchema, m.docs).drop("db"),
        docsRoot(root), id)))
    val m2 = m.copy(version = v2, bm25Postings = only(id), bm25Dl = only(id),
      pqCodes = only(id), docs = only(id))
    commitManifest(s, root, m2)
    m2
  }

  /** Reclaim dirs no retained manifest references: crashed mutations'
    * staged segments/generations and pre-compaction segments. Retains
    * the newest `keepVersions` manifests (older manifest FILES are
    * removed too, so time-travel reaches only retained versions).
    * Returns the deleted paths.
    */
  def vacuum(s: SparkSession, root: String, keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the current version")
    val fs = fsOf(s, root)
    val vs = versions(s, root)
    require(vs.nonEmpty, s"nothing published under $root")
    val keep = vs.takeRight(keepVersions)
    val kept = keep.map(v => readManifest(s, root, Some(v)))
    val liveSegs: Map[String, Set[String]] = Map(
      postingsRoot(root) -> kept.flatMap(_.bm25Postings.map(_.id)).toSet,
      dlRoot(root) -> kept.flatMap(_.bm25Dl.map(_.id)).toSet,
      codesRoot(root) -> kept.flatMap(_.pqCodes.map(_.id)).toSet,
      docsRoot(root) -> kept.flatMap(_.docs.map(_.id)).toSet,
      dfRoot(root) -> kept.map(_.bm25DfGen).toSet,
      coarseRoot(root) -> kept.map(_.pqFitGen).toSet,
      bookRoot(root) -> kept.map(_.pqFitGen).toSet)
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    liveSegs.foreach { case (compRoot, live) =>
      val dir = new Path(compRoot)
      if (fs.exists(dir)) fs.listStatus(dir).filter(_.isDirectory).foreach { d =>
        val nm = d.getPath.getName // "seg=000000001" / "gen=000000001"
        val id = nm.split("=", 2).last
        if (!live.contains(id)) {
          fs.delete(d.getPath, true)
          deleted += d.getPath.toString
        }
      }
    }
    vs.dropRight(keepVersions).foreach { v =>
      fs.delete(new Path(graft.sources.ManifestLog.manifestPath(root, v)), false)
      deleted += graft.sources.ManifestLog.manifestPath(root, v)
    }
    deleted.toSeq
  }

  /** Content for a ranked id set against a SNAPSHOT's store (the fetch
    * half of retrieve→fetch): db partition dirs prune to the ids'
    * buckets before the literal In() prunes row groups — ≤ |ids|
    * directories opened per request regardless of corpus size.
    */
  def fetchDocs(snap: HybridSnapshot, ids: Seq[Long]): DataFrame = {
    val dbs = ids.map(i => java.lang.Math.floorMod(i, Retrieval.DocBuckets.toLong).toInt)
      .distinct
    snap.docs
      .filter(col("db").isin(dbs.map(Integer.valueOf): _*))
      .filter(col("doc_id").isin(ids.map(Long.box): _*))
      .select("doc_id", "text")
  }
}
