package graft.engine

import org.apache.spark.sql.{DataFrame, GraftInternal, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.{Catalog, ConnectionDef, StreamDef}
import graft.functions.{EpochStamp, GraftFunctions}
import graft.operators.Similarity
import graft.schema._
import graft.types.FlinkType
import SiblingIndex.{Ann, Families, Lsh, MinHash}

/** Per-model configuration — the engine analog of the reference's dbt model
  * config block (pipeline + output-stream specs,
  * /root/reference/dbt/adapters/decodable/impl.py:449-480):
  * watermarks (http_events.sql:6-11), primary_key (events_count.sql:10-13),
  * execution.active default true (impl.py:458-460).
  *
  * @param declaredFields explicit `output_stream.schema_v2.fields` — when
  *                       non-empty, schema inference is SKIPPED and these
  *                       fields define the stream verbatim (reference
  *                       `populate_output_stream_spec`, impl.py:490-500
  *                       only infers when the declared list is empty)
  * @param columnHints    per-column `data_type` overrides from schema.yml
  *                       (reference `_get_model_schema_hints`,
  *                       impl.py:663-669) — merged over the inferred
  *                       schema by name; unhinted columns keep their
  *                       inferred type
  */
final case class ModelConfig(
    primaryKey: Seq[String] = Nil,
    watermarks: Seq[Watermark] = Nil,
    active: Boolean = true,
    properties: Map[String, String] = Map.empty,
    declaredFields: Seq[SchemaField] = Nil,
    columnHints: Map[String, FlinkType] = Map.empty)

/** Operational stats for one stream ([[Engine.describeStream]]). */
final case class StreamStats(
    qualifiedName: String,
    rows: Long,
    files: Long,
    bytes: Long,
    writeEpoch: Long,
    hasPipeline: Boolean,
    active: Boolean)

/** Result of a model materialization, mirroring the reference's apply
  * result states ("created"/"updated"/"unchanged", impl.py:402-417). */
sealed trait ApplyResult
case object Created extends ApplyResult
case object Updated extends ApplyResult
case object Unchanged extends ApplyResult

object Engine {
  /** Session conf key naming the engine bound to the session: the one
    * whose streams SQL run outside the engine resolves
    * ([[StreamRelations]]) and the engine-bound SQL table functions
    * (`ann_indexed_topk`) serve. Set by [[Engine.registerViews]], which
    * every engine statement calls, and read at analysis time. */
  val RootConfKey = "spark.graft.engine.root"

  /** Live engines by root, for the engine-bound TVFs: the TVF must
    * reach the SAME instance (its stream locks serialize index
    * rebuilds against ingest — a second instance on one root would
    * break the single-writer contract). Registration is by
    * construction; roots are temp-dir-unique in practice. */
  private[graft] val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Engine]()

  /** The owner of a running continuous query: a pipeline, by model
    * name, or a source connection, by qualified name. */
  private[graft] sealed trait QueryOwner { def name: String }
  private[graft] final case class PipelineOwner(name: String) extends QueryOwner
  private[graft] final case class ConnectionOwner(name: String) extends QueryOwner

  /** The engine bound to the session's [[RootConfKey]], for TVFs. */
  private[graft] def bound(spark: SparkSession): Engine = {
    val root = spark.conf.getOption(RootConfKey).getOrElse(
      throw new IllegalStateException(
        "no engine bound to this session: engine-backed table functions " +
          "resolve through the engine bound by registerViews " +
          s"(run the SQL via the engine, or set ${RootConfKey})"))
    Option(registry.get(root)).getOrElse(
      throw new IllegalStateException(
        s"no live engine for root '$root' in this process"))
  }
}

/** The engine: one process, one SparkSession, a file-backed catalog. The
  * reference's control-plane/data-plane REST split (SURVEY §3) collapses to
  * direct calls; Flink-on-Decodable is replaced by Spark SQL as executor.
  *
  * Batch-first: a stream's contents are a Parquet-backed table at
  * `<root>/<name>`; every lifecycle operator is proven in batch, with the
  * Structured Streaming path layered on the same StreamDefs
  * (graft.streaming). Scale stance: all materializations are straight
  * `spark.sql(...)` plans written with distributed writers — the engine
  * never collects data to the driver except in [[preview]] (which is
  * row-limited by contract, like the reference's bounded preview).
  */
final class Engine(
    val spark: SparkSession,
    val root: String,
    val namespace: Option[String] = None,
    val materializeTests: Boolean = false,
    val previewTimeoutMs: Long = 60000L) {

  val catalog = new Catalog(root, namespace)
  /** Every store rewrite and its crash repair ([[StagedCommit]]). */
  private[graft] val commits = new StagedCommit(this)
  GraftFunctions.register(spark)
  // Every Structured Streaming start clones this session, and with
  // artifact isolation on (Spark 4.1's default) each clone carries a new
  // artifact UUID, so its executor tasks run under a fresh classloader and
  // miss the generated-code cache (keyed by classloader and source): each
  // refresh recompiled its whole plan. The engine adds no artifacts, so
  // there is nothing to isolate; clones inherit the setting.
  spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
  // Spark's default checkpoint file manager renames through Hadoop's
  // FileContext, which without the native hadoop library forks a
  // `readlink` process per rename (several per checkpoint file, each
  // micro-batch). The engine's checkpoints are local files, where the
  // FileSystem-based manager publishes the same way (temp file, then
  // rename), keeps the .crc sidecars and renames in-process.
  spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
    classOf[FileSystemBasedCheckpointFileManager].getName)
  Engine.registry.put(root, this) // engine-bound TVF resolution

  /** Hidden ingest-order columns. Epoch and within-write sequence are
    * SEPARATE columns (not bit-packed into one long): a packed
    * `epoch<<45 + monotonically_increasing_id()` layout overflows into
    * the epoch bits at write partition 4096 (`monotonically_increasing_id`
    * is `partitionId<<33 + row`), silently corrupting compaction order and
    * as-of reads exactly at cluster-scale parallelism. Two longs cost
    * nothing in parquet (the constant epoch RLE-compresses away) and give
    * unbounded budgets for both fields. (epoch, seq) lexicographic order
    * is the arrival order that makes change-stream folding (reference
    * handler.py:87-94 "keep latest after per key") deterministic in batch. */
  val SeqCol = "__graft_seq"
  val EpochCol = "__graft_epoch"

  /** Hidden tombstone marker: the batch encoding of the reference's
    * empty-`after` change event (handler.py:87-94 clears the key).
    * Normal writes stamp false; [[deleteKeys]] appends true rows; PK
    * compaction drops a key whose latest row is a tombstone. */
  val DeletedCol = "__graft_deleted"

  // ------------------------------------------------------------------
  // Reads
  // ------------------------------------------------------------------

  /** Read a stream's current contents.
    *
    * @param compact for change streams (PK present), fold to the latest row
    *                per key by arrival order — the batch analog of the
    *                retract-stream result semantics (handler.py:87-94).
    */
  def readStream(name: String, compact: Boolean = true): DataFrame = {
    val d = catalog(name)
    foldCompact(d, d.schema.applyComputed(readRaw(d)), compact)
  }

  /** Raw stored rows incl. the ingest-sequence column. A declared stream
    * with no data yet reads as empty (its first write creates the dir;
    * the def can exist first, e.g. mid-createModel). Repairs any
    * interrupted store rewrite first, so a crash mid-commit can never
    * surface a partial store ([[StagedCommit.repair]]). */
  private def readRaw(d: StreamDef): DataFrame = {
    commits.repair(d.name)
    if (bucketSpec(d).nonEmpty && spark.catalog.tableExists(bucketTableName(d.name)))
      // table read carries the bucket spec into the scan — the whole
      // point of bucketed storage (a path read would re-shuffle)
      spark.table(bucketTableName(d.name))
    else if (java.nio.file.Files.exists(java.nio.file.Paths.get(catalog.dataPath(d.name))))
      spark.read.schema(storedStruct(d)).parquet(catalog.dataPath(d.name))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storedStruct(d))
  }

  /** ST2/A6 change-stream fold: latest row per PK by arrival order
    * (epoch, seq); a key whose latest row is a tombstone disappears —
    * the reference's empty-`after` deletion (handler.py:87-94). Without
    * compaction the tombstone rows stay visible as raw change events. */
  private def foldCompact(d: StreamDef, withComputed: DataFrame,
                          compact: Boolean): DataFrame = {
    val pk = d.schema.primaryKeyColumns
    val folded =
      if (compact && pk.nonEmpty) {
        val w = Window.partitionBy(pk.map(col): _*)
          .orderBy(col(EpochCol).desc, col(SeqCol).desc)
        withComputed.withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1 && !col(DeletedCol))
          .drop("__graft_rn")
      } else withComputed
    folded.drop(SeqCol, EpochCol, DeletedCol)
  }

  /** Time-travel read: the stream's (compacted) state as of write epoch
    * `epoch` inclusive — every write bumps the epoch
    * ([[graft.catalog.StreamDef.writeEpoch]]), and the ingest-sequence
    * column carries it in the high bits, so "state as of then" is a
    * filter + the same PK fold. The CDC-engine snapshot read neither
    * Spark tables nor the reference expose. */
  def readStreamAsOf(name: String, epoch: Long, compact: Boolean = true): DataFrame = {
    val d = catalog(name)
    val raw = readRaw(d).filter(col(EpochCol) <= lit(epoch))
    foldCompact(d, d.schema.applyComputed(raw), compact)
  }

  /** The stored row shape: the declared columns plus the hidden ingest
    * columns. */
  private[graft] def storedStruct(d: StreamDef) =
    d.schema.toStruct
      .add(EpochCol, "long", nullable = false)
      .add(SeqCol, "long", nullable = false)
      .add(DeletedCol, "boolean", nullable = false)

  /** The rows ONE write epoch appended, re-read from COMMITTED storage
    * (round 11): the stable frame the sibling-index maintenance passes
    * run over. [[managedIngest]]'s `survivors` plan runs through a
    * persisted probe frame whose lineage includes the postings streams —
    * the moment the first sibling append commits, Spark invalidates that
    * cache, and a later re-evaluation probes the survivors' OWN fresh
    * postings, self-flags them, and silently evaluates empty. Reading
    * the committed epoch back severs the lineage entirely; each epoch is
    * a constant column per file, so parquet min/max stats prune the scan
    * to the shard's own files. */
  private def rowsAtEpoch(name: String, epoch: Long): DataFrame = {
    val d = catalog(name)
    d.schema.applyComputed(readRaw(d).filter(col(EpochCol) === lit(epoch)))
      .drop(SeqCol, EpochCol, DeletedCol)
  }

  /** Bind THIS engine to the session ([[Engine.RootConfKey]]) for SQL
    * run outside the engine: a stream name the session resolves to no
    * temp view or table reads this engine's stream, and the engine-backed
    * table functions (`ann_indexed_topk`, …) serve its streams. Engine
    * statements resolve stream names themselves ([[scoped]]). */
  def registerViews(): Unit = spark.conf.set(Engine.RootConfKey, root)

  /** `sql` analyzed with this engine's stream names resolved to fresh
    * reads of the streams ([[StreamRelations]]), ahead of any same-named
    * temp view or table, and the qualified streams it read. */
  private def scoped(sql: String): (DataFrame, Seq[String]) = {
    registerViews()
    StreamRelations.within(this, readStream(_))(spark.sql(sql))
  }

  private def analyzed(sql: String): DataFrame = scoped(sql)._1

  // ------------------------------------------------------------------
  // Schema inference (S7) and change detection (L2)
  // ------------------------------------------------------------------

  /** Streams a SQL statement reads, as the analyzer resolves them (not
    * string matching — the reference's crude `FROM old` replace,
    * impl.py:698-701, done properly as SURVEY §2.6 L4 recommends). Reads
    * inside CTEs and subqueries and the table arguments of graft table
    * functions count; names match case-insensitively. */
  def sourcesOf(sql: String): Seq[String] = scoped(SqlDialect.rewrite(sql))._2

  /** Analysis-only schema inference: `spark.sql(select).schema` runs the
    * analyzer without a job (reference POST /pipelines/outputStream,
    * client.py:292-297). Errors on empty schema like impl.py:496-499. */
  def inferSchema(sql: String): StreamSchema =
    StreamSchema.fromStruct(fieldsOf(analyzed(SqlDialect.rewrite(sql)), sql))

  /** `df`'s schema, refused when the analyzer returned no fields. */
  private def fieldsOf(df: DataFrame, sql: String) = {
    if (df.schema.isEmpty) throw new IllegalStateException(
      s"Could not infer schema for SQL: $sql — analyzer returned no fields")
    df.schema
  }

  /** L2: would materializing (name, sql, cfg) change the stored resource? */
  def hasChanged(name: String, sql: String, cfg: ModelConfig): Boolean =
    catalog.get(name).forall(_.specHash != candidateDef(name, sql, cfg)._1.specHash)

  /** The def materializing (name, sql, cfg) stores, with the frame its
    * schema and sources come from. */
  private def candidateDef(name: String, sql: String,
                           cfg: ModelConfig): (StreamDef, DataFrame) = {
    val (frame, sources) = scoped(SqlDialect.rewrite(sql))
    // explicit schema_v2.fields bypass inference entirely (impl.py:490-500);
    // otherwise infer and let per-column data_type hints override by name
    // (impl.py:663-669). Either way [[write]] casts the pipeline output to
    // the declared types, so a DECIMAL declaration over a DOUBLE-inferring
    // SELECT materializes DECIMAL.
    val fields =
      if (cfg.declaredFields.nonEmpty) cfg.declaredFields
      else StreamSchema.fromStruct(fieldsOf(frame, sql)).fields.map {
        case PhysicalField(n, _) if cfg.columnHints.contains(n) =>
          PhysicalField(n, cfg.columnHints(n))
        case f => f
      }
    (StreamDef(
      name = catalog.qualify(name),
      schema = StreamSchema(fields, cfg.watermarks, cfg.primaryKey),
      sql = Some(SqlDialect.rewrite(sql)),
      sources = sources,
      active = cfg.active,
      properties = cfg.properties), frame)
  }

  // ------------------------------------------------------------------
  // Materialization (L1) — dbt model == stream + pipeline pair
  // ------------------------------------------------------------------

  /** Materialize a model: infer schema, diff against the stored def, and
    * (re)build only when changed or `fullRefresh` (reference table
    * materialization skip-if-unchanged, table.sql:29-41 + README.md:95-98).
    * The SQL is analyzed once, before the old store is dropped, and the
    * build writes that frame — unless it read the model's own stream: the
    * store it read is gone, so the pipeline runs again over the new one.
    */
  def createModel(name: String, sql: String, cfg: ModelConfig = ModelConfig(),
                  fullRefresh: Boolean = false): ApplyResult = {
    requireUserName(name, "materialize model")
    val existing = catalog.get(name)
    val (d, frame) = candidateDef(name, sql, cfg)
    if (!fullRefresh && existing.exists(_.specHash == d.specHash)) return Unchanged
    if (existing.nonEmpty) dropStream(name, cascade = false, keepConsumers = true)
    catalog.put(d)
    if (!cfg.active) writeEmpty(d)
    else if (d.sources.contains(d.name)) runPipeline(name)
    else write(d, frame, SaveMode.Overwrite)
    if (existing.nonEmpty) Updated else Created
  }

  /** Execute a stream's pipeline SQL and overwrite its contents (batch
    * re-materialization of `INSERT INTO sink SELECT …`). */
  def runPipeline(name: String): Unit = {
    val d = catalog(name)
    val sql = d.sql.getOrElse(
      throw new IllegalStateException(s"stream '${d.name}' has no pipeline"))
    write(d, analyzed(sql), SaveMode.Overwrite)
  }

  /** Append the result of `sql` to an existing stream (incremental INSERT
    * INTO semantics — S2). */
  def insertInto(name: String, sql: String): Unit = {
    val d = catalog(name)
    write(d, analyzed(SqlDialect.rewrite(sql)), SaveMode.Append)
  }

  /** Append rows directly (the analog of POSTing events to a REST source
    * connection, client.py:493-501). */
  def appendRows(name: String, df: DataFrame): Unit = {
    val d = catalog(name)
    write(d, df, SaveMode.Append)
  }

  /** The one managed-ingest path: [[appendRows]] with curation on the way
    * in, owned by index family `owner`. Under `name`'s ingest lock it
    *  1. makes the owner's index live (`ensure`, which returns the layout
    *     its probe needs);
    *  2. takes the write epoch before the append;
    *  3. admits rows: with a `probe` (given the layout, it returns the
    *     `in_id` pairs of incoming rows that near-duplicate the index, and
    *     their release handle) every incoming row with a flagged id is
    *     dropped and counted; without one every row is admitted;
    *  4. appends the survivors, releases what admission pinned, and
    *     re-reads the survivors once, committed ([[rowsAtEpoch]]);
    *  5. maintains EVERY family over those rows ([[maintainFamily]]), the
    *     owner included;
    *  6. runs `ensure` again when that left the owner stale (its growth
    *     crossed an LSH layout breakpoint or the ANN growth cap, or ANN
    *     had no codebook yet): the rebuild is paid here, not by the next
    *     call.
    *
    * @return number of incoming rows dropped */
  private def managedIngest[L](name: String, owner: SiblingFamily, df: DataFrame,
                               idCol: String)(ensure: => L)(
                               probe: Option[L => (DataFrame, () => Unit)]): Long =
    streamLock(name).synchronized {
    val layout = ensure
    val preEpoch = epochOf(name)
    val dropped = probe.fold { appendRows(name, df); 0L } { p =>
      // the shard feeds three jobs (index probe, drop count, anti-join
      // append) — persist it for the call so an expensive upstream plan
      // isn't recomputed per job
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (pairs, cleanup) = p(layout)
        val flagged = pairs.select(col("in_id").as(idCol)).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // ROW-accurate drop count (a shard that repeats a flagged id
          // drops every copy): semi-join against the materialized id set,
          // which the anti-join append then reuses instead of re-probing
          val n = df.join(flagged, Seq(idCol), "left_semi").count()
          appendRows(name, df.join(flagged, Seq(idCol), "left_anti"))
          n
        } finally { flagged.unpersist(); cleanup() }
      } finally df.unpersist()
    }
    // the committed rows, re-read by epoch: every index ingest runs over
    // THIS frame, never over the reactive survivors plan (`flagged` is
    // released, and re-evaluated after a sibling append it self-flags the
    // survivors and evaluates empty)
    val appended = rowsAtEpoch(name, epochOf(name))
    if (Families.filterNot(maintainFamily(_, name, appended, preEpoch)).contains(owner))
      ensure
    dropped
    }

  /** Ingest-time near-dup curation: append only the rows of `df` whose
    * `textCol` does NOT near-duplicate (MinHash-LSH Jaccard ≥
    * `threshold`) the stream's EXISTING content — the
    * [[graft.operators.Dedup.incrementalNearDups]] shard-vs-index
    * probe wired into the engine write path, so a continuously-fed
    * stream stays deduplicated without ever re-pairing its standing
    * corpus. Round 9: the corpus's band postings and hashed-shingle
    * signatures live in managed sibling streams (`<name>__mhpost`,
    * bucketed on the probe key, and `<name>__mhsig`) — steady-state
    * per-ingest cost is shard shingling + two slim index READS, never a
    * corpus re-shingle (the MinHash twin of the `__lshidx` embedding
    * index; no layout solver here, so the only rebuild trigger is a
    * parameter change). Out-of-band writes to the stream (plain
    * [[appendRows]], [[truncate]], [[deleteKeys]]) are detected via the
    * main stream's pinned write epoch: the next deduped ingest rebuilds
    * the index from the corpus instead of probing a stale one.
    * In-batch duplicates of a surviving novel row are kept (dedup is
    * against the INDEX; run [[graft.operators.Dedup.minhashLsh]] on the
    * shard first if intra-shard dedup is also wanted).
    *
    * Concurrency: the read-index-probe-then-write sequence holds the
    * stream's ingest lock ([[streamLock]]) end to end — two interleaved
    * calls would otherwise both probe the pre-write index and admit rows
    * that near-duplicate EACH OTHER's novel rows. Serialized, the second
    * ingest probes an index that already contains the first's survivors
    * (EngineSpec's concurrency test pins this).
    *
    * @return number of incoming rows dropped as near-duplicates
    */
  def appendRowsDeduped(name: String, df: DataFrame, idCol: String,
                        textCol: String, threshold: Double = 0.5): Long = {
    val (shingleN, numHashes, bands) = (2, 128, 32)
    // the indexed columns are pinned too, so other managed ingest paths
    // can maintain this index for their rows ([[maintainFamily]])
    val config = Map(
      "mh_shingle_n" -> shingleN.toString,
      "mh_num_hashes" -> numHashes.toString, "mh_bands" -> bands.toString,
      MinHash.idColKey -> idCol, "mh_text_col" -> textCol)
    managedIngest(name, MinHash, df, idCol) {
      // no layout solver (parameters are fixed and the verify threshold is
      // not baked in): rebuild when the config or an epoch pin disagrees
      if (MinHash.liveWith(catalog, name, epochOf(name), config).isEmpty) {
        // bootstrap/rebuild: ONE shingle+minhash pass over the corpus
        val corpus = readStream(name).select(col(idCol), col(textCol))
        resetFamily(MinHash, name, corpus.schema(idCol).dataType)
        mhAppend(name, corpus, idCol, textCol, shingleN, numHashes, bands)
        repin(MinHash, name, config)
      }
    }(Some(_ => graft.operators.Dedup.incrementalNearDupsIndexed(
      readStream(mhPostingsName(name)), readStream(mhSignaturesName(name)),
      df, idCol, textCol, shingleN, numHashes, bands, threshold)))
  }

  /** Append `rows`' band postings and signatures to `name`'s MinHash
    * stores. */
  private def mhAppend(name: String, rows: DataFrame, idCol: String,
                       textCol: String, shingleN: Int, numHashes: Int,
                       bands: Int): Unit = {
    val (post, sigs, cleanup) = graft.operators.Dedup.minhashIndexFrames(
      rows.select(col(idCol), col(textCol)), idCol, textCol, shingleN,
      numHashes, bands)
    try {
      appendRows(mhPostingsName(name), post)
      appendRows(mhSignaturesName(name), sigs)
    } finally cleanup()
  }

  /** The managed MinHash-index sibling streams backing
    * [[appendRowsDeduped]] for `name` — public for operational
    * tooling, like [[lshIndexName]]. */
  def mhPostingsName(name: String): String = name + SiblingIndex.MhPost.suffix
  def mhSignaturesName(name: String): String = name + SiblingIndex.MhSig.suffix

  /** Suffixes RESERVED for engine-managed index sibling streams
    * (round 10 — ADVICE r9 item 1): a user stream named e.g.
    * `foo__mhpost` would collide with the managed sibling namespace —
    * the props check in [[appendRowsDeduped]] would truncate/overwrite
    * it, and [[renameStream]] would blindly carry it. Creation paths
    * reject these names, so any existing suffixed stream IS
    * engine-managed and the sibling lifecycle (rename carry, rebuild,
    * compaction, drop) can treat it as its own. */
  val ManagedSuffixes: Seq[String] = Families.flatMap(_.stores.map(_.suffix))
  private def requireUserName(name: String, what: String): Unit =
    ManagedSuffixes.find(name.endsWith).foreach { suf =>
      throw new IllegalArgumentException(
        s"cannot $what '$name': the '$suf' suffix is reserved for " +
          "engine-managed index sibling streams")
    }

  /** Periodic OPTIMIZE for the managed index siblings: every deduped
    * ingest appends one file set to its index stream(s), so a
    * long-lived stream fed in micro-batches goes metadata-bound after
    * thousands of ingests (the small-file problem `compactStorage`
    * exists for). Every `spark.graft.index.compactEvery` index appends
    * (default 64) the sibling is rewritten in place — amortized cost
    * ~1/64 of an index scan per ingest, and time-travel/compaction
    * semantics are untouched (OPTIMIZE is a pure physical rewrite). */
  private def indexCompactEvery: Long =
    spark.conf.getOption("spark.graft.index.compactEvery")
      .map(_.toLong).getOrElse(64L)
  private def maybeCompactIndex(idxName: String): Unit = {
    val every = indexCompactEvery
    if (every > 0) catalog.get(idxName).foreach { d =>
      if (d.writeEpoch > 0 && d.writeEpoch % every == 0)
        compactStorage(idxName, targetFiles = 32)
    }
  }

  /** Embedding-space sibling of [[appendRowsDeduped]] (round 7; round 9:
    * persisted postings index — VERDICT r8 task 2): ingest a shard of
    * (id, embedding) rows, dropping rows whose vector near-duplicates
    * the standing stream at cosine ≥ `threshold`.
    *
    * The standing corpus's sign-LSH postings live in a managed sibling
    * stream `<name>__lshidx` — `(ex_id, tbl, bucket)`, bucketed on the
    * probe key — so a steady-state ingest costs O(shard·tables·probes)
    * signature+shuffle plus a postings READ: the corpus is never
    * re-signatured per micro-batch (the round-8 weakness). Each ingest
    * appends its survivors' postings; the solver layout
    * ([[graft.operators.Dedup.lshLayout]]) is pinned in the index
    * stream's properties and re-solved against the ledger count on
    * every call — when an ingest's survivors move the solver to a new
    * (planes, tables, radius), that ingest rebuilds the index from the
    * corpus in ONE signature pass (a layout epoch; breakpoints are
    * geometric in n, so the amortized per-row rebuild cost is O(1)), so
    * every probe runs under the layout solved at its ledger count. The
    * ledger count also means the fast path runs zero corpus-sized
    * actions.
    *
    * Same ingest-lock serialization and per-call unpersist hygiene as
    * the MinHash sibling; in-batch mutual near-dups are kept.
    * Out-of-band writes (plain [[appendRows]], [[truncate]],
    * [[deleteKeys]]) are detected via the main stream's pinned write
    * epoch and force a rebuild, so the probe never runs against a
    * silently-stale index.
    *
    * @return number of incoming rows dropped as near-duplicates
    */
  def appendRowsDedupedEmbedding(name: String, df: DataFrame, idCol: String,
                                 vecCol: String, threshold: Double = 0.8,
                                 dims: Int = 64): Long = {
    def existing = readStream(name).select(col(idCol), col(vecCol))
    // pinned with the solver layout; the indexed columns let other
    // managed ingest paths maintain this index ([[maintainFamily]])
    val config = Map("lsh_threshold" -> threshold.toString,
      "lsh_dims" -> dims.toString, Lsh.idColKey -> idCol, "lsh_vec_col" -> vecCol)
    managedIngest(name, Lsh, df, idCol) {
      // fast path: a live index (pinned with this call's config) whose
      // pinned layout still matches the solver at the ledger count
      Lsh.liveWith(catalog, name, epochOf(name), config).flatMap(d => lshPins(d.properties))
        .collect { case (layout, n) if lshSolve(n, threshold) == layout => layout }
        .getOrElse {
          // bootstrap or layout-epoch rebuild: one signature pass over the
          // standing corpus under the new layout
          val corpus = existing
          val n = corpus.count()
          val layout @ (p, t, r) = lshSolve(n, threshold)
          resetFamily(Lsh, name, corpus.schema(idCol).dataType)
          appendRows(lshIndexName(name),
            graft.operators.Dedup.embeddingPostings(corpus, idCol, vecCol, p, t, dims))
          repin(Lsh, name, config ++ Map("lsh_planes" -> p.toString,
            "lsh_tables" -> t.toString, "lsh_radius" -> r.toString, "lsh_n" -> n.toString))
          layout
        }
    }(Some { case (planes, tables, radius) =>
      graft.operators.Dedup.embeddingIncrementalNearDupsIndexed(
        readStream(lshIndexName(name)), existing, df, idCol, vecCol, threshold,
        planes, tables, radius, dims)
    })
  }

  /** The managed postings-index stream backing
    * [[appendRowsDedupedEmbedding]] for `name` — public so operational
    * tooling can inspect/DROP it; its layout epoch lives in the stream
    * properties (`lsh_planes`/`lsh_tables`/`lsh_radius`/`lsh_n`). */
  def lshIndexName(name: String): String = name + SiblingIndex.LshIdx.suffix

  /** The ONE place the embedding-LSH layout solver's occupancy/miss
    * parameters live: both [[appendRowsDedupedEmbedding]]'s live check
    * and [[maintainLsh]]'s layout-epoch check call this — a drifted
    * duplicate would make the two paths disagree on when a layout epoch
    * ends. */
  private def lshSolve(n: Long, threshold: Double): (Int, Int, Int) =
    graft.operators.Dedup.lshLayout(math.max(1L, n), threshold,
      targetOccupancy = 16, missTarget = 1e-6, probeRadius = 2,
      maxTables = 512)

  // ------------------------------------------------------------------
  // Index families ([[SiblingIndex]]): the MinHash text dedup, sign-LSH
  // embedding dedup and ANN retrieval indexes share one lifecycle here —
  // store creation, epoch pins, compaction, cross-family maintenance,
  // forget pruning and drop. A stream can carry all three at once, so
  // every managed ingest ([[managedIngest]]) routes its appended rows
  // through EVERY live family's standing layout, its own included
  // (shard-sized encode/posting passes), then re-pins them: all live
  // indexes stay live across any managed ingest. Out-of-band writes
  // (plain appendRows / truncate / deleteKeys) still invalidate
  // everything — the epoch pins are the correctness backstop,
  // maintenance is purely the fast path.
  // ------------------------------------------------------------------

  private def propLong(p: Map[String, String], k: String): Option[Long] =
    p.get(k).flatMap(s => scala.util.Try(s.toLong).toOption)

  /** `name`'s write epoch. */
  private def epochOf(name: String): Long =
    catalog(name).writeEpoch

  /** Create `f`'s missing stores for stream `name`, empty, with their
    * schema and bucket layout (`idType`: the indexed id column's type);
    * unless `keepExisting`, empty the stores that exist. */
  private def resetFamily(f: SiblingFamily, name: String,
                          idType: org.apache.spark.sql.types.DataType,
                          keepExisting: Boolean = false): Unit =
    f.stores.foreach { s =>
      val store = name + s.suffix
      if (!catalog.exists(store)) {
        val d = StreamDef(catalog.qualify(store),
          StreamSchema.fromStruct(s.schema(idType)),
          sources = Seq(catalog.qualify(name)), properties = s.layout)
        catalog.put(d); writeEmpty(d)
      } else if (!keepExisting) truncate(store)
    }

  /** Pin `f`'s index on `name` at the current epochs, merging `props`
    * into its properties. */
  private def repin(f: SiblingFamily, name: String,
                    props: Map[String, String] = Map.empty): Unit = {
    val d = catalog.get(f.home(name)).get
    catalog.put(d.copy(properties =
      d.properties ++ props ++ f.pins(name, epochOf(name), epochOf)))
  }

  /** Compact `f`'s per-row stores on the [[maybeCompactIndex]] cadence. */
  private def compactFamily(f: SiblingFamily, name: String): Unit =
    f.stores.filter(_.keyed).foreach(s => maybeCompactIndex(name + s.suffix))

  /** Ingest `appended` (rows a managed ingest just wrote to `name`) into
    * `f`'s index, when it was live over exactly the corpus the ingest
    * extended: its main-epoch pin equals `preEpoch`, the write epoch
    * before the append. Anything else is left stale for its own rebuild.
    *
    * @return true when the index is live after this call (maintained or
    *         trivially re-pinned); false when it was left stale */
  private def maintainFamily(f: SiblingFamily, name: String, appended: DataFrame,
                             preEpoch: Long): Boolean =
    f.live(catalog, name, preEpoch, appended.columns.contains).exists { d =>
      val p = d.properties
      (f: @unchecked) match {
        case MinHash => maintainMh(name, appended, p)
        case Lsh => maintainLsh(name, appended, p)
        case Ann => maintainAnn(name, appended, p)
      }
    }

  /** MinHash: the appended rows' postings enter the standing band layout
    * (parameters are pinned and fixed, so there is no layout epoch). */
  private def maintainMh(name: String, appended: DataFrame,
                         p: Map[String, String]): Boolean =
    (for {
      sn <- propLong(p, "mh_shingle_n").map(_.toInt)
      nh <- propLong(p, "mh_num_hashes").map(_.toInt)
      nb <- propLong(p, "mh_bands").map(_.toInt)
      txtC <- p.get("mh_text_col") if appended.columns.contains(txtC)
    } yield (sn, nh, nb, txtC)).exists { case (sn, nh, nb, txtC) =>
      mhAppend(name, appended, p(MinHash.idColKey), txtC, sn, nh, nb)
      repin(MinHash, name)
      compactFamily(MinHash, name)
      true
    }

  /** The pinned LSH layout `(planes, tables, radius)` and its ledger
    * count `lsh_n`; None when a pin is missing or not a number (a
    * hand-edited catalog rebuilds rather than throws). */
  private def lshPins(p: Map[String, String]): Option[((Int, Int, Int), Long)] =
    for {
      planes <- propLong(p, "lsh_planes")
      tables <- propLong(p, "lsh_tables")
      radius <- propLong(p, "lsh_radius")
      n <- propLong(p, "lsh_n")
    } yield ((planes.toInt, tables.toInt, radius.toInt), n)

  /** Sign-LSH: the appended rows' postings enter the standing (planes,
    * tables) layout UNLESS their count crosses a solver layout
    * breakpoint — then the index is left stale and rebuilt under the new
    * layout, inline by an embedding-dedup ingest ([[managedIngest]] step
    * 6), by the next one otherwise (geometric epochs, amortized O(1)/row).
    * An empty append still writes, as MinHash's does: the postings epoch
    * moves by one on every maintained ingest. */
  private def maintainLsh(name: String, appended: DataFrame,
                          p: Map[String, String]): Boolean =
    (for {
      ((planes, tables, radius), n) <- lshPins(p)
      dims <- propLong(p, "lsh_dims").map(_.toInt)
      thr <- p.get("lsh_threshold")
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
      vC <- p.get("lsh_vec_col") if appended.columns.contains(vC)
    } yield (planes, tables, radius, n, dims, thr, vC)).exists {
      case (planes, tables, radius, n, dims, thr, vC) =>
        val idC = p(Lsh.idColKey)
        val shard = appended.select(col(idC), col(vC))
        val shardN = shard.count()
        val newN = n + shardN
        lshSolve(newN, thr) == ((planes, tables, radius)) && {
          appendRows(lshIndexName(name), graft.operators.Dedup.embeddingPostings(
            shard, idC, vC, planes, tables, dims))
          repin(Lsh, name, Map("lsh_n" -> newN.toString))
          compactFamily(Lsh, name)
          true
        }
    }

  /** ANN — the round-11 headline case: deduped-ingest SURVIVORS encode
    * into the standing `__annidx` under the FROZEN codebooks (the
    * [[appendRowsAnnIndexed]] shard path), instead of leaving the index
    * stale and forcing a corpus-linear retrain at the next search.
    * Skips (leaves stale) when the standing index is empty, or when an
    * AUTO codebook would cross [[annGrowthCap]] — in both cases the next
    * ensure's rebuild IS the right move and encoding first would be
    * wasted work. */
  private def maintainAnn(name: String, appended: DataFrame,
                          p: Map[String, String]): Boolean =
    (for { // the first three: what the codebook loader reads
      _ <- propLong(p, "ann_m")
      _ <- propLong(p, "ann_ksub")
      _ <- p.get("ann_kind")
      annN <- propLong(p, "ann_n") if annN > 0
      trained <- propLong(p, "ann_trained_n")
      vC <- p.get("ann_vec_col") if appended.columns.contains(vC)
    } yield (annN, trained, vC)).exists {
      case (annN, trained, vC) =>
        val shard = appended.select(col(p(Ann.idColKey)).as("n_id"), col(vC).as("v"))
        val shardN = shard.count()
        val auto = p.get("ann_ncentroids").contains("0")
        // past the drift cap: stale → next ensure retrains
        !(auto && annN + shardN > math.max(1L, trained) * annGrowthCap) && {
          if (shardN > 0) {
            val (quant, books) = annCodebooks(name, p, withBooks = true)
            appendRows(annIndexName(name), annEncoded(shard, quant, books.get))
          }
          // zero survivors still re-pin: the caller's (empty) append
          // advanced the main epoch, and a no-op ingest must not cost the
          // next search a rebuild
          repin(Ann, name, Map("ann_n" -> (annN + shardN).toString))
          compactFamily(Ann, name)
          true
        }
    }

  // ------------------------------------------------------------------
  // Persisted ANN retrieval index (round 10 — VERDICT r9 item 1: the
  // third application of the sibling-index pattern). ivfTopK/pqTopK
  // retrain the coarse quantizer and re-assign + re-encode the WHOLE
  // corpus on every call — fine for one-shot analytics, ruinous for a
  // 100 TB corpus served repeated query batches. The index materializes
  // both halves once:
  //   <name>__anncent — the codebooks, one uniform (kind, j, cid,
  //     centroid) row shape: kind 0 = coarse centroids (flat codebook or
  //     the hierarchy's top level), kind 1 = PQ sub-codebooks, kind 2 =
  //     the hierarchy's per-top-cell sub-centroids (√n·d floats,
  //     distributed end to end — never collected).
  //   <name>__annidx — the encoded corpus (ex_id, cell, v, codes, eps,
  //     norm_x), bucketed on `cell` so the probe join needs no corpus
  //     exchange even when the query side outgrows a broadcast.
  // Same lifecycle as __lshidx: epochs pinned (main stream, both
  // siblings), out-of-band writes force a rebuild, rename carries the
  // siblings, cascade drop removes them, auto-compaction on the
  // [[maybeCompactIndex]] cadence.
  // ------------------------------------------------------------------

  def annIndexName(name: String): String = name + SiblingIndex.AnnIdx.suffix
  def annCentroidsName(name: String): String = name + SiblingIndex.AnnCent.suffix

  /** AUTO-codebook staleness bound for [[ensureAnnIndex]]: a corpus
    * grown past this factor of the size its codebook was trained at
    * (via [[appendRowsAnnIndexed]]) triggers a retrain on the next
    * ensure. 4× ⇒ cells sit at worst 2× under the √n-ideal — within
    * the candidate-volume envelope the quantizer-cell guard tolerates;
    * retrains are geometric in n, so amortized O(1)/row. */
  private def annGrowthCap: Long =
    spark.conf.getOption("spark.graft.ann.growthCap")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(4L)

  /** In-flight ANN rebuilds per qualified stream name: a builder
    * registers a latch before staging; a concurrent ensure WAITS on it
    * (never duplicating the corpus-linear build), while
    * [[annTopKIndexed]] serves the standing generation without
    * waiting. */
  private val annBuilds = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CountDownLatch]()

  /** The [[ensureAnnIndex]] fast-path predicate: pinned config + epoch
    * match, within the AUTO-codebook growth cap. */
  private def annIndexLive(name: String, idCol: String, vecCol: String,
                           nCentroids: Int, m: Int, ksub: Int): Boolean =
    // the indexed COLUMNS are part of the config — an ensure over a
    // different vector column must rebuild, not silently serve the other
    // column's index
    Ann.liveWith(catalog, name, epochOf(name), annConfig(idCol, vecCol, nCentroids, m, ksub))
      .exists { d =>
        val p = d.properties
        // codebook-drift bound: [[appendRowsAnnIndexed]] grows the corpus
        // under FROZEN codebooks, so per-cell occupancy drifts off the
        // √n-ideal linearly with growth. Past `annGrowthCap`× the corpus
        // the codebook was trained at, the index is stale and the next
        // ensure retrains — the geometric-epoch amortization argument of
        // the LSH layout solver (rebuild cost O(1)/row amortized).
        nCentroids > 0 || { // explicit codebooks are the caller's choice
          propLong(p, "ann_trained_n").zip(propLong(p, "ann_n")).exists {
            case (t, c) => c <= math.max(1L, t) * annGrowthCap }
        }
      }

  private def annConfig(idCol: String, vecCol: String, nCentroids: Int,
                        m: Int, ksub: Int): Map[String, String] = Map(
    "ann_ncentroids" -> nCentroids.toString, "ann_m" -> m.toString,
    "ann_ksub" -> ksub.toString, Ann.idColKey -> idCol, "ann_vec_col" -> vecCol)

  /** The full next-generation index CONTENT for the current corpus:
    * (codebook rows, encoded rows, n, kind, k2, dims). Corpus-linear —
    * the staged path evaluates it OUTSIDE the stream lock. */
  private def annIndexContents(name: String, idCol: String, vecCol: String,
                               nCentroids: Int, m: Int, ksub: Int)
      : (DataFrame, DataFrame, Long, String, Int, Int) = {
    val existing = readStream(name).select(col(idCol), col(vecCol))
    val e = existing.select(col(idCol).as("n_id"), col(vecCol).as("v"))
    // one metadata-scale count (the sizing action every AUTO build pays;
    // pinned as ann_n so subsequent ensure calls run zero actions)
    val n = e.count()
    // fused trainer (optimization round 11): the coarse codebook (or
    // the hierarchy's top level) + all PQ sub-books train in 2 actions
    // instead of 2·(m+1)
    val (quant, booksOpt) =
      Similarity.buildQuantizer("annIndex", nCentroids, e, Some(n),
        Some((m, ksub)))
    val (kind, k2, dims) = quant match {
      case h: Similarity.HierQuantizer => ("hier", h.k2, h.dims)
      case f: Similarity.FlatQuantizer =>
        ("flat", 0, if (f.isEmpty) 0 else f.dims)
    }
    if (quant.isEmpty) {
      val idType = existing.schema(idCol).dataType
      def empty(st: SiblingStore) =
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st.schema(idType))
      (empty(SiblingIndex.AnnCent), empty(SiblingIndex.AnnIdx), n, kind, k2, dims)
    } else {
      val books = booksOpt.get
      (Similarity.quantizerRows(quant, spark)
        .unionAll(Similarity.booksRows(books, spark)),
        annEncoded(e, quant, books), n, kind, k2, dims)
    }
  }

  /** The stored `__annidx` rows of an (`n_id`, `v`) frame under the
    * given codebooks: its cell assignment and PQ encoding, as (ex_id,
    * cell, v, codes, eps, norm_x). */
  private def annEncoded(e: DataFrame, quant: Similarity.CoarseQuantizer,
                         books: Similarity.PqBooks): DataFrame =
    Similarity.pqEncode(quant.assign(e), books).select(col("n_id").as("ex_id"),
      col("cell"), col("v"), col("codes"), col("eps"), col("norm_x"))

  /** The standing index's codebooks, read from `__anncent`: the coarse
    * quantizer, and with `withBooks` the PQ books (one more K×d
    * metadata collect, which an IVF search does not need). */
  private def annCodebooks(name: String, p: Map[String, String],
                           withBooks: Boolean)
      : (Similarity.CoarseQuantizer, Option[Similarity.PqBooks]) = {
    val rows = readStream(annCentroidsName(name))
    val hierK2 = if (p("ann_kind") == "hier") Some(p("ann_k2").toInt) else None
    (Similarity.quantizerFromRows(rows, hierK2), Option.when(withBooks)(
      Similarity.booksFromRows(rows, p("ann_m").toInt, p("ann_ksub").toInt)))
  }

  /** Whether the index properties `p` cover (idCol, vecCol). */
  private def annCovers(p: Map[String, String], idCol: String,
                        vecCol: String): Boolean =
    p.get(Ann.idColKey).contains(idCol) && p.get("ann_vec_col").contains(vecCol)

  /** The standing index's assignment (`n_id`, `v`, `cell`), after
    * [[ensureAnnIndex]] — what the cell-blocked family reuses. */
  private def annAssigned(name: String, idCol: String, vecCol: String,
                          nCentroids: Int, m: Int, ksub: Int): DataFrame = {
    ensureAnnIndex(name, idCol, vecCol, nCentroids, m, ksub)
    readStream(annIndexName(name))
      .select(col("ex_id").as("n_id"), col("v"), col("cell"))
  }

  /** Probe-width tuning pins ([[annNProbeForRecall]] `pin = true`):
    * survive frozen-codebook shard ingests (the measured recall stays
    * valid within the drift bound), stripped by any REBUILD (new
    * codebooks, new recall geometry). */
  private val annPinKeys = Set("ann_nprobe", "ann_nprobe_recall")

  /** Ensure a live ANN index over stream `name`'s (idCol, vecCol):
    * no-op when the pinned config + epochs match; otherwise ONE
    * train + assign + encode pass over the corpus rebuilds both
    * siblings. `nCentroids` 0 = corpus-dimensioned AUTO (the flat
    * √n codebook up to the cap, the two-level hierarchy beyond it —
    * `ann_kind` records which); PQ codebooks (`m`, `ksub`) are always
    * built alongside, so one index serves both `ivf` and `pq` searches
    * (dims must divide by m, as in [[graft.operators.Similarity.pqTopK]]).
    *
    * BUILD-ASIDE-THEN-SWAP (round 11 — VERDICT r10 item 3): the
    * corpus-linear train + assign + encode runs OUTSIDE the stream's
    * ingest lock and stages the next generation beside the siblings
    * ([[StagedCommit]]); the lock is then taken only to re-validate the
    * epoch snapshot and commit — directory flips + catalog pins,
    * metadata-scale. Concurrent searches serve the OLD generation
    * throughout ([[annTopKIndexed]] does not even wait); a concurrent
    * ingest landing mid-stage moves the epochs, the commit aborts, and
    * the build retries against the new corpus — bounded at 2 staged
    * attempts, then it builds with the lock held for guaranteed
    * progress. A caller already holding the ingest lock (the managed
    * ingest paths) builds the same way with the lock held; if another
    * thread's staged build is in flight it leaves the rebuild to that
    * build (waiting on it while holding the lock its commit needs would
    * deadlock; its commit sees this caller's writes, aborts and retries
    * against them). Concurrent ensures deduplicate on [[annBuilds]]: the
    * second caller waits for the first build and re-checks liveness.
    *
    * @return true when the index was (re)built, false when live */
  def ensureAnnIndex(name: String, idCol: String, vecCol: String,
                     nCentroids: Int = 0, m: Int = 8, ksub: Int = 16): Boolean = {
    val key = catalog.qualify(name)
    val lock = streamLock(name)
    val callerHeld = Thread.holdsLock(lock)
    var attempts = 0
    while (true) {
      var waitFor: java.util.concurrent.CountDownLatch = null
      var registered = false
      val done: Option[Boolean] = lock.synchronized {
        if (annIndexLive(name, idCol, vecCol, nCentroids, m, ksub)) Some(false)
        else annBuilds.get(key) match {
          case null if callerHeld || attempts >= 2 =>
            if (buildAnnIndex(name, idCol, vecCol, nCentroids, m, ksub)) Some(true)
            else None
          case null =>
            annBuilds.put(key, new java.util.concurrent.CountDownLatch(1))
            registered = true; None
          case inFlight =>
            if (callerHeld) Some(false) else { waitFor = inFlight; None }
        }
      }
      if (done.nonEmpty) return done.get
      if (waitFor != null) waitFor.await() // then loop: re-check live
      else if (registered) {
        try {
          if (buildAnnIndex(name, idCol, vecCol, nCentroids, m, ksub)) return true
        } finally annBuilds.remove(key).countDown()
        attempts += 1 // epoch moved mid-stage: retry against the new corpus
      }
    }
    false // unreachable
  }

  /** One staged ANN rebuild against the current corpus: train, assign
    * and encode (corpus-linear), stage both siblings, then — under the
    * stream lock — commit only if no epoch moved since the snapshot. The
    * caller may or may not hold the lock. @return whether it committed */
  private def buildAnnIndex(name: String, idCol: String, vecCol: String,
                            nCentroids: Int, m: Int, ksub: Int): Boolean = {
    val lock = streamLock(name)
    val (idxName, centName) = (annIndexName(name), annCentroidsName(name))
    val (mainEpoch, idxD, centD) = lock.synchronized {
      resetFamily(Ann, name, readStream(name).schema(idCol).dataType,
        keepExisting = true)
      (epochOf(name), catalog.get(idxName).get, catalog.get(centName).get)
    }
    val (centRows, idxRows, n, kind, k2, dims) =
      annIndexContents(name, idCol, vecCol, nCentroids, m, ksub)
    val (idxEpoch, centEpoch) = (idxD.writeEpoch + 1, centD.writeEpoch + 1)
    // both stores stage in one task: running the two writes as concurrent
    // jobs won no time on the ANN-indexed gates (PERF.md "Round 12
    // carried claims settled")
    commits.run(lock, Seq(centD.name, idxD.name))(Seq(() => {
      commits.stage(centD, stampRows(centD, centRows, centEpoch))
      commits.stage(idxD, stampRows(idxD, idxRows, idxEpoch))
    })) { _ =>
      val unmoved = catalog.get(name).exists(_.writeEpoch == mainEpoch) &&
        catalog.get(idxName).exists(_.writeEpoch == idxD.writeEpoch) &&
        catalog.get(centName).exists(_.writeEpoch == centD.writeEpoch)
      Option.when(unmoved) {
        val dIdx = catalog.get(idxName).get
        // a rebuild invalidates any pinned probe-width tuning: new
        // codebooks mean the measured recall no longer applies
        Seq(catalog.get(centName).get.copy(writeEpoch = centEpoch),
          dIdx.copy(writeEpoch = idxEpoch,
            properties = (dIdx.properties -- annPinKeys) ++
              annConfig(idCol, vecCol, nCentroids, m, ksub) ++ Map(
                "ann_kind" -> kind, "ann_k2" -> k2.toString,
                "ann_dims" -> dims.toString, "ann_n" -> n.toString,
                "ann_trained_n" -> n.toString) ++
              Ann.pins(name, mainEpoch, Map(idxName -> idxEpoch, centName -> centEpoch))))
      }
    }
  }

  /** Top-k ANN over stream `name` served FROM the persisted index:
    * [[ensureAnnIndex]] (a no-op when live), then probe + cell-join —
    * the per-query-batch cost is independent of whether the codebook
    * ever existed before, and identical rows to the inline
    * `Similarity.ivfTopK`/`pqTopK` on the same corpus (AnnIndexSpec and
    * the `ann_*_topk_indexed` gates pin it against the same oracle).
    *
    * @param method "ivf" (exact cosine over probed cells) or "pq"
    *               (ADC + error-bound prune, exact by construction) */
  def annTopKIndexed(name: String, idCol: String, vecCol: String,
                     queryPred: org.apache.spark.sql.Column, k: Int,
                     nProbe: Int = 2, method: String = "ivf",
                     nCentroids: Int = 0, m: Int = 8,
                     ksub: Int = 16,
                     corpusPred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    // round 11 (VERDICT r10 item 3): during an in-flight staged rebuild
    // a search SERVES the standing generation instead of blocking for
    // the corpus-linear build — the swap lands atomically and the next
    // call sees the new generation. Without a servable generation over
    // these columns, fall through to ensure (build, or wait on the
    // builder when one is registered).
    val inFlight = annBuilds.containsKey(catalog.qualify(name))
    val servable = catalog.get(annIndexName(name)).exists { d =>
      annCovers(d.properties, idCol, vecCol) &&
        propLong(d.properties, "ann_n").nonEmpty
    }
    if (!(inFlight && servable))
      ensureAnnIndex(name, idCol, vecCol, nCentroids, m, ksub)
    annTopKIndexedServe(name, idCol, vecCol, queryPred, k, nProbe, method,
      corpusPred)
  }

  /** Serve top-k from the CURRENT persisted index, with NO ensure —
    * pure plan construction over the standing `__annidx`/`__anncent`
    * contents (round 11 — ADVICE r10 item 2: the `ann_indexed_topk` TVF
    * resolves at SQL analysis time, so it must never truncate, rebuild,
    * or run corpus jobs as a side effect of EXPLAIN or schema
    * inference; it calls THIS). The only work at plan time is the
    * centroid-scale codebook read (K×d rows — index metadata). A
    * missing index, or one built over different columns, is a loud
    * error naming the lifecycle ops; a merely STALE index (corpus
    * written since the last build) serves its last built epoch, the
    * standard materialized-index contract — `ann_index_rebuild` /
    * [[ensureAnnIndex]] folds new rows in.
    *
    * `corpusPred` (round 11) is the PRE-FILTERED search shape over the
    * standing index — "top-k among rows WHERE lang='en'": the predicate
    * evaluates on the MAIN stream (the index siblings store only the
    * encoding, not user columns), projects to an eligible-id frame
    * (predicate pushes to the parquet scan, one column read), and the
    * index side semi-joins it BEFORE the probe scoring — so every
    * query still receives up to k ELIGIBLE neighbors from its probed
    * cells, and the PQ bound-prune thresholds see eligible candidates
    * only (a post-filter breaks both contracts; see
    * [[graft.operators.Similarity.pqTopKFromIndex]]). A very selective
    * predicate can thin probed cells below k — widen `nProbe` to
    * compensate, exactly the published filtered-IVF guidance. */
  def annTopKIndexedServe(name: String, idCol: String, vecCol: String,
                          queryPred: org.apache.spark.sql.Column, k: Int,
                          nProbe: Int = 2,
                          method: String = "ivf",
                          corpusPred: Option[org.apache.spark.sql.Column] =
                            None): DataFrame = {
    require(Seq("ivf", "pq").contains(method), s"unknown method '$method'")
    require(nProbe >= 0,
      s"nProbe must be >= 0 (0 = AUTO: the pinned tuned width, else 2), " +
        s"got $nProbe")
    val props = annIndexProps(name, idCol, vecCol)
    if (!annCovers(props, idCol, vecCol))
      throw new IllegalStateException(
        s"the persisted ANN index for stream '$name' covers columns " +
          s"(${props.getOrElse(Ann.idColKey, "?")}, " +
          s"${props.getOrElse("ann_vec_col", "?")}), not ($idCol, " +
          s"$vecCol) — rebuild with ann_index_rebuild('$name', " +
          s"'$idCol', '$vecCol')")
    val queries = readStream(name).filter(queryPred)
      .select(col(idCol).as("n_id"), col(vecCol).as("v"))
    if (props("ann_n").toLong == 0L) // empty corpus: empty result
      return Similarity.emptyTopK(queries)
    val (quant, books) = annCodebooks(name, props, withBooks = method == "pq")
    val idx = readStream(annIndexName(name))
      .withColumnRenamed("ex_id", "n_id")
    // AUTO: the recall-tuned pinned width when one is live (rebuilds
    // strip it — annPinKeys), else the family default
    val effProbe =
      if (nProbe > 0) nProbe
      else props.get("ann_nprobe").map(_.toInt).getOrElse(2)
    val eligible = corpusPred.map(p =>
      readStream(name).filter(p).select(col(idCol).as("n_id")))
    books.fold(Similarity.ivfTopKFromIndex(idx, quant, queries, k, effProbe,
      eligible))(Similarity.pqTopKFromIndex(idx, quant, _, queries, k,
      effProbe, eligible))
  }

  /** Measured recall@k of the index-served search against exact ground
    * truth, on a deterministic hash-sample of the stream's own rows
    * (round 11): the operational quality check for a standing index —
    * codebooks frozen under ingest drift make recall an EMPIRICAL
    * property, so an operator needs a measurement, not a hope. Cost:
    * ONE brute-force pass (corpus × ~`sampleQueries` broadcast queries
    * — the corpus never shuffles) plus one index-served search; the
    * recall join itself is output-sized
    * ([[graft.operators.Similarity.recallAtK]]).
    *
    * Serves the CURRENT index like [[annTopKIndexedServe]] (no ensure,
    * no rebuild); a missing index is the same loud lifecycle error.
    *
    * `corpusPred` measures recall of the FILTERED search (round 11):
    * ground truth restricts its neighbor side to the same eligible set
    * the serve path semi-joins, so the number answers "how much does
    * the probe miss under THIS filter" — which widens with selectivity
    * (filters thin probed cells), exactly what an operator tuning
    * `nProbe` for a filtered workload needs to see. */
  def annRecallMeasured(name: String, idCol: String, vecCol: String,
                        k: Int = 10, nProbe: Int = 2,
                        sampleQueries: Int = 64,
                        method: String = "ivf",
                        corpusPred: Option[org.apache.spark.sql.Column] =
                          None): Double = {
    val pred = annSamplePred(name, idCol, sampleQueries)
    val truth = Similarity.bruteForceTopK(
      readStream(name), idCol, vecCol, pred, k,
      corpusPred = corpusPred.getOrElse(lit(true))).persist()
    try annRecallAgainst(truth, name, idCol, vecCol, pred, k, nProbe, method,
      corpusPred)
    finally truth.unpersist()
  }

  /** Recall-targeted probe-width tuner (round 11): the smallest
    * power-of-two `nProbe` whose measured recall@k on a sampled query
    * set meets `targetRecall`, with the recall it achieved. Turns the
    * raw nProbe knob into the contract an operator actually wants
    * ("give me ≥ 0.9 recall, as cheap as that gets") — recall depends
    * on the corpus's geometry, so no fixed default is right at every
    * deployment. The sweep doubles nProbe (at most log₂ `maxNProbe`
    * index-served searches, each probe + cell-join sized) and stops
    * early when the quantizer's probe fanout saturates — probing more
    * cells than the codebook has buys nothing by construction. Ground
    * truth is ONE brute-force pass over the sampled queries, shared by
    * every step. Serves the CURRENT index (no ensure); build first via
    * [[ensureAnnIndex]] / `ann_index_rebuild`.
    *
    * `pin = true` records the result as index properties
    * (`ann_nprobe`, `ann_nprobe_recall`) and `annTopKIndexedServe`
    * with `nProbe = 0` (AUTO) serves at the pinned width — measure →
    * pin → serve, the closed operational loop. The pin survives
    * frozen-codebook shard ingests (recall stays valid within the
    * drift bound) and is STRIPPED by any rebuild: retrained codebooks
    * void the measurement, and AUTO falls back to the family default
    * rather than serving a stale promise.
    *
    * `corpusPred` tunes for a FILTERED workload (round 11): truth and
    * every probe step restrict neighbors to the eligible set, so the
    * returned width is the one the filtered search needs — wider than
    * unfiltered when the filter thins probed cells. A pin taken under
    * a filter applies to AUTO serving globally; pin it only when the
    * filtered workload IS the serving workload. */
  def annNProbeForRecall(name: String, idCol: String, vecCol: String,
                         targetRecall: Double, k: Int = 10,
                         sampleQueries: Int = 64, maxNProbe: Int = 64,
                         method: String = "ivf",
                         pin: Boolean = false,
                         corpusPred: Option[org.apache.spark.sql.Column] =
                           None): (Int, Double) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val props = annIndexProps(name, idCol, vecCol)
    if (props("ann_n").toLong == 0L) return (1, 1.0) // vacuous on empty
    // the index generation the sweep below measures — a pin is only
    // valid for THIS generation (a rebuild retrains the codebooks and
    // deliberately strips pins; writing a measurement taken against the
    // old codebooks onto the new index would be a stale promise)
    val measuredGen = Ann.generation(props)
    val quant = annCodebooks(name, props, withBooks = false)._1
    val pred = annSamplePred(name, idCol, sampleQueries)
    val truth = Similarity.bruteForceTopK(
      readStream(name), idCol, vecCol, pred, k,
      corpusPred = corpusPred.getOrElse(lit(true))).persist()
    try {
      if (truth.isEmpty) return (1, 1.0)
      var nProbe = 1
      var recall =
        annRecallAgainst(truth, name, idCol, vecCol, pred, k, nProbe, method,
          corpusPred)
      while (recall < targetRecall && nProbe < maxNProbe &&
          quant.probeFanout(math.min(nProbe * 2, maxNProbe)) >
            quant.probeFanout(nProbe)) {
        // never exceed the caller's cap: a doubling past it would run
        // (and with pin=true, pin) a probe width the caller ruled out
        nProbe = math.min(nProbe * 2, maxNProbe)
        recall =
          annRecallAgainst(truth, name, idCol, vecCol, pred, k, nProbe,
            method, corpusPred)
      }
      if (pin) streamLock(name).synchronized {
        // pinned under the ingest lock so a concurrent rebuild's strip
        // and this write serialize — and only onto the SAME index
        // generation the sweep measured: if a rebuild committed while
        // the (lock-free) sweep ran, the tuned width still returns but
        // is NOT pinned (the new codebooks void the measurement)
        catalog.get(annIndexName(name)).foreach { d =>
          if (Ann.generation(d.properties) == measuredGen)
            catalog.put(d.copy(properties = d.properties +
              ("ann_nprobe" -> nProbe.toString) +
              ("ann_nprobe_recall" -> recall.toString)))
        }
      }
      (nProbe, recall)
    } finally truth.unpersist()
  }

  /** The persisted ANN index's properties; a missing index is a loud
    * error naming the lifecycle ops that build one. */
  private def annIndexProps(name: String, idCol: String,
                            vecCol: String): Map[String, String] =
    catalog.get(annIndexName(name)).map(_.properties).getOrElse(
      throw new IllegalStateException(
        s"no persisted ANN index for stream '$name' — build one with " +
          s"ann_index_rebuild('$name', '$idCol', '$vecCol') or " +
          "Engine.ensureAnnIndex"))

  /** Deterministic ~`sampleQueries`-row query sample: hash-mod over the
    * id column, so the sample is stable across calls and engines. */
  private def annSamplePred(name: String, idCol: String,
                            sampleQueries: Int): org.apache.spark.sql.Column = {
    val n = catalog.get(annIndexName(name)).flatMap(d =>
      propLong(d.properties, "ann_n")).getOrElse(0L)
    val f = math.max(1L, n / math.max(1, sampleQueries))
    pmod(xxhash64(col(idCol)), lit(f)) === 0
  }

  private def annRecallAgainst(truth: DataFrame, name: String, idCol: String,
                               vecCol: String,
                               pred: org.apache.spark.sql.Column, k: Int,
                               nProbe: Int, method: String,
                               corpusPred: Option[org.apache.spark.sql.Column]
                                 = None): Double = {
    val approx = annTopKIndexedServe(name, idCol, vecCol, pred, k,
      nProbe, method, corpusPred)
    val r = Similarity.recallAtK(approx, truth, k)
      .agg(avg("recall")).head()
    if (r.isNullAt(0)) 1.0 else r.getDouble(0) // no truth rows: vacuous
  }

  /** Explicit index-lifecycle entry points (round 11 — VERDICT r10
    * item 4): what `ann_indexed_topk` used to trigger implicitly is now
    * manageable — from Scala here, and from SQL via the
    * `ann_index_rebuild`/`ann_index_drop` table functions (whose
    * effects run at EXECUTION time through
    * [[graft.plans.GraftAction]]). `force` truncates the encoded corpus
    * first, so even a live index retrains — the operational "my data
    * distribution moved" knob the growth cap cannot see.
    *
    * @return true when a (re)build ran, false when live and !force */
  def rebuildAnnIndex(name: String, idCol: String, vecCol: String,
                      nCentroids: Int = 0, m: Int = 8, ksub: Int = 16,
                      force: Boolean = false): Boolean =
    if (!force)
      // plain ensure semantics (live → false): delegate WITHOUT taking
      // the ingest lock, so a build goes down ensureAnnIndex's staged
      // build-aside-then-swap path instead of the in-lock truncate +
      // append route (optimization round 11: the in-lock route costs
      // ~2 extra truncate/append actions AND blocks concurrent
      // searches/ingest for the whole corpus-linear build)
      ensureAnnIndex(name, idCol, vecCol, nCentroids, m, ksub)
    else streamLock(name).synchronized {
      if (catalog.get(annIndexName(name)).nonEmpty)
        truncate(annIndexName(name)) // breaks the idx-epoch pin
      ensureAnnIndex(name, idCol, vecCol, nCentroids, m, ksub)
    }

  /** Drop the ANN index siblings (stream data untouched). @return true
    * when an index existed. */
  def dropAnnIndex(name: String): Boolean =
    streamLock(name).synchronized {
      val had = Ann.names(name).filter(catalog.exists)
      had.foreach(dropStream(_))
      had.nonEmpty
    }

  /** SemDedup verdicts over stream `name` served FROM the persisted
    * index: the cell ASSIGNMENT (the quantizer-train + corpus-pass half
    * the inline operator re-pays per call) reads from `__annidx`; only
    * the threshold-dependent within-cell pair stage runs per call.
    *
    * Equivalence contract (qualified — ADVICE r10 item 5): identical
    * rows to `Similarity.semDedup` when the index epoch IS a fresh
    * build of the corpus (every gate and the ensure-then-serve path).
    * After [[appendRowsAnnIndexed]]/dedup-survivor growth under a
    * FROZEN codebook, the stored cells are the frozen quantizer's
    * assignment — the inline operator would retrain and may place
    * borderline vectors differently, so post-ingest results are
    * approximate within the [[annGrowthCap]] drift bound (cells at
    * worst cap× the √n-ideal); pairs WITHIN a stored cell are still
    * exact cosines. AnnIndexSpec pins both halves. */
  def semDedupIndexed(name: String, idCol: String, vecCol: String,
                      threshold: Double = 0.4, nCentroids: Int = 0,
                      m: Int = 8, ksub: Int = 16): DataFrame =
    Similarity.semDedupFromCells(
      annAssigned(name, idCol, vecCol, nCentroids, m, ksub), threshold)

  /** Mutual-kNN graph over stream `name` served FROM the persisted
    * index — same assignment-reuse split AND the same qualified
    * equivalence contract as [[semDedupIndexed]]: identical rows to
    * `Similarity.knnGraph` at a fresh index epoch; approximate within
    * the frozen-codebook drift bound after index-preserving ingests. */
  def knnGraphIndexed(name: String, idCol: String, vecCol: String,
                      k: Int, nCentroids: Int = 0,
                      m: Int = 8, ksub: Int = 16): DataFrame =
    Similarity.knnGraphFromCells(
      annAssigned(name, idCol, vecCol, nCentroids, m, ksub), k)

  /** Ingest a shard INTO an ANN-indexed stream without a rebuild: the
    * rows append to the main stream and their assignments/codes append
    * to the index under the STANDING codebooks — shard-sized work, the
    * standard IVF deployment shape (codebooks retrain rarely; the cell
    * layout drifts from the √n-ideal as the corpus grows, and the
    * operator forces a retrain by dropping the index or changing
    * config). Every row is admitted ([[managedIngest]] with no probe);
    * epochs re-pin afterward so subsequent searches keep the fast path,
    * and a shard that leaves the index stale (an empty standing index,
    * or growth past [[annGrowthCap]]) retrains it inside the call. */
  def appendRowsAnnIndexed(name: String, df: DataFrame, idCol: String,
                           vecCol: String, nCentroids: Int = 0,
                           m: Int = 8, ksub: Int = 16): Unit =
    managedIngest(name, Ann, df, idCol)(
      ensureAnnIndex(name, idCol, vecCol, nCentroids, m, ksub))(None)

  /** Per-stream ingest mutex: [[write]] is read-epoch-then-write and
    * [[appendRowsDeduped]] is read-index-probe-then-write — two
    * interleaved calls would stamp duplicate write epochs (scrambling the
    * change-stream fold's arrival order) or both probe the pre-write
    * index and let cross-shard near-duplicates through. The engine
    * serializes both per stream. The catalog dir is single-writer by
    * contract (see [[StagedCommit]]), so an in-process lock is the whole
    * story — cross-process ingest must route through one engine. */
  private val streamLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def streamLock(name: String): Object =
    streamLocks.computeIfAbsent(catalog.qualify(name), _ => new Object)

  private def write(d0: StreamDef, df: DataFrame, mode: SaveMode): Unit =
    streamLock(d0.name).synchronized {
    // re-read the def under the lock: the caller's snapshot may predate a
    // concurrent writer's epoch bump, and replaying its stale epoch would
    // make "latest per key" depend on the sequence tiebreak across writes
    val d = catalog.get(d0.name).getOrElse(d0)
    // settle any interrupted rewrite BEFORE appending: otherwise rows
    // appended over a crashed-rewrite store would be clobbered when a
    // later read replays the (pre-append) stage
    commits.repair(d.name)
    val epoch = d.writeEpoch + 1
    writeStore(d, stampRows(d, df, epoch), mode, catalog.dataPath(d.name),
      bucketTableName(d.name))
    catalog.put(d.copy(writeEpoch = epoch))
    }

  /** Write `rows` (the stored shape) for `d` at `path`. Bucketed storage
    * must go through the session catalog — path-based parquet writes
    * cannot carry a bucket spec, and a path-based read would discard it —
    * so it is saved as external table `table` over `path`, and every
    * other lifecycle op (rename, OPTIMIZE, VACUUM fallback paths) still
    * sees the same files. */
  private[engine] def writeStore(d: StreamDef, rows: DataFrame, mode: SaveMode,
                                 path: String, table: => String): Unit =
    bucketSpec(d) match {
      case Some((n, cols)) =>
        rows.write.mode(mode)
          .bucketBy(n, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .option("path", path)
          .format("parquet")
          .saveAsTable(table)
      case None => rows.write.mode(mode).parquet(path)
    }

  /** Align `df` to `d`'s declared schema and stamp the hidden ingest
    * columns for write epoch `epoch`: column order/casts to the
    * declared schema, the tombstone marker carried through when present
    * ([[deleteKeys]]) and stamped false otherwise. Shared by [[write]]
    * and the ANN build-aside stager ([[buildAnnIndex]]), which writes
    * the SAME stored shape into a stage directory outside the ingest
    * lock. The epoch is an [[EpochStamp]], not a literal, so one stored
    * shape compiles its write projection once, not once per epoch. */
  private def stampRows(d: StreamDef, df: DataFrame, epoch: Long): DataFrame = {
    val target = d.schema.toStruct
    val deleted =
      if (df.columns.contains(DeletedCol)) col(DeletedCol).cast("boolean")
      else lit(false)
    val aligned = df.select(target.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)) :+ deleted.as(DeletedCol): _*)
    aligned
      .withColumn(EpochCol, GraftInternal.column(EpochStamp(epoch)))
      .withColumn(SeqCol, monotonically_increasing_id())
      .select((target.fieldNames.toSeq ++ Seq(EpochCol, SeqCol, DeletedCol))
        .map(col): _*)
  }

  // ------------------------------------------------------------------
  // Bucketed (co-partitioned) storage
  // ------------------------------------------------------------------

  /** Declared bucket layout from stream properties: `bucket_by` =
    * comma-separated columns, `bucket_count` = N (default 32). At 100 TB
    * this is the fact-fact join answer: two streams bucketed on the same
    * key with the same count join with ZERO exchange on either side —
    * the shuffle is paid once at write time, amortized over every
    * downstream join/aggregation on that key (PlanShapeSpec asserts the
    * exchange-free plan). */
  private[engine] def bucketSpec(d: StreamDef): Option[(Int, Seq[String])] =
    d.properties.get("bucket_by").map { cols =>
      (d.properties.getOrElse("bucket_count", "32").toInt,
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }

  /** Session-catalog table backing a bucketed stream — scoped by the
    * engine root so two engines in one session can't collide. */
  private[graft] def bucketTableName(name: String): String =
    s"graft_b${(root.hashCode.toLong & 0xffffffffL).toString}_${catalog.qualify(name).toLowerCase}"
      .replaceAll("[^a-z0-9_]", "_")

  /** Tombstone delete for change streams: append a deletion marker per key
    * (the reference's change event with an empty `after`, handler.py:87-94)
    * — compaction then hides the key, while earlier epochs still see it via
    * [[readStreamAsOf]]. `keys` must carry the stream's PK columns; any
    * other declared columns are stored as NULL on the marker row. */
  def deleteKeys(name: String, keys: DataFrame): Unit = {
    val d = catalog(name)
    val pk = d.schema.primaryKeyColumns
    require(pk.nonEmpty, s"stream '${d.name}' has no primary key — " +
      "tombstone deletes need change-stream (PK) semantics")
    val missing = pk.filterNot(keys.columns.contains)
    require(missing.isEmpty, s"delete keys missing PK columns: ${missing.mkString(", ")}")
    val target = d.schema.toStruct
    val full = keys.select(target.fields.toSeq.map(f =>
      (if (pk.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)): _*)
    write(d, full.withColumn(DeletedCol, lit(true)), SaveMode.Append)
  }

  /** PHYSICAL row removal — the takedown/opt-out path (round 11): every
    * stored row matching `pred` is deleted from the stream's store AND
    * pruned out of every LIVE standing index sibling (`__annidx`,
    * `__mhpost`/`__mhsig`, `__lshidx`) by an `ex_id` anti-join, WITHOUT
    * retraining — codebooks/band layouts hold no row data, so the
    * indexes stay live (epochs re-pinned) and the next search/ingest
    * pays nothing. [[deleteKeys]] hides a key behind a tombstone but
    * keeps the bytes (and earlier epochs still serve them via
    * [[readStreamAsOf]]); this removes them, which is what a takedown
    * actually requires. At 100 TB the cost is one predicate-pushed
    * rewrite of the main store plus one output-sized anti-join rewrite
    * per index — never a retrain, never a corpus collect.
    *
    * Liveness rule: a sibling whose epoch pins were ALREADY broken
    * before this call (e.g. a growth-cap-stale ANN index) is left
    * stale rather than re-pinned — re-pinning it would falsely mark
    * coverage of appends it never indexed; its eventual rebuild reads
    * the post-forget store anyway. A stale-but-present `__annidx`
    * still gets its rows pruned (a stale index must not keep serving
    * forgotten vectors through [[annTopKIndexedServe]]'s
    * last-built-epoch contract).
    *
    * Concurrency: an in-flight staged ANN rebuild is awaited first
    * (its stage and this rewrite share the `.rewrite` staging dir); a
    * stage that commits in that window is immediately pruned here, and
    * one that hasn't committed aborts on the main-epoch bump. `pred`
    * evaluates per STORED row (tombstone markers included); on a
    * PRIMARY-KEY stream a match on ANY stored version expands to the
    * key's WHOLE history — removing only the matched version would
    * resurrect the previously-overwritten value as the new "latest" in
    * compacted reads (forgetting the update that introduced a PII
    * value must not re-expose the pre-update row).
    * Pinned nProbe tunings survive: codebooks are unchanged, thinner
    * cells shift recall within the same drift bound as frozen-codebook
    * ingest.
    *
    * @return the number of stored rows removed from the main stream */
  def forgetRows(name: String, pred: org.apache.spark.sql.Column): Long = {
    requireUserName(name, "forget rows from")
    requireNoContinuousUse(name, "forget rows from")
    val key = catalog.qualify(name)
    while (true) {
      val inFlight = annBuilds.get(key)
      if (inFlight != null) inFlight.await()
      else streamLock(name).synchronized {
        // registration requires this lock, so an empty map here means no
        // stage can start until we finish; a racer that registered
        // between our get and the lock sends us back around the loop
        if (annBuilds.get(key) == null)
          return forgetRowsLocked(name, pred)
      }
    }
    0L // unreachable
  }

  private def forgetRowsLocked(name: String,
                               pred: org.apache.spark.sql.Column): Long = {
    val d = catalog(name)
    // re-check under the stream lock: the entry check predates a
    // possibly long staged-build await, and activation takes no lock —
    // this shrinks the window to the rewrite itself
    requireNoContinuousUse(name, "forget rows from")
    val hit = coalesce(pred, lit(false)) // NULL predicate rows are KEPT
    val raw = readRaw(d)
    if (raw.filter(hit).isEmpty) return 0L // no-op: no rewrite, no bumps
    val preMain = d.writeEpoch

    // change-stream semantics: a predicate matching ANY stored version
    // of a primary-key row forgets the key's WHOLE history — removing
    // only the matched version would resurrect the previously
    // overwritten value as the new "latest" in compacted reads (e.g.
    // forgetting the update that introduced a PII value must not
    // re-expose the pre-update row)
    val pkCols = d.schema.primaryKey.filter(raw.columns.contains)

    // victim frames must survive the directory swap below — they are
    // staged to a temp parquet dir (NOT localCheckpoint: checkpointed
    // blocks pin executor memory for the session with no clean free),
    // deleted in the finally
    val tmpDir = java.nio.file.Paths.get(root, ".forget_tmp",
      java.util.UUID.randomUUID.toString)
    def materialize(df: DataFrame, sub: String): DataFrame = {
      val p = tmpDir.resolve(sub).toString
      df.write.mode(SaveMode.Overwrite).parquet(p)
      spark.read.parquet(p)
    }
    try forgetRowsStaged(name, d, raw, hit, pkCols, preMain, materialize)
    finally Catalog.deleteRecursively(tmpDir)
  }

  private def forgetRowsStaged(name: String, d: StreamDef, raw: DataFrame,
      hit: org.apache.spark.sql.Column, pkCols: Seq[String], preMain: Long,
      materialize: (DataFrame, String) => DataFrame): Long = {
    // PK streams: victim = whole history of any matched key (see
    // caller); plain streams: victim = the matched rows themselves
    val vicKeys: Option[DataFrame] = if (pkCols.isEmpty) None
      else Some(materialize(
        raw.filter(hit).select(pkCols.map(col): _*).distinct(), "pk"))
    def victims(df: DataFrame): DataFrame = vicKeys match {
      case Some(k) => df.join(k, pkCols, "left_semi")
      case None    => df.filter(hit)
    }
    def survivors(df: DataFrame): DataFrame = vicKeys match {
      case Some(k) => df.join(k, pkCols, "left_anti")
      case None    => df.filter(!hit)
    }
    val nVictims = victims(raw).count()

    // the index families on the stream, and which were live over the
    // pre-forget store — resolved BEFORE any mutation
    val present = Families.flatMap(f => catalog.get(f.home(name)).map(f -> _))
    val live = present.map(_._1)
      .filter(_.live(catalog, name, preMain, raw.columns.contains).nonEmpty).toSet
    // prune plan: every per-row store, with its family's pinned id column
    val sibPlan: Seq[(String, String)] = present.flatMap { case (f, home) =>
      f.stores.filter(_.keyed).map(s =>
        (name + s.suffix) -> home.properties.getOrElse(f.idColKey, ""))
    }.filter { case (s, _) => catalog.exists(s) }
    // the prunes below rewrite sibling STORES — a continuous pipeline
    // file-source-reading a sibling directly (SQL can name them) is
    // just as corrupted by a swap as one on the main stream
    sibPlan.foreach { case (s, _) => requireNoContinuousUse(s, "prune index sibling") }
    // victim ids per distinct pinned id column, MATERIALIZED before the
    // main rewrite (the frames are lazy — after the swap they would
    // re-scan the post-forget store and prune nothing)
    val vicIds: Map[String, DataFrame] = sibPlan.map(_._2).distinct
      .filter(raw.columns.contains).map { c =>
        c -> materialize(
          victims(raw).select(col(c).as("__forget_id")).distinct(),
          s"id_$c")
      }.toMap
    val prunes = sibPlan.filter { case (_, c) => vicIds.contains(c) }

    // ---- stage every rewrite aside CONCURRENTLY (optimization round
    // 12, guide §2.6 overlapping independent jobs): the main survivor
    // write and each sibling's prune are independent Spark jobs over
    // DISJOINT stores whose shared input (the victim frames) is already
    // materialized to the temp stage — submitted together, each job's
    // straggler tail back-fills the others' idle cores. NOTHING mutates
    // until every stage has succeeded, and the commit is one logged
    // manifest over the main store and every sibling — so the forget is
    // all-or-nothing: a stage failure aborts it with no store touched, a
    // commit failure is rolled forward by the next read.
    // each task yields its pruned row count; a sibling with no victims
    // stages nothing
    val stages: Seq[() => Long] =
      (() => { commits.stage(d, survivors(raw)); nVictims }) +:
      prunes.map { case (sibName, idC) => () => {
        val sd = catalog.get(sibName).get
        val sibRaw = readRaw(sd)
        val vic = vicIds(idC)
        val n = sibRaw
          .join(vic, col("ex_id") === col("__forget_id"), "left_semi")
          .select("ex_id").distinct().count()
        if (n > 0)
          commits.stage(sd, sibRaw.join(vic,
            col("ex_id") === col("__forget_id"), "left_anti"))
        n
      } }
    val names = d.name +: prunes.map(s => catalog.qualify(s._1))
    commits.run(streamLock(name), names)(stages) { counts =>
      val pruned = prunes.map(_._1).zip(counts.tail).toMap
      // the main store's content changed: stale pins, out-of-band
      // detection and any staged commit must all see the epoch bump
      val newMain = preMain + 1
      // every family store after its prune (which bumps its epoch). A
      // family that was live is re-pinned at the new epochs; a stale one
      // is pruned (a stale ANN index still SERVES its last epoch — it
      // must not keep serving forgotten vectors) but not re-pinned, which
      // would falsely claim coverage of appends it never indexed
      val sibs = present.flatMap { case (f, _) =>
        val stores = f.names(name).flatMap(s => catalog.get(s).map(sd => s ->
          sd.copy(writeEpoch = sd.writeEpoch + (if (pruned.getOrElse(s, 0L) > 0) 1 else 0))))
        val epochs = stores.map { case (s, sd) => s -> sd.writeEpoch }.toMap
        stores.map {
          case (s, h) if live(f) && s == f.home(name) =>
            // the ANN ledger count drops by the pruned rows. lsh_n does
            // NOT: the LSH fast path requires solve(lsh_n) == the pinned
            // layout, so a decrement could cross a solve() boundary and
            // force the corpus re-signature forget exists to avoid; as an
            // upper bound it only delays the next layout growth
            val annN = if (f != Ann) Map.empty[String, String] else Map("ann_n" ->
              math.max(0L, propLong(h.properties, "ann_n").getOrElse(0L) -
                pruned.getOrElse(s, 0L)).toString)
            h.copy(properties = h.properties ++ annN ++ f.pins(name, newMain, epochs))
          case (_, sd) => sd
        }
      }
      Some(d.copy(writeEpoch = newMain) +: sibs.filterNot(t => catalog.get(t.name).contains(t)))
    }
    nVictims
  }

  /** [[forgetRows]] propagated through DERIVED tables — the takedown is
    * not complete while a downstream model still holds rows computed
    * from the forgotten ones (a projection, an aggregate bucket, a
    * dedup survivor). Every transitive consumer that still has pipeline
    * SQL is re-materialized from its (post-forget) sources, in
    * dependency order so a diamond re-derives each model exactly once
    * and never from a stale intermediate. A DEACTIVATED model is
    * refreshed too when its store is non-empty — `stopPipelines` keeps
    * contents, and a takedown must purge derived copies regardless of
    * activation state (the active flag itself is not touched); an
    * inactive+empty model is skipped (nothing derived to purge). A
    * consumer with no SQL (a plain stream something INSERTed into)
    * cannot be re-derived and is left alone — its rows were appended,
    * not derived.
    *
    * At 100 TB the cost is one re-materialization per affected model —
    * the same work `dbt run --full-refresh` on that subgraph costs; the
    * alternative (tracking row-level lineage through arbitrary SQL) is
    * not implementable without provenance columns. A re-materialized
    * model's persisted ANN index is EMPTIED (it would otherwise keep
    * serving pre-refresh rows through the last-built-epoch contract)
    * and rebuilds from the refreshed contents on the next ensure; its
    * dedup siblings go stale via the epoch bump and rebuild before
    * their next probe.
    *
    * @return (rows removed from the main stream, models re-materialized) */
  def forgetRowsCascade(name: String,
                        pred: org.apache.spark.sql.Column): (Long, Long) = {
    // the whole affected subgraph must be free of live continuous
    // pipelines BEFORE any mutation — failing after the main forget
    // would leave consumers silently stale
    val affected = transitiveConsumers(name)
    affected.foreach(m => requireNoContinuousUse(m, "cascade-refresh"))
    val n = forgetRows(name, pred)
    if (n == 0L) return (0L, 0L)
    (n, refreshDownstream(affected))
  }

  /** Transitive consumer closure of `name` (qualified, discovery
    * order), computed once per cascade — the guard pre-check and the
    * refresh walk must agree on the same set. */
  private def transitiveConsumers(name: String): Seq[String] = {
    val affected = scala.collection.mutable.LinkedHashSet[String]()
    def walk(s: String): Unit = catalog.consumers(s).foreach { c =>
      if (affected.add(catalog.qualify(c.name))) walk(c.name)
    }
    walk(name)
    affected.toSeq
  }

  /** Re-materialize every affected consumer that has pipeline SQL,
    * parents before children. @return models re-run */
  private def refreshDownstream(affected: Seq[String]): Long = {
    val pending = scala.collection.mutable.LinkedHashSet(affected: _*)
    var refreshed = 0L
    while (pending.nonEmpty) {
      // ready = no source still awaiting its own refresh (affected
      // sources only: sources outside the set were never stale)
      val ready = pending.toSeq.filter(m =>
        catalog.get(m).forall(_.sources.forall(s => !pending.contains(s))))
      // a source cycle cannot be topologically ordered — refresh the
      // remainder once in insertion order rather than loop forever
      val batch = if (ready.nonEmpty) ready else pending.toSeq
      batch.foreach { m =>
        pending.remove(m)
        catalog.get(m).foreach { d =>
          if (d.sql.nonEmpty && (d.active || !readRaw(d).isEmpty)) {
            // re-check right before the overwrite: a pipeline activated
            // since the cascade pre-check must not have its sink
            // swapped underneath it
            requireNoContinuousUse(m, "cascade-refresh")
            runPipeline(m)
            refreshed += 1
            // a re-materialized model's persisted ANN index would keep
            // SERVING its pre-refresh rows (annTopKIndexedServe reads
            // the last built epoch with no liveness check — by design,
            // for the main-stream forget that PRUNES it; here the
            // victim ids in the DERIVED rows are unknowable without
            // row lineage). Empty it: serves nothing until rebuilt
            // from the refreshed contents. The MinHash/LSH dedup
            // siblings need no such step — their only consumers check
            // the epoch pins and rebuild before probing.
            if (catalog.exists(annIndexName(m))) truncate(annIndexName(m))
          }
        }
      }
    }
    refreshed
  }

  private def writeEmpty(d: StreamDef): Unit = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], d.schema.toStruct)
    write(d, empty, SaveMode.Overwrite)
  }

  /** Create a raw (externally-fed) stream with an explicit schema.
    * `properties` may declare a bucketed layout (`bucket_by` =
    * comma-separated columns, `bucket_count` = N): writes then hash-
    * partition into fixed buckets and same-keyed joins between
    * co-bucketed streams plan with no Exchange. */
  def createStream(name: String, schema: StreamSchema,
                   properties: Map[String, String] = Map.empty): Unit = {
    requireUserName(name, "create stream")
    val d = StreamDef(catalog.qualify(name), schema, properties = properties)
    catalog.put(d)
    writeEmpty(d)
  }

  // ------------------------------------------------------------------
  // Seeds (L6)
  // ------------------------------------------------------------------

  /** Seed type inference: the reference maps agate's sniffed CSV column
    * classes to Flink types (impl.py:150-172): text → STRING, number →
    * DECIMAL(10, 0), boolean → BOOLEAN, datetime → TIMESTAMP_LTZ(3),
    * date → DATE, time → TIME(3). We get the same classification from
    * Spark's own CSV inference fold over the seed's all-STRING rows (the
    * options an `inferSchema` read builds), then map the Spark class to
    * the seed type.
    */
  private val TimeLiteralRe = """\d{2}:\d{2}:\d{2}(\.\d{1,9})?""".r

  private def seedTypes(header: Array[String], rows: Array[Row]): Seq[(String, FlinkType)] = {
    import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
    import org.apache.spark.sql.types._
    val conf = spark.sessionState.conf
    val sniffed = org.apache.spark.sql.internal.SQLConf.withExistingConf(conf) {
      val csv = new CSVInferSchema(new CSVOptions(Map("header" -> "true", "inferSchema" -> "true"),
        conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord))
      csv.toStructFields(rows.foldLeft(Array.fill[DataType](header.length)(NullType))(
        (soFar, r) => csv.inferRowType(soFar, Array.tabulate(header.length)(r.getString))), header)
    }
    header.indices.map { i =>
      // Spark has no TIME type: its CSV sniffer reads a bare 'HH:mm:ss'
      // column as TIMESTAMP (anchored to the current date) or leaves it
      // STRING — agate classifies either as time → TIME(3) (impl.py:150-172)
      val cells = rows.flatMap(r => Option(r.getString(i)))
      header(i) -> (
        if (cells.nonEmpty && cells.forall(TimeLiteralRe.matches)) FlinkType.FTime(3)
        else sniffed(i).dataType match {
          case _: NumericType => FlinkType.FDecimal(10, 0)
          case BooleanType => FlinkType.FBoolean
          case TimestampType | TimestampNTZType => FlinkType.FTimestampLtz(3)
          case DateType => FlinkType.FDate
          case _ => FlinkType.FString
        })
    }
  }

  /** 'HH:mm:ss[.SSS]' → nanos-of-day (the [[FlinkType.FTime]] storage).
    * Pure column arithmetic on decimal, so no timezone is involved. */
  private def timeStringToNanos(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((substring(c, 1, 2).cast("long") * 3600L + substring(c, 4, 2).cast("long") * 60L)
      * 1000000000L
      + (substring(c, 7, 12).cast(org.apache.spark.sql.types.DecimalType(12, 9))
        * 1000000000L).cast("long")).cast("long")

  /** L6: materialize a CSV seed as a stream. Every value is read as a
    * string and cast to the declared type — mirroring the reference's
    * stringified-event ingest (impl.py:560-566: `{col: str(row[col])}`,
    * coerced server-side to the stream schema). `columnTypes` overrides
    * inference per column; unknown override strings fall back to inferred
    * (impl.py:516-531). Seeds are small by contract and the reference
    * loads them into memory (impl.py:548-574): the CSV is read once, its
    * rows typed on the driver, and written in one job. A re-seed without
    * `fullRefresh` keeps the stored columns, and a CSV header that adds
    * or removes one fails before the store is emptied. */
  def seed(name: String, csvPath: String,
           columnTypes: Map[String, String] = Map.empty,
           fullRefresh: Boolean = false): ApplyResult = {
    requireUserName(name, "seed")
    val asStrings = spark.read.option("header", "true").csv(csvPath) // all STRING
    val header = asStrings.columns
    val types = seedTypes(header, asStrings.collect()).map { case (n, t) =>
      n -> columnTypes.get(n).flatMap(FlinkType.parse).getOrElse(t)
    }
    val existed = catalog.exists(name)
    if (existed && !fullRefresh) {
      val same = spark.sessionState.conf.resolver
      val stored = catalog(name).schema.fields.map(_.name)
      val added = header.filterNot(h => stored.exists(same(_, h)))
      val removed = stored.filterNot(s => header.exists(same(_, s)))
      if (added.nonEmpty || removed.nonEmpty) throw new IllegalArgumentException(s"seed '$name': " +
        s"the CSV header no longer matches the stored stream (added: ${added.mkString(", ")}; " +
        s"removed: ${removed.mkString(", ")}); re-seed with full refresh to change its columns")
      truncate(name)
    } else {
      if (existed) dropStream(name, cascade = false, keepConsumers = true)
      catalog.put(StreamDef(catalog.qualify(name), StreamSchema(types.map(PhysicalField.tupled))))
    }
    // TIME columns need explicit conversion: write()'s cast-to-declared
    // would turn 'HH:mm:ss' into NULL under a plain string→long cast
    def base(t: FlinkType): FlinkType = t match {
      case FlinkType.FNotNull(i) => base(i)
      case FlinkType.FPrimaryKey(i) => base(i)
      case other => other
    }
    val converted = types.foldLeft(asStrings) {
      case (df, (n, t)) if base(t).isInstanceOf[FlinkType.FTime] =>
        df.withColumn(n, timeStringToNanos(col(n)))
      case (df, _) => df
    }
    // seeds ingest through a rest connection resource sharing the seed's
    // name: create + activate, send events, deactivate (impl.py:536-575) —
    // so cleanup can later remove it per resource type (operations.sql:96-98)
    if (!catalog.connectionExists(name)) createConnection(name, "rest", stream = name)
    activateConnection(name)
    try appendRows(name, converted) // write() casts to the declared schema
    finally deactivateConnection(name)
    if (existed) Updated else Created
  }

  // ------------------------------------------------------------------
  // Preview / tests (L7, L8, ST4)
  // ------------------------------------------------------------------

  /** Bounded interactive query over current stream contents (reference
    * preview protocol, handler.py:65-100). Change-stream folding is already
    * applied by the compacted stream reads. The timeout mirrors the
    * accumulated poll budget (default 60 s, connections.py:46). */
  def preview(sql: String, limit: Int = 100): Seq[Row] = {
    val df = analyzed(SqlDialect.rewrite(sql))
    // its own job group: a timeout cancels this preview's jobs only,
    // never an active pipeline's micro-batch or another caller's work
    val group = s"graft-preview-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    val action = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      sc.setJobGroup(group, "graft preview", interruptOnCancel = true)
      try df.take(limit) finally sc.clearJobGroup()
    }
    try action.get(previewTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS).toSeq
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(group)
        throw new RuntimeException(s"preview timed out after ${previewTimeoutMs}ms")
    }
  }

  /** [[preview]] through the reference's ACTUAL polling protocol
    * (handler.py:29-42, 65-100): the bounded query starts as a cancellable
    * background job; the cursor polls with exponential backoff + jitter,
    * each poll draining the rows Spark has produced so far
    * (`toLocalIterator` fetches partitions incrementally — the in-process
    * analog of the data plane's result pages). On budget exhaustion the
    * job group is cancelled and whatever accumulated is returned; an
    * empty result seeds the dbt-test fake row, both exactly as the
    * reference cursor does. Change-stream folding happens upstream in
    * the compacted stream reads, so the cursor always runs in append
    * mode here ([[PreviewCursor.pollChange]] carries the change-fold rule for
    * completeness and is spec-verified against scripted envelopes). */
  def previewPolled(sql: String, limit: Int = 100,
      rng: java.util.Random = new java.util.Random(),
      sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong)): PreviewCursor.Result = {
    val df = analyzed(SqlDialect.rewrite(sql)).limit(limit)
    val cols = df.columns.toSeq
    val group = s"graft-preview-${java.util.UUID.randomUUID()}"
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val worker = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, "graft preview", interruptOnCancel = true)
        df.toLocalIterator().forEachRemaining(queue.add(_))
      } catch {
        // our own budget-exhaustion cancel surfaces here as a
        // SparkException — that is the timeout path, not a failure
        case e: Throwable => if (!cancelled.get()) failure.set(e)
      }
      finally done.set(true)
    }, group)
    worker.setDaemon(true)
    worker.start()
    val pager = new PreviewCursor.Pager {
      override def nextPage(): Option[Seq[Row]] = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        var r = queue.poll()
        while (r != null) { buf += r; r = queue.poll() }
        // "no next_token": the job finished and everything is drained
        if (done.get() && queue.isEmpty && buf.isEmpty) None else Some(buf.toSeq)
      }
      override def cancel(): Unit = {
        cancelled.set(true)
        spark.sparkContext.cancelJobGroup(group)
      }
    }
    val res = PreviewCursor.pollAppend(pager, cols, previewTimeoutMs / 1000.0, rng, sleep)
    failure.get() match {
      case null => res
      case e => throw new RuntimeException(s"preview failed: ${e.getMessage}", e)
    }
  }

  /** Test outcome per dbt's severity contract: `error_if`/`warn_if` are
    * conditions over the failure count (default `!= 0`), evaluated in
    * order error → warn → pass (dbt's default get_test_sql behavior the
    * reference delegates to, macros/get_test_sql.sql:17-20). */
  sealed trait TestStatus
  case object TestPass extends TestStatus
  case object TestWarn extends TestStatus
  case object TestError extends TestStatus
  final case class TestResult(failures: Long, status: TestStatus)

  private val ThresholdRe = """(!=|<>|>=|<=|>|<|=)\s*(-?\d+)""".r

  /** Evaluate a dbt threshold condition like "!= 0", "> 5" on a count. */
  private def thresholdMet(cond: String, n: Long): Boolean =
    cond.trim match {
      case ThresholdRe(op, v) =>
        val t = v.toLong
        op match {
          case "!=" | "<>" => n != t
          case ">=" => n >= t
          case "<=" => n <= t
          case ">" => n > t
          case "<" => n < t
          case "=" => n == t
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported test condition '$other'")
    }

  /** Full dbt-style test evaluation: failure count + severity judgment. */
  def runTestJudged(testName: String, sql: String, limit: Option[Int] = None,
                    warnIf: String = "!= 0", errorIf: String = "!= 0"): TestResult = {
    val failures = runTest(testName, sql, limit)
    val status =
      if (thresholdMet(errorIf, failures)) TestError
      else if (thresholdMet(warnIf, failures)) TestWarn
      else TestPass
    TestResult(failures, status)
  }

  /** dbt-style test: wrap the test query in a failures count (the default
    * get_test_sql contract — count rows, compare to thresholds;
    * macros/get_test_sql.sql:17-20). Returns the failure count. In
    * materialize-tests mode (connections.py:48, impl.py:641-648) the
    * wrapped query is persisted as its own model instead (L8). */
  def runTest(testName: String, sql: String, limit: Option[Int] = None): Long = {
    // keep the inner SQL raw: preview/createModel below apply the (single)
    // dialect rewrite — rewriting here too would double backslashes in
    // string literals (the rewrite is not idempotent by design: it decodes
    // Flink literals and re-encodes them for Spark)
    val limited = limit.map(l => s"SELECT * FROM ($sql) __t LIMIT $l")
      .getOrElse(sql)
    val failuresSql = s"SELECT count(*) AS failures FROM ($limited) __dbt_test"
    if (materializeTests) {
      createModel(testName, failuresSql)
      preview(s"SELECT failures FROM ${catalog.qualify(testName)}").head.getLong(0)
    } else {
      preview(failuresSql).headOption.map(_.getLong(0)).getOrElse(0L)
    }
  }

  // ------------------------------------------------------------------
  // Lifecycle ops (L3, L4, L5, L9)
  // ------------------------------------------------------------------

  /** L3: drop a stream; with `cascade`, first recursively drop every stream
    * whose pipeline reads it (impl.py:197-257, recursion at 246-254). With
    * `keepConsumers` (internal rebuild path) consumers are left in place.
    * The stream's index stores go with it in every mode. */
  def dropStream(name: String, cascade: Boolean = true,
                 keepConsumers: Boolean = false): Unit = {
    if (!catalog.exists(name)) return
    if (cascade && !keepConsumers)
      catalog.consumers(name).foreach(c => dropStream(c.name, cascade = true))
    deleteStore(name)
  }

  /** Delete a stream's def and data, and its index stores': they describe
    * this store only, and a stream re-created under the name restarts at
    * write epoch 0, where their pins would match again. Each store's
    * interrupted commit is settled first: none may replay into a later
    * stream of the same name. */
  private def deleteStore(name: String): Unit =
    (name +: ManagedSuffixes.map(name + _).filter(catalog.exists)).foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS ${bucketTableName(s)}")
      commits.repair(s)
      catalog.delete(s)
    }

  /** L4: rename stream + pipeline; consumer pipelines' SQL is rewritten by
    * re-parsing (identifier-boundary regex on the parsed source list), not
    * the reference's fragile first-occurrence string replace
    * (impl.py:694-701). */
  def renameStream(oldName: String, newName: String): Unit = {
    // direct renames of managed index siblings are engine-internal only:
    // a user-initiated rename either targets the MAIN stream (siblings
    // are carried below) or is a namespace collision to reject
    requireUserName(oldName, "rename")
    requireUserName(newName, "rename to")
    renameStreamInternal(oldName, newName)
  }

  private def renameStreamInternal(oldName: String, newName: String): Unit = {
    val qOld = catalog.qualify(oldName)
    val qNew = catalog.qualify(newName)
    commits.repair(oldName) // an interrupted commit finishes under the old name
    // a bucketed stream's backing table points at the OLD data dir; drop
    // it (metadata only — external table) and let the next write
    // re-register it at the new path. Reads in between fall back to the
    // plain path scan: correct rows, bucket info re-attached on write.
    spark.sql(s"DROP TABLE IF EXISTS ${bucketTableName(oldName)}")
    catalog.rename(oldName, newName)
    // rewrite this stream's own def sources stay as-is; rewrite consumers.
    // Consumer SQL may spell the source either bare (ref() resolves to the
    // bare name; views alias both) or namespace-qualified — rewrite both.
    catalog.list().filter(_.sources.contains(qOld)).foreach { c =>
      val newSql = c.sql.map(s =>
        replaceIdentifier(replaceIdentifier(s, qOld, qNew), oldName, newName))
      catalog.put(c.copy(
        sql = newSql,
        sources = c.sources.map(s => if (s == qOld) qNew else s)))
    }
    // managed index siblings are named after their stream — carry them
    // along so the next deduped ingest finds its index instead of
    // orphaning the old one and re-bootstrapping from scratch
    ManagedSuffixes.foreach { suf =>
      if (catalog.exists(oldName + suf))
        renameStreamInternal(oldName + suf, newName + suf)
    }
    // the renamed stream keeps its own pipeline SQL (sink name is implicit)
  }

  private def replaceIdentifier(sql: String, from: String, to: String): String =
    sql.replaceAll(s"(?i)(?<![\\w`])${java.util.regex.Pattern.quote(from)}(?![\\w`])",
      java.util.regex.Matcher.quoteReplacement(to))

  /** L5/S6: truncate — overwrite with an empty DataFrame of the same
    * schema (impl.py:259-275). */
  def truncate(name: String): Unit = {
    val d = catalog(name)
    writeEmpty(d)
  }

  // --- storage maintenance (beyond the reference: the hosted service
  // owns physical layout there; a self-managed 100 TB deployment needs
  // these, the Delta/Iceberg OPTIMIZE + VACUUM pair re-expressed over
  // plain epoch-stamped parquet) ---

  /** OPTIMIZE: rewrite a stream's storage into `targetFiles` files (the
    * small-file problem — every append epoch adds a file set; thousands
    * of appends make scans metadata-bound). Pure physical rewrite: rows,
    * including their (epoch, seq, tombstone) stamps, are byte-identical,
    * so compacted reads AND time-travel reads are unchanged — ordering
    * lives in data columns, never in file layout. The swap is a
    * [[StagedCommit]]: bucketed stores keep their bucket table, and a
    * crash mid-swap rolls forward on the next read. */
  def compactStorage(name: String, targetFiles: Int = 1,
                     sortBy: Seq[String] = Nil,
                     zorderBy: Seq[String] = Nil): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive")
    // the ingest lock must span scan → swap: an append committing
    // between the rewrite's scan and its directory swap would be wiped
    // by the swap (the appendRows concurrency contract covers EVERY
    // storage rewrite, not just writes)
    val lock = streamLock(name)
    lock.synchronized {
      // the def as of the lock: the commit puts it back verbatim
      val d = catalog(name)
      // optional clustering: files then hold narrow value ranges, so
      // parquet min/max stats prune scans — sortBy for a single leading
      // dimension, zorderBy (Morton interleave) for multi-dimensional
      // predicates. Rows and epoch/seq stamps are unchanged either way;
      // only physical placement moves.
      val rows = readRaw(d)
      val laid =
        if (zorderBy.nonEmpty)
          graft.operators.ZOrder.cluster(rows, zorderBy, targetFiles)
        else if (sortBy.nonEmpty)
          rows.repartitionByRange(targetFiles, sortBy.map(col): _*)
            .sortWithinPartitions(sortBy.map(col): _*)
        else rows.repartition(targetFiles)
      commits.rewrite(lock, d, laid)
    }
  }

  /** VACUUM: physically drop change-stream rows superseded as of
    * `upToEpoch` — keeps exactly (a) the rows live at `upToEpoch` (their
    * original stamps intact; keys whose latest row then was a tombstone
    * vanish entirely) and (b) every row written after `upToEpoch`.
    * Current reads and as-of reads at ≥ `upToEpoch` are unchanged;
    * as-of reads BEFORE it lose history (that is the retention contract).
    */
  def vacuum(name: String, upToEpoch: Long): Unit = {
    val lock = streamLock(name)
    // same scan→swap race as compactStorage: hold the ingest lock
    lock.synchronized {
      val d = catalog(name)
      val pk = d.schema.primaryKeyColumns
      require(pk.nonEmpty, s"stream '${d.name}' has no primary key — " +
        "vacuum folds change-stream history")
      val raw = readRaw(d)
      val w = Window.partitionBy(pk.map(col): _*)
        .orderBy(col(EpochCol).desc, col(SeqCol).desc)
      val liveAtEpoch = raw.filter(col(EpochCol) <= lit(upToEpoch))
        .withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1 && !col(DeletedCol))
        .drop("__graft_rn")
      commits.rewrite(lock, d, liveAtEpoch.unionByName(
        raw.filter(col(EpochCol) > lit(upToEpoch))))
    }
  }

  /** Operational stats for a stream (DESCRIBE-style observability):
    * row/file counts, bytes on disk, current write epoch, pipeline
    * state. Row count is a distributed count over the raw store; file
    * stats come from the filesystem. */
  def describeStream(name: String): StreamStats = {
    val d = catalog(name)
    val dir = java.nio.file.Paths.get(catalog.dataPath(d.name))
    val (files, bytes) =
      if (java.nio.file.Files.isDirectory(dir)) {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(dir)) { walk =>
          val fs = walk.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet")).toSeq
          (fs.size.toLong, fs.map(java.nio.file.Files.size).sum)
        }
      } else (0L, 0L)
    StreamStats(catalog.qualify(name), readRaw(d).count(),
      files, bytes, d.writeEpoch, d.sql.nonEmpty, d.active)
  }

  /** Export a stream's compacted contents to files — the handoff step
    * from curation to a training job (JSONL shards being the usual LLM
    * format; csv/parquet for everything else). `partitionBy` columns
    * become directory partitions (e.g. a [[graft.operators.Sampling
    * .hashSplit]] `split` column → `split=train/` shards);
    * `shardsPerPartition` bounds file counts the way
    * [[compactStorage]] does for internal storage. Distributed writers
    * only — nothing collects to the driver. */
  def exportStream(name: String, path: String, format: String = "json",
                   partitionBy: Seq[String] = Nil,
                   shardsPerPartition: Int = 0): Unit = {
    require(Seq("json", "csv", "parquet").contains(format),
      s"unsupported export format '$format'")
    var df = readStream(name)
    if (shardsPerPartition > 0)
      df = if (partitionBy.nonEmpty) {
        // partition columns alone hash every directory partition's rows
        // into ONE task (one file each, whatever shardsPerPartition
        // says); a row-hash salt bounded to [0, shards) fans each
        // directory partition out across ~N writer tasks → ~N shards
        val salt = pmod(xxhash64(df.columns.map(col): _*),
          lit(shardsPerPartition.toLong))
        df.repartition(partitionBy.map(col) :+ salt: _*)
      } else df.repartition(shardsPerPartition)
    writeExport(df, format, partitionBy, path)
  }

  /** Shared export writer: format validation happens in the public
    * entry points; the json/csv/parquet dispatch (incl. the csv header
    * convention) lives here so [[exportStream]] and
    * [[exportPackedShards]] cannot drift. */
  private def writeExport(df: DataFrame, format: String,
                          partitionBy: Seq[String], path: String): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    val wp = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    (format match {
      case "json" => wp.format("json")
      case "csv" => wp.format("csv").option("header", "true")
      case "parquet" => wp.format("parquet")
    }).save(path)
  }

  /** Token-budget sharded export — the physical tail of a curation
    * pipeline ("write the curated corpus as ~budget-token shards"):
    * [[graft.operators.Sampling.packShards]] assigns every row a
    * deterministic `(pack_group, shard)` by hash-ordered token cumsum,
    * and the writer materializes that layout as
    * `pack_group=G/shard=S/part-…` directories. The pre-write
    * `repartition(pack_group, shard)` puts each shard's rows in one
    * writer task → one file per shard (training loaders want
    * file-per-shard, not a spray of task fragments); `groups` bounds
    * the per-task window cumsum, so at 100 TB the pack is `groups`-way
    * parallel and no task sees more than ~corpus/groups rows. A shard's
    * token sum can overshoot `budget` by at most its last document
    * (documents are never split — packShards' start-offset rule). */
  def exportPackedShards(name: String, path: String, idCol: String,
                         tokensCol: String, budget: Long,
                         groups: Int = 32, salt: String = "pack",
                         format: String = "parquet"): Unit = {
    require(Seq("json", "csv", "parquet").contains(format),
      s"unsupported export format '$format'")
    val packed = graft.operators.Sampling.packShards(
      readStream(name), idCol, tokensCol, budget, groups, salt)
    writeExport(packed.repartition(col("pack_group"), col("shard")),
      format, Seq("pack_group", "shard"), path)
  }

  // --- L9 run-operations (macros/operations.sql:17-111) ---

  private def targets(names: Option[Seq[String]]): Seq[StreamDef] = names match {
    case None => catalog.list()
    case Some(ns) => ns.flatMap(catalog.get(_))
  }

  /** Deactivate pipelines (stop_pipelines). */
  def stopPipelines(names: Option[Seq[String]] = None): Unit =
    targets(names).filter(_.sql.nonEmpty).foreach(d => catalog.put(d.copy(active = false)))

  /** Delete pipelines, keep streams (delete_pipelines). */
  def deletePipelines(names: Option[Seq[String]] = None): Unit =
    targets(names).filter(_.sql.nonEmpty).foreach(d =>
      catalog.put(d.copy(sql = None, sources = Nil, active = false)))

  /** Delete streams wholesale (delete_streams; skip_errors semantics —
    * missing names are warnings, operations.sql:90-104). */
  def deleteStreams(names: Option[Seq[String]] = None, skipErrors: Boolean = true): Unit =
    names match {
      case None => catalog.list().foreach(d => deleteStore(d.name))
      case Some(ns) => ns.foreach { n =>
        if (catalog.exists(n)) deleteStore(n)
        else if (!skipErrors)
          throw new IllegalArgumentException(s"stream '$n' not found")
      }
    }

  /** cleanup: per resource type like the reference's macro
    * (operations.sql:90-104 — models: drop_relation; seeds:
    * delete_connection + delete_stream): for each target stream, any bound
    * connection is deactivated and deleted first, then the stream +
    * pipeline pair is removed. */
  def cleanup(names: Option[Seq[String]] = None): Unit =
    targets(names).foreach { d =>
      catalog.connectionsOf(d.name).foreach(c => deleteConnection(c.name))
      deleteStore(d.name)
    }

  /** Evict every frame the session's operators have persisted (round 6:
    * the long-lived-session counterpart of the per-operator
    * `...Managed`/`...WithCleanup` handles — see
    * [[graft.operators.OperatorCache]] for the convention and why the
    * plain operator entry points keep their frames pinned). Call between
    * jobs; everything re-persists on demand. */
  def clearOperatorCache(): Unit =
    graft.operators.OperatorCache.clear(spark)

  // ------------------------------------------------------------------
  // Connection resources (client.py:433-501, impl.py:536-637)
  // ------------------------------------------------------------------

  /** Create a connection resource bound to `stream` (client.py:433-447
    * creates the connection and, for seeds, its stream in one call —
    * here the stream must already exist or be created separately).
    * Connections start inactive, like the reference's created state. */
  def createConnection(name: String, connector: String, stream: String,
                       connType: String = "source",
                       properties: Map[String, String] = Map.empty): ConnectionDef = {
    require(graft.sources.Connectors.Supported.contains(connector) ||
      connector == "kinesis", // name-only, like the reference api.py:38-44
      s"unsupported connector '$connector'")
    val c = ConnectionDef(catalog.qualify(name), connector,
      connType, catalog.qualify(stream), properties, active = false)
    catalog.putConnection(c)
    c
  }

  private def requireConnection(name: String, what: String): ConnectionDef =
    catalog.getConnection(name).getOrElse(throw new IllegalArgumentException(
      s"Unable to $what connection: '${catalog.qualify(name)}' does not exist"))

  /** activate_connection (client.py:470-478). */
  def activateConnection(name: String): Unit = {
    val c = requireConnection(name, "activate")
    catalog.putConnection(c.copy(active = true))
  }

  /** Every running continuous query by owner, with the qualified streams
    * it guards. A pipeline's query guards the streams it file-source-reads
    * and its own sink, so storage REWRITES of them can refuse loudly: the
    * parquet file source tracks input files by name in its offset log,
    * and a rewrite under a live reader re-emits every surviving row as
    * brand-new input (or fails the scan on a vanished file). Plain appends
    * are safe (new files only) and stay unguarded, so a source
    * connection's query, which only appends, guards nothing. */
  private val liveQueries =
    scala.collection.concurrent.TrieMap.empty[Engine.QueryOwner, (StreamingQuery, Set[String])]

  /** Track `q` as `owner`'s running query, guarding `guards`. */
  private[graft] def trackQuery(owner: Engine.QueryOwner, q: StreamingQuery,
                                guards: Seq[String]): Unit =
    liveQueries.put(owner, (q, guards.map(catalog.qualify).toSet))

  private[graft] def liveQuery(owner: Engine.QueryOwner): Option[StreamingQuery] =
    liveQueries.get(owner).map(_._1)

  private[graft] def queryOwners: Seq[Engine.QueryOwner] = liveQueries.keys.toSeq

  /** Stop `owner`'s query and release its guards, even when the stop
    * throws. Returns whether `owner` had a query. */
  private[graft] def stopQuery(owner: Engine.QueryOwner): Boolean =
    liveQueries.get(owner) match {
      case Some(entry @ (q, _)) =>
        try q.stop() finally liveQueries.remove(owner, entry)
        true
      case None => false
    }

  /** Refuse a storage rewrite of `name` while a continuous pipeline is
    * live on it — the actionable alternative is to deactivate first. */
  private def requireNoContinuousUse(name: String, op: String): Unit = {
    val stream = catalog.qualify(name)
    val users = liveQueries.collect { case (owner, (_, guards)) if guards(stream) => owner.name }
    if (users.nonEmpty) throw new IllegalStateException(
      s"cannot $op '$name': active continuous pipeline(s) " +
        s"${users.toSeq.sorted.mkString(", ")} read or write it — a " +
        "storage rewrite under a live file-source reader re-emits " +
        "surviving rows as new input; deactivate them first")
  }

  /** Activate a source connection's data plane: open its connector and
    * continuously append into its stream ([[graft.sources.Connectors.bindSource]]).
    * Marks the connection active; [[deactivateConnection]] stops the query. */
  def bindConnection(name: String, checkpoint: String): StreamingQuery = {
    val c = requireConnection(name, "bind")
    require(c.connType == "source", s"connection '${c.name}' is not a source")
    val startPos =
      if (c.properties.get("start_position").contains("latest"))
        graft.sources.Connectors.Latest
      else graft.sources.Connectors.Earliest
    val source = graft.sources.Connectors.open(spark,
      graft.sources.Connectors.ConnectorSpec(c.connector, c.properties, startPos))
    val q = graft.sources.Connectors.bindSource(this, c.stream, source, checkpoint, startPos)
    trackQuery(Engine.ConnectionOwner(catalog.qualify(name)), q, Nil)
    activateConnection(name)
    q
  }

  /** deactivate_connection (client.py:480-487) — also stops a bound
    * ingest query, if one is running. */
  def deactivateConnection(name: String): Unit = {
    val c = requireConnection(name, "deactivate")
    stopQuery(Engine.ConnectionOwner(catalog.qualify(name)))
    catalog.putConnection(c.copy(active = false))
  }

  /** reactivate_connection (impl.py:577-586) — errors if missing, then
    * re-activates. */
  def reactivateConnection(name: String): Unit = {
    requireConnection(name, "reactivate")
    activateConnection(name)
  }

  /** delete_connection (impl.py:626-637): deactivate, then remove the
    * resource. Errors if the connection does not exist, like the
    * reference's raise_database_error. */
  def deleteConnection(name: String): Unit = {
    requireConnection(name, "delete")
    deactivateConnection(name)
    catalog.deleteConnection(name)
  }

  /** Release this engine's process-global registrations (round 11 —
    * VERDICT r10 "what's wrong" item 1: [[Engine.registry]] had no
    * removal path, so every engine a long-lived session constructed
    * parked in the static map forever, its Catalog and temp-root state
    * strongly referenced). Removes the registry binding — guarded so a
    * NEWER engine that took the same root is left in place (latest
    * wins, as registration does) — and clears the session's
    * [[Engine.RootConfKey]] when it still points at this root, so
    * `Engine.bound` can no longer resurrect an abandoned engine.
    * Idempotent; stream data on disk is untouched (close releases the
    * process bindings, it is not a drop). */
  def close(): Unit = {
    Engine.registry.remove(root, this)
    if (spark.conf.getOption(Engine.RootConfKey).contains(root))
      spark.conf.unset(Engine.RootConfKey)
  }
}
