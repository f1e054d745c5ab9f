package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated test tables (/root/repo/TESTDATA.md).
  *
  * `events.ts` contract: every consumer (gates, oracles, the streaming
  * parity harness) sees `ts` as a BIGINT of epoch NANOS. The driver has
  * shipped the column under two physical types across rounds — parquet
  * TIMESTAMP(NANOS), which Spark reads as that bigint via
  * `spark.sql.legacy.parquet.nanosAsLong`, and TIMESTAMP(MICROS, NTZ),
  * which Spark reads as TIMESTAMP_NTZ — so [[load]] canonicalizes: a
  * timestamp-typed `ts` is converted to epoch-nano bigint
  * (`unix_micros * 1000`; exact — the sessions run with
  * `spark.sql.session.timeZone=UTC`, making the NTZ→LTZ cast an identity
  * on the underlying micros). DuckDB reads either physical type as a
  * naive TIMESTAMP, so oracle SQL (`CAST(ts AS TIMESTAMP)`) is unaffected.
  * [[events]] additionally derives the micro-precision `event_time`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** When set, [[load]] returns an incremental `readStream` frame instead
    * of a batch scan — the hook [[graft.streaming.StreamingParity]] uses
    * to replay the VERY SAME gate code as a Structured Streaming plan
    * (batch≡streaming differential testing). Thread-scoped so concurrent
    * specs can't leak the mode into each other.
    *
    * `chunks = 1` streams each single-file table as one micro-batch;
    * `chunks > 1` first re-materializes the table as `chunks` parquet
    * files under `chunkDir` and streams them with `maxFilesPerTrigger=1`,
    * so the SAME gate plan executes across `chunks` REAL micro-batches —
    * the cross-batch state-folding proof a single-file source can't give
    * (AvailableNow processes a file atomically). */
  private[graft] case class StreamReadMode(chunks: Int, chunkDir: String)
  private[graft] val streamingReads =
    new scala.util.DynamicVariable[Option[StreamReadMode]](None)

  def withStreamingReads[T](body: => T): T =
    streamingReads.withValue(Some(StreamReadMode(1, "")))(body)

  def withChunkedStreamingReads[T](chunks: Int, chunkDir: String)(body: => T): T = {
    require(chunks > 1, "use withStreamingReads for the single-batch mode")
    streamingReads.withValue(Some(StreamReadMode(chunks, chunkDir)))(body)
  }

  /** Restore the `ts = epoch-nanos BIGINT` contract when the file stores a
    * timestamp type instead (see the object scaladoc). `withColumn`
    * replaces in place, so column order is preserved; the projection is
    * streaming-compatible, so the canonical form rides `readStream` too. */
  private def canonEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = streamingReads.value match {
      case Some(mode) =>
        // file streaming source needs an explicit schema: probe it with a
        // footer-only batch read (no data scan)
        val schema = spark.read.parquet(path(dir, name)).schema
        if (mode.chunks > 1) {
          // split once per (chunkDir, table); RoundRobinPartitioning
          // spreads rows so every chunk (micro-batch) carries a slice of
          // every group/window — the adversarial arrival order for state
          val sub = s"${mode.chunkDir}/$name"
          if (!new java.io.File(sub).isDirectory)
            spark.read.parquet(path(dir, name)).repartition(mode.chunks)
              .write.mode("ignore").parquet(sub)
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(sub)
        } else {
          // The testdata tables are single .parquet FILES:
          // FileStreamSource force-sets basePath to the path itself
          // UNLESS the path is a glob (then it honors the user option) —
          // so phrase the path as a brace-glob matching only this file
          // and pass the parent directory explicitly.
          spark.readStream.schema(schema).option("basePath", dir)
            .parquet(s"$dir/$name.{parquet}")
        }
      case None => widenScan(spark, spark.read.parquet(path(dir, name)))
    }
    if (name == "events") canonEvents(raw) else raw
  }

  /** Adaptive scan widening (round 6): the driver's testdata tables are
    * single parquet files with a SINGLE row group, and ScaleData's 10×
    * corpora are a handful of one-row-group files — a parquet scan can
    * only parallelize across row groups, so every gate's map stage
    * (normalize regexes, shingle explodes, codec decodes, signature
    * kernels) was running on ONE to TEN tasks no matter how many cores
    * the session had; the sf0.1→sf1 scale record inherited the skew as
    * fake super-linearity (pipeline_curation_v4's stage timings: the
    * normalize stage alone scaled 0.6 s → 6.6 s at 10× data because
    * both ran ~single-task).
    *
    * When the scan's ROW-GROUP count is pathologically below the
    * session's parallelism, insert one round-robin repartition so
    * map-side work uses the machine. On properly-laid-out data —
    * a real 100 TB table has thousands of row groups ≫ cores — the
    * branch never fires and plans are untouched; this is test-layout
    * repair, not a scaling strategy.
    * Gates are partition-count-independent by construction (they run
    * hash-green at 4/8/32-way shuffles), so the rebalance cannot
    * change results. */
  // keyed by (path, length, mtime) so an overwrite at the same path
  // (test/probe loops writing to /tmp) never returns a stale count, and
  // bounded so the map cannot grow for the life of the JVM
  private val rowGroupCacheMax = 4096
  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Int]()

  private def widenScan(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    // enough FILES ⇒ enough scan parallelism with no footer read; below
    // that, count actual ROW GROUPS — byte-range partition counts lie
    // for a multi-GB single-row-group file (it splits into ~cores ranges
    // of which all but one are empty, so a partition-count test skips
    // the widening exactly on the layout it targets). Footers are
    // driver-side metadata (~KB each), cached so ~200 gate loads per
    // Verify run pay them once per file version.
    if (files.length * 2 >= cores) return df
    val conf = spark.sessionState.newHadoopConf()
    val groups = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      if (rowGroupCache.size >= rowGroupCacheMax) rowGroupCache.clear()
      rowGroupCache.computeIfAbsent((f, st.getLen, st.getModificationTime), { _ =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      })
    }.sum
    if (groups * 2 >= cores) df else df.repartition(cores)
  }

  /** events with `ts` = epoch nanos (bigint) and `event_time` = timestamp(us). */
  def events(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n => load(spark, dir, n).createOrReplaceTempView(n) }
}
