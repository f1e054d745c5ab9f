package graft.engine

import org.apache.spark.sql.types._

import graft.catalog.{Catalog, StreamDef}

/** One store of an index family: the suffix that names it after its
  * stream, the property that pins its write epoch, its schema given the
  * type of the indexed id column, and its bucket layout. */
private[engine] final case class SiblingStore(
    suffix: String,
    epochKey: String,
    schema: DataType => StructType,
    bucketBy: Option[String] = None) {

  /** The properties the store is created with: its bucket layout. */
  def layout: Map[String, String] =
    bucketBy.fold(Map.empty[String, String])(b =>
      Map("bucket_by" -> b, "bucket_count" -> "32"))

  /** Whether the store holds one entry per indexed row (an `ex_id`
    * column): ingest appends to it, compaction rewrites it, forget
    * prunes it. */
  def keyed: Boolean = schema(LongType).fieldNames.contains("ex_id")
}

/** A managed index family on a stream. Its first store carries the
  * family's properties: its configuration, the indexed id column
  * (`<prefix>_id_col`) and the epoch pins — `<prefix>_main_epoch`, the
  * stream's write epoch the index covers, plus each store's own epoch.
  * The index is live only while every pin matches, so a write that
  * bypasses the family's own paths (a plain append, a truncate, a write
  * to a store) forces a rebuild instead of a probe of a stale index. */
private[engine] final case class SiblingFamily(prefix: String, stores: Seq[SiblingStore]) {
  val mainKey = s"${prefix}_main_epoch"
  val idColKey = s"${prefix}_id_col"

  def names(stream: String): Seq[String] = stores.map(stream + _.suffix)

  /** The store carrying the family's properties. */
  def home(stream: String): String = stream + stores.head.suffix

  /** Pins for the stream at write epoch `main` and each store (by name)
    * at `epoch(store)`. */
  def pins(stream: String, main: Long, epoch: String => Long): Map[String, String] =
    stores.map(s => s.epochKey -> epoch(stream + s.suffix).toString).toMap +
      (mainKey -> main.toString)

  /** The pinned store epochs: the index generation. */
  def generation(props: Map[String, String]): Seq[Option[String]] =
    stores.map(s => props.get(s.epochKey))

  /** The home def of `stream`'s index when it is live over the stream at
    * write epoch `main`: every store's epoch and the main epoch match
    * their pins, and the pinned id column passes `idOk`. */
  def live(catalog: Catalog, stream: String, main: Long,
           idOk: String => Boolean): Option[StreamDef] =
    catalog.get(home(stream)).filter { d =>
      def epoch(s: SiblingStore) =
        if (s eq stores.head) Some(d.writeEpoch)
        else catalog.get(stream + s.suffix).map(_.writeEpoch)
      d.properties.get(idColKey).exists(idOk) &&
        d.properties.get(mainKey).contains(main.toString) &&
        stores.forall(s => epoch(s).exists(e => d.properties.get(s.epochKey).contains(e.toString)))
    }
}

/** The engine's three index families. Everything they share — liveness,
  * pins, store creation, compaction, cross-family maintenance, forget
  * pruning, rename and drop — runs over this table; the families differ
  * only in their configuration and how they encode rows. */
private[engine] object SiblingIndex {
  /** MinHash text dedup ([[Engine.appendRowsDeduped]]): band postings,
    * bucketed on the probe key, and hashed-shingle signatures. */
  val MhPost = SiblingStore("__mhpost", "mh_post_epoch", id => new StructType()
    .add("ex_id", id)
    .add("band", IntegerType, nullable = false)
    .add("bkey", LongType, nullable = false), Some("band,bkey"))
  val MhSig = SiblingStore("__mhsig", "mh_sig_epoch", id => new StructType()
    .add("ex_id", id)
    .add("hs", ArrayType(LongType)))
  val MinHash = SiblingFamily("mh", Seq(MhPost, MhSig))

  /** Sign-LSH embedding dedup ([[Engine.appendRowsDedupedEmbedding]]):
    * postings bucketed on the probe key. */
  val LshIdx = SiblingStore("__lshidx", "lsh_idx_epoch", id => new StructType()
    .add("ex_id", id)
    .add("tbl", IntegerType, nullable = false)
    .add("bucket", LongType, nullable = false), Some("tbl,bucket"))
  val Lsh = SiblingFamily("lsh", Seq(LshIdx))

  /** The ANN retrieval index ([[Engine.ensureAnnIndex]]): the encoded
    * corpus, bucketed on its cell, and the codebooks. */
  val AnnIdx = SiblingStore("__annidx", "ann_idx_epoch", id => new StructType()
    .add("ex_id", id)
    .add("cell", IntegerType)
    .add("v", ArrayType(FloatType))
    .add("codes", ArrayType(IntegerType))
    .add("eps", ArrayType(DoubleType))
    .add("norm_x", DoubleType), Some("cell"))
  val AnnCent = SiblingStore("__anncent", "ann_cent_epoch", _ => new StructType()
    .add("kind", IntegerType, nullable = false)
    .add("j", IntegerType, nullable = false)
    .add("cid", IntegerType, nullable = false)
    .add("centroid", ArrayType(FloatType)))
  val Ann = SiblingFamily("ann", Seq(AnnIdx, AnnCent))

  val Families: Seq[SiblingFamily] = Seq(MinHash, Lsh, Ann)
}
