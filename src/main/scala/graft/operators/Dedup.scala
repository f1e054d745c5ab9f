package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale text corpora (SURVEY §7.5).
  *
  * Scale stance: every variant is a pure DataFrame plan — hash-partitioned
  * by the dedup key (exact) or by LSH band/bucket (minhash, simhash,
  * embedding), so shuffle volume is O(corpus + candidate pairs) with no
  * driver materialization. The brute-force pair joins exist as
  * correctness oracles/baselines; at 100 TB only the banded/bucketed
  * paths run (the standard MinHash-LSH sharding — candidate generation is
  * a band-key equi-join that AQE can skew-split if a bucket explodes).
  *
  * Signature pipelines (shingle → hash → sort → minhash; simhash votes;
  * plane signatures) feed BOTH sides of a self-join plus the verify
  * joins, so each is persisted (MEMORY_AND_DISK) — computed once per
  * corpus pass instead of once per join branch. At local[32] the
  * unpersisted minhash pipeline recomputed ~4× and GC-collapsed the
  * bench (92 s → the dominant cost); with the persist it runs once.
  *
  * Cross-engine determinism: [[CrossHash.hash56]] is a 56-bit hash built
  * from md5 hex (identical in Spark and DuckDB), so even SimHash results
  * are oracle-checkable bit-for-bit. MinHash uses Spark's codegen'd
  * xxhash64 (the DuckDB oracle for LSH dedup is brute-force Jaccard, not
  * the sketch itself).
  */
object Dedup {

  /** Table count above which [[embeddingNearDupFixed]] switches its
    * cross-table pair dedup from the carried-signature first-table
    * predicate to a slim DISTINCT on (id_a, id_b) — see the strategy
    * comment at the join site. Breakeven: the when-chain path ships
    * ~2·tables·8 B of signature per candidate; the distinct ships one
    * extra 16 B shuffle per candidate, so the distinct wins once
    * tables ≳ 12 and the gap grows linearly with the table count. */
  private val SlimDedupTables = 12

  /** Exact dedup: one surviving row id per duplicate group (min id wins),
    * plus the group size. Single hash-aggregate shuffle on the key columns.
    */
  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** Exact dedup shuffling only a 128-bit content hash instead of the
    * full payload — at 100 TB of documents, grouping by the text column
    * ships the corpus through the shuffle; grouping by md5(text) ships
    * 16 bytes/row (collision probability over 10¹² docs ≈ 10⁻¹⁴). The
    * canonical large-corpus exact-dedup plan. NUL separator (an escape,
    * not a raw byte, so the source file stays text) makes the key
    * injective for multi-column keys. */
  def exactByHash(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.withColumn("__kh", md5(concat_ws("\u0000", keys.map(col): _*)))
      .groupBy("__kh")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** Distinct word n-gram shingles of a text column, e.g. n=2 →
    * ["a b", "b c", ...]. Documents shorter than n words yield an empty
    * array (guarded — Spark's `sequence(0, -1)` would count backwards). */
  def shingles(text: Column, n: Int): Column = {
    // bind the split ONCE per row (optimization round 11): higher-order
    // lambdas are interpreted per element, so a `slice(split(text), …)`
    // lambda body re-splits the text at every shingle position —
    // O(words²) splits per doc. Wrapping the split in a 1-element array
    // and transforming over it binds the words to a lambda VARIABLE,
    // which the inner lambda references in O(1); same output exactly.
    element_at(transform(array(split(text, " ")), words => {
      val ngrams = transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + lit(1), lit(n))))
      when(size(words) >= n, array_distinct(ngrams))
        .otherwise(array().cast("array<string>"))
    }), 1)
  }

  /** Sorted distinct xxhash64 values of an array of shingles — pair
    * verification runs a two-pointer merge over long arrays
    * ([[graft.functions.SortedIntersectCount]]) instead of per-pair
    * hash-set intersects of string arrays (cheaper hashing; a 64-bit
    * collision altering a count has probability ~(n²/2⁶⁵) ≈ 4e-9 over
    * this corpus, far below the oracle-mismatch noise floor). Sorting
    * happens once per document, not per pair. */
  private def hashedShingles(sh: Column): Column =
    array_sort(array_distinct(transform(sh, s => xxhash64(s))))

  /** Union-free Jaccard over pre-sorted distinct hash arrays:
    * `|A∩B| / (|A| + |B| − |A∩B|)` in integer arithmetic, so the DuckDB
    * oracle (same formula) matches bit-for-bit. */
  private def jaccardSorted(a: Column, b: Column): Column = {
    val ni = call_function("sorted_intersect_count", a, b)
    ni.cast("double") / (size(a) + size(b) - ni).cast("double")
  }

  /** The shingle-set frame every set-similarity operator starts from:
    * `(idAs, setAs)` with each document's sorted distinct shingle hashes
    * ([[hashedShingles]]); documents shorter than `n` words (empty sets)
    * are dropped. Registers the graft kernels the callers' plans use. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int,
                          idAs: String = "id", setAs: String = "sh"): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as(idAs), hashedShingles(shingles(col(textCol), n)).as(setAs))
      .filter(size(col(setAs)) > 0)
  }

  /** One MinHash-LSH signature pass: the persisted `(idAs, hs, mh)` frame
    * (shingle set + `numHashes` minhashes from the fused codegen'd
    * [[graft.functions.MinHashes]]) and its `(idAs, band, bkey)` band
    * postings, one row per document per band, the band key
    * `xxhash64(band, slice)` over that band's `numHashes / bands` rows.
    * The signature frame feeds both the band join and the verify, so it
    * is persisted: unpersisted, the interpreted-HOF prep pipeline ran ~4×
    * (the round-1 local[32] bench collapse, 92 s → ~4 s). */
  private def minhashBands(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, numHashes: Int, bands: Int,
                           idAs: String): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sigs = shingleSets(df, idCol, textCol, shingleN, idAs, "hs")
      .withColumn("mh", call_function("minhashes", col("hs"), lit(numHashes)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // band keys only travel through the candidate join — the shingle
    // arrays are re-joined afterwards (candidates are rare; shipping the
    // arrays ×bands through the shuffle is the expensive wrong plan)
    val banded = sigs.select(col(idAs),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, slice(mh, b * $r + 1, $r)))"))
        .as(Seq("band", "bkey")))
    (sigs, banded)
  }

  /** Prefix length of the AllPairs/PPJoin filters over a `len` column:
    * `|s| − ⌈t·|s|⌉ + 1`, with a 1e-9 guard so rounding can only admit
    * an extra candidate (verified away), never drop a qualifying pair. */
  private def prefixLen(threshold: Double): Column =
    (col("len") - ceil(lit(threshold) * col("len").cast("double") - lit(1e-9)) + 1)
      .cast("int")

  /** The rarity order of the prefix filters over an `(id, sh)` shingle-set
    * frame. Explodes it once to `(id, len, tok)` and numbers each
    * document's tokens from 1 as `rankAs`, by ascending corpus document
    * frequency, ties by token (the canonical AllPairs order: prefixes hold
    * each document's RAREST tokens, so per-token join buckets stay tiny).
    * `ranked` picks the exploded rows that get a rank (all by default;
    * the df counts always cover the whole frame). All shuffles are
    * equi-keyed (tok, tok, id).
    *
    * @return (exploded `(id, len, tok)` rows, ranked rows) */
  private def rarityRanked(sets: DataFrame, rankAs: String,
                           ranked: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    val ex = sets.select(col("id"), size(col("sh")).as("len"),
      explode(col("sh")).as("tok"))
    val dfMap = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("tok").asc)
    (ex, ranked(ex).join(dfMap.hint("merge"), "tok")
      .withColumn(rankAs, row_number().over(byRarity)))
  }

  /** The exact verify: candidate `pairs` (`keyA`, `keyB`) re-join both
    * sides' sorted sets, as `<set>_a` from `a` and `<set>_b` from `b`
    * (each an `(id, set)` frame, or one already keyed by its side's key),
    * score them, keep pairs scoring ≥ `threshold` when one is given, and
    * return `(keyA, keyB, scoreAs)`. */
  private def verifySets(pairs: DataFrame, keyA: String, keyB: String,
                         a: DataFrame, b: DataFrame, set: String,
                         threshold: Option[Double], scoreAs: String = "jaccard",
                         score: (Column, Column) => Column = jaccardSorted): DataFrame = {
    def side(f: DataFrame, key: String, suffix: String) =
      f.select(if (f.columns.contains(key)) col(key) else col("id").as(key),
        col(set).as(s"${set}_$suffix"))
    val scored = pairs.join(side(a, keyA, "a"), keyA).join(side(b, keyB, "b"), keyB)
      .withColumn(scoreAs, score(col(s"${set}_a"), col(s"${set}_b")))
    threshold.fold(scored)(t => scored.filter(col(scoreAs) >= t))
      .select(keyA, keyB, scoreAs)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline (all distributed, no driver loops):
    *   1. shingle: distinct word n-grams per doc;
    *   2. minhash: `numHashes` permutations approximated by
    *      `min(xxhash64(seed_j, shingle))` (one-permutation-per-seed, the
    *      standard trick) — computed by the fused codegen'd
    *      [[graft.functions.MinHashes]] expression;
    *   3. band: signature split into `bands` bands of `rowsPerBand`;
    *      band-key = xxhash64(band_id, slice) → explode to (doc, band, key);
    *   4. candidates: self-equi-join on (band, key) with id< id (shuffle
    *      hash join on the band key — this is the only pair-producing join
    *      and its size is O(true near-dups) for well-chosen b, r);
    *   5. verify: exact Jaccard on the candidates, filter ≥ `threshold`.
    *
    * The signature frame is persisted ([[minhashBands]]): it feeds both
    * sides of the band join and both verify joins.
    *
    * With b=32, r=4: P(miss | j=0.8) = (1-0.8⁴)³² ≈ 5e-8 — the sketch is
    * effectively exact above the threshold, so the brute-force oracle
    * agrees.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    val (withSig, banded) = minhashBands(df, idCol, textCol, shingleN,
      numHashes, bands, "id")
    val withHs = withSig.select("id", "hs")
    // merge-hinted like every corpus×corpus posting join in this file:
    // Catalyst sizes a Generate by its (pruned) child, so an exploded
    // band-key side is estimated ~KB no matter the corpus and gets
    // BROADCAST — measured as a 12.9 GiB broadcast failure on the LSH
    // sibling at sf1 (see embeddingNearDupFixed's bucket-join note)
    val candidates = banded.as("a").join(banded.as("b").hint("merge"), Seq("band", "bkey"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifySets(candidates, "id_a", "id_b", withHs, withHs, "hs", Some(threshold))
  }

  /** Incremental near-dup detection: flag an INCOMING shard's documents
    * that near-duplicate the EXISTING corpus — without ever producing an
    * existing×existing pair. This is the operational dedup shape at
    * 100 TB: the corpus's MinHash band index is maintained as a table
    * (here rebuilt from `existing`; in production, read back from
    * storage), and each new shard ships only its OWN band keys through
    * the candidate join, so per-shard cost is O(shard×bands) shuffle +
    * O(true cross matches) verify — re-running corpus-wide dedup per
    * ingest would be O(corpus×bands) every time.
    *
    * Same banding guarantees as [[minhashLsh]] (b=32, r=4 ⇒
    * P(miss | j≥0.8) ≈ 5e-8, effectively exact at the threshold), and
    * the exact-Jaccard verify keeps the output identical to the
    * brute-force cross comparison the oracle computes.
    *
    * @return (in_id, ex_id, jaccard) — one row per qualifying
    *         incoming-vs-existing pair
    */
  def incrementalNearDups(
      existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 2,
      numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    // one-shot: the standing corpus is re-signatured inline and both
    // signature frames stay pinned with the returned plan; a long-running
    // ingest loop persists the index frames once and probes them via
    // [[incrementalNearDupsIndexed]] (Engine.appendRowsDeduped)
    val (post, sigs, _) = minhashIndexFrames(
      existing, idCol, textCol, shingleN, numHashes, bands)
    incrementalNearDupsIndexed(post, sigs, incoming, idCol, textCol,
      shingleN, numHashes, bands, threshold)._1
  }

  /** The persistable MinHash-LSH index over a text corpus, as two
    * frames sharing ONE signature pass: `(ex_id, band, bkey)` postings
    * (the candidate blocker — one row per document per band) and
    * `(ex_id, hs)` hashed-shingle signatures (the exact-verify
    * artifact). Materialize both (e.g. as engine streams, postings
    * bucketed on `(band, bkey)`), append each ingested shard's rows,
    * and a per-ingest probe never re-shingles or re-minhashes the
    * standing corpus ([[incrementalNearDupsIndexed]]) — the text twin
    * of [[embeddingPostings]]. Unlike the embedding index there is no
    * layout solver: `(shingleN, numHashes, bands)` are fixed
    * parameters, so a rebuild is needed only when THEY change (the
    * verify threshold is not baked into the index at all).
    *
    * @return (postings, signatures, unpersist handle for the shared
    *         signature frame — invoke after both are consumed) */
  def minhashIndexFrames(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 2, numHashes: Int = 128,
                         bands: Int = 32): (DataFrame, DataFrame, () => Unit) = {
    val (s, post) = minhashBands(df, idCol, textCol, shingleN, numHashes,
      bands, "ex_id")
    (post, s.select("ex_id", "hs"), () => { s.unpersist(); () })
  }

  /** Incremental text near-dup against a PREBUILT MinHash index (see
    * [[minhashIndexFrames]]): the shard shingles+minhashes ITSELF,
    * probes the standing postings on `(band, bkey)`, and exact-verifies
    * candidate Jaccards against the standing `signatures` — the
    * standing corpus contributes two slim READS, never a re-shingle or
    * re-minhash. Same banding guarantees as [[minhashLsh]] (b=32, r=4 ⇒
    * P(miss | j≥0.8) ≈ 5e-8); `(shingleN, numHashes, bands)` must be
    * the parameters the index was built with.
    *
    * @return ((in_id, ex_id, jaccard) pairs at J ≥ threshold,
    *         unpersist handle for the shard signature frame) */
  def incrementalNearDupsIndexed(
      postings: DataFrame, signatures: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 2,
      numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.5,
      shardRows: Option[Long] = None): (DataFrame, () => Unit) = {
    val (inSig, inBand) = minhashBands(incoming, idCol, textCol, shingleN,
      numHashes, bands, "id")
    // band keys only through the join (the minhashLsh lesson);
    // SHUFFLE_HASH with the SHARD as build side — the standing postings
    // stream through untouched (bucketed storage on (band, bkey)
    // removes even their exchange). A bulk-sized incoming side degrades
    // to sort-merge past [[probeHashBuildCap]] exploded rows, as in the
    // embedding kernel. `shardRows` lets a caller with ledger knowledge
    // pin the pick; otherwise the plan-statistics estimate decides —
    // no extra action in the ingest path (round 10).
    val rows = shardRows.getOrElse(shardRowEstimate(incoming))
    val hinted = if (rows * bands.toLong <= probeHashBuildCap(incoming.sparkSession))
      inBand.as("a").hint("shuffle_hash") else inBand.as("a").hint("merge")
    val candidates = hinted
      .join(postings.select(col("ex_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select(col("a.id").as("in_id"), col("ex_id"))
      .dropDuplicates("in_id", "ex_id")
    // exact verify: unhinted so AQE broadcasts the shard-bounded
    // candidate side at runtime; the standing signatures are scanned,
    // never moved (the embedding-twin verify argument)
    val out = verifySets(candidates, "in_id", "ex_id", inSig, signatures, "hs",
      Some(threshold))
    (out, () => { inSig.unpersist(); () })
  }

  /** EXACT weighted-cosine pairs over tf·idf n-gram vectors via an
    * inverted-index (posting-list) equi-join — the WEIGHTED sibling of
    * [[ngramJaccardPairs]] and the workload the AllPairs literature
    * (Bayardo WWW'07) was actually written for: set Jaccard treats a
    * boilerplate gram and a rare content gram identically, tf·idf
    * cosine down-weights the ubiquitous ones, so template pages stop
    * pairing with everything that shares their chrome.
    *
    * Determinism recipe (the repo's micro-int convention): idf converts
    * to integer MILLI-units once per gram (`round(ln(N/df)·1e3)`), a
    * doc-gram weight is that integer × exact tf, so numerators
    * (Σ w_a·w_b) and norms (Σ w²) are EXACT BIGINT sums; the only
    * floating steps are the final `num / (√na·√nb)` on
    * exactly-representable integers (all ≤ 2^53 by the milli-unit
    * sizing) and the 6-dp output round — IEEE-identical in DuckDB.
    *
    * Scale shape: one (id, gram) tf aggregate, one gram-df aggregate
    * (both map-side combinable), N via 1-row broadcast, and the pair
    * stage is a posting equi-join on `gram` with the probe side bounded
    * by `queryPred` — candidate volume is Σ_gram df_q(g)·df(g), never
    * |corpus|², and grams in every doc carry w = 0 (ln 1 = 0) so the
    * heaviest postings contribute nothing and can be dropped by the
    * w > 0 prune without changing any cosine. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.5,
                       queryPred: Column = lit(true)): DataFrame = {
    // RAW grams (multiplicity kept — tf is a count, unlike the distinct
    // sets the Jaccard family uses); split bound once per row via the
    // 1-element-array transform, same as [[shingles]] (optimization
    // round 11 — the former lambda re-split the text per gram position)
    val grams = element_at(transform(array(split(col(textCol), " ")),
      words =>
        when(size(words) >= shingleN,
          transform(sequence(lit(0), size(words) - shingleN),
            i => concat_ws(" ", slice(words, i + lit(1), lit(shingleN)))))
        .otherwise(array().cast("array<string>"))), 1)
    // tf feeds BOTH the df aggregate and the weight join — pin it, or
    // the explode+aggregate subtree runs twice per action (optimization
    // round 11: measured 2× the gram pass inside one w materialization)
    val tf = df.select(col(idCol).as("id"), explode(grams).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfTbl = tf.groupBy("gram").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n"))
    val w = tf.join(dfTbl, "gram").crossJoin(broadcast(n))
      .withColumn("w",
        round(log(col("n").cast("double") / col("df")) * 1000, 0)
          .cast("long") * col("tf"))
      // w = 0 grams (df = N) are exact no-ops in every cosine — pruning
      // them empties precisely the posting lists that would dominate
      // the join (the stop-gram problem, solved by algebra not heuristics)
      .filter(col("w") > 0)
      .select("id", "gram", "w")
      // the weighted postings feed norms AND both join sides — persist,
      // like the family's signature frames (session-level eviction via
      // OperatorCache; the plain entry point pins deliberately)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // norms joins in twice (id_a and id_b sides) — pin the 1-row-per-doc
    // frame so the w scan behind it runs once
    val norms = w.groupBy("id").agg(sum(col("w") * col("w")).as("nrm"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val num = w.filter(queryPred)
      .select(col("id").as("id_a"), col("gram"), col("w").as("w_a"))
      .join(w.select(col("id").as("id_b"), col("gram"), col("w").as("w_b")),
        "gram")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("w_a") * col("w_b")).as("num"))
    num
      .join(norms.select(col("id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", col("num").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** EXACT n-gram Jaccard pairs via prefix-filter candidate generation —
    * the AllPairs/PPJoin construction (Bayardo, Ma & Srikant, "Scaling
    * Up All Pairs Similarity Search", WWW'07; public literature): with
    * every shingle set sorted in one global order, any pair with J ≥ t
    * shares its globally-smallest common element within BOTH prefixes of
    * length `|s| − ⌈t·|s|⌉ + 1` — so an equi-join on prefix tokens finds
    * every qualifying pair, and the exact verify discards false
    * candidates. Same results as the brute nested-loop join, but the
    * plan is explode → equi-join → verify.
    *
    * The global order is **ascending document frequency** (ties by token
    * hash) — the canonical AllPairs order (WW'07 §3). Prefixes then hold
    * each document's RAREST tokens, so the equi-join's per-token buckets
    * are tiny; a frequency-random order (e.g. raw hash, round 2's
    * mistake) fills prefixes with common shingles and the join explodes
    * (42.5 s → the bench's dominant line). df costs one extra aggregate
    * over the exploded shingles; any consistent order yields identical
    * results, so the gate output is unchanged.
    *
    * A length filter (same paper) drops candidates where
    * `min(|a|,|b|) < t·max(|a|,|b|)` — such pairs cannot reach J ≥ t
    * since `|∩| ≤ min` and `|∪| ≥ max`. Both the ⌈·⌉ and the length
    * comparison carry a 1e-9 float guard so rounding can only ADMIT
    * extra candidates (verified away), never drop a qualifying pair.
    *
    * The verify still runs the two-pointer merge over the hash-SORTED
    * arrays ([[jaccardSorted]]) — the df order exists only inside
    * candidate generation.
    *
    * `queryPred` (over `id`) bounds the probe side, as before. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, threshold: Double = 0.5,
      queryPred: Column = lit(true)): DataFrame = {
    val withSh = shingleSets(df, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // rare-first prefix: each document's first prefixLen tokens in (df, tok)
    // order — no pair blowup anywhere
    val pref = rarityRanked(withSh, "__rn")._2
      .filter(col("__rn") <= prefixLen(threshold))
      .select("id", "len", "tok")
    val candidates = pref.filter(queryPred)
      .select(col("id").as("id_a"), col("len").as("len_a"), col("tok"))
      .join(pref.select(col("id").as("id_b"), col("len").as("len_b"), col("tok")).hint("merge"), "tok")
      .filter(col("id_a") < col("id_b"))
      .filter(col("len_a").cast("double") >= lit(threshold) * col("len_b") - lit(1e-9) &&
              col("len_b").cast("double") >= lit(threshold) * col("len_a") - lit(1e-9))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifySets(candidates, "id_a", "id_b", withSh, withSh, "sh", Some(threshold))
  }

  /** Edit-distance-verified near-dup pairs: Jaccard-blocked candidate
    * generation followed by an exact banded Levenshtein verify — the
    * two-stage similarity-join shape of Ed-Join-style systems (Gravano
    * et al. VLDB'01 q-gram filtering; Xiao et al. VLDB'08), with the
    * repo's df-ordered PPJoin ([[ngramJaccardPairs]]) as the blocker.
    * The OPERATOR CONTRACT is the conjunction — pairs with word-shingle
    * `J ≥ blockJaccard` AND `levenshtein ≤ maxEdits` — so the blocked
    * plan equals the brute-force nested loop exactly (the blocker is
    * exact at its threshold; the verify is exact below its bound).
    * Character edit distance catches what set-based Jaccard ignores:
    * token ORDER and within-token edits (`"ab cd"` vs `"cd ab"` has
    * J = 1 but ed = 4).
    *
    * Scale shape: the O(len²/…) Levenshtein DP runs ONLY on candidate
    * pairs (output-sized, not corpus²), and the 3-arg banded form stops
    * at `maxEdits + 1` diagonal width — O(maxEdits·len) per pair, never
    * full quadratic. All shuffles are the blocker's equi-joins plus two
    * id-keyed text fetch joins.
    *
    * @return (id_a, id_b, jaccard, edit_distance), id_a < id_b
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, blockJaccard: Double = 0.3,
                        maxEdits: Int = 6): DataFrame = {
    require(maxEdits >= 0, "maxEdits must be non-negative")
    val texts = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    ngramJaccardPairs(df, idCol, textCol, shingleN, blockJaccard)
      .join(texts.select(col("id").as("id_a"), col("txt").as("txt_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("txt").as("txt_b")), "id_b")
      .withColumn("edit_distance",
        levenshtein(col("txt_a"), col("txt_b"), maxEdits).cast("long"))
      .filter(col("edit_distance") >= 0) // banded form yields -1 past the bound
      .select("id_a", "id_b", "jaccard", "edit_distance")
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo, SIGMOD'95):
    * total-order the corpus by a numeric blocking key, emit every pair
    * within `window` positions. The classic entity-resolution blocking
    * step — O(n·window) candidates instead of O(n²) — here for metrics
    * like doc length where near-dups necessarily sort near each other.
    *
    * Scale shape: the total order comes from [[Ranks.globalRowNumber]]
    * (two-pass range-bucket rank — NO single-partition window at any
    * size), and the sliding window is not a window function at all: each
    * row explodes into `window−1` rank probes and the pair is closed by
    * one equi-join on rank. One corpus shuffle for the rank, one for the
    * join, output linear in n·window.
    *
    * Ties in `sortCol` order by `idCol` (must be unique), making the
    * neighborhood — and hence the output — deterministic.
    *
    * @return (id_a, id_b, dist) where dist ∈ [1, window−1] is the rank
    *         gap; id_a is the lower-ranked side
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              sortCol: String, window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2 to emit any pair")
    val ranked = Ranks.globalRowNumber(
      df.select(col(idCol), col(sortCol)), sortCol, idCol,
      outCol = "__graft_rk")
    val probes = ranked
      .withColumn("__graft_i",
        explode(array((1 until window).map(lit(_)): _*)))
      .select(col(idCol).as("id_a"),
        (col("__graft_rk") + col("__graft_i")).as("__graft_rk2"),
        col("__graft_i").cast("long").as("dist"))
    probes
      .join(ranked.select(col(idCol).as("id_b"),
        col("__graft_rk").as("__graft_rk2")), "__graft_rk2")
      .select("id_a", "id_b", "dist")
  }

  /** EXACT asymmetric containment pairs — `C(A,B) = |A∩B| / |A| ≥ t`
    * (the "A is mostly inside B" relation that doc-level Jaccard misses:
    * a paragraph quoted verbatim inside a much larger page has high
    * containment but low Jaccard; substring-style dedup pipelines filter
    * on exactly this signal).
    *
    * Candidate generation is the one-sided prefix filter (the containment
    * variant of AllPairs/PPJoin, Bayardo et al. WWW'07): if
    * `|A∩B| ≥ ⌈t·|A|⌉`, then A has at most `|A| − ⌈t·|A|⌉` tokens outside
    * B, so its rarest-first prefix of length `|A| − ⌈t·|A|⌉ + 1` must hit
    * B. Unlike the symmetric join, only the PROBE side (A) prunes to a
    * prefix — the indexed side (B) keeps every token, because containment
    * has no lower bound on B's share of the intersection. The only valid
    * length filter is `|B| ≥ ⌈t·|A|⌉` (the intersection fits inside B).
    *
    * Scale shape: explode → df aggregate → rarity-ranked prefix (probe
    * side only) → equi-join on token → verify ([[jaccardSorted]]'s
    * two-pointer kernel divided by |A|). All shuffles are equi-keyed on
    * (tok | id); no pair blowup outside true candidates.
    *
    * @return (id_a, id_b, containment) with id_a ≠ id_b, C(A,B) ≥ t
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      queryPred: Column = lit(true)): DataFrame = {
    val withSh = shingleSets(df, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // probe prefix: the |A| − ⌈t·|A|⌉ + 1 rarest tokens of query documents
    val (ex, ranked) = rarityRanked(withSh, "__rn", _.filter(queryPred))
    val probe = ranked
      .filter(col("__rn") <= prefixLen(threshold))
      .select(col("id").as("id_a"), col("len").as("len_a"), col("tok"))
    val indexed = ex.select(col("id").as("id_b"), col("len").as("len_b"), col("tok"))
    val candidates = probe.join(indexed.hint("merge"), "tok")
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("len_b").cast("double")
        >= lit(threshold) * col("len_a") - lit(1e-9))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifySets(candidates, "id_a", "id_b", withSh, withSh, "sh", Some(threshold),
      "containment", (a, b) =>
        call_function("sorted_intersect_count", a, b).cast("double") / size(a).cast("double"))
  }

  /** Top-k most-Jaccard-similar documents per query — the retrieval
    * twin of [[ngramJaccardPairs]] (round 7): instead of "every pair
    * above τ", each query document ranks its τ-relevant neighbor set
    * and keeps the k best, the fetch-similar-examples / dedup-triage
    * shape. The contract is EXACT top-k among pairs with J ≥
    * `threshold`: the relevance floor is what keeps the operator
    * bucketable — unbounded top-k (no floor) degenerates to all-pairs
    * for queries with < k genuine neighbors.
    *
    * Candidate generation is the ONE-SIDED prefix filter over the
    * query side against the full index ([[containmentPairs]]'s
    * blocker): J(A,B) ≥ τ ⇒ |A∩B|/|A| ≥ τ (since |A| ≤ |A∪B|), so A's
    * rarest-first prefix of length |A| − ⌈τ·|A|⌉ + 1 must hit B —
    * exact at the threshold, never a recall gamble. The two-sided
    * Jaccard length filter (τ·|A| ≤ |B| ≤ |A|/τ) prunes before the
    * verify; ranks are per-query windows (bounded by the candidate
    * set, never a global window), ties broken by neighbor id.
    *
    * Round 9 (VERDICT r8 task 4) — the verify is K-AWARE, not
    * τ-floor-blind. Both sides carry their token's POSITION in the
    * document's global-rarity order, and the first (rarest) shared
    * token bounds the overlap: common tokens keep their relative order
    * under one global total order, so every other common token sits
    * after that match in BOTH documents —
    * `|A∩B| ≤ 1 + min(|A|−pos_a, |B|−pos_b)`, an admissible upper
    * bound `ub_j` on J per candidate (the PPJoin positional filter,
    * Xiao et al., WWW'08, re-aggregated per pair). Verification then
    * runs in two phases, the top-k join shape of Xiao et al., ICDE'09:
    * phase 1 exact-verifies only each query's `budget ≈ O(k)` best
    * candidates by `ub_j`; the k-th TRUE score from phase 1 closes the
    * query — phase 2 verifies just the stragglers whose bound still
    * beats it (`ub_j ≥ kth`, so a tie-break displacement is also
    * caught; queries with < k phase-1 survivors fall back to the τ
    * floor). Exact by construction — a skipped candidate has
    * `J ≤ ub_j < kth` and cannot enter the top k — while the verified
    * set tracks k instead of the τ-floor candidate count (the ~35×
    * sf10 outlier, PERF.md).
    *
    * @return (id_a, id_b, jaccard, rnk) — rnk ∈ [1, k] per query id_a
    */
  def jaccardTopK(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, threshold: Double = 0.2, k: Int = 5,
                  queryPred: Column = lit(true)): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val withSh = shingleSets(df, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // positions under ONE global (df, tok) order feed both the probe
    // prefix and the positional bound — persisted because probe and
    // index both consume it (and the df join + per-id sort is the
    // expensive half of candidate generation)
    val exPos = rarityRanked(withSh, "pos")._2
      .persist(StorageLevel.MEMORY_AND_DISK)
    val probe = exPos.filter(queryPred)
      .filter(col("pos") <= prefixLen(threshold))
      .select(col("id").as("id_a"), col("len").as("len_a"),
        col("pos").as("pos_a"), col("tok"))
    val indexed = exPos.select(col("id").as("id_b"), col("len").as("len_b"),
      col("pos").as("pos_b"), col("tok"))
    // per pair, the first shared token (min pos_a = min global key =
    // min pos_b among common tokens) carries the tightest sound bound
    val candidates = probe.join(indexed.hint("merge"), "tok")
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("len_b").cast("double") >= lit(threshold) * col("len_a") - lit(1e-9) &&
              col("len_a").cast("double") >= lit(threshold) * col("len_b") - lit(1e-9))
      .groupBy("id_a", "id_b")
      .agg(min(struct(col("pos_a"), col("pos_b"))).as("m"),
        first(col("len_a")).as("len_a"), first(col("len_b")).as("len_b"))
      .withColumn("ub_ov", lit(1) + least(col("len_a") - col("m.pos_a"),
        col("len_b") - col("m.pos_b")))
      .withColumn("ub_j", col("ub_ov").cast("double") /
        (col("len_a") + col("len_b") - col("ub_ov")).cast("double"))
      .filter(col("ub_j") >= lit(threshold) - lit(1e-9))
    val byUb = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("ub_j").desc, col("id_b").asc)
    val ranked = candidates
      .withColumn("__ubr", row_number().over(byUb))
      .select("id_a", "id_b", "ub_j", "__ubr")
      .persist(StorageLevel.MEMORY_AND_DISK)
    def verify(c: DataFrame): DataFrame = verifySets(c.select("id_a", "id_b"),
      "id_a", "id_b", withSh, withSh, "sh", None)
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("jaccard").desc, col("id_b").asc)
    // phase 1: the O(k) most-promising candidates per query, exact
    val budget = math.max(2 * k, k + 8)
    val r1 = verify(ranked.filter(col("__ubr") <= budget))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the k-th true score closes the query; absent (< k phase-1
    // survivors at τ) the floor stays τ and phase 2 checks everything
    val kth = r1.filter(col("jaccard") >= threshold)
      .withColumn("__r", row_number().over(byScore))
      .filter(col("__r") === k)
      .select(col("id_a"), col("jaccard").as("__kth"))
    val r2 = verify(ranked.filter(col("__ubr") > budget)
      .join(kth, Seq("id_a"), "left")
      .filter(col("ub_j") >= coalesce(col("__kth"), lit(threshold)) - lit(1e-9)))
    r1.union(r2)
      .filter(col("jaccard") >= threshold)
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .filter(col("rnk") <= k)
      .select("id_a", "id_b", "jaccard", "rnk")
  }

  /** Per-document cross-corpus duplicated-n-gram fraction — the doc-level
    * diagnostic from Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better", public literature): what share of a
    * document's distinct n-grams also occur in at least one OTHER
    * document. High fractions flag boilerplate-heavy or near-duplicate
    * docs without materializing any pair list.
    *
    * Scale shape: one explode to distinct (doc, gram), one gram-keyed
    * count aggregate (map-side combinable), one equi-join back, one
    * per-doc aggregate — no joins over pairs, so cost is corpus-linear
    * regardless of duplication structure.
    *
    * @return (doc_id, n_ngrams, dup_frac) for docs with ≥ n words
    */
  def dupNgramFraction(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // hashed grams (8-byte keys through both shuffles, same ~4e-9
    // collision argument as [[hashedShingles]]); persisted because BOTH
    // the df aggregate and the verdict join consume the explode —
    // without it the interpreted shingle HOF chain runs twice
    val ex = df.select(col(idCol).as("did"),
      explode(hashedShingles(shingles(col(textCol), shingleN))).as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gDf = ex.groupBy("g").agg(count(lit(1)).as("gdf"))
    ex.join(gDf.hint("merge"), "g")
      .groupBy(col("did").as(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("gdf") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_ngrams"), 6))
      .select(idCol, "n_ngrams", "dup_frac")
  }

  /** Cross-document duplicated-SPAN masking — the doc-rewriting half of
    * exact substring deduplication (Lee et al. 2021 §4 run their masking
    * over a suffix array; the fixed-span relational formulation here
    * masks every token covered by some `spanTokens`-long window whose
    * exact text occurs in ≥ 2 distinct documents, which is the same
    * verdict for spans of exactly that length and needs no suffix
    * structure). Differs from [[dupNgramFraction]] (a per-doc score) and
    * [[graft.operators.TextAnalysis.removeBoilerplate]] (non-overlapping
    * fixed segments): windows here OVERLAP, so a duplicated region is
    * masked precisely token-by-token, not rounded to segment boundaries.
    *
    * Plan: positional window explode → hashed-window df (distinct docs,
    * map-side combinable) → duplicated window starts → covered-position
    * explode (×spanTokens per duplicated start, bounded by corpus dup
    * volume) → anti-join against the token stream → ordered reassembly.
    * Every shuffle is equi-keyed on (window-hash | doc | doc,pos); no
    * pair join anywhere, so cost is corpus-linear plus true-duplication
    * volume.
    *
    * @return (doc_id, n_tokens, n_masked, clean_text) for every doc with
    *         ≥ spanTokens tokens (fully-masked docs keep clean_text = "")
    */
  def maskDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int = 8): DataFrame = {
    val words = split(col(textCol), " ")
    val base = df.filter(col(textCol).isNotNull && size(words) >= spanTokens)
      .select(col(idCol).as("did"), words.as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val toks = base.select(col("did"), posexplode(col("w")).as(Seq("pos", "tok")))
    val grams = base.select(col("did"),
      posexplode(expr(
        s"transform(sequence(0, size(w) - $spanTokens), i -> xxhash64(concat_ws(' ', slice(w, i + 1, $spanTokens))))"))
        .as(Seq("p", "gh")))
    val gdf = grams.select("gh", "did").distinct()
      .groupBy("gh").agg(count(lit(1)).as("gdocs"))
    val covered = grams.join(gdf.filter(col("gdocs") > 1).hint("merge"), "gh")
      .select(col("did"), explode(sequence(col("p"), col("p") + spanTokens - 1)).as("pos"))
      .distinct()
    val kept = toks.join(covered.hint("merge"), Seq("did", "pos"), "left_anti")
    val rebuilt = kept.groupBy("did")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)"))
          .as("clean_text"))
    base.select(col("did"), size(col("w")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("did"), "left")
      .select(col("did").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_masked"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** 56-bit SimHash of whitespace tokens, built entirely from commutative
    * aggregations (explode words × bits → per-bit vote sums → weighted
    * recombine), so the result is independent of row/partition order and
    * reproducible bit-for-bit in the DuckDB oracle via [[CrossHash]].
    *
    * @return (id, simhash)
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // per-doc fused pass (graft.functions.Simhash56): the per-bit vote sum
    // is commutative, so this equals the relational explode(tokens × bits)
    // → groupBy formulation (the DuckDB oracle's shape) without its
    // 56×|corpus|-row shuffle
    df.select(col(idCol).as("id"),
      call_function("simhash56",
        transform(split(col(textCol), " "), t => CrossHash.hash56(t))).as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming, found by
    * Hamming-LSH banding instead of an all-pairs join.
    *
    * Generalized pigeonhole (multi-index Hamming search, cf. HmSearch /
    * Manku et al.'s simhash dedup, WWW'07): split the 56 signature bits
    * into `bands` disjoint bands allowing up to `e` differing bits per
    * band; if every band of a pair differed in ≥ e+1 bits the total
    * would be ≥ (e+1)·bands > maxHamming, so any qualifying pair has
    * some band within e — NO false negatives. Candidates come from an
    * equi-join where the a-side probes every in-band bit-flip mask of
    * ≤ e bits (identity for e=0). The hamming verify then filters false
    * positives. Shuffle key is 2 ints + a small band value; the
    * signature long rides along so the verify needs no re-join.
    *
    * Band economics: e=0 needs maxHamming+1 bands, so at maxHamming=10
    * each band holds only ~5 bits → 32 buckets → enormous per-bucket
    * collision lists on skewed corpora (41.5 M joined rows for 0.58 M
    * real pairs at sf0.1). e=1 halves the band count, giving ~9-bit
    * bands (512 buckets) at the price of (1+w) probe rows per band —
    * measured ~40 % fewer joined rows on the gate corpus. e is chosen
    * automatically: wide-band probing once exact banding would drop
    * below 8 bits per band.
    *
    * `queryPred` (over `id`) bounds the a-side.
    *
    * Default radius 3 (round 8 — VERDICT r7 item 5): hamming ≤ 10 of 56
    * bits is a DIFFUSE relation, not near-duplication — at sf10 it
    * admitted ~9% of within-replica pairs (118M output rows), so the
    * output volume itself becomes the scale wall regardless of how well
    * the banding prunes. Manku et al.'s production setting is k = 3 on
    * 64-bit signatures; ≤ 3 of 56 is the same selectivity regime, keeps
    * e = 0 exact banding (4 bands × 14 bits → 16k buckets), and a
    * pipeline that genuinely wants the diffuse radius passes
    * `maxHamming = 10` explicitly. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, queryPred: Column = lit(true)): DataFrame = {
    val sh = simhash(df, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    hammingPairs(sh, "id", "simhash", CrossHash.Bits, maxHamming, queryPred)
  }

  /** Hamming-LSH pairs over ANY precomputed fixed-width hash column —
    * the banding core [[simhashPairs]] rides, factored out (round 6) so
    * perceptual image hashes ([[Multimodal.dhash56]]) and any future
    * bit-signature reuse the identical pigeonhole machinery and its
    * no-false-negative argument. Caller owns persistence of `hashes`.
    * Emits (id_a, id_b, hamming) with id_a < id_b; `queryPred` (over
    * `idCol`) bounds the probe side. */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                   nBits: Int, maxHamming: Int,
                   queryPred: Column = lit(true)): DataFrame = {
    // 63-bit ceiling (review): a 64-bit single band would make
    // (1L << 64) - 1 == 0 under JVM mod-64 shifts, masking every hash
    // to one bucket — a silent all-pairs join. 64-bit signatures must
    // band as two 32s by dropping a bit or widening the API first.
    require(nBits >= 1 && nBits <= 63,
      s"hammingPairs supports 1..63 signature bits, got $nBits")
    val sh = hashes.select(col(idCol).as("id"), col(hashCol).as("simhash"))
    // in-band error budget: probe 1-bit flips when exact banding would
    // make bands narrower than ~8 bits (buckets too coarse to prune)
    val e = if (nBits / (maxHamming + 1) < 8) 1 else 0
    val bands = math.min(maxHamming / (e + 1) + 1, nBits)
    val bounds = (0 to bands).map(i => i * nBits / bands)
    def bandBits(i: Int): Column = {
      val lo = bounds(i)
      val w = bounds(i + 1) - lo
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1))
    }
    val bKeys = (0 until bands).map(i =>
      struct(lit(i).as("band"), bandBits(i).as("bits")))
    // a-side probes: band value XOR every mask of ≤ e bits (within one
    // band a pair collides on at most ONE mask — the mask IS the band
    // xor — so cross-band duplicates are the only ones to suppress)
    val aKeys = (0 until bands).flatMap { i =>
      flipMasks(bounds(i + 1) - bounds(i), e).map(mask =>
        struct(lit(i).as("band"), bandBits(i).bitwiseXOR(lit(mask)).as("bits")))
    }
    def exploded(keys: Seq[Column]) =
      sh.select(col("id"), col("simhash"), explode(array(keys: _*)).as("bk"))
        .select(col("id"), col("simhash"),
          col("bk.band").as("band"), col("bk.bits").as("bits"))
    val a = exploded(aKeys).filter(queryPred)
    val b = exploded(bKeys)
    // dedup-free emission: a pair that matches k bands would surface k
    // times; instead of a dropDuplicates shuffle, each joined row emits
    // only when its band is the pair's FIRST matching band (band xor
    // within e) — a pure function of simhash_a XOR simhash_b, unrolled
    // as codegen'd when-chains, so dedup costs zero shuffle (the
    // standard LSH trick). Cheapest predicates run first: id compare,
    // the 2-op bit_count cut, then the `bands`-branch chain.
    val xorCol = col("a.simhash").bitwiseXOR(col("b.simhash"))
    val firstBand = (0 until bands).foldRight(lit(-1): Column) { (i, els) =>
      val lo = bounds(i)
      val w = bounds(i + 1) - lo
      when(bit_count(shiftright(xorCol, lo).bitwiseAND(lit((1L << w) - 1))) <= e,
        lit(i)).otherwise(els)
    }
    a.as("a").join(b.as("b").hint("merge"), Seq("band", "bits"))
      .filter(col("a.id") < col("b.id") &&
        bit_count(xorCol) <= maxHamming &&
        col("band") === firstBand)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(xorCol).cast("long").as("hamming"))
  }

  /** Embedding near-duplicates with an EXPLICIT LSH layout (fixed
    * `tables`/`planes`): pairs with cosine ≥ threshold, via multi-table
    * random-hyperplane LSH candidate generation + exact cosine verify.
    *
    * This is the layout CORE; [[embeddingNearDup]] — the public default —
    * derives `tables`/`planes` from the corpus size and delegates here.
    * Call this directly only when pinning a layout on purpose (probes,
    * replaying a historical run): a fixed `planes` means a fixed bucket
    * count, so per-bucket occupancy — and with it candidate volume,
    * Θ(n²·probes/2^planes) — grows quadratically with the corpus
    * (measured 26× wall time at 10× data, PERF.md round 5).
    *
    * Each of `tables` independent sign-signatures ([[Similarity.planeSignature]]
    * with per-table seeds) buckets the corpus; the a-side probes its own
    * bucket plus every signature within hamming ≤ `probeRadius` (standard
    * multi-probe). A true pair is missed only if it collides in NO table
    * — the OR-construction drives the miss rate to ~q^L; with the default
    * (8 tables × 6 planes, radius 2) the gate corpus at threshold 0.45
    * yields pairs identical to the brute-force oracle at both sf0.01 and
    * sf0.1 (verified offline; deterministic seeds make it reproducible).
    *
    * Candidate economics: at threshold 0.45 (near-random vectors, per-bit
    * disagreement ≈ 0.35) the buckets prune little — brute force is
    * genuinely competitive at that threshold. At real near-dup thresholds
    * (≥ 0.8, per-bit disagreement ≤ 0.2) the same plan prunes candidates
    * by orders of magnitude; the equi-join shape is what survives the
    * 100× scale-up, and AQE skew-splits hot buckets.
    */
  def embeddingNearDupFixed(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, dims: Int = 64,
                            tables: Int = 8, planes: Int = 6,
                            probeRadius: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-table signatures, seeded independently, all computed in ONE
    // fused codegen'd pass (PlaneSignatures) and PERSISTED — the explode
    // chain below would otherwise inline the signature expression into
    // its Generate nodes and re-evaluate it per output row. The float
    // vectors do NOT travel through the candidate join — shipping them
    // ×tables×probes was 8× the verify cost; they re-join from the
    // persisted frame at the end.
    val withSigs = e.withColumn("sigs", tableSignatures(col("v"), planes, tables, dims))
      .select("id", "sigs")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Cross-table pair dedup strategy (round 6): within one table a pair
    // collides at most once (exactly one flip maps sig_a onto sig_b), so
    // duplicates only arise ACROSS tables. At small table counts the
    // cheapest dedup is the standard first-colliding-table predicate — a
    // codegen'd when-chain over the signature arrays carried through the
    // join, zero extra shuffle. But the arrays weigh `tables` longs PER
    // SIDE of every joined row, so at the high table counts the
    // recall-compensation picks in dense regimes (θ≈0.45 ⇒ 40+ tables)
    // the join shuffles ~2·tables·8 B of dead weight per candidate —
    // measured as the sf1 wall-clock cliff. Past `SlimDedupTables` the
    // sigs stay home and candidates dedup by a DISTINCT on the slim
    // 16-byte (id_a, id_b) pairs instead: one extra shuffle, sized by
    // the candidate count, not candidate×tables.
    val slim = tables > SlimDedupTables
    val b = {
      val base = tableRows(withSigs, Seq(col("id").as("id_b"), col("sigs").as("sigs_b")))
      if (slim) base.drop("sigs_b") else base
    }
    // a-side: additionally exploded to all buckets within probeRadius —
    // every bit-combination up to the radius, so the join's collision set
    // exactly matches the `firstTbl` predicate below for ANY radius
    // (round 2 hard-coded radius ≤ 2 flips while firstTbl assumed the
    // full radius: silent false negatives at probeRadius ≥ 3)
    require(probeRadius <= planes,
      s"probeRadius ($probeRadius) cannot exceed planes ($planes)")
    val a = {
      val base = probeRows(withSigs,
        Seq(col("id").as("id_a"), col("sigs").as("sigs_a")), planes, probeRadius)
      if (slim) base.drop("sigs_a") else base
    }

    def tblHamming(t: Int): Column = bit_count(
      element_at(col("sigs_a"), t + 1).bitwiseXOR(element_at(col("sigs_b"), t + 1)))
    val firstTbl = (0 until tables).foldRight(lit(-1): Column) { (t, els) =>
      when(tblHamming(t) <= probeRadius, lit(t)).otherwise(els)
    }

    // the bucket join is corpus×tables(×probes) on BOTH sides — never
    // broadcastable at scale. Catalyst's size estimate for the explode
    // chain rides the tiny persisted source (Generate output is not
    // multiplied), so without the hint it picked a broadcast build of
    // the 134M-row probe side at sf1 (~5 GB silently before the
    // 512-table layouts; a hard >8 GiB failure after). MERGE keeps it a
    // spillable sort-merge join at any scale.
    val joined = a.join(b.hint("merge"), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
    val candidates =
      if (slim) joined.select("id_a", "id_b").distinct()
      else joined.filter(col("tbl") === firstTbl).select("id_a", "id_b")

    // vector lookup joins are left UN-hinted on purpose: `e` is persisted
    // so its in-memory stats drive size-based planning — broadcast when
    // the corpus fits (the bench case), shuffle hash join on id when it
    // doesn't. A forced broadcast() would hard-fail past the 8 GB
    // broadcast limit instead of degrading.
    candidates
      .join(e.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cos", round(Similarity.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-duplicates — THE DEFAULT ENTRY POINT, with the
    * signature width DIMENSIONED BY THE CORPUS (round 6: promoted from
    * the round-5 `embeddingNearDupScaled` opt-in to the default after
    * the sf0.1→sf1 bench record proved the fixed layout super-linear).
    * With `planes` FIXED at 6 ([[embeddingNearDupFixed]]), bucket count
    * stays 64 no matter how big the corpus grows, so per-bucket
    * occupancy is n/64 and candidate volume is
    * Θ(n²·probes/2^planes) — measured 26× time at 10× data. The layout
    * here comes from [[lshLayout]]: enumerate (planes ≤ 20, radius ≤
    * `probeRadius` — the caller's radius is a MAXIMUM), compensate
    * recall analytically per layout — the per-table collision
    * probability of a true pair at cosine θ is
    * `p_band = P[Binom(planes, q) ≤ radius]` with per-bit
    * disagreement `q = arccos(θ)/π`, so `tables = ln(missTarget) /
    * ln(1 − p_band)` holds the OR-construction miss rate at the target
    * regardless of planes — and keep the feasible triple minimizing
    * estimated candidate volume `tables·(probes·(n + n²/2^planes) + n)`.
    * The end-to-end cost is the classic LSH `Θ(n^(1+ρ))` with
    * `ρ = ln p₁ / ln p₂ < 1` — genuinely SUB-QUADRATIC, not linear, and
    * the gap over the fixed layout widens with n (measured at θ=0.8,
    * PERF.md round 7; `Probe gates` over ScaleData K× directories
    * re-measures `embedding_neardup_scaled`).
    *
    * The economics remain threshold-bound: at θ ≈ 0.45, q ≈ 0.35 makes
    * p_band small enough that the compensated table count explodes.
    * `maxTables` bounds that cost as a CONSTRAINT, never a recall
    * clamp: layouts whose compensation exceeds `maxTables` are simply
    * infeasible to the solver — a dense threshold pays candidate
    * volume (fuller buckets), the analytic recall bound holds
    * regardless (the sf1 differential caught the earlier clamp
    * silently raising the miss rate ~500× and dropping one true pair;
    * see PERF.md round 6). At real near-dup thresholds (θ ≥ 0.8,
    * q ≤ 0.2) the compensation is a handful of tables and the linear
    * regime is the one that matters at 100 TB. NOTE on DENSE thresholds
    * at LOW dims: at d = 64 the random-cosine σ is 1/√64 = 0.125, so a
    * 0.45 threshold sits ~3.6σ into the noise tail and the TRUE output
    * itself grows ~n² on weakly-clustered corpora — no exact operator
    * can beat its own output size; pick thresholds ≥ 5σ·(1/√d) if the
    * intent is near-duplicates.
    *
    * `n` (corpus size) is passed by the caller or counted once — a
    * metadata-scale action of the same class as the IVF centroid
    * collect. */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, dims: Int = 64,
                       targetOccupancy: Int = 16,
                       missTarget: Double = 1e-6,
                       probeRadius: Int = 2,
                       maxTables: Int = 512,
                       knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(emb.count())
    val (planes, tables, radius) = lshLayout(n, threshold, targetOccupancy,
      missTarget, probeRadius, maxTables)
    embeddingNearDupFixed(emb, idCol, vecCol, threshold, dims,
      tables = tables, planes = planes, probeRadius = radius)
  }

  /** The corpus-dimensioned LSH layout solver: the (planes, tables,
    * probe radius) triple that MINIMIZES estimated candidate volume
    * subject to the analytic per-pair miss bound `missTarget` and the
    * `maxTables` signature-cost cap. The caller's `probeRadius` is a
    * MAXIMUM the solver may use, not a pin.
    *
    * Round-6 fix from the sf1 DIFFERENTIAL (not the bench): the first
    * corpus-dimensioned layout clamped the compensated table count at
    * `maxTables`, which silently DEGRADED the miss bound whenever the
    * occupancy-derived plane count made p_band too small — at sf1 /
    * θ=0.45 the effective per-pair miss rate rose to ~5e-4 and the
    * default path dropped exactly one of 16 765 true pairs. The cap is
    * a CONSTRAINT, not a clamp: an infeasible (missTarget, maxTables)
    * combination throws rather than ship a degraded miss bound.
    *
    * Round-7 fix from the 100× embedding-LSH scale probe: the previous
    * rule held per-BUCKET occupancy constant (planes ≈ log₂(n/occ))
    * and used the caller's probe radius verbatim — but with
    * multi-probe the a-side explodes to `probes = Σ_{k≤r} C(planes,k)`
    * buckets per table, so the PROBED occupancy is occ·probes and the
    * candidate join carries a probes·tables factor the occupancy rule
    * never saw. At n = 210k / θ = 0.8 it picked (planes 14, r 2,
    * 26 tables) ⇒ ~7.4e9 expected candidate rows — a ~100 GB shuffle
    * that filled the probe host's disk. The solver now enumerates
    * planes ∈ [1, 20] × radius ∈ [0, probeRadius], computes the
    * recall-compensating table count for each, and keeps the feasible
    * triple minimizing [[lshLayoutCost]]
    *   `tables · (probes · (n + n²/2^planes) + n)`
    * — a-side explode rows plus expected uniform-bucket collision
    * pairs plus b-side postings. Same miss bound, same exact verify;
    * only the candidate economics move (~3.5× fewer candidate rows at
    * the 210k/θ=0.8 point, and the radius drops to 0 automatically in
    * regimes where many cheap tables beat probing).
    *
    * The default target is 1e-6: sparse enough that even a 10⁵-pair
    * output expects < 0.1 misses (the hash-exact gate contract), still
    * a handful of tables at real near-dup thresholds (θ ≥ 0.8).
    * `targetOccupancy` is retained for source compatibility; the
    * solver's cost model subsumes it.
    *
    * The callers' default `maxTables` is 512 (raised from 48, round 7):
    * in slim-dedup mode the per-table cost is one posting row plus
    * planes·dims fused adds — n·tables, LINEAR — while a starved table
    * budget forces the solver into multi-probe layouts whose a-side
    * explode carries the probes×tables product. At 210k/θ=0.8 the
    * 48-cap optimum was (18 planes, r 2, 48 tables) ≈ 3.1e9 row-units;
    * 512 admits (15 planes, r 0, ~430 tables) ≈ 8e8 — the signature
    * arithmetic is priced into [[lshLayoutCost]] so the solver only
    * buys tables where they genuinely beat probing.
    */
  private[graft] def lshLayout(n: Long, threshold: Double,
                                   targetOccupancy: Int, missTarget: Double,
                                   probeRadius: Int, maxTables: Int): (Int, Int, Int) = {
    def tablesFor(planes: Int, radius: Int): Int = {
      val p = pBand(threshold, planes, radius)
      if (p >= 1.0) 2
      else math.max(2, math.ceil(math.log(missTarget) / math.log(1.0 - p)).toInt)
    }
    val feasible = for {
      planes <- 1 to 20
      radius <- 0 to math.min(probeRadius, planes)
      tables = tablesFor(planes, radius)
      if tables <= maxTables
    } yield (lshLayoutCost(n, planes, radius, tables), planes, radius, tables)
    if (feasible.isEmpty)
      throw new IllegalArgumentException(
        s"no sign-LSH layout meets missTarget=$missTarget within " +
          s"maxTables=$maxTables at threshold=$threshold, " +
          s"probeRadius<=$probeRadius — raise maxTables or relax missTarget")
    // deterministic tie-break: fewer planes, then smaller radius
    val best = feasible.minBy(c => (c._1, c._2, c._3))
    (best._2, best._4, best._3)
  }

  /** The layout solver's candidate-volume estimate (exposed for the
    * spec): a-side explode rows `n·tables·probes`, expected
    * uniform-bucket collision pairs `n²·probes·tables/2^planes`, plus
    * the b-side postings and signature arithmetic `n·tables·(1 + planes/8)`
    * — one posting row is weighted like ~8 plane-dot products, so
    * many-cheap-tables layouts pay for their signature compute instead
    * of looking free. */
  private[operators] def lshLayoutCost(n: Long, planes: Int, radius: Int,
                                       tables: Int): Double = {
    val probes = (0 to math.min(radius, planes)).map(choose(planes, _)).sum
    tables.toDouble *
      (probes * (n.toDouble + n.toDouble * n.toDouble / math.pow(2.0, planes)) +
        n.toDouble * (1.0 + planes / 8.0))
  }

  /** Incremental EMBEDDING near-dup (round 7 — VERDICT r6 item 5): flag
    * an INCOMING shard's vectors that near-duplicate the EXISTING corpus
    * without ever producing an existing×existing pair — the
    * embedding-space sibling of [[incrementalNearDups]], and the batch
    * kernel the streaming ingest twin probes per micro-batch
    * (StreamingCurationSpec).
    *
    * Banding is [[embeddingNearDup]]'s sign-plane LSH with the layout
    * dimensioned by the EXISTING corpus (the standing index's size — the
    * shard does not re-dimension the index it probes; pass
    * `knownExistingCount` from the ingest ledger to skip the count
    * action). The probe flips ride the INCOMING side, so per-shard cost
    * is O(|shard|·tables·probes) shuffle + exact cosines on true
    * cross-candidates only. The exact verify keeps output identical to
    * the brute-force incoming×existing comparison (the oracle), with the
    * same analytic `missTarget` bound on LSH recall.
    *
    * @return (in_id, ex_id, cos) — one row per qualifying
    *         incoming-vs-existing pair at cosine ≥ threshold
    */
  def embeddingIncrementalNearDups(existing: DataFrame, incoming: DataFrame,
                                   idCol: String, vecCol: String,
                                   threshold: Double, dims: Int = 64,
                                   targetOccupancy: Int = 16,
                                   missTarget: Double = 1e-6,
                                   probeRadius: Int = 2, maxTables: Int = 512,
                                   knownExistingCount: Option[Long] = None): DataFrame =
    embeddingIncrementalNearDupsManaged(existing, incoming, idCol, vecCol,
      threshold, dims, targetOccupancy, missTarget, probeRadius, maxTables,
      knownExistingCount)._1

  /** [[embeddingIncrementalNearDups]] plus a handle that unpersists its
    * internal frames: a long-running caller probing per ingest must invoke
    * it after consuming the result, or every ingest leaks MEMORY_AND_DISK
    * frames into the block store. */
  def embeddingIncrementalNearDupsManaged(
      existing: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double, dims: Int = 64,
      targetOccupancy: Int = 16, missTarget: Double = 1e-6,
      probeRadius: Int = 2, maxTables: Int = 512,
      knownExistingCount: Option[Long] = None): (DataFrame, () => Unit) = {
    graft.functions.GraftFunctions.register(existing.sparkSession)
    val n = knownExistingCount.getOrElse(existing.count())
    val (planes, tables, radius) = lshLayout(n, threshold, targetOccupancy,
      missTarget, probeRadius, maxTables)
    val ex = existing.select(col(idCol), col(vecCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one-shot callers re-signature the standing corpus inline; a
    // long-running ingest loop should persist these postings once and
    // probe them via [[embeddingIncrementalNearDupsIndexed]] instead
    // (Engine.appendRowsDedupedEmbedding does exactly that)
    val exPost = embeddingPostings(ex, idCol, vecCol, planes, tables, dims)
    val (out, innerCleanup) = embeddingIncrementalNearDupsIndexed(
      exPost, ex, incoming, idCol, vecCol, threshold,
      planes, tables, radius, dims)
    (out, () => { innerCleanup(); ex.unpersist(); () })
  }

  /** Probe-side exploded-row cap for the shuffle-hash candidate join in
    * the incremental kernels: below it the SHARD postings are the hash
    * build (the index streams through unsorted — the right plan for
    * micro-batch ingest); above it the join degrades to sort-merge,
    * trading an index sort for spillability (a hash build of a
    * bulk-sized probe side dies with SparkOutOfMemoryError — measured
    * at 26B exploded rows, sf10 θ=0.45). Default 100M rows ≈
    * 3M/partition × ~40 B ≈ 125 MB per build at 32 shuffle partitions;
    * overridable via `spark.graft.dedup.probeHashBuildCap` (specs pin
    * the merge-plan ≡ hash-plan differential by forcing it to 0). */
  private[operators] def probeHashBuildCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.dedup.probeHashBuildCap")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(100000000L)

  /** Shard-row ESTIMATE for the hash-vs-merge pick in the indexed probe
    * kernels (round 10 — VERDICT r9 item 7: the `count()` action ran an
    * extra job per micro-batch ingest). Plan-statistics rowCount when
    * the optimizer knows it (CBO, materialized cache); else a
    * DELIBERATELY-HIGH bytes/8 bound — real text/embedding rows are far
    * wider than 8 bytes, so the error direction is toward MERGE (the
    * spillable plan), never toward an oversized hash build. A true
    * micro-batch (≤ MBs) stays far under the cap either way; only
    * mid-sized bulk shards may take merge where a count would have
    * picked hash — one extra index sort, not a correctness or OOM risk
    * (the merge≡hash differential spec pins output equality). */
  private def shardRowEstimate(df: DataFrame): Long = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse {
      val approx = st.sizeInBytes / 8
      if (approx >= BigInt(Long.MaxValue)) Long.MaxValue
      else math.max(1L, approx.toLong)
    }
  }

  /** The persistable sign-LSH index over an embedding corpus: one
    * `(ex_id, tbl, bucket)` posting row per (vector, table), using the
    * SAME per-table plane seeds (`hp<t>:`) as every embedding-LSH path
    * in this file — a posting written by this builder is the bucket a
    * [[embeddingIncrementalNearDupsIndexed]] probe looks up. ~32 bytes
    * per row; row-local (one signature pass + posexplode, no shuffle).
    *
    * This is the index-as-stream half of the incremental dedup fix
    * (VERDICT r8 task 2): materialize these postings once (e.g. as an
    * engine stream bucketed by `tbl, bucket`), append each ingested
    * shard's postings, and the per-ingest probe never recomputes a
    * standing-corpus signature again. */
  def embeddingPostings(df: DataFrame, idCol: String, vecCol: String,
                        planes: Int, tables: Int,
                        dims: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    tableRows(df.select(col(idCol).as("ex_id"),
      tableSignatures(col(vecCol), planes, tables, dims).as("sigs")), Seq(col("ex_id")))
  }

  /** Incremental embedding near-dup against a PREBUILT postings index
    * (see [[embeddingPostings]]): the shard signs itself, probes every
    * bit-flip within `radius`, joins the standing postings on
    * `(tbl, bucket)`, and exact-verifies candidate cosines against
    * `existing` — the standing corpus contributes a postings READ and a
    * candidate-bounded vector lookup, never a signature recompute. The
    * caller owns the layout: `(planes, tables, radius)` must be the
    * layout the postings were built with (a mismatched probe silently
    * misses — Engine pins the layout in the index stream's properties).
    *
    * Per-ingest cost is O(|shard|·tables·probes) shuffle + the postings
    * scan + exact cosines on true cross-candidates: nothing corpus-sized
    * is computed, sorted, or re-shuffled (the postings side streams
    * through a shuffle-hash probe; bucketed storage on `(tbl, bucket)`
    * removes even its exchange).
    *
    * @return ((in_id, ex_id, cos) pairs at cosine ≥ threshold,
    *         unpersist handle for the shard probe frame)
    */
  def embeddingIncrementalNearDupsIndexed(
      postings: DataFrame, existing: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      planes: Int, tables: Int, radius: Int,
      dims: Int = 64,
      shardRows: Option[Long] = None): (DataFrame, () => Unit) = {
    graft.functions.GraftFunctions.register(incoming.sparkSession)
    val ex = existing.select(col(idCol).as("ex_id"), col(vecCol).as("v_b"))
    val in = incoming.select(col(idCol).as("in_id"), col(vecCol).as("v_a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exPost = postings.select(col("ex_id"), col("tbl"), col("bucket"))
    // probe side: every bit-combination within the index layout's radius,
    // as in the self-join path — vectors stay home, only band keys travel
    val inPost = probeRows(
      in.withColumn("sigs", tableSignatures(col("v_a"), planes, tables, dims)),
      Seq(col("in_id")), planes, radius)
    // cross-table duplicates dedup on the slim 16-byte id pair — sized
    // by the candidate count, not candidate×tables (the minhashLsh /
    // slim-tables lesson). SHUFFLE_HASH with the SHARD postings as the
    // build side: Catalyst's explode-blind size estimate would happily
    // broadcast the STANDING INDEX postings (estimated ~KB from the
    // pruned persisted frame, actually corpus×tables), and a merge hint
    // would re-sort that index every ingest; hashing the shard streams
    // the index untouched at any scale — PROVIDED the shard is
    // shard-sized. A large "incoming" side (a bulk backfill, or the
    // gate's 20%-of-corpus split) times tables×probes overflows the
    // per-partition hash build (measured: SparkOutOfMemoryError at
    // 26B probe rows, sf10 θ=0.45), so past [[probeHashBuildCap]]
    // exploded rows the join degrades to sort-merge — both sides sort
    // and SPILL instead of dying in the build.
    // shard rows via caller hint or plan statistics — never a count()
    // action in the ingest path (round 10; error direction documented
    // at [[shardRowEstimate]])
    val exploded = shardRows.getOrElse(shardRowEstimate(incoming)) *
      tables.toLong * flipMasks(planes, radius).size
    val hinted = if (exploded <= probeHashBuildCap(incoming.sparkSession))
      inPost.hint("shuffle_hash") else inPost.hint("merge")
    val candidates = hinted.join(exPost, Seq("tbl", "bucket"))
      .select("in_id", "ex_id").distinct()
    // exact verify: candidates (shard-bounded) join the corpus vectors by
    // id — left unhinted so AQE sizes the candidate side at runtime and
    // broadcasts IT (the corpus side is scanned, never moved); a static
    // hint here would either shuffle the corpus by id per ingest
    // (shuffle_hash) or gamble on explode-blind estimates
    val out = candidates
      .join(in, "in_id").join(ex, "ex_id")
      .withColumn("cos", round(Similarity.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("in_id", "ex_id", "cos")
    (out, () => { in.unpersist(); () })
  }

  /** Analytic per-pair miss rate of a (planes, tables) layout at the
    * worst-case threshold pair — exposed for the layout-solver spec. */
  private[operators] def lshMissRate(planes: Int, tables: Int,
                                     threshold: Double,
                                     probeRadius: Int): Double =
    math.pow(1.0 - pBand(threshold, planes, probeRadius), tables)

  /** `C(n, k)` as a double (the layout math's probe and binomial counts). */
  private def choose(n: Int, k: Int): Double =
    (1 to k).map(i => (n - i + 1).toDouble / i).product

  /** P[Binom(planes, q) ≤ radius] with per-bit disagreement
    * `q = arccos(θ)/π`: the probability that a true pair at exactly
    * `threshold` collides with one table's probe set (pairs above θ
    * collide more often — θ is the worst case). */
  private def pBand(threshold: Double, planes: Int, radius: Int): Double = {
    val q = math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    (0 to math.min(radius, planes)).map { k =>
      choose(planes, k) * math.pow(q, k) * math.pow(1 - q, planes - k)
    }.sum
  }

  /** Every mask of at most `radius` set bits among the low `width` bits,
    * by popcount then combination order (mask 0 first): the multi-probe
    * flip set of the sign-LSH and Hamming-LSH probe sides. */
  private[operators] def flipMasks(width: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(r => (0 until width).combinations(r)
      .map(_.foldLeft(0L)((m, b) => m | (1L << b))))

  /** The per-table sign signatures of a vector column in one fused pass,
    * table `t` seeded `hp<t>:` — the seeds every embedding-LSH path in
    * this file shares, so a stored posting is the bucket a probe looks up. */
  private def tableSignatures(v: Column, planes: Int, tables: Int,
                              dims: Int): Column =
    Similarity.planeSignatures(v, (0 until tables).map(t => s"hp$t:"), planes, dims)

  /** `keep` columns plus `(tbl, bucketAs)`: one row per table of the
    * frame's `sigs` signatures. */
  private def tableRows(sigs: DataFrame, keep: Seq[Column],
                        bucketAs: String = "bucket"): DataFrame =
    sigs.select(keep :+ posexplode(col("sigs")).as(Seq("tbl", bucketAs)): _*)

  /** The multi-probe side: [[tableRows]] with each table's signature
    * XORed with every [[flipMasks]] mask within `radius`, as `bucket`. */
  private def probeRows(sigs: DataFrame, keep: Seq[Column], planes: Int,
                        radius: Int): DataFrame =
    tableRows(sigs, keep, "sig")
      .withColumn("bucket", explode(array(
        flipMasks(planes, radius).map(m => col("sig").bitwiseXOR(lit(m))): _*)))
      .drop("sig")

  /** Brute-force embedding near-dup (the oracle twin of
    * [[embeddingNearDup]]): all-pairs cosine — O(n²), baseline only. */
  def embeddingNearDupBrute(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val a = e.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = e.select(col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Canonical-document selection: given cluster assignments
    * ([[duplicateClusters]] output) and a source-priority order, keep one
    * document per cluster — highest-priority source wins, ties break by
    * id (the Common-Crawl-style "prefer the curated source among dups"
    * rule). One window shuffle keyed by cluster. `priority` is a
    * plan-time literal list; unlisted sources rank last. */
  def canonicalBySource(docs: DataFrame, clusters: DataFrame,
                        idCol: String, sourceCol: String,
                        priority: Seq[String]): DataFrame = {
    val rank = priority.zipWithIndex
      .foldRight(lit(priority.length): Column) { case ((s, i), els) =>
        when(col(sourceCol) === s, lit(i)).otherwise(els)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(rank.asc, col(idCol).asc)
    docs.join(clusters, idCol)
      .withColumn("__graft_crn", row_number().over(w))
      .filter(col("__graft_crn") === 1)
      .drop("__graft_crn")
  }

  /** N-way content overlap (the UpSet table): for every EXACT content
    * class (md5 of text), which subset of sources carries it — counts
    * per subset bitmask. Pairwise overlap sketches answer |A∩B|; this
    * answers the full inclusion lattice ("12k contents live in ALL
    * three crawls, 40k only in src0+src1…"), which is what a
    * source-consolidation decision reads. One content-keyed aggregate
    * (16 B/row-class shuffle: md5 + bitmask with map-side combine) and
    * one mask-keyed rollup bounded by 2^|sources|.
    *
    * @param sources bit order (plan literal); rows with other sources
    *                are ignored
    * @return (mask, subset, n_contents) — `subset` names the mask */
  def contentOverlapUpset(docs: DataFrame, sourceCol: String,
                          textCol: String,
                          sources: Seq[String]): DataFrame = {
    require(sources.nonEmpty && sources.size <= 30, "1..30 sources")
    val bit = sources.zipWithIndex
      .foldRight(lit(0L)) { case ((s, i), els) =>
        when(col(sourceCol) === s, lit(1L << i)).otherwise(els)
      }
    val names = sources.zipWithIndex.map { case (s, i) => (1L << i, s) }
    val subsetName = names.foldLeft(lit("")) { case (acc, (m, s)) =>
      when((col("mask").bitwiseAND(lit(m))) =!= 0L,
        concat(acc, when(acc =!= "", lit("+")).otherwise(lit("")), lit(s)))
        .otherwise(acc)
    }
    docs.filter(col(textCol).isNotNull && col(sourceCol).isin(sources: _*))
      .select(md5(col(textCol)).as("h"), bit.as("b"))
      .groupBy("h").agg(expr("bit_or(b)").as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n_contents"))
      .withColumn("subset", subsetName)
      .select("mask", "subset", "n_contents")
  }

  /** Dedup attribution matrix: for every document DROPPED by
    * [[canonicalBySource]], which source's canonical displaced it —
    * `(source_kept, source_dropped, n_docs)`. The operational report
    * behind a dedup run ("src1 lost 40k docs, 90% of them to src0"):
    * it turns a keep/drop bit into an accountable flow between sources,
    * which is what data-licensing and mixture-rebalance decisions
    * actually consume. Scale shape: the same one cluster-keyed window
    * as canonical selection, then a cluster-keyed equi-join of members
    * against the (cluster-count-sized) keeper frame and a
    * sources²-bounded aggregate — nothing new beyond the dedup pass
    * itself. Singleton clusters self-filter (the keeper is the only
    * member). */
  def attributionMatrix(docs: DataFrame, clusters: DataFrame,
                        idCol: String, sourceCol: String,
                        priority: Seq[String]): DataFrame = {
    val keepers = canonicalBySource(docs, clusters, idCol, sourceCol, priority)
      .select(col("cluster_id"), col(sourceCol).as("source_kept"),
        col(idCol).as("__graft_keep_id"))
    docs.join(clusters, idCol)
      .join(keepers, Seq("cluster_id"))
      .filter(col(idCol) =!= col("__graft_keep_id"))
      .groupBy(col("source_kept"), col(sourceCol).as("source_dropped"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Duplicate-cluster assignment: connected components over a candidate
    * pair set (the step after LSH in an industrial dedup pipeline — a
    * near-dup RELATION is not transitive, so "keep one per pair" is
    * ill-defined until pairs are closed into components). Returns
    * `(id, cluster_id)` for every input id; `cluster_id` is the minimum
    * id reachable through the pair graph (singletons cluster as
    * themselves), so downstream "keep canonical" is `id === cluster_id`.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels, until a
    * round changes nothing. Each round is one equi-join + one
    * hash-aggregate, both keyed by node id, with the label frame
    * `localCheckpoint`ed per round to cut lineage. Rounds = graph
    * diameter; near-dup graphs are overwhelmingly tiny star/clique
    * components (diameter ≤ ~3), so 3-4 rounds close 100 TB corpora —
    * the same reasoning that makes plain propagation the default in
    * production dedup over the O(log n) star-contraction variants, whose
    * per-round cost is higher. `maxIters` bounds pathological chains;
    * convergence is detected by an `isEmpty` probe on changed labels
    * (cheap: it short-circuits on the first changed row).
    *
    * Pairs may be any candidate relation: [[minhashLsh]], [[simhashPairs]],
    * [[embeddingNearDup]] outputs all fit (`id_a`/`id_b` columns).
    *
    * Hybrid execution: when the (output-sized) pair list is small enough
    * to collect safely (`driverUnionFindLimit`, default 2M pairs ≈ 32 MB)
    * and ids are integral, a driver-side union-find resolves components
    * in ONE collect — identical min-label result, none of the per-round
    * fixed job overhead. Larger pair sets fall through to the iterative
    * plan, so the scale path is never lost.
    */
  def duplicateClusters(ids: DataFrame, pairs: DataFrame,
                        idCol: String = "id", maxIters: Int = 20,
                        driverUnionFindLimit: Long = 2000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // FAST PATH: the edge list is OUTPUT-sized (near-dup pair count), not
    // corpus-sized — when it fits comfortably on the driver (≤ ~32 MB at
    // the default limit), a local union-find resolves components in one
    // collect instead of diameter-many distributed rounds, each of which
    // costs two Spark jobs of fixed overhead. Same min-label result by
    // construction. Past the limit the iterative path below takes over,
    // so a pathological pair explosion degrades to the scalable plan,
    // never to a driver OOM.
    val integralIds = pairs.schema("id_a").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (integralIds) {
      val idType = ids.schema(idCol).dataType
      // size-check and fetch in ONE action: take(limit+1) returns the
      // whole edge list when it fits and proves it doesn't when the
      // extra row comes back — the truncated fetch then falls through to
      // the iterative plan. Clamped so limits near Long.MaxValue can't
      // overflow take's Int argument.
      val probeN = math.min(driverUnionFindLimit + 1, Int.MaxValue.toLong).toInt
      val pairRows = pairs
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .take(probeN)
      if (pairRows.length <= driverUnionFindLimit) {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        pairRows.foreach { r =>
          val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        // roots never enter `parent`; the left-join coalesce below labels
        // them (and every singleton) with themselves
        val resolved = parent.keys.map(k => (k, find(k))).toSeq
        edges.unpersist()
        val spark = ids.sparkSession
        import spark.implicits._
        val labelDf = resolved.toDF("id", "label")
        // cast back to the caller's id type so the output schema doesn't
        // depend on which path the runtime pair count selected
        return ids.select(col(idCol).cast("long").as("id"))
          .join(broadcast(labelDf), Seq("id"), "left")
          .select(col("id").cast(idType).as(idCol),
            coalesce(col("label"), col("id")).cast(idType).as("cluster_id"))
      }
    }
    // the loop runs ONLY on nodes that have an edge — every other id is a
    // singleton by construction and never changes label. The pair graph
    // is output-sized (near-dup count), so each round's join/aggregate
    // touches the dup subgraph, not the corpus: at 100 TB the corpus is
    // read once at the end, and the iteration state is tiny.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val neighborMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("nid")).agg(min("label").as("nmin"))
      // convergence rides the SAME frame as the new labels: `__chg` marks
      // rows whose label improved this round, the eager checkpoint
      // materializes labels+flags in one pass, and the convergence probe
      // is then a short-circuiting scan of cached blocks — no second
      // join, no plan re-execution (round-2's probe re-joined next⋈labels
      // and cost an extra Spark job per iteration).
      val next = labels.join(neighborMin, labels("id") === col("nid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("__chg"))
        .localCheckpoint(eager = true)
      converged = next.filter(col("__chg")).isEmpty
      labels = next.drop("__chg")
      it += 1
    }
    edges.unpersist()
    // singletons fold back in with themselves as cluster — one left join
    // against the resolved dup-subgraph labels (AQE broadcasts it when
    // the dup set is small, the overwhelmingly common case)
    ids.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }
}
