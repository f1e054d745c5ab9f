package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-training / vocabulary operators over a text corpus — the
  * corpus-statistics half of a training-data pipeline (the reference has
  * no tokenizer surface; these are the standard distributed formulations).
  *
  * Scale shape: everything here is explode → map-side-combinable count
  * aggregate → (optionally windowed) top-k. The only shuffles are on the
  * count keys (pair / (source, word) / word); top-k goes through
  * TakeOrdered or a per-group window over already-aggregated counts —
  * at 100 TB the aggregates are the corpus-vocabulary size (millions of
  * rows), not the corpus size.
  */
object Vocab {

  /** Character-pair candidates for ONE BPE merge round: the count of each
    * adjacent symbol pair across all word occurrences (weighted by
    * occurrence, as BPE training counts — Sennrich et al. 2016's
    * `get_stats`), ranked by (count desc, pair).
    *
    * @return (pair, cnt, rn) top `k` merge candidates
    */
  def bpeMergeCandidates(docs: DataFrame, textCol: String = "text",
                         k: Int = 25): DataFrame = {
    val word = col("word")
    // adjacent char pairs of one word: starts 1..len-1 (1-based substr);
    // sequence() counts DOWN for len<2, so filter short words first
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(word) >= 2)
      .select(explode(transform(sequence(lit(0), length(word) - 2),
        i => word.substr(i + 1, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("rn")
  }

  /** Unigram log-perplexity scoring (the perplexity-filter shape of CCNet/
    * RedPajama quality pipelines, with the corpus itself as the LM): each
    * document's mean negative log-probability under the corpus unigram
    * distribution. High scores flag gibberish / rare-token soup.
    *
    * Determinism: per-word logprobs convert to integer micro-units
    * (`round(ln(cnt/total)·1e6)`), per-doc SUMS are exact integer
    * arithmetic, and the mean is one double division — same recipe as
    * [[Similarity.labelCentroidStats]]. Scale shape: one vocab aggregate
    * (map-side combine), corpus total as a broadcast 1-row aggregate, one
    * shuffle join words→vocab (vocab may exceed broadcast size at 100 TB,
    * so no broadcast hint on it), one per-doc aggregate.
    */
  def unigramLogPerplexity(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val docTf = docTermFreqs(docs, idCol, textCol)
    val vocab = docTf.groupBy("word").agg(sum("tf").as("cnt"))
    val total = vocab.agg(sum("cnt").cast("double").as("total"))
    meanNegLogp(docTf, vocab.crossJoin(broadcast(total)), Seq("word"),
      col("cnt") / col("total"), idCol, "n_words")
  }

  /** Per-(doc, word) term frequencies `(did, word, tf)`: one explode, one
    * pre-aggregate, so every later join shuffles doc-vocabulary rows, not
    * every token occurrence — at corpus scale that is the repetition
    * factor saved. Persisted: the vocabulary and the per-doc join both
    * consume it. */
  private def docTermFreqs(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.select(col(idCol).as("did"),
      explode(split(col(textCol), " ")).as("word"))
      .groupBy("did", "word").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Per-(doc, bigram) frequencies `(did, w1, w2, tf)` of the docs with
    * ≥ 2 whitespace tokens. The aggregate combines map-side, so the
    * exploded bigram stream reaches its first exchange already reduced to
    * distinct (doc, bigram) rows. Persisted: the bigram-type table and
    * the per-doc scoring join both consume it.
    *
    * The split is bound ONCE per row (optimization round 11):
    * higher-order lambdas are interpreted per element, so an
    * `element_at(split(text), i+…)` lambda body would re-split the text
    * at every bigram position — O(words²) splits per doc. Wrapping the
    * split in a 1-element array and transforming over it binds the words
    * to a lambda VARIABLE the inner lambda reads in O(1). */
  private def docBigramFreqs(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val bigrams = element_at(transform(array(split(col(textCol), " ")), ws =>
      transform(sequence(lit(0), size(ws) - 2), i =>
        struct(element_at(ws, i + 1).as("w1"),
          element_at(ws, i + 2).as("w2")))), 1)
    docs.filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol).as("did"), explode(bigrams).as("bg"))
      .select(col("did"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("did", "w1", "w2").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Each document's mean negative log-probability under an LM table:
    * `model` holds one row per `keys` type with the columns `p` reads;
    * `p` becomes integer micro-units (`round(ln p·1e6)`), joins back to
    * the per-doc frequencies `tf` on `keys`, and sums exactly per doc —
    * one closing double division (same recipe as
    * [[Similarity.labelCentroidStats]]).
    *
    * @return (idCol, nCol, avg_neg_logp) with nCol = Σ tf */
  private def meanNegLogp(tf: DataFrame, model: DataFrame, keys: Seq[String],
                          p: Column, idCol: String, nCol: String): DataFrame = {
    val scored = model
      .withColumn("lp_micro", round(log(p) * 1000000L).cast("long"))
      .select((keys :+ "lp_micro").map(col): _*)
    tf.join(scored, keys)
      .groupBy(col("did").as(idCol))
      .agg(sum("tf").as(nCol), sum(col("lp_micro") * col("tf")).as("s"))
      .withColumn("avg_neg_logp",
        -col("s").cast("double") / (col(nCol) * 1000000L))
      .select(idCol, nCol, "avg_neg_logp")
  }

  /** Interpolated bigram log-perplexity (the KenLM-shaped upgrade of
    * [[unigramLogPerplexity]], with the corpus itself as the LM): each
    * document's mean negative log-probability of its bigrams under
    * `p(w₂|w₁) = λ·cnt(w₁w₂)/cnt(w₁·) + (1−λ)·cnt(w₂)/total` — Jelinek-
    * Mercer interpolation, so unseen-in-context words still score via the
    * unigram floor (every bigram in the corpus LM is seen here, but the
    * formula is the deployable one).
    *
    * Determinism: p is a fixed-order double expression over exact integer
    * counts (identical IEEE ops both engines), log converts to integer
    * micro-units, per-doc sums are exact, one final double division.
    * Scale shape: per-(doc,bigram) pre-aggregation bounds every shuffle by
    * document-vocabulary size; the bigram/context/unigram count tables are
    * corpus-vocabulary-sized equi-joins with map-side combine — no
    * broadcast hints, since a 100 TB corpus's bigram vocabulary outgrows
    * any broadcast budget.
    */
  def bigramLogPerplexity(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          lambda: Double = 0.5): DataFrame = {
    val docBf = docBigramFreqs(docs, idCol, textCol)
    val biCnt = docBf.groupBy("w1", "w2").agg(sum("tf").as("bi"))
    // context count = occurrences of w1 as a bigram LHS (= Σ bi over w2),
    // a window over the bigram-type frame: one exchange on w1, where a
    // groupBy(w1)-then-join-back aggregates and probes biCnt separately.
    // Unigram counts/total come from ALL word occurrences, matching the
    // unigram gate's distribution.
    val uniWords = docs.select(explode(split(col(textCol), " ")).as("w2"))
    val uniCnt = uniWords.groupBy("w2").agg(count(lit(1)).as("uni"))
    val total = uniCnt.agg(sum("uni").cast("double").as("total"))
    val model = biCnt.withColumn("ctx", sum("bi").over(Window.partitionBy("w1")))
      .join(uniCnt, "w2")
      .crossJoin(broadcast(total))
    meanNegLogp(docBf, model, Seq("w1", "w2"),
      lit(lambda) * (col("bi").cast("double") / col("ctx").cast("double"))
        + lit(1.0 - lambda) * (col("uni").cast("double") / col("total")),
      idCol, "n_bigrams")
  }

  /** Interpolated Kneser-Ney bigram log-perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1999 eq. 4.26) — the smoothing KenLM actually ships,
    * i.e. the CCNet/LLaMA-lineage quality-filter scorer, next to
    * [[bigramLogPerplexity]]'s simpler Jelinek-Mercer mixture:
    * `p(w₂|w₁) = (cnt(w₁w₂) − D)/cnt(w₁·)
    *            + D·N₁₊(w₁·)/cnt(w₁·) · N₁₊(·w₂)/N₁₊(··)`
    * where N₁₊(w₁·)/N₁₊(·w₂) count distinct bigram TYPES leaving w₁ /
    * entering w₂ and N₁₊(··) is the total type count — the continuation
    * probability that makes KN beat count interpolation ("Francisco" is
    * frequent but follows only "San"). Every bigram scored is in the
    * corpus LM, so cnt ≥ 1 > D and the max(·−D, 0) clamp is vacuous.
    *
    * Determinism: same recipe as [[bigramLogPerplexity]] — exact integer
    * count/type tables, one fixed-order double expression per bigram
    * type, log to integer micro-units, exact per-doc sums.
    * Scale shape: identical joins plus one more vocabulary-sized
    * aggregate (the `·w₂` type count); the type total is a 1-row
    * broadcast. The bigram-type frame feeds four consumers, so it is
    * persisted alongside the per-doc frame.
    *
    * @param discount absolute discount D ∈ (0, 1); 0.75 is the
    *                 literature default
    */
  def kneserNeyLogPerplexity(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text",
                             discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0, 1)")
    val docBf = docBigramFreqs(docs, idCol, textCol)
    val biCnt = docBf.groupBy("w1", "w2").agg(sum("tf").as("bi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // context mass + leaving-type count ride ONE window over the bigram-
    // type frame, entering-type count a second: one exchange per key
    // where two groupBy-then-join-back aggregates each shuffle biCnt for
    // the aggregate and again for the join probe. Every bigram type keeps
    // exactly the (ctx, nfr, nto) the inner joins attached (w1/w2 are
    // never NULL, so window vs inner-join row sets coincide). The type
    // total stays a 1-row broadcast aggregate: a global window would
    // funnel the vocabulary through one partition.
    val byW1 = Window.partitionBy("w1")
    val types = biCnt.agg(count(lit(1)).cast("double").as("tt"))
    val model = biCnt
      .withColumn("ctx", sum("bi").over(byW1))
      .withColumn("nfr", count(lit(1)).over(byW1))
      .withColumn("nto", count(lit(1)).over(Window.partitionBy("w2")))
      .crossJoin(broadcast(types))
    meanNegLogp(docBf, model, Seq("w1", "w2"),
      (col("bi").cast("double") - lit(discount)) / col("ctx").cast("double")
        + lit(discount) * col("nfr").cast("double") / col("ctx").cast("double")
          * (col("nto").cast("double") / col("tt")),
      idCol, "n_bigrams")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    * per language group, rank documents by LM perplexity and split into
    * `buckets` equal bands — `head` (most fluent) / `middle` / `tail`
    * (likely gibberish), the standard pre-training quality triage. The
    * LM is the corpus's own interpolated Kneser-Ney bigram model
    * ([[kneserNeyLogPerplexity]]); CCNet uses a pre-trained KenLM, which
    * is the same smoothing family.
    *
    * Banding is `ntile` over `(avg_neg_logp, id)` — the id tie-break
    * makes duplicate-text documents (equal perplexity) band
    * deterministically. Docs with < 2 tokens have no bigram perplexity
    * and are absent, as in [[kneserNeyLogPerplexity]].
    *
    * Scale shape: the LM tables are corpus-linear aggregates; the band
    * assignment is one window partitioned by language — low-cardinality
    * partitions mean one sort per language, the exact-tercile contract.
    * At extreme scale CCNet itself switches to sampled cutoff values +
    * a pure projection; this exact form is the oracle-checkable
    * reference semantics.
    *
    * @return (idCol, groupCol, n_bigrams, avg_neg_logp, bucket, band)
    */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", groupCol: String = "lang",
                        buckets: Int = 3,
                        discount: Double = 0.75): DataFrame = {
    require(buckets >= 2, "buckets must be at least 2")
    val ppl = kneserNeyLogPerplexity(docs, idCol, textCol, discount)
    val byPpl = Window.partitionBy(groupCol)
      .orderBy(col("avg_neg_logp").asc, col(idCol).asc)
    ppl.join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .withColumn("bucket", ntile(buckets).over(byPpl))
      .withColumn("band",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === buckets, "tail")
          .otherwise("middle"))
      .select(idCol, groupCol, "n_bigrams", "avg_neg_logp", "bucket", "band")
  }

  /** Per-document out-of-vocabulary rate against the corpus top-`k`
    * vocabulary (count desc, word asc tie-break — fully deterministic):
    * the coverage check run before committing to a fixed tokenizer/vocab
    * size. High OOV docs are either foreign-language or gibberish.
    *
    * Scale shape: vocabulary = one word-keyed count aggregate + rank
    * (top-k of the VOCABULARY, not the corpus); membership rides a left
    * join from per-(doc,word) counts. The vocab side is k rows after the
    * rank filter, but no broadcast hint is forced — size-based planning
    * broadcasts it when it fits.
    *
    * @return (doc_id, n_tokens, oov_rate)
    */
  def oovRate(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", k: Int = 1000): DataFrame = {
    val docTf = docTermFreqs(docs, idCol, textCol)
    val vocab = docTf.groupBy("word").agg(sum("tf").as("cnt"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("word").asc)))
      .filter(col("rn") <= k)
      .select(col("word"), lit(1L).as("in_vocab"))
    docTf.join(vocab, Seq("word"), "left")
      .groupBy(col("did").as(idCol))
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .select(idCol, "n_tokens", "oov_rate")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each document's mean
    * log-importance ratio `log p_target(w) − log p_raw(w)` summed over
    * its tokens, under Laplace-smoothed bag-of-words unigram models of
    * a TARGET subcorpus (rows where `isTarget`) vs the whole raw
    * corpus. The standard cheap-proxy selector for "give me raw-web
    * documents that look like my curated set": positive weights are
    * target-like; rank and take the top fraction (or Gumbel-top-k
    * resample) downstream.
    *
    * Both models smooth over the UNION vocabulary `V`:
    * `p(w) = (cnt(w)+1) / (total+|V|)`, so words absent from the target
    * still score finitely. Determinism: per-word log-ratios round to
    * integer micro-units, per-doc sums are exact integer arithmetic,
    * the mean is one double division (house recipe).
    *
    * Scale shape: ONE corpus explode, pre-aggregated to per-(doc,word)
    * term frequencies (persisted — the vocabulary and the scoring join
    * both consume it); both models come out of one vocabulary-sized
    * aggregate (the target is a conditional sum, not a second corpus
    * pass); totals ride a broadcast 1-row aggregate; the scoring join
    * is vocab-keyed with NO broadcast hint (a 100 TB corpus vocabulary
    * outgrows any broadcast budget).
    *
    * @return (idCol, n_tokens, avg_logratio)
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val docTf = docs.select(col(idCol).as("did"), isTarget.as("tgt"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy("did", "tgt", "word").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = docTf.groupBy("word").agg(
      sum("tf").as("raw_cnt"),
      sum(when(col("tgt"), col("tf")).otherwise(0L)).as("tgt_cnt"))
    val totals = vocab.agg(
      sum("raw_cnt").cast("double").as("raw_total"),
      sum("tgt_cnt").cast("double").as("tgt_total"),
      count(lit(1)).cast("double").as("v"))
    val scored = vocab.crossJoin(broadcast(totals))
      .withColumn("lr_micro", round(
        (log((col("tgt_cnt") + 1).cast("double") / (col("tgt_total") + col("v")))
          - log((col("raw_cnt") + 1).cast("double") / (col("raw_total") + col("v"))))
          * 1000000L).cast("long"))
      .select("word", "lr_micro")
    docTf.join(scored, "word")
      .groupBy(col("did").as(idCol))
      .agg(sum("tf").as("n_tokens"), sum(col("lr_micro") * col("tf")).as("s"))
      .withColumn("avg_logratio",
        col("s").cast("double") / (col("n_tokens") * 1000000L))
      .select(idCol, "n_tokens", "avg_logratio")
  }

  /** Per-group salient terms by tf·idf: tf = term occurrences within the
    * group, idf = ln(N / df) with N = corpus document count and df = number
    * of distinct documents containing the term. Scores round to 6 dp
    * (cross-engine ln parity, same convention as the cosine gates).
    *
    * @return (source, word, tf, tfidf, rn) top `k` terms per group
    */
  def tfidfTerms(docs: DataFrame, groupCol: String = "source",
                 idCol: String = "doc_id", textCol: String = "text",
                 k: Int = 10): DataFrame = {
    // one corpus explode → per-(doc, word) term counts; tf and df both
    // derive from that (much smaller) frame. Persisted because two
    // aggregations consume it — without it Catalyst plans the corpus
    // scan + explode twice (no exchange reuse across the two shuffles)
    val docTf = docs.select(col(groupCol).as("source"), col(idCol).as("did"),
      explode(split(col(textCol), " ")).as("word"))
      .groupBy("source", "did", "word").agg(count(lit(1)).as("wtf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = docTf.groupBy("source", "word").agg(sum("wtf").as("tf"))
    // docTf rows are distinct (doc, word) pairs (each doc has one
    // source), so df is a plain row count per word
    val df = docTf.groupBy("word").agg(count(lit(1)).as("df"))
    // N is a 1-row aggregate — crossJoin(broadcast(...)) keeps the plan
    // fully distributed (no driver-side count action)
    val n = docs.agg(countDistinct(col(idCol)).cast("double").as("n"))
    val scored = tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n") / col("df")), 6))
    val w = Window.partitionBy("source").orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("source", "word", "tf", "tfidf", "rn")
      .orderBy("source", "rn")
  }

  /** Pointwise-mutual-information collocations (Church & Hanks 1990):
    * adjacent word pairs whose co-occurrence beats the independence
    * baseline, `PMI(a,b) = ln( (c(ab)/N₂) / ((c(a)/N₁)·(c(b)/N₁)) )` —
    * the standard phrase-mining step before building a phrase-aware
    * vocabulary (word2vec's phrase pass, Mikolov 2013 §4, uses the same
    * score family). Rare-pair noise is cut by `minCount` (PMI is maximal
    * for hapax pairs, so an unfiltered top-k is all noise).
    *
    * Determinism: the score is one `ln` over a fixed-order double
    * expression of exact integer counts, micro-rounded — the
    * [[bigramLogPerplexity]] recipe. Ties break by bigram text.
    *
    * Scale shape: one corpus explode feeds BOTH count tables (bigrams via
    * index-zip, unigrams via the same token frame), each a map-side-
    * combinable aggregate keyed by pair/word; the unigram table joins to
    * the (already-aggregated, vocabulary-sized) bigram table twice by
    * word — no broadcast hints, since a 100 TB bigram vocabulary
    * outgrows any broadcast budget; N₁/N₂ ride one broadcast 1-row
    * aggregate. Nothing corpus-sized ever shuffles twice.
    *
    * @return (w1, w2, cnt, pmi_micro, rn) top `k` by (pmi desc, w1, w2)
    */
  def pmiCollocations(docs: DataFrame, textCol: String = "text",
                      minCount: Long = 5L, k: Int = 25): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= 2)
    // (w[i], w[i+1]) zip — the bigramLogPerplexity segmentation — then
    // straight to counts; persisted once for the two unigram joins below
    val bigrams = toks
      .select(explode(zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val unigrams = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ucnt"))
    // N₁ (token occurrences) and N₂ (bigram occurrences) in ONE 1-row
    // frame: Σucnt and Σ(len-1) over the same corpus pass shapes
    val totals = toks.agg(
      sum(size(col("w"))).cast("double").as("n1"),
      sum(size(col("w")) - 1).cast("double").as("n2"))
    val scored = bigrams
      .join(unigrams.withColumnRenamed("word", "w1")
        .withColumnRenamed("ucnt", "c1"), "w1")
      .join(unigrams.withColumnRenamed("word", "w2")
        .withColumnRenamed("ucnt", "c2"), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micro",
        round(log((col("cnt") / col("n2"))
          / ((col("c1") / col("n1")) * (col("c2") / col("n1"))))
          * 1000000L).cast("long"))
    scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("pmi_micro").desc, col("w1"), col("w2"))).cast("long"))
      .filter(col("rn") <= k)
      .select("w1", "w2", "cnt", "pmi_micro", "rn")
      .orderBy("rn")
  }

  /** Skip-gram co-occurrence counts (word2vec / GloVe training prep,
    * Mikolov 2013): ordered pairs (w[i], w[j]) for j − i ∈ [1, window],
    * counted corpus-wide, top `k` by count.
    *
    * The pair generation is entirely row-local — nested `transform` over
    * the token array flattens to the pair list inside the scan projection,
    * so the ONLY shuffle is the (wa, wb) count aggregate (map-side combine
    * bounds it by per-partition pair vocabulary, not corpus pair volume).
    * At 100 TB this beats the positional self-join formulation, which
    * would shuffle every token `window` times on doc id.
    *
    * @return (wa, wb, cnt, rn) top `k` by (cnt desc, wa, wb)
    */
  def skipgramCooc(docs: DataFrame, textCol: String = "text",
                   window: Int = 3, minCount: Long = 5L,
                   k: Int = 50): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(explode(flatten(
      transform(sequence(lit(1), size(col("w")) - 1), i =>
        transform(slice(col("w"), i + 1, lit(window)), x =>
          struct(element_at(col("w"), i).as("wa"), x.as("wb"))))))
      .as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    pairs.groupBy("wa", "wb").agg(count(lit(1)).cast("long").as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("wa"), col("wb"))).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("rn")
  }

  // --------------------------------------------------------------------
  // Full BPE (round 6): iterative merge TRAINING + corpus ENCODE —
  // [[bpeMergeCandidates]] is one round's pair statistics; this is the
  // whole tokenizer loop (Sennrich et al. 2016, `learn_bpe`/`apply_bpe`).
  //
  // Symbol representation (shared by train, apply, and the DuckDB
  // oracle): a word is its symbols joined by TWO spaces and padded by
  // two on each side — "  h  e  y  ". Merge (a, b) is then the literal
  // replace " a  b " → " ab ": the pattern claims one space from each
  // side of the pair and the replacement restores one, so every
  // boundary keeps ≥ 2 spaces and DIRECTLY ADJACENT occurrences
  // ("a b a b") all merge in one pass — a single-space join would let
  // the first replacement consume the separator the next match needs.
  // `replace` scans left-to-right non-overlapping in Spark, DuckDB, and
  // the reference Python alike, so "x x x" merges to "xx x" in all
  // three (leftmost-greedy, the subword-nmt behavior).
  // --------------------------------------------------------------------

  /** A word as its padded double-space symbol string (initial symbols =
    * characters): `"hey"` → `"  h  e  y  "`. */
  private def symbolRepr(word: Column): Column =
    concat(lit("  "), regexp_replace(word, "(.)", "$1  "))

  /** Adjacent symbol pairs of a repr, each as `"left right"` (symbols
    * never contain spaces, so the single-space join is unambiguous).
    * Single-symbol words pair-count as empty — `sequence()` counts DOWN
    * for a 1-symbol word (the [[bpeMergeCandidates]] caveat), so the
    * short case is guarded explicitly. */
  private def symbolPairs(repr: Column): Column = {
    val syms = filter(split(repr, "  "), s => s =!= "")
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => concat(element_at(syms, i), lit(" "), element_at(syms, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Train `k` BPE merges: each round counts adjacent symbol pairs over
    * the WORD-FREQUENCY table (vocabulary-sized, not corpus-sized — the
    * property that makes BPE training tractable at 100 TB), picks the
    * (count desc, pair asc) argmax, and rewrites the vocabulary with
    * that merge applied. The per-round argmax is a 1-row collect —
    * metadata-scale, the same class as the IVF centroid collect; the
    * word table persists across rounds and unpersists on return
    * (training CONSUMES it — nothing lazy escapes, so the eager
    * unpersist is safe, unlike the pinned-frame operators
    * [[graft.operators.OperatorCache]] documents).
    *
    * @return merges in training order: (rank, left, right, cnt)
    */
  def bpeTrain(docs: DataFrame, textCol: String = "text",
               k: Int = 8): Seq[(Int, String, String, Long)] = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist()
    try {
      var vocab = words.select(symbolRepr(col("word")).as("w"), col("freq"))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (rank <- 1 to k) {
        val best = vocab
          .select(explode(symbolPairs(col("w"))).as("pair"), col("freq"))
          .groupBy("pair").agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .collect()
        if (best.nonEmpty) {
          val Array(l, r) = best.head.getString(0).split(" ", 2)
          merges += ((rank, l, r, best.head.getLong(1)))
          vocab = vocab.withColumn("w", call_function("replace",
            col("w"), lit(s" $l  $r "), lit(s" $l$r ")))
        }
      }
      merges.toSeq
    } finally words.unpersist()
  }

  /** Encode the corpus with trained merges: the replace chain applies to
    * the DISTINCT-WORD table only (vocabulary-scale compute), which then
    * broadcasts back onto the exploded corpus — per doc, the word count
    * and the total BPE symbol count. The merge list is tokenizer
    * metadata (a few KB), inlined into the plan as literals exactly like
    * the PQ codebooks.
    *
    * @return (doc_id, n_words, n_symbols)
    */
  def bpeEncode(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text",
                merges: Seq[(String, String)]): DataFrame = {
    val docWords = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val encoded = merges.foldLeft(symbolRepr(col("word"))) {
      case (repr, (l, r)) => call_function("replace",
        repr, lit(s" $l  $r "), lit(s" $l$r "))
    }
    val vocab = docWords.select("word").distinct()
      .withColumn("n_sym",
        size(filter(split(encoded, "  "), s => s =!= "")).cast("long"))
    docWords.join(broadcast(vocab), "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_symbols"))
  }

  /** Tokenizer fertility per language: tokens emitted per word under the
    * trained merges — THE multilingual tokenizer-equity diagnostic (a
    * language with fertility 3× English pays 3× the context budget;
    * cf. Rust et al. ACL'21's fertility tables). Composes [[bpeEncode]]
    * (vocabulary-scale replace chain, broadcast back onto the corpus)
    * with a doc_id-keyed lang join and a per-language rollup, so the
    * scale shape stays bpeEncode's. The ratio is ALL-INTEGER — micro
    * units by floor division, no doubles — so it replays exactly.
    *
    * @return (lang, n_words, n_symbols, fert_micro) with fert_micro =
    *         (n_symbols·1e6) div n_words */
  def bpeFertility(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", langCol: String = "lang",
                   merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol), col(langCol))
      .join(bpeEncode(docs, idCol, textCol, merges), Seq(idCol))
      .groupBy(langCol)
      .agg(sum("n_words").as("n_words"), sum("n_symbols").as("n_symbols"))
      .withColumn("fert_micro",
        expr("CAST(n_symbols * 1000000 DIV n_words AS BIGINT)"))

  /** Shard novelty curve: ingest the corpus shard by shard and measure,
    * per shard, how many of its distinct word n-grams were never seen
    * in any EARLIER shard — the diminishing-returns curve that tells a
    * crawl pipeline when more of the same source stops adding
    * information (novelty falling toward the duplication floor is the
    * stop signal). Shards come from `idCol mod nShards` (the
    * deterministic ingest-order proxy). Scale shape: distinct
    * (shard, gram) and the first-shard reduction are both gram-keyed
    * aggregates with map-side combine, and the join-back is the same
    * gram key — co-partitioned, no second shuffle axis; nothing is
    * ever corpus × corpus. Novelty is floor-division micros.
    *
    * @return (shard, n_grams, n_new, novelty_micro), one row per
    *         non-empty shard */
  def shardNovelty(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", nShards: Int = 8,
                   n: Int = 3): DataFrame = {
    require(nShards >= 1 && n >= 1, "nShards and n must be positive")
    val grams = docs.filter(col(textCol).isNotNull)
      .select(pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .distinct()
    val first = grams.groupBy("gram").agg(min("shard").as("first_shard"))
    grams.join(first, "gram")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_shard") === col("shard"), 1L).otherwise(0L))
          .as("n_new"))
      .withColumn("novelty_micro",
        expr("CAST(n_new * 1000000 DIV n_grams AS BIGINT)"))
  }

  /** Heaps' law fit: V(N) ≈ K·N^β — the vocabulary-GROWTH exponent over
    * ingest-order prefixes (β ≈ 0.5 for natural language; β drifting up
    * means the crawl keeps finding genuinely new vocabulary, β falling
    * toward 0 means it is re-crawling itself — the fit statistic behind
    * the [[shardNovelty]] curve). Prefix vocab sizes come from the same
    * first-shard reduction as novelty (V_k = Σ_{s≤k} new types — no
    * per-prefix rescan), prefix token counts from one shard-keyed
    * aggregate; the ≤nShards-row cumulative ladder rides a
    * `__graft_bkt` window (the sanctioned bounded-ladder shape). The
    * log-log least squares follows the [[zipfFit]] recipe: each log
    * rounds to integer micros FIRST, the sums are exact integers, one
    * closing double division.
    *
    * @return one row: (n_points, beta_micro, intercept_micro) */
  def heapsFit(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", nShards: Int = 8): DataFrame = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(pmod(col(idCol), lit(nShards.toLong)).as("__graft_bkt"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val newTypes = words.select("__graft_bkt", "w").distinct()
      .groupBy("w").agg(min("__graft_bkt").as("__graft_bkt"))
      .groupBy("__graft_bkt").agg(count(lit(1)).as("new_types"))
    val toks = words.groupBy("__graft_bkt").agg(count(lit(1)).as("n_tok"))
    val wCum = Window.orderBy("__graft_bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LEFT join from the token side: a shard that introduces zero new
    // types is still a ladder point (V stays flat while N grows — the
    // saturated-crawl signal this fit exists to measure)
    val ladder = toks.join(newTypes, Seq("__graft_bkt"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("v", sum("new_types").over(wCum))
      .withColumn("ntk", sum("n_tok").over(wCum))
    logLogFit(ladder, Nil, col("ntk"), col("v"), "n_points", "beta_micro")
  }

  /** Least-squares line through log-log points, per `keys` group (one
    * global fit for `keys = Nil`): each log rounds to integer micros
    * FIRST (`round(ln·10⁶)`), so the power sums are exact integers and
    * the closing slope/intercept divisions are single IEEE ops replayed
    * verbatim in SQL — double summation order never enters. Degenerate
    * groups (n < 2 or zero x-variance) have no defined slope: they emit
    * NULL micro values instead of 0/0 = NaN, whose ANSI long cast would
    * abort the whole job (the oracles mirror the CASE).
    *
    * @return (keys…, nCol, slopeCol, intercept_micro) */
  private def logLogFit(points: DataFrame, keys: Seq[String], x: Column,
                        y: Column, nCol: String, slopeCol: String): DataFrame = {
    def micro(c: Column): Column =
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val sums = points.select(keys.map(col) :+ micro(x).as("x") :+ micro(y).as("y"): _*)
      .groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val nd = col("n").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val den = nd * sxx - sx * sx
    val slope = when(col("n") >= 2 && den =!= 0.0, (nd * sxy - sx * sy) / den)
    sums.select(keys.map(col) ++ Seq(col("n").as(nCol),
      round(slope * lit(1e6)).cast("long").as(slopeCol),
      round((sy - slope * sx) / nd).cast("long").as("intercept_micro")): _*)
  }

  /** Vocabulary coverage curve: for each candidate vocabulary size V,
    * the corpus token mass covered by the top-V most frequent types —
    * the coverage@V table that sizes a tokenizer vocabulary (the knee
    * of this curve is where adding types stops paying; beyond it every
    * OOV falls to byte/char fallback). Scale shape: one word-count
    * shuffle with map-side combine to the vocabulary-sized type table,
    * then [[Ranks.globalRowNumber]]'s bucketed two-pass rank (frequency
    * ranks are corpus-vocabulary-sized — a bare `Window.orderBy` here
    * is the single-partition killer the window guard rejects), then ONE
    * conditional aggregate over the ranked types for every V at once.
    * Coverage is floor-division micros — all-integer, exact replay.
    *
    * @return (v, covered_tokens, total_tokens, coverage_micro), one row
    *         per requested size, ranks tie-broken by word */
  def vocabCoverage(docs: DataFrame, textCol: String = "text",
                    sizes: Seq[Long] = Seq(100L, 1000L, 10000L)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1L), "sizes must be >= 1")
    val types = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("negcnt", -col("cnt"))
    val ranked = Ranks.globalRowNumber(types, "negcnt", "word", outCol = "rnk")
    val aggs = sum(col("cnt")).as("total") +:
      sizes.map(v => sum(when(col("rnk") <= v, col("cnt"))).as(s"c_$v"))
    val stacked = sizes
      .map(v => s"CAST($v AS BIGINT), CAST(coalesce(c_$v, 0) AS BIGINT)")
      .mkString(", ")
    ranked.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${sizes.length}, $stacked) AS (v, covered_tokens)"),
        col("total").as("total_tokens"))
      .withColumn("coverage_micro",
        expr("CAST(covered_tokens * 1000000 DIV total_tokens AS BIGINT)"))
  }

  /** Conditional next-token top-k: for every context word, the `k` most
    * frequent successors (the bigram LM's argmax table — the lookup a
    * completion heuristic or a bigram sampler actually serves). One
    * row-local adjacent-pair explode → (w1, w2) counts (vocabulary²-
    * bounded with map-side combine, the same shape as
    * [[bigramLogPerplexity]]'s numerator) → rank-limit per context over
    * the COUNT frame (partitions bounded by per-context successor
    * vocabulary, never corpus rows). Ties break by w2 for determinism.
    *
    * @return (w1, w2, cnt, rn) with rn ≤ k */
  def nextTokenTopK(docs: DataFrame, textCol: String = "text",
                    k: Int = 3, minCount: Long = 1L): DataFrame = {
    val w = Window.partitionBy("w1")
      .orderBy(col("cnt").desc, col("w2"))
    adjacentPairCounts(docs, textCol, minCount)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Corpus counts `(w1, w2, cnt)` of adjacent non-empty token pairs
    * (w[i], w[i+1]), emitted row-locally in one transform and counted by
    * one map-side-combinable aggregate; pairs below `minCount` are
    * dropped. */
  private def adjacentPairCounts(docs: DataFrame, textCol: String,
                                 minCount: Long): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x AS w1, w[i + 1] AS w2))"))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Nucleus (top-p) next-token sets: for every context word, the
    * SMALLEST prefix of successors (by descending count, w2 tie-break)
    * whose mass reaches `pNum/pDen` of the context's total — the bigram
    * analog of nucleus sampling (Holtzman et al. ICLR'20), and the table
    * a top-p decoder or a diversity auditor actually consults (top-k
    * keeps a fixed row count; top-p adapts to how peaked each context's
    * successor distribution is).
    *
    * All-integer keep rule: a row survives iff its EXCLUSIVE cumulative
    * count is still short of ⌈p·n_ctx⌉ = (pNum·n_ctx + pDen − 1) DIV
    * pDen — no floating-point mass ratios, so the set boundary replays
    * exactly in SQL. `minCount` prunes hapax successors BEFORE the
    * nucleus, so n_ctx is the mass of the pruned distribution (the
    * table a real sampler would materialize). Scale shape identical to
    * [[nextTokenTopK]]: the count frame is vocabulary²-bounded with
    * map-side combine; both windows partition by w1 over per-context
    * successor vocabularies, never corpus rows.
    *
    * @return (w1, w2, cnt, n_ctx, cum, rn) — cum inclusive, rn ≤ |nucleus| */
  def nextTokenNucleus(docs: DataFrame, textCol: String = "text",
                       pNum: Long = 8L, pDen: Long = 10L,
                       minCount: Long = 1L): DataFrame = {
    require(pNum >= 1 && pNum <= pDen, "p must be in (0, 1]")
    val ord = Window.partitionBy("w1").orderBy(col("cnt").desc, col("w2"))
    adjacentPairCounts(docs, textCol, minCount)
      .withColumn("n_ctx", sum("cnt").over(Window.partitionBy("w1")))
      .withColumn("cum", sum("cnt").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(ord).cast("long"))
      .filter(col("cum") - col("cnt") <
        expr(s"CAST((n_ctx * $pNum + ${pDen - 1}) DIV $pDen AS BIGINT)"))
  }

  /** Zipf-law fit per corpus slice: least-squares slope of
    * ln(freq) ~ ln(rank) over the slice's top-`k` terms — the classic
    * corpus-health diagnostic (natural language sits near slope −1;
    * template/boilerplate-dominated sources flatten, ID/key-soup
    * steepens). Frequency ranking is the rank-limit idiom over the
    * (slice, term) count frame; the regression runs on
    * MICRO-INTEGER log coordinates (round(ln·10⁶)) so the power sums
    * are exact integers and the closing slope/intercept divisions are
    * single IEEE ops replayed verbatim in SQL — double summation order
    * never enters.
    *
    * @return (groupCol, n_terms, slope_micro, intercept_micro) */
  def zipfFit(docs: DataFrame, groupCol: String = "source",
              textCol: String = "text", k: Int = 32): DataFrame = {
    val counts = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(groupCol, "tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(groupCol).orderBy(col("cnt").desc, col("tok"))
    val top = counts.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    logLogFit(top, Seq(groupCol), col("rn"), col("cnt"), "n_terms", "slope_micro")
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. ICML'09):
    * model-free text vectorization — every token hashes to one of
    * `dims` buckets with a hash-derived ±1 sign, a document's vector is
    * the signed count per bucket. The bridge from raw text into the
    * vector operators (ANN, k-means, semdedup) without training
    * anything, and the classic baseline featurizer for the quality
    * classifiers.
    *
    * All integer: bucket = h mod dims, sign = bit 2⁶ of h (taken ABOVE
    * the bucket bits so sign and bucket stay independent for any
    * dims ≤ 64), value = Σ signs per (doc, bucket). Deterministic via
    * [[graft.operators.CrossHash]], so the exact sparse vectors replay
    * in SQL. Scale shape: one row-local explode + one (doc, bucket)
    * aggregate with map-side combine — shuffle bounded by docs × dims,
    * not token volume.
    *
    * @return (idCol, dim, val) — only buckets some token hashed into
    *         (a sparse representation; absent dims are implicit zeros,
    *         present dims can still sum to 0 by sign cancellation)
    */
  def featureHash(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", dims: Int = 16,
                  salt: String = "fh"): DataFrame = {
    require(dims >= 1 && dims <= 64, "dims must be in [1, 64]")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("__graft_tok"))
      .filter(col("__graft_tok") =!= "")
    val h = graft.operators.CrossHash.hash56(
      concat(lit(s"$salt:"), col("__graft_tok")))
    toks
      .withColumn("dim", pmod(h, lit(dims)).cast("int"))
      // integer shift, NOT floor(h/64): h is a 56-bit value, and a double
      // quotient rounds above 2^53 — the sign bit would come out wrong
      .withColumn("__graft_sign",
        lit(1L) - lit(2L) * pmod(shiftright(h, 6).cast("long"), lit(2)))
      .groupBy(col(idCol), col("dim"))
      .agg(sum("__graft_sign").as("val"))
  }
}
