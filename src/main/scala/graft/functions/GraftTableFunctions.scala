package graft.functions

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-reachable LLM-pipeline operators (round 10 — VERDICT r9 item 4;
  * round 11 reworked per VERDICT r10 item 4 + ADVICE r10 items 2/4):
  * the reference's ENTIRE pipeline surface is SQL text (impl.py:690-692
  * wraps a plain SELECT; README.md:7), while this engine's operator
  * library was Scala-API-only — a graft model's SQL could not express a
  * dedup or retrieval stage. These TABLE-VALUED FUNCTIONS close that
  * gap: registered at session build via
  * `spark.sql.extensions=graft.GraftExtensions`
  * ([[graft.GraftExtensions]] → `injectTableFunction`), so model/test
  * SQL can write
  *
  *   SELECT * FROM minhash_pairs('documents', 'doc_id', 'text', 0.5)
  *   SELECT * FROM ann_topk('embeddings', 'vec_id', 'embedding',
  *                          'vec_id < 10', 5)
  *   SELECT * FROM semdedup('embeddings', 'vec_id', 'embedding', 0.4)
  *   SELECT * FROM decontaminate('docs', 'doc_id', 'text',
  *                               'bench', 'text', 4)
  *
  * over any resolvable table/temp view — engine streams included (an
  * engine statement binds the streams it names, table arguments too;
  * `Engine.registerViews` exposes every stream as a view). Each QUERY
  * builder resolves its table through `SparkSession.active` at ANALYSIS
  * time and returns the operator's analyzed plan, so the SQL user gets
  * the exact distributed plan the Scala API builds — banding
  * equi-joins, broadcast contracts, lints and all.
  *
  * Analysis-time purity contract (round 11): query TVFs construct
  * PLANS only — `ann_indexed_topk` serves the CURRENT persisted index
  * (`Engine.annTopKIndexedServe`) and never triggers a rebuild, so
  * EXPLAIN / schema inference / model change detection cannot mutate
  * engine state (its only plan-time job is the centroid-scale codebook
  * read). LIFECYCLE TVFs (`ann_index_rebuild`, `ann_index_drop`) defer
  * their effect to EXECUTION through [[graft.plans.GraftAction]] — a
  * statement must actually RUN for the index to change.
  *
  * Argument contract: literals only (they parameterize plan
  * construction, not row evaluation); an explicitly-NULL argument is an
  * error, never a silent default (omit the argument for the default);
  * arities above the documented maximum are rejected. */
object GraftTableFunctions {

  private def litString(args: Seq[Expression], i: Int, fn: String,
                        what: String): String = args.lift(i) match {
    case Some(Literal(s: UTF8String, StringType)) => s.toString
    case Some(e) if e.foldable && e.dataType == StringType =>
      Option(e.eval()).map(_.toString).getOrElse(
        throw new IllegalArgumentException(s"$fn: $what must not be NULL"))
    case other => throw new IllegalArgumentException(
      s"$fn: $what (argument ${i + 1}) must be a string literal, got $other")
  }

  // numeric/boolean knob arguments: absent → default; explicitly NULL →
  // error (ADVICE r10 item 4: `semdedup('t','id','v', NULL)` silently
  // ran at the default threshold)
  private def litDouble(args: Seq[Expression], i: Int, fn: String,
                        what: String, default: Double): Double =
    args.lift(i) match {
      case None => default
      case Some(e) if e.foldable =>
        Option(e.eval()).map(_.toString.toDouble).getOrElse(
          throw new IllegalArgumentException(
            s"$fn: $what (argument ${i + 1}) must not be NULL — omit it " +
              s"for the default ($default)"))
      case Some(other) => throw new IllegalArgumentException(
        s"$fn: $what (argument ${i + 1}) must be a numeric literal, got $other")
    }

  private def litInt(args: Seq[Expression], i: Int, fn: String,
                     what: String, default: Int): Int =
    args.lift(i) match {
      case None => default
      case Some(e) if e.foldable =>
        Option(e.eval()).map(_.toString.toDouble.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"$fn: $what (argument ${i + 1}) must not be NULL — omit it " +
              s"for the default ($default)"))
      case Some(other) => throw new IllegalArgumentException(
        s"$fn: $what (argument ${i + 1}) must be an integer literal, got $other")
    }

  private def litBoolean(args: Seq[Expression], i: Int, fn: String,
                         what: String, default: Boolean): Boolean =
    args.lift(i) match {
      case None => default
      case Some(e) if e.foldable =>
        Option(e.eval()).map(_.toString.toBoolean).getOrElse(
          throw new IllegalArgumentException(
            s"$fn: $what (argument ${i + 1}) must not be NULL — omit it " +
              s"for the default ($default)"))
      case Some(other) => throw new IllegalArgumentException(
        s"$fn: $what (argument ${i + 1}) must be a boolean literal, got $other")
    }

  private def table(name: String) = SparkSession.active.table(name)

  private def bound() = graft.engine.Engine.bound(SparkSession.active)

  private def fn(name: String, usage: String, maxArgs: Int)(
      builder: Seq[Expression] => LogicalPlan):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name),
      // usage strings ride the ExpressionInfo usage field so DESCRIBE
      // FUNCTION documents the signature
      new ExpressionInfo("graft.functions.GraftTableFunctions", null, name,
        usage, "", "", "", "", "3.0.0", "", "built-in"),
      args => {
        if (args.size > maxArgs) throw new IllegalArgumentException(
          s"$name: too many arguments (${args.size}; at most $maxArgs) — " +
            s"usage: $usage")
        builder(args)
      })

  /** All graft table functions, in injectTableFunction's shape. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    fn("minhash_pairs",
      "minhash_pairs(table, idCol, textCol, threshold, shingleN, " +
        "numHashes, bands) - MinHash-LSH near-duplicate pairs " +
        "(id_a, id_b, jaccard) at J >= threshold; defaults 0.5, 2, 128, 32",
      maxArgs = 7) { args =>
      val tbl = litString(args, 0, "minhash_pairs", "table name")
      val id = litString(args, 1, "minhash_pairs", "id column")
      val txt = litString(args, 2, "minhash_pairs", "text column")
      val thr = litDouble(args, 3, "minhash_pairs", "threshold", 0.5)
      val sn = litInt(args, 4, "minhash_pairs", "shingleN", 2)
      val nh = litInt(args, 5, "minhash_pairs", "numHashes", 128)
      val nb = litInt(args, 6, "minhash_pairs", "bands", 32)
      graft.operators.Dedup.minhashLsh(table(tbl), id, txt,
        shingleN = sn, numHashes = nh, bands = nb, threshold = thr)
        .queryExecution.analyzed
    },
    fn("ann_topk",
      "ann_topk(table, idCol, vecCol, queryPredicateSql, k) - exact " +
        "cosine top-k neighbors (q_id, n_id, rnk, cos) per query row",
      maxArgs = 5) { args =>
      val tbl = litString(args, 0, "ann_topk", "table name")
      val id = litString(args, 1, "ann_topk", "id column")
      val vec = litString(args, 2, "ann_topk", "vector column")
      val pred = litString(args, 3, "ann_topk", "query predicate SQL")
      val k = litInt(args, 4, "ann_topk", "k", 10)
      graft.operators.Similarity.bruteForceTopK(table(tbl), id, vec,
        queryPred = expr(pred), k = k)
        .queryExecution.analyzed
    },
    fn("ann_ivf_topk",
      "ann_ivf_topk(table, idCol, vecCol, queryPredicateSql, k, nProbe) - " +
        "IVF approximate top-k (q_id, n_id, rnk, cos)",
      maxArgs = 6) { args =>
      val tbl = litString(args, 0, "ann_ivf_topk", "table name")
      val id = litString(args, 1, "ann_ivf_topk", "id column")
      val vec = litString(args, 2, "ann_ivf_topk", "vector column")
      val pred = litString(args, 3, "ann_ivf_topk", "query predicate SQL")
      val k = litInt(args, 4, "ann_ivf_topk", "k", 10)
      val nProbe = litInt(args, 5, "ann_ivf_topk", "nProbe", 2)
      graft.operators.Similarity.ivfTopK(table(tbl), id, vec,
        queryPred = expr(pred), k = k, nProbe = nProbe)
        .queryExecution.analyzed
    },
    fn("semdedup",
      "semdedup(table, idCol, vecCol, threshold) - semantic dedup " +
        "verdicts (vec_id, cell, kept) per corpus vector",
      maxArgs = 4) { args =>
      val tbl = litString(args, 0, "semdedup", "table name")
      val id = litString(args, 1, "semdedup", "id column")
      val vec = litString(args, 2, "semdedup", "vector column")
      val thr = litDouble(args, 3, "semdedup", "threshold", 0.4)
      graft.operators.Similarity.semDedup(table(tbl), id, vec,
        threshold = thr)
        .queryExecution.analyzed
    },
    fn("decontaminate",
      "decontaminate(table, idCol, textCol, benchTable, benchTextCol, n) " +
        "- rows of `table` sharing NO distinct word n-gram with any " +
        "benchmark text (the GPT-3-style overlap rule); default n = 4",
      maxArgs = 6) { args =>
      val tbl = litString(args, 0, "decontaminate", "table name")
      val id = litString(args, 1, "decontaminate", "id column")
      val txt = litString(args, 2, "decontaminate", "text column")
      val bench = litString(args, 3, "decontaminate", "benchmark table name")
      val benchTxt = litString(args, 4, "decontaminate",
        "benchmark text column")
      val n = litInt(args, 5, "decontaminate", "n-gram size", 4)
      graft.operators.Decontaminate.decontaminate(table(tbl), id, txt,
        table(bench), benchTxt, n)
        .queryExecution.analyzed
    },
    fn("dsir_weights",
      "dsir_weights(table, idCol, textCol, targetPredicateSql) - DSIR " +
        "importance weight per document (idCol, n_tokens, avg_logratio): " +
        "mean unigram log-ratio of the target-subset LM over the corpus " +
        "LM (Xie 2023), target rows selected by the predicate",
      maxArgs = 4) { args =>
      val tbl = litString(args, 0, "dsir_weights", "table name")
      val id = litString(args, 1, "dsir_weights", "id column")
      val txt = litString(args, 2, "dsir_weights", "text column")
      val pred = litString(args, 3, "dsir_weights", "target predicate SQL")
      graft.operators.Vocab.dsirWeights(table(tbl), expr(pred), id, txt)
        .queryExecution.analyzed
    },
    fn("ann_indexed_topk",
      "ann_indexed_topk(stream, idCol, vecCol, queryPredicateSql, k, " +
        "nProbe, method, corpusPredicateSql) - top-k ANN served from the " +
        "engine's PERSISTED __annidx index (the scale path: no per-query " +
        "codebook retrain). Resolves through the engine bound to the " +
        "session (Engine.registerViews binds it). PURE: serves the " +
        "index's last built epoch and never rebuilds — build/refresh " +
        "explicitly with ann_index_rebuild(...). nProbe 0 = AUTO (the " +
        "width pinned by ann_nprobe_for_recall(..., pin=>true), else 2). " +
        "method: 'ivf' (default) or 'pq'. corpusPredicateSql (optional) " +
        "restricts NEIGHBORS to rows passing it, evaluated on the main " +
        "stream BEFORE ranking — every query still gets up to k eligible " +
        "rows from its probed cells (widen nProbe for very selective " +
        "filters)",
      maxArgs = 8) { args =>
      val tbl = litString(args, 0, "ann_indexed_topk", "stream name")
      val id = litString(args, 1, "ann_indexed_topk", "id column")
      val vec = litString(args, 2, "ann_indexed_topk", "vector column")
      val pred = litString(args, 3, "ann_indexed_topk", "query predicate SQL")
      val k = litInt(args, 4, "ann_indexed_topk", "k", 10)
      val nProbe = litInt(args, 5, "ann_indexed_topk", "nProbe", 2)
      val method = args.lift(6).map(_ =>
        litString(args, 6, "ann_indexed_topk", "method")).getOrElse("ivf")
      val corpusPred = args.lift(7).map(_ => expr(
        litString(args, 7, "ann_indexed_topk", "corpus predicate SQL")))
      bound().annTopKIndexedServe(tbl, id, vec, expr(pred), k, nProbe, method,
          corpusPred)
        .queryExecution.analyzed
    },
    fn("ann_index_rebuild",
      "ann_index_rebuild(stream, idCol, vecCol, nCentroids, m, ksub, " +
        "force) - (re)build the stream's persisted ANN index; a no-op " +
        "when live unless force. Runs at EXECUTION time (EXPLAIN does " +
        "not build). Returns (stream, rebuilt, ann_n, ann_kind)",
      maxArgs = 7) { args =>
      val tbl = litString(args, 0, "ann_index_rebuild", "stream name")
      val id = litString(args, 1, "ann_index_rebuild", "id column")
      val vec = litString(args, 2, "ann_index_rebuild", "vector column")
      val nc = litInt(args, 3, "ann_index_rebuild", "nCentroids", 0)
      val m = litInt(args, 4, "ann_index_rebuild", "m", 8)
      val ksub = litInt(args, 5, "ann_index_rebuild", "ksub", 16)
      val force = litBoolean(args, 6, "ann_index_rebuild", "force", false)
      val eng = bound() // resolved at analysis; effect deferred to execution
      graft.plans.GraftAction(s"ann_index_rebuild($tbl)",
        Seq(AttributeReference("stream", StringType, nullable = false)(),
          AttributeReference("rebuilt", BooleanType, nullable = false)(),
          AttributeReference("ann_n", LongType, nullable = false)(),
          AttributeReference("ann_kind", StringType, nullable = true)()),
        () => {
          val rebuilt = eng.rebuildAnnIndex(tbl, id, vec, nc, m, ksub, force)
          val p = eng.catalog.get(eng.annIndexName(tbl))
            .map(_.properties).getOrElse(Map.empty)
          Seq(Row(tbl, rebuilt,
            p.get("ann_n").flatMap(s =>
              scala.util.Try(s.toLong).toOption).getOrElse(0L),
            p.getOrElse("ann_kind", null)))
        })
    },
    fn("ann_recall_measured",
      "ann_recall_measured(stream, idCol, vecCol, k, nProbe, " +
        "sampleQueries, method) - measured recall@k of the stream's " +
        "persisted ANN index on a deterministic query sample (one " +
        "brute-force truth pass + one index-served search). Runs at " +
        "EXECUTION time. Returns (stream, n_probe, k, recall)",
      maxArgs = 7) { args =>
      val tbl = litString(args, 0, "ann_recall_measured", "stream name")
      val id = litString(args, 1, "ann_recall_measured", "id column")
      val vec = litString(args, 2, "ann_recall_measured", "vector column")
      val k = litInt(args, 3, "ann_recall_measured", "k", 10)
      val nProbe = litInt(args, 4, "ann_recall_measured", "nProbe", 2)
      val sq = litInt(args, 5, "ann_recall_measured", "sampleQueries", 64)
      val method = args.lift(6).map(_ =>
        litString(args, 6, "ann_recall_measured", "method")).getOrElse("ivf")
      val eng = bound()
      graft.plans.GraftAction(s"ann_recall_measured($tbl)",
        Seq(AttributeReference("stream", StringType, nullable = false)(),
          AttributeReference("n_probe", LongType, nullable = false)(),
          AttributeReference("k", LongType, nullable = false)(),
          AttributeReference("recall", DoubleType, nullable = false)()),
        () => {
          // report the EFFECTIVE width: nProbe 0 = AUTO resolves to the
          // pinned tuning (else the serve default 2) — the row must
          // record what width produced the recall, not the literal 0
          val eff = if (nProbe != 0) nProbe.toLong
            else eng.catalog.get(eng.annIndexName(tbl))
              .flatMap(_.properties.get("ann_nprobe"))
              .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(2L)
          Seq(Row(tbl, eff, k.toLong,
            eng.annRecallMeasured(tbl, id, vec, k, nProbe, sq, method)))
        })
    },
    fn("ann_nprobe_for_recall",
      "ann_nprobe_for_recall(stream, idCol, vecCol, targetRecall, k, " +
        "sampleQueries, maxNProbe, pin) - smallest power-of-two nProbe " +
        "whose measured recall@k on a sampled query set meets " +
        "targetRecall (doubling sweep against one shared brute-force " +
        "truth pass). pin=true records the result on the index, and " +
        "ann_indexed_topk with nProbe 0 (AUTO) serves at the pinned " +
        "width (rebuilds strip the pin). Runs at EXECUTION time. " +
        "Returns (stream, n_probe, recall)",
      maxArgs = 8) { args =>
      val tbl = litString(args, 0, "ann_nprobe_for_recall", "stream name")
      val id = litString(args, 1, "ann_nprobe_for_recall", "id column")
      val vec = litString(args, 2, "ann_nprobe_for_recall", "vector column")
      val target = litDouble(args, 3, "ann_nprobe_for_recall",
        "target recall", 0.9)
      val k = litInt(args, 4, "ann_nprobe_for_recall", "k", 10)
      val sq = litInt(args, 5, "ann_nprobe_for_recall", "sampleQueries", 64)
      val maxP = litInt(args, 6, "ann_nprobe_for_recall", "maxNProbe", 64)
      val pin = litBoolean(args, 7, "ann_nprobe_for_recall", "pin", false)
      val eng = bound()
      graft.plans.GraftAction(s"ann_nprobe_for_recall($tbl)",
        Seq(AttributeReference("stream", StringType, nullable = false)(),
          AttributeReference("n_probe", LongType, nullable = false)(),
          AttributeReference("recall", DoubleType, nullable = false)()),
        () => {
          val (nProbe, recall) =
            eng.annNProbeForRecall(tbl, id, vec, target, k, sq, maxP,
              pin = pin)
          Seq(Row(tbl, nProbe.toLong, recall))
        })
    },
    fn("ann_index_drop",
      "ann_index_drop(stream) - drop the stream's persisted ANN index " +
        "siblings (stream data untouched). Runs at EXECUTION time. " +
        "Returns (stream, dropped)",
      maxArgs = 1) { args =>
      val tbl = litString(args, 0, "ann_index_drop", "stream name")
      val eng = bound()
      graft.plans.GraftAction(s"ann_index_drop($tbl)",
        Seq(AttributeReference("stream", StringType, nullable = false)(),
          AttributeReference("dropped", BooleanType, nullable = false)()),
        () => Seq(Row(tbl, eng.dropAnnIndex(tbl))))
    },
    fn("forget_rows",
      "forget_rows(stream, predicateSql, cascade) - PHYSICALLY delete " +
        "every stored row matching the predicate and prune it out of " +
        "all live index siblings (ANN/MinHash/LSH) with no retrain — " +
        "the takedown path. cascade=true (default false) additionally " +
        "re-materializes every transitive downstream model so derived " +
        "tables stop holding rows computed from the forgotten ones. " +
        "Runs at EXECUTION time. Returns (stream, forgotten, refreshed)",
      maxArgs = 3) { args =>
      val tbl = litString(args, 0, "forget_rows", "stream name")
      val predSql = litString(args, 1, "forget_rows", "predicate SQL")
      val cascade = litBoolean(args, 2, "forget_rows", "cascade", false)
      val eng = bound()
      graft.plans.GraftAction(s"forget_rows($tbl)",
        Seq(AttributeReference("stream", StringType, nullable = false)(),
          AttributeReference("forgotten", LongType, nullable = false)(),
          AttributeReference("refreshed", LongType, nullable = false)()),
        () => {
          val (n, r) =
            if (cascade) eng.forgetRowsCascade(tbl, expr(predSql))
            else (eng.forgetRows(tbl, expr(predSql)), 0L)
          Seq(Row(tbl, n, r))
        })
    },
    fn("ann_recall",
      "ann_recall(approxTable, exactTable, k) - recall@k of an " +
        "approximate neighbor table against exact ground truth, one row " +
        "per ground-truth query (q_id, n_hit, n_true, recall). Both " +
        "tables in the family's (q_id, n_id, rnk, ...) shape; rows past " +
        "rank k are ignored, queries missing from approxTable score 0. " +
        "Default k = 10",
      maxArgs = 3) { args =>
      val ap = litString(args, 0, "ann_recall", "approximate table name")
      val ex = litString(args, 1, "ann_recall", "exact table name")
      val k = litInt(args, 2, "ann_recall", "k", 10)
      graft.operators.Similarity.recallAtK(table(ap), table(ex), k)
        .queryExecution.analyzed
    },
    fn("text_quality",
      "text_quality(table) - per-document quality metrics " +
        "(doc_id, n_chars_m, n_tokens, avg_token_len)",
      maxArgs = 1) { args =>
      val tbl = litString(args, 0, "text_quality", "table name")
      graft.operators.TextAnalysis.quality(table(tbl))
        .queryExecution.analyzed
    },
    fn("dedup_exact",
      "dedup_exact(table, idCol, keyCol) - exact dedup " +
        "(min id + copy count per distinct key value)",
      maxArgs = 3) { args =>
      val tbl = litString(args, 0, "dedup_exact", "table name")
      val id = litString(args, 1, "dedup_exact", "id column")
      val key = litString(args, 2, "dedup_exact", "key column")
      graft.operators.Dedup.exact(table(tbl), Seq(key), id)
        .queryExecution.analyzed
    })

  /** Inject at session build — [[graft.GraftExtensions]] calls this. */
  def injectAll(ext: SparkSessionExtensions): Unit =
    all.foreach(ext.injectTableFunction)

  /** The registered TVF names — [[graft.engine.Engine.sourcesOf]] uses
    * this to extract the table-name literal for dependency tracking. */
  val names: Set[String] = all.map(_._1.funcName).toSet

  /** Which argument positions carry TABLE names, per function (default
    * position 0) — `decontaminate` reads two tables, so rename/cascade
    * tracking must see both (Engine.sourcesOf). */
  val tableArgPositions: Map[String, Seq[Int]] =
    names.map(n => n -> Seq(0)).toMap +
      ("decontaminate" -> Seq(0, 3)) + ("ann_recall" -> Seq(0, 1))
}
